package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation

/**
 * Declared-constraint catalog: UNIQUE keys for registered base
 * tables. Spark's optimizer cannot know a parquet column is unique
 * (no constraint metadata survives into HadoopFsRelation), so the two
 * classic constraint-driven rewrites every warehouse performs —
 * DISTINCT elimination and redundant-join elimination — never fire.
 * This catalog carries the user's assertion, exactly as
 * [[RollupCatalog]] carries the summary-correctness assertion: the
 * rule asserts the ALGEBRA (a superset of a unique key cannot have
 * duplicates; a left join to a unique key cannot change multiplicity)
 * and the catalog asserts the DATA property.
 */
object ConstraintCatalog {
  /** Table path -> its declared unique keys. */
  private[plans] val keys = new PathRegistry[Seq[Seq[String]]]
  /** Child table path -> fk column -> (normalized parent path, pk column). */
  private[plans] val fks = new PathRegistry[Map[String, (String, String)]]

  /** Declare `cols` a unique key of the table at `path`. */
  def registerUnique(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "a unique key needs at least one column")
    keys.update(path)(old => old.getOrElse(Nil) :+ cols)
  }

  /** Declare the VERIFIED foreign key `childPath.fkCol ⊆
    * parentPath.pkCol` with fkCol containing no NULLs — exactly the
    * two facts [[graft.operators.Profiling.referentialIntegrity]]
    * checks (run the card, then register). Powers inner-join
    * elimination, which unlike the left-join case NEEDS containment:
    * an inner join drops orphan and null-fk child rows, so the
    * assertion is what makes deletion lossless. */
  def registerForeignKey(childPath: String, fkCol: String,
      parentPath: String, pkCol: String): Unit =
    fks.update(childPath)(old => old.getOrElse(Map.empty) +
      (fkCol -> (PathRegistry.normalize(parentPath), pkCol)))

  def isEmpty: Boolean = keys.isEmpty && fks.isEmpty
}

/**
 * Catalyst rule (one of the nine [[GraftRules]]) with three
 * constraint-driven shapes, all licensed by [[ConstraintCatalog]]:
 *
 *  1. **DISTINCT elimination**: `SELECT DISTINCT ...` lowers to an
 *     Aggregate whose grouping IS its output; when the grouped
 *     attribute set contains a registered unique key of the (single)
 *     underlying scan — reached through Filters and attribute-only
 *     Projects, both of which preserve per-row uniqueness — the rows
 *     are already distinct and the whole Aggregate (a full shuffle of
 *     every distinct row at 100 TB) is deleted.
 *
 *  2. **Left-join elimination**: `fact LEFT JOIN dim ON fact.fk =
 *     dim.pk` where NOTHING from `dim` is referenced above the join
 *     and `pk` is a registered single-column unique key — each fact
 *     row emits exactly one output row whether or not it matches
 *     (unique key ⇒ at most one match; LEFT ⇒ at least one row), so
 *     the join is a no-op and is deleted. This requires NO
 *     foreign-key integrity, only the right side's uniqueness, and it
 *     holds through right-side Filters/Projects (they can only shrink
 *     the at-most-one match to zero, which LEFT OUTER null-extends —
 *     still one row). Star-schema queries that project only fact
 *     columns stop scanning the dimension entirely.
 *
 *  3. **Fk inner-join elimination** (see `innerJoinIsNoOp`).
 *
 * All three replace a plan node with a strictly smaller one over
 * the SAME output attributes (exprIds preserved), so they compose
 * with everything downstream. Plans with zero registered tables are
 * untouched.
 */
class ConstraintRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.constraint.checked")

  /** Walk Filters and attribute-only Projects down to a single scan
    * (exprIds are stable through Project-of-attributes, so attribute
    * names are the scan's names). */
  private def scanThrough(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      scanThrough(child)
    case Filter(_, child) => scanThrough(child)
    case lr: LogicalRelation => Some(lr)
    case _ => None
  }

  private def uniqueKeysOf(scan: LogicalRelation): Seq[Seq[String]] =
    ConstraintCatalog.keys.lookup(scan).getOrElse(Nil)

  private def distinctElim(agg: Aggregate): Option[LogicalPlan] = {
    val groupAttrs = agg.groupingExpressions.flatMap {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    if (groupAttrs.length != agg.groupingExpressions.length) return None
    // DISTINCT shape: output == grouping, attribute-for-attribute
    val outAttrs = agg.aggregateExpressions.flatMap {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    if (outAttrs.length != agg.aggregateExpressions.length) return None
    if (outAttrs.map(_.exprId).toSet != groupAttrs.map(_.exprId).toSet) return None
    for {
      scan <- scanThrough(agg.child)
      names = groupAttrs.map(_.name).toSet
      _ <- uniqueKeysOf(scan).find(key => key.toSet.subsetOf(names))
    } yield Project(outAttrs, agg.child)
  }

  /** The left-join no-op test shared by the Project- and
    * Aggregate-parent shapes (CollapseProject can leave either). */
  private def joinIsNoOp(
      parentRefs: AttributeSet, join: Join): Boolean = {
    val Join(left, right, _, cond, _) = join
    val keyAttr = cond.flatMap {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        // identify which side is the dimension key
        if (right.outputSet.contains(b) && left.outputSet.contains(a)) Some(b)
        else if (right.outputSet.contains(a) && left.outputSet.contains(b)) Some(a)
        else None
      case _ => None
    }
    (for {
      rk <- keyAttr
      // nothing from the right side referenced above the join
      if parentRefs.subsetOf(left.outputSet)
      scan <- scanThrough(right)
      if uniqueKeysOf(scan).contains(Seq(rk.name))
    } yield true).getOrElse(false)
  }

  /** The third constraint shape: an INNER
    * join `child ⋈ parent ON fk = pk` where nothing from the parent is
    * referenced, `pk` is a registered unique key, and (childPath,
    * fk) → (parentPath, pk) is a REGISTERED verified foreign key —
    * then every child row matches exactly one parent row and the join
    * deletes. The parent side must be a bare Project-of-attributes
    * chain (a parent-side Filter could drop child rows — refuse); the
    * child side may carry Filters (they only shrink the child). */
  private def innerJoinIsNoOp(
      parentRefs: AttributeSet, join: Join): Boolean = {
    val Join(left, right, _, cond, _) = join
    // The optimizer infers `IsNotNull(pk)` below inner joins before
    // this rule runs; dropping null-pk parent rows can never drop a
    // match (equality never matches NULL), so exactly that filter —
    // on the JOIN KEY only — is admissible on the parent side.
    def bareScan(p: LogicalPlan, pk: AttributeReference): Option[LogicalRelation] =
      p match {
        case Project(pl, c)
            if pl.forall(_.isInstanceOf[AttributeReference]) =>
          bareScan(c, pk)
        case Filter(fc, c) if onlyNotNullOf(fc, pk) => bareScan(c, pk)
        case lr: LogicalRelation => Some(lr)
        case _ => None
      }
    val pair = cond.flatMap {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (left.outputSet.contains(a) && right.outputSet.contains(b))
          Some((a, b))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a))
          Some((b, a))
        else None
      case _ => None
    }
    (for {
      (fk, pk) <- pair
      if parentRefs.subsetOf(left.outputSet)
      parent <- bareScan(right, pk)
      if uniqueKeysOf(parent).contains(Seq(pk.name))
      child <- scanThrough(left)
      (pPath, pCol) <- ConstraintCatalog.fks.lookup(child).flatMap(_.get(fk.name))
      if PathRegistry.rootsOf(parent).map(PathRegistry.normalize) == Seq(pPath) &&
        pCol == pk.name
    } yield true).getOrElse(false)
  }

  /** Conjunctions of `IsNotNull(pk)` on exactly the join key. */
  private def onlyNotNullOf(e: Expression, pk: AttributeReference): Boolean =
    e match {
      case IsNotNull(a: AttributeReference) => a.exprId == pk.exprId
      case And(l, r) => onlyNotNullOf(l, pk) && onlyNotNullOf(r, pk)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ConstraintCatalog.isEmpty) plan else plan.transformDown {
    case p @ Project(_, j @ Join(left, _, LeftOuter, Some(_), _))
        if p.getTagValue(rewritten).isEmpty =>
      p.setTagValue(rewritten, true)
      if (joinIsNoOp(p.references, j)) Project(p.projectList, left) else p
    case agg @ Aggregate(_, _, j @ Join(left, _, LeftOuter, Some(_), _), _)
        if agg.getTagValue(rewritten).isEmpty =>
      agg.setTagValue(rewritten, true)
      if (joinIsNoOp(agg.references, j)) agg.copy(child = left)
      else distinctElim(agg).getOrElse(agg)
    case p @ Project(_, j @ Join(left, _, Inner, Some(_), _))
        if p.getTagValue(rewritten).isEmpty =>
      p.setTagValue(rewritten, true)
      if (innerJoinIsNoOp(p.references, j)) Project(p.projectList, left)
      else p
    case agg @ Aggregate(_, _, j @ Join(left, _, Inner, Some(_), _), _)
        if agg.getTagValue(rewritten).isEmpty =>
      agg.setTagValue(rewritten, true)
      if (innerJoinIsNoOp(agg.references, j)) agg.copy(child = left)
      else distinctElim(agg).getOrElse(agg)
    case agg: Aggregate if agg.getTagValue(rewritten).isEmpty =>
      agg.setTagValue(rewritten, true)
      distinctElim(agg).getOrElse(agg)
  }
}

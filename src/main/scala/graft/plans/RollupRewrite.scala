package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/**
 * @param summaryPath parquet dir of the pre-aggregate
 * @param groupCols   summary grouping columns (finest grain served)
 * @param cntCol      summary column holding count(*) partials
 * @param sums        base column -> summary column with sum partials
 * @param mins        base column -> summary column with min partials
 * @param maxs        base column -> summary column with max partials
 * @param nns         base column -> summary column with count(col)
 *                    (non-null) partials — serves count(c) and the
 *                    avg(c) denominator
 * @param timeGrains  summary column -> (base timestamp column,
 *                    TRUNC level) where the summary column stores
 *                    date_trunc(level, baseCol) — a query grouping
 *                    by the SAME or a COARSER composable level is
 *                    served by re-truncating the stored grain
 *                    (hourly summary serves daily/monthly rollups)
 */
final case class RollupParams(
    summaryPath: String,
    groupCols: Seq[String],
    cntCol: String,
    sums: Map[String, String] = Map.empty,
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    nns: Map[String, String] = Map.empty,
    timeGrains: Map[String, (String, String)] = Map.empty)

object RollupCatalog extends PathRegistry[RollupParams] {

  /** Build (and write) the summary the catalog serves: one row per
    * groupCols combination with count/sum/min/max partial states. The
    * build is one map-side-partial hash aggregate over the base — the
    * single full scan that all later rollup queries amortize. */
  /** @param timeGrain optional (base ts column, trunc level, summary
    *        column name): adds date_trunc(level, tsCol) to the
    *        summary grain and registers it for grain-composing
    *        queries. */
  def buildSummary(spark: SparkSession, basePath: String,
      summaryPath: String, groupCols: Seq[String],
      statCols: Seq[String],
      timeGrain: Option[(String, String, String)] = None): RollupParams = {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(basePath)
    val groupExprs = groupCols.map(col) ++
      timeGrain.map { case (ts, lvl, out) => date_trunc(lvl, col(ts)).as(out) }
    val aggs =
      count(lit(1)).as("cnt") +:
      statCols.flatMap(c => Seq(
        sum(col(c)).as(s"sum_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        count(col(c)).as(s"nn_$c")))
    base.groupBy(groupExprs: _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(summaryPath)
    RollupParams(summaryPath, groupCols, "cnt",
      sums = statCols.map(c => c -> s"sum_$c").toMap,
      mins = statCols.map(c => c -> s"min_$c").toMap,
      maxs = statCols.map(c => c -> s"max_$c").toMap,
      nns = statCols.map(c => c -> s"nn_$c").toMap,
      timeGrains = timeGrain.map { case (ts, lvl, out) =>
        out -> (ts, lvl.toUpperCase(java.util.Locale.ROOT))
      }.toMap)
  }
}

/**
 * Catalyst rule: an aggregate over a registered base table re-plans
 * against a MATERIALIZED ROLLUP (pre-aggregated summary) — one of the
 * nine [[GraftRules]] beside [[IvfRewriteRule]] top-k ANN,
 * [[SimJoinRewriteRule]] cosine joins and [[FuzzyJoinRewriteRule]] edit
 * distance. At 100 TB this is the difference between a datacard
 * refresh that rescans the corpus and one that reads a few thousand
 * summary rows: `SELECT lang, count(*), sum(n_chars) FROM docs GROUP
 * BY lang` re-plans as a merge-aggregate over the (lang, source)
 * summary, because count/sum/min/max are MERGE-CLOSED — re-aggregating
 * partial states with (sum, sum, min, max) is exactly the final state.
 *
 * EXACTNESS contract: the rewrite fires only when every aggregate in
 * the query is merge-closed over a registered partial —
 *   count(*)        → sum(summary.cnt)
 *   count(c)        → sum(summary.nn_c)    (the non-null partial)
 *   sum(c)          → sum(summary.sum_c)   (integral/decimal c only —
 *                     float sums are order-dependent, so the rule
 *                     REFUSES them rather than silently re-associating)
 *   min(c) / max(c) → min/max of the stored partial
 *   avg(c)          → sum(sum_c) / sum(nn_c), one double division over
 *                     exact integers (integral c only; exact while the
 *                     global sum stays below 2^53 — the same bound
 *                     Spark's own Average carries for longs)
 * and every result column is an arbitrary expression OVER such
 * aggregates and grouping columns (round(avg(c), 6), sum(c)/count(*),
 * ... all serve). The query's GROUP BY columns are a subset of the
 * summary's grouping (coarser rollups re-aggregate) — including TIME
 * GRAINS: a summary keyed by date_trunc('HOUR', ts) serves queries
 * grouped by the same or any coarser COMPOSABLE truncation
 * (DAY/WEEK/MONTH/...; date_trunc(coarse, date_trunc(fine, ts)) ==
 * date_trunc(coarse, ts) along calendar-aligned chains, so the
 * rewrite re-truncates the stored grain) — and any WHERE
 * predicate references summary grouping columns only (such a filter
 * commutes with the aggregate, so it is applied to the summary rows).
 * Anything else — float sums, count(DISTINCT), agg FILTER clauses, a
 * predicate on a non-grouping column — leaves the plan untouched and
 * the query falls back to the base scan. DISTINCT aggregates can
 * never be served: distinctness is not merge-closed over a rollup.
 *
 * The summary itself is the user's assertion (built by
 * [[RollupCatalog.buildSummary]] from the same base relation); the
 * rule asserts only the merge algebra, exactly as the fuzzy-join rule
 * asserts the pigeonhole bound but not the store's name lengths.
 */
class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.rollup.rewritten")

  /** Inline `e` through alias definitions collected from Projects
    * below — after the optimizer's PullOutGroupingExpressions, complex
    * grouping expressions live as `_groupingexpression` aliases in a
    * child Project, so matching must see through them. */
  private def inline(e: Expression, defs: Map[ExprId, Expression]): Expression =
    e.transform { case a: AttributeReference if defs.contains(a.exprId) =>
      defs(a.exprId)
    }

  /** Peel Project/Filter down to a single registered base scan,
    * collecting filter conditions (inlined to base attrs) and alias
    * definitions on the way. Any other node refuses. */
  private def strip(plan: LogicalPlan)
      : Option[(Seq[Expression], RollupParams, Map[ExprId, Expression])] =
    plan match {
      case Project(pl, child) =>
        strip(child).map { case (cs, p, defs) =>
          val more = pl.collect {
            case al @ Alias(body, _) => al.exprId -> inline(body, defs)
          }
          (cs, p, defs ++ more)
        }
      case Filter(cond, child) =>
        strip(child).map { case (cs, p, defs) =>
          (inline(cond, defs) +: cs, p, defs)
        }
      case lr: LogicalRelation =>
        RollupCatalog.lookup(lr).map(p => (Nil, p, Map.empty[ExprId, Expression]))
      case _ => None
    }

  /** Calendar-truncation composition: date_trunc(target,
    * date_trunc(source, ts)) == date_trunc(target, ts). True along
    * the sub-day chain and for any day-aligned coarser target; MONTH
    * composes into QUARTER/YEAR; WEEK boundaries are day-aligned but
    * nothing coarser is week-aligned. */
  private val SubDayChain =
    Seq("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY")
  private def composes(target: String, source: String): Boolean =
    target == source || {
      if (SubDayChain.contains(source)) {
        val idx = SubDayChain.indexOf(source)
        SubDayChain.drop(idx + 1).contains(target) ||
          Seq("WEEK", "MONTH", "QUARTER", "YEAR").contains(target)
      } else source match {
        case "MONTH" => target == "QUARTER" || target == "YEAR"
        case "QUARTER" => target == "YEAR"
        case _ => false
      }
    }

  /** Float/double sums are order-dependent; re-associating them over a
    * rollup could change the result, so the rule refuses. */
  private def sumMergeSafe(e: Expression): Boolean = e.dataType match {
    case FloatType | DoubleType => false
    case _: DecimalType => true
    case _ => true // integral types
  }

  /** Is this aggregate call servable from the registered partials? */
  private def mergeable(params: RollupParams)
      (ae: AggregateExpression): Boolean = ae match {
    case AggregateExpression(f, Complete, false, None, _) => f match {
      case Count(Seq(Literal(_, _))) => true
      case Count(Seq(a: AttributeReference)) => params.nns.contains(a.name)
      case Sum(a: AttributeReference, _) =>
        params.sums.contains(a.name) && sumMergeSafe(a)
      case Min(a: AttributeReference) => params.mins.contains(a.name)
      case Max(a: AttributeReference) => params.maxs.contains(a.name)
      case Average(a: AttributeReference, _) =>
        params.sums.contains(a.name) && params.nns.contains(a.name) &&
          integral(a)
      case _ => false
    }
    case _ => false // Partial/Distinct/FILTER forms are never served
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** How one query grouping expression (inlined to base attrs) maps
    * onto the summary grain. */
  private sealed trait GroupMap { def orig: Expression }
  private final case class PlainCol(orig: AttributeReference) extends GroupMap
  private final case class GrainDirect(orig: Expression, sCol: String)
    extends GroupMap
  private final case class GrainCoarser(orig: TruncTimestamp, sCol: String)
    extends GroupMap

  private def groupMapFor(params: RollupParams)
      (e: Expression): Option[GroupMap] = e match {
    case a: AttributeReference if params.groupCols.contains(a.name) =>
      Some(PlainCol(a))
    case tt @ TruncTimestamp(
        Literal(fmt: org.apache.spark.unsafe.types.UTF8String, _),
        a: AttributeReference, _) =>
      val target = fmt.toString.toUpperCase(java.util.Locale.ROOT)
      params.timeGrains.collectFirst {
        case (sCol, (baseCol, srcLvl))
            if baseCol == a.name && composes(target, srcLvl) =>
          if (target == srcLvl) GrainDirect(tt, sCol)
          else GrainCoarser(tt, sCol)
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (RollupCatalog.isEmpty) plan else plan.transformDown {
    case agg @ Aggregate(groupExprs, resultExprs, child, _)
        if agg.getTagValue(rewritten).isEmpty =>
      val replaced = for {
        (conds, params, defs) <- strip(child)
        // query grouping (inlined): summary grain columns, or
        // same/coarser composable time truncations of a stored grain
        gMaps <- {
          val ms = groupExprs.map(e => groupMapFor(params)(inline(e, defs)))
          if (ms.forall(_.isDefined)) Some(ms.flatten) else None
        }
        // predicates must commute with the aggregate: summary-grain cols only
        if conds.forall(_.references.forall(a => params.groupCols.contains(a.name)))
        // every output: an expression over merge-closed aggregates,
        // grouping columns and whole grouping expressions only —
        // subtrees matching a grouping expression are served; any
        // OTHER use of a non-grain column (year(ts), ...) refuses
        if {
          def bareOutsideGroups(e: Expression): Seq[AttributeReference] =
            if (gMaps.exists(_.orig.semanticEquals(e))) Nil
            else e match {
              case _: AggregateExpression => Nil
              case a: AttributeReference => Seq(a)
              case o => o.children.flatMap(bareOutsideGroups)
            }
          resultExprs.forall { ne =>
            (ne.isInstanceOf[Alias] || ne.isInstanceOf[AttributeReference]) &&
            ne.collect { case ae: AggregateExpression => ae }
              .forall(mergeable(params)) &&
            bareOutsideGroups(inline(ne, defs))
              .forall(a => params.groupCols.contains(a.name))
          }
        }
      } yield {
        val summary = spark.read.parquet(params.summaryPath)
          .queryExecution.analyzed
        val byName = summary.output.map(a => a.name -> a).toMap
        def sAttr(n: String): Attribute = byName(n)

        // WHERE on grouping cols commutes with GROUP BY: apply to the
        // summary rows before the merge aggregate.
        val rebased = conds.map(_.transform {
          case a: AttributeReference => sAttr(a.name)
        })
        val filtered = rebased.foldLeft(summary: LogicalPlan)(
          (p, c) => Filter(c, p))

        // new grouping over the summary: plain grain attrs pass
        // through; same-grain truncations use the stored column; a
        // coarser grain RE-TRUNCATES the stored one (composition)
        def newGroupExpr(m: GroupMap): Expression = m match {
          case PlainCol(a) => sAttr(a.name)
          case GrainDirect(_, sCol) => sAttr(sCol)
          case GrainCoarser(tt, sCol) => tt.copy(timestamp = sAttr(sCol))
        }
        val newGroup = gMaps.map(newGroupExpr)

        def mergedFor(f: AggregateFunction): Expression = f match {
          case Count(Seq(Literal(_, _))) =>
            Sum(sAttr(params.cntCol)).toAggregateExpression()
          case Count(Seq(a: AttributeReference)) =>
            Sum(sAttr(params.nns(a.name))).toAggregateExpression()
          case Sum(a: AttributeReference, _) =>
            Sum(sAttr(params.sums(a.name))).toAggregateExpression()
          case Min(a: AttributeReference) =>
            Min(sAttr(params.mins(a.name))).toAggregateExpression()
          case Max(a: AttributeReference) =>
            Max(sAttr(params.maxs(a.name))).toAggregateExpression()
          case Average(a: AttributeReference, _) =>
            // one double division over exact integer partial sums —
            // the same arithmetic (and 2^53 bound) as Spark's Average
            Divide(
              Cast(Sum(sAttr(params.sums(a.name))).toAggregateExpression(),
                DoubleType),
              Cast(Sum(sAttr(params.nns(a.name))).toAggregateExpression(),
                DoubleType))
          case other =>
            throw new IllegalStateException(s"unreachable: $other")
        }
        // manual recursion, NOT transform: replacement subtrees carry
        // summary attrs and must never be re-matched. Whole grouping
        // expressions map to their summary form first.
        def remap(e: Expression): Expression =
          gMaps.find(_.orig.semanticEquals(e)).map(newGroupExpr).getOrElse(
            e match {
              case AggregateExpression(f, _, _, _, _) => mergedFor(f)
              case a: AttributeReference => sAttr(a.name)
              case other => other.mapChildren(remap)
            })
        // one merged output per original result expression, in order
        val merged: Seq[NamedExpression] = resultExprs.map {
          case a: AttributeReference =>
            Alias(remap(a), a.name)(exprId = a.exprId)
          case al @ Alias(childE, name) =>
            val re = remap(inline(childE, defs))
            val cast = if (re.dataType == al.dataType) re
              else Cast(re, al.dataType)
            Alias(cast, name)(exprId = al.exprId)
          case other =>
            throw new IllegalStateException(s"unreachable: $other")
        }
        val out = Aggregate(newGroup, merged, filtered, None)
        out.setTagValue(rewritten, true)
        out
      }
      replaced.getOrElse(agg)
  }
}

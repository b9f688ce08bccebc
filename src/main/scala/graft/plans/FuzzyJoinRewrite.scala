package graft.plans

import graft.operators.EntityResolution
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation

final case class FuzzyJoinParams(
    idCol: String, nameCol: String,
    blockKeyLen: Int, maxBucket: Option[Int],
    maxExactDist: Int = 1)

object FuzzyJoinCatalog extends PathRegistry[FuzzyJoinParams]

/**
 * Catalyst rule: a declarative edit-distance SELF-JOIN over a
 * registered string store re-plans as the blocked
 * [[EntityResolution.fuzzyPairs]] subtree — one of the nine
 * [[GraftRules]], beside [[IvfRewriteRule]] for top-k ANN and
 * [[SimJoinRewriteRule]] for cosine-threshold joins. The naive SQL
 *
 *   SELECT a.id AS a_id, b.id AS b_id, levenshtein(a.name, b.name) AS dist
 *   FROM store a JOIN store b
 *     ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
 *
 * plans as an O(n²) inequality join; the rewrite replaces the
 * Project(Join) subtree with the prefix/suffix-blocked equality-join
 * plan, re-aliased to the original expression ids.
 *
 * EXACTNESS contract (stronger than the LSH rule's measured-recall
 * contract): for maxDist ≤ 1 the prefix-k/suffix-k blocking is
 * lossless by pigeonhole whenever every name is ≥ 2k chars — a single
 * edit cannot break both anchored keys. Registration asserts that
 * length bound for the store (the rule cannot scan the data to check
 * it, exactly as the LSH registration asserts its recall grid).
 * Queries with a threshold above `maxExactDist` (default 1) are NOT
 * rewritten — two independent edits can break both anchors, so the
 * rule refuses rather than silently dropping pairs, and the query
 * falls back to the exact join.
 */
class FuzzyJoinRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.fuzzyjoin.rewritten")

  /** Split the join condition into (id guard, levenshtein, maxDist),
    * tolerating either And order. */
  private def splitCondition(cond: Expression)
      : Option[(LessThan, Levenshtein, Int)] = {
    val conjuncts = cond match {
      case And(a, b) => Seq(a, b)
      case _ => return None
    }
    for {
      lt <- conjuncts.collectFirst {
        case l @ LessThan(_: AttributeReference, _: AttributeReference) => l
      }
      (lev, d) <- conjuncts.collectFirst {
        case LessThanOrEqual(l: Levenshtein, Literal(d: Int, _)) => (l, d)
      }
    } yield (lt, lev, d)
  }

  /** The unique registered scan under `plan`: its root paths and entry. */
  private def relationOf(plan: LogicalPlan)
      : Option[(Seq[String], FuzzyJoinParams)] = {
    val rels = plan.collect {
      case lr: LogicalRelation =>
        FuzzyJoinCatalog.lookup(lr).map(PathRegistry.rootsOf(lr) -> _)
    }.flatten
    if (rels.length == 1) rels.headOption else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (FuzzyJoinCatalog.isEmpty) plan else plan.transformDown {
    case proj @ Project(projectList,
        Join(l, r, Inner, Some(cond), _))
        if proj.getTagValue(rewritten).isEmpty && projectList.length == 3 =>
      val replaced = for {
        (lt, lev, maxDist) <- splitCondition(cond)
        (lPaths, params) <- relationOf(l)
        (rPaths, _) <- relationOf(r)
        if lPaths == rPaths
        // exactness contract: only thresholds the blocking is lossless for
        if maxDist >= 0 && maxDist <= params.maxExactDist
        ltL = lt.left.asInstanceOf[AttributeReference]
        ltR = lt.right.asInstanceOf[AttributeReference]
        if ltL.name == params.idCol && ltR.name == params.idCol
        if l.outputSet.contains(ltL) && r.outputSet.contains(ltR)
        // the metric must span both sides' registered name column
        nargs = Seq(lev.left, lev.right).flatMap {
          case a: AttributeReference if a.name == params.nameCol => Some(a)
          case _ => None
        }
        if nargs.length == 2
        if nargs.exists(l.outputSet.contains) && nargs.exists(r.outputSet.contains)
        // projection: (left id, right id, the same levenshtein), any names
        out <- projectList match {
          case Seq(a1 @ Alias(id1: AttributeReference, _),
                   a2 @ Alias(id2: AttributeReference, _),
                   a3 @ Alias(_: Levenshtein, _))
              if id1.exprId == ltL.exprId && id2.exprId == ltR.exprId =>
            Some((a1, a2, a3))
          case _ => None
        }
      } yield {
        val base = spark.read.parquet(lPaths: _*)
        val pairs = EntityResolution.fuzzyPairs(
            base, params.idCol, params.nameCol, maxDist,
            params.blockKeyLen, params.maxBucket)
          .select("a_id", "b_id", "dist")
        val blocked = pairs.queryExecution.optimizedPlan
        val Seq(aOut, bOut, dOut) = blocked.output
        val (a1, a2, a3) = out
        val renamed = Project(Seq(
          Alias(aOut, a1.name)(exprId = a1.exprId),
          Alias(bOut, a2.name)(exprId = a2.exprId),
          Alias(dOut, a3.name)(exprId = a3.exprId)), blocked)
        renamed.setTagValue(rewritten, true)
        renamed
      }
      replaced.getOrElse(proj)
  }
}

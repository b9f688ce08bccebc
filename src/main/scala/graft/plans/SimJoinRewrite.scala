package graft.plans

import graft.functions._
import graft.operators.SimilarityJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** `minThreshold` is the tightest cosine threshold the registered
  * (bits, tables) grid point was recall-validated for: a query at a
  * LOOSER threshold would silently lose borderline pairs (the
  * S-curve thins near-threshold recall as θ grows), so the rule
  * refuses to rewrite it — the query falls back to the exact join
  * rather than returning an unvalidated approximation. */
final case class SimJoinParams(
    idCol: String, vecCol: String,
    bitsPerTable: Int, nTables: Int, seed: Long,
    maxBucket: Option[Int], minThreshold: Double = 0.0)

object SimJoinCatalog extends PathRegistry[SimJoinParams]

/**
 * Catalyst optimizer rule that turns a declarative cosine-threshold
 * SELF-JOIN over a registered vector store into the banded-LSH
 * candidate plan — the similarity-join counterpart of [[IvfRewriteRule]]
 * (same opt-in catalog pattern): the naive SQL
 *
 *   SELECT a.id AS a_id, b.id AS b_id,
 *          round(knn_cosine_similarity(a.v, b.v), s) AS cos_sim
 *   FROM store a JOIN store b ON a.id < b.id
 *   WHERE round(knn_cosine_similarity(a.v, b.v), s) >= t
 *
 * plans as an O(n²) inequality join (the optimizer cannot know the
 * metric admits hashing), and at corpus scale never finishes. With the
 * store registered in [[SimJoinCatalog]], this rule replaces the whole
 * Project(Join) subtree with [[SimilarityJoin.lshCosinePairsBanded]]'s
 * OPTIMIZED logical plan at the query's own threshold and rounding
 * scale — bucketed equality joins, viral-bucket cap, exact verification
 * — re-aliased to the original output expression ids so every parent
 * operator (sorts, limits, aggregates) is untouched.
 *
 * Semantics: identical at the registered parameters' measured recall
 * (the shipped 6×64 grid point has recall 1 on the verified corpora —
 * the driver oracle checks the rewritten query against the exact join).
 * Registration is the explicit opt-in to that recall contract, exactly
 * like choosing an ANN index over brute force.
 *
 * Conservative by design: fires only on an Inner self-join of one
 * registered relation, with the `<` id guard and a `>=`-threshold on
 * the rounded cosine in the join condition, and a 3-column projection
 * of (left id, right id, rounded cosine); anything else is left alone.
 */
class SimJoinRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.simjoin.rewritten")

  private def roundedCosine(e: Expression): Option[(KnnCosineSimilarity, Int)] =
    e match {
      case Round(m: KnnCosineSimilarity, Literal(s: Int, _), _) => Some((m, s))
      case _ => None
    }

  /** Split `cond` into the id guard and the threshold predicate,
    * tolerating either And order. */
  private def splitCondition(cond: Expression)
      : Option[(LessThan, KnnCosineSimilarity, Int, Double)] = {
    val conjuncts = cond match {
      case And(a, b) => Seq(a, b)
      case _ => return None
    }
    for {
      lt <- conjuncts.collectFirst {
        case l @ LessThan(_: AttributeReference, _: AttributeReference) => l
      }
      (metric, scale, thr) <- conjuncts.collectFirst {
        case GreaterThanOrEqual(r, Literal(t, dt))
            if roundedCosine(r).isDefined =>
          val (m, s) = roundedCosine(r).get
          (m, s, Literal(t, dt).eval() match {
            case d: Double => d
            case x: org.apache.spark.sql.types.Decimal => x.toDouble
            case x: Number => x.doubleValue()
          })
      }
    } yield (lt, metric, scale, thr)
  }

  /** The unique registered scan under `plan`: its root paths and entry. */
  private def relationOf(plan: LogicalPlan)
      : Option[(Seq[String], SimJoinParams)] = {
    val rels = plan.collect {
      case lr: LogicalRelation =>
        SimJoinCatalog.lookup(lr).map(PathRegistry.rootsOf(lr) -> _)
    }.flatten
    if (rels.length == 1) rels.headOption else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (SimJoinCatalog.isEmpty) plan else plan.transformDown {
    case proj @ Project(projectList,
        j @ Join(l, r, Inner, Some(cond), _))
        if proj.getTagValue(rewritten).isEmpty && projectList.length == 3 =>
      val replaced = for {
        (lt, metric, scale, threshold) <- splitCondition(cond)
        (lPaths, params) <- relationOf(l)
        (rPaths, _) <- relationOf(r)
        if lPaths == rPaths
        // only thresholds the registration was recall-validated for
        if threshold >= params.minThreshold
        // the id guard must be left.id < right.id on the registered id
        ltL = lt.left.asInstanceOf[AttributeReference]
        ltR = lt.right.asInstanceOf[AttributeReference]
        if ltL.name == params.idCol && ltR.name == params.idCol
        if l.outputSet.contains(ltL) && r.outputSet.contains(ltR)
        // the metric must span the two sides' registered vector column
        margs = Seq(metric.left, metric.right).flatMap {
          case a: AttributeReference if a.name == params.vecCol => Some(a)
          case _ => None
        }
        if margs.length == 2
        if margs.exists(l.outputSet.contains) && margs.exists(r.outputSet.contains)
        // projection: (left id, right id, rounded cosine), any names
        out <- projectList match {
          case Seq(a1 @ Alias(id1: AttributeReference, _),
                   a2 @ Alias(id2: AttributeReference, _),
                   a3 @ Alias(rc, _))
              if id1.exprId == ltL.exprId && id2.exprId == ltR.exprId &&
                roundedCosine(rc).exists(_._2 == scale) =>
            Some((a1, a2, a3))
          case _ => None
        }
      } yield {
        // Re-read the registered store through the public reader (the
        // plan-construction API is private to Spark); outputs are
        // re-aliased to the original expression ids below, so the new
        // relation's ids never leak upward.
        val base = spark.read.parquet(lPaths: _*)
        val pairs = SimilarityJoin.lshCosinePairsBanded(
          base, params.idCol, params.vecCol,
          params.bitsPerTable, params.nTables, threshold,
          params.seed, scale, params.maxBucket)
        val lsh = pairs.queryExecution.optimizedPlan
        val Seq(aOut, bOut, cOut) = lsh.output
        val (a1, a2, a3) = out
        val renamed = Project(Seq(
          Alias(aOut, a1.name)(exprId = a1.exprId),
          Alias(bOut, a2.name)(exprId = a2.exprId),
          Alias(cOut, a3.name)(exprId = a3.exprId)), lsh)
        renamed.setTagValue(rewritten, true)
        renamed
      }
      replaced.getOrElse(proj)
  }
}

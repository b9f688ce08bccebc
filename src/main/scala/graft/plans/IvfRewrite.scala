package graft.plans

import graft.operators.{IvfIndex, SearchStrategy}
import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ArrayType, FloatType}

final case class IvfEntry(model: IvfIndex.IvfModel, searchTopSize: Int)

object IvfIndexCatalog extends PathRegistry[IvfEntry] {
  /** Register an indexed store by its root path (as written by
    * [[IvfIndex.writePartitioned]]). */
  def register(path: String, model: IvfIndex.IvfModel, searchTopSize: Int): Unit =
    register(path, IvfEntry(model, searchTopSize))
}

/**
 * Catalyst optimizer rule that turns a plain declarative top-k vector
 * query over an IVF-indexed store into the cluster-pruned ANN plan —
 * the Spark-native analogue of the reference's `VIEW {index}` hint
 * (the reference `app.py:193-196`): there the user opts into the index
 * per query; here every graft session carries this rule
 * ([[GraftRules]]) and it fires only for a store registered in
 * [[IvfIndexCatalog]].
 *
 *   SELECT ..., knn_cosine_similarity(embedding, <literal vec>) AS score
 *   FROM indexed_store ORDER BY score DESC LIMIT k
 *
 * matches GlobalLimit(LocalLimit(Sort(Project(..., scan)))) where the
 * sort key is a distance expression over a literal query vector and
 * every root path of the scan is registered to one [[IvfIndexCatalog]]
 * entry. The rewrite injects `cluster_id IN (<top searchTopSize
 * centroids>)` directly above the relation; on a store written
 * `partitionBy(cluster_id)` that filter becomes Parquet partition
 * pruning — the 100 TB search path, now reachable from unmodified SQL.
 *
 * Conservative by design: the sort direction must match the metric's
 * suffix rule, the sort must be the score alone (the id tie-break is
 * added by the engine API, not required here), and an already-rewritten
 * subtree (tag) is never rewritten again.
 */
class IvfRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.ivf.rewritten")

  private def strategyOf(e: VectorMetricExpression): SearchStrategy = e match {
    case _: KnnCosineSimilarity       => SearchStrategy.CosineSimilarity
    case _: KnnInnerProductSimilarity => SearchStrategy.InnerProductSimilarity
    case _: KnnCosineDistance         => SearchStrategy.CosineDistance
    case _: KnnEuclideanDistance      => SearchStrategy.EuclideanDistance
    case _: KnnManhattanDistance      => SearchStrategy.ManhattanDistance
  }

  private def literalVec(e: Expression): Option[Array[Float]] = e match {
    case Literal(a: ArrayData, ArrayType(FloatType, _)) => Some(a.toFloatArray())
    case _ => None
  }

  /** The metric expression inside the sort key, unwrapping a round(). */
  private def metricOf(e: Expression): Option[VectorMetricExpression] = e match {
    case m: VectorMetricExpression => Some(m)
    case r: Round => r.child match {
      case m: VectorMetricExpression => Some(m)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (IvfIndexCatalog.isEmpty) plan else plan.transformDown {
    case gl @ GlobalLimit(_, ll @ LocalLimit(_,
        srt @ Sort(SortOrder(attr: AttributeReference, direction, _, _) +: _, true,
        Project(projectList, child), _))) if gl.getTagValue(rewritten).isEmpty =>
      val rewrittenPlan = for {
        aliased <- projectList.collectFirst {
          case a: Alias if a.exprId == attr.exprId => a.child
        }
        metric <- metricOf(aliased)
        strategy = strategyOf(metric)
        // direction must agree with the metric's suffix rule (app.py:55)
        if (strategy.descending && direction == Descending) ||
          (!strategy.descending && direction == Ascending)
        queryVec <- literalVec(metric.left).orElse(literalVec(metric.right))
        (relation, entry) <- findIndexedRelation(child)
        clusterAttr <- relation.output.find(_.name == IvfIndex.ClusterCol)
      } yield {
        val top = entry.model.rankClusters(queryVec, strategy)
          .take(entry.searchTopSize)
          .map(id => Literal(id)).toSeq
        val pruned = child.transformUp {
          case lr: LogicalRelation if lr eq relation =>
            Filter(In(clusterAttr, top), lr)
        }
        val out = GlobalLimit(gl.limitExpr,
          LocalLimit(ll.limitExpr,
            srt.copy(child = Project(projectList, pruned))))
        out.setTagValue(rewritten, true)
        out
      }
      rewrittenPlan.getOrElse(gl)
  }

  /** The unique LogicalRelation under `plan` registered as an IVF
    * store (bails out on joins — pruning one side of a join needs
    * per-side analysis). */
  private def findIndexedRelation(
      plan: LogicalPlan): Option[(LogicalRelation, IvfEntry)] = {
    val rels = plan.collect {
      case lr: LogicalRelation => IvfIndexCatalog.lookup(lr).map(lr -> _)
    }.flatten
    if (rels.length == 1) rels.headOption else None
  }
}

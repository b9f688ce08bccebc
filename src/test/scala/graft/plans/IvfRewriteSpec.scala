package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import graft.operators.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IvfRewriteSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")

  private lazy val (storePath, model) = {
    val (assigned, m) = IvfIndex.build(emb, "embedding", numClusters = 8)
    val p = java.nio.file.Files.createTempDirectory("ivf_rewrite_store").toString
    IvfIndex.writePartitioned(assigned, p)
    (p, m)
  }

  private def qv: Seq[Float] =
    emb.where(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)

  private def topkSql(): DataFrame = {
    GraftFunctions.register(spark)
    spark.read.parquet(storePath).createOrReplaceTempView("ivf_store")
    spark.sql(
      """SELECT vec_id, round(knn_cosine_similarity(embedding, :qv), 6) AS score
        |FROM ivf_store ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
      Map("qv" -> typedLit(qv)))
  }

  test("registered store: plain SQL top-k is rewritten to cluster pruning") {
    IvfIndexCatalog.register(storePath, model, searchTopSize = 1)
    try {
      val df = topkSql()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("cluster_id"), optimized)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("PartitionFilters") && physical.contains("cluster_id"),
        physical)
      // pruned search still returns k rows, ordered
      val rows = df.collect()
      assert(rows.length === 5)
      val scores = rows.map(_.getDouble(1))
      assert(scores.sliding(2).forall { case Array(a, b) => a >= b })
    } finally IvfIndexCatalog.unregister(storePath)
  }

  test("full breadth: rewritten query equals the unrewritten exact result") {
    val exact = topkSql().collect() // not registered → no rewrite
    IvfIndexCatalog.register(storePath, model, searchTopSize = model.numClusters)
    try {
      val rewrittenRows = topkSql().collect()
      assert(rewrittenRows.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
    } finally IvfIndexCatalog.unregister(storePath)
  }

  test("no rewrite when the sort direction contradicts the metric") {
    IvfIndexCatalog.register(storePath, model, searchTopSize = 1)
    try {
      GraftFunctions.register(spark)
      spark.read.parquet(storePath).createOrReplaceTempView("ivf_store")
      val df = spark.sql(
        """SELECT vec_id, round(knn_cosine_similarity(embedding, :qv), 6) AS score
          |FROM ivf_store ORDER BY score ASC, vec_id LIMIT 5""".stripMargin,
        Map("qv" -> typedLit(qv)))
      // ASC over a similarity: not a top-k ANN query — must stay exact
      assert(!df.queryExecution.optimizedPlan.toString.contains("cluster_id IN"))
    } finally IvfIndexCatalog.unregister(storePath)
  }

  test("unregistered store: plan untouched") {
    val df = topkSql()
    assert(!df.queryExecution.optimizedPlan.toString.contains("cluster_id IN"))
  }
}

package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame

class SimJoinRewriteSpec extends SparkFunSuite {

  private lazy val storePath = {
    val p = java.nio.file.Files.createTempDirectory("simjoin_store").toString
    spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(p)
    p
  }

  private val params = SimJoinParams(
    "vec_id", "embedding", bitsPerTable = 4, nTables = 64,
    seed = 42L, maxBucket = Some(1024))

  private def naiveSql(): DataFrame = {
    GraftFunctions.register(spark)
    spark.sql(
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       round(knn_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
         |FROM parquet.`$storePath` a JOIN parquet.`$storePath` b
         |  ON a.vec_id < b.vec_id
         |WHERE round(knn_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin)
  }

  test("registered store: the naive cosine self-join plans as banded LSH") {
    val exact = naiveSql().collect() // unregistered → brute force
    assert(exact.nonEmpty)
    SimJoinCatalog.register(storePath, params)
    try {
      val df = naiveSql()
      val optimized = df.queryExecution.optimizedPlan.toString
      // the LSH plan explodes band keys (Generate) and joins on bucket
      // equality; the brute-force plan has neither
      assert(optimized.contains("Generate"), optimized)
      assert(optimized.contains("cosine_lsh_keys"), optimized)
      assert(df.collect().map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
    } finally SimJoinCatalog.unregister(storePath)
  }

  test("a query below the validated threshold is NOT rewritten") {
    GraftFunctions.register(spark)
    SimJoinCatalog.register(storePath, params.copy(minThreshold = 0.4))
    try {
      val loose = spark.sql(
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |       round(knn_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
           |FROM parquet.`$storePath` a JOIN parquet.`$storePath` b
           |  ON a.vec_id < b.vec_id
           |WHERE round(knn_cosine_similarity(a.embedding, b.embedding), 6) >= 0.1
           |""".stripMargin)
      assert(!loose.queryExecution.optimizedPlan.toString.contains("cosine_lsh_keys"))
    } finally SimJoinCatalog.unregister(storePath)
  }

  test("no rewrite without registration, wrong shape left alone") {
    val df = naiveSql() // unregistered
    assert(!df.queryExecution.optimizedPlan.toString.contains("cosine_lsh_keys"))
    // different projection arity → untouched even when registered
    SimJoinCatalog.register(storePath, params)
    try {
      GraftFunctions.register(spark)
      val other = spark.sql(
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id
           |FROM parquet.`$storePath` a JOIN parquet.`$storePath` b
           |  ON a.vec_id < b.vec_id
           |WHERE round(knn_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4
           |""".stripMargin)
      assert(!other.queryExecution.optimizedPlan.toString.contains("cosine_lsh_keys"))
      other.limit(1).collect() // still executes
    } finally SimJoinCatalog.unregister(storePath)
  }
}

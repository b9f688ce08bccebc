package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions

/** Fuzzy-join SQL rewrite: fires on the registered naive shape and
  * matches the exact join bit for bit; refuses unregistered stores and
  * thresholds beyond the losslessness contract. */
class FuzzyJoinRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val storePath: String = {
    val p = java.nio.file.Files.createTempDirectory("fuzzy_rw_store").toString
    // 20-char names: base rows + single-char deletions, some unrelated
    val base = "abcdefghijklmnopqrst"
    val rows = Seq((0L, base), (100L, base.substring(1)),
      (101L, base.substring(0, 10) + base.substring(11)),
      (102L, base.dropRight(1)),
      (200L, "zzzzzzzzzzzzzzzzzzzz"))
    rows.toDF("id", "name").write.mode("overwrite").parquet(p)
    p
  }

  private def naiveSql(maxDist: Int): String =
    s"""SELECT a.id AS a_id, b.id AS b_id,
       |       levenshtein(a.name, b.name) AS dist
       |FROM parquet.`$storePath` a JOIN parquet.`$storePath` b
       |  ON a.id < b.id AND levenshtein(a.name, b.name) <= $maxDist
       |ORDER BY a_id, b_id""".stripMargin

  test("registered dist<=1 query rewrites (no nested-loop join) and stays exact") {
    // ground truth BEFORE registering the store
    val exact = spark.sql(naiveSql(1)).collect().toSeq
    assert(exact.nonEmpty)
    GraftFunctions.register(spark)
    FuzzyJoinCatalog.register(storePath,
      FuzzyJoinParams("id", "name", blockKeyLen = 8, maxBucket = None))
    try {
      val rewritten = spark.sql(naiveSql(1))
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"rewrite did not fire:\n$plan")
      assert(rewritten.collect().toSeq === exact)
    } finally FuzzyJoinCatalog.unregister(storePath)
  }

  test("dist<=2 exceeds the losslessness contract: NOT rewritten") {
    GraftFunctions.register(spark)
    FuzzyJoinCatalog.register(storePath,
      FuzzyJoinParams("id", "name", blockKeyLen = 8, maxBucket = None))
    try {
      val plan = spark.sql(naiveSql(2)).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"))
    } finally FuzzyJoinCatalog.unregister(storePath)
  }

  test("unregistered store: NOT rewritten") {
    GraftFunctions.register(spark)
    val plan = spark.sql(naiveSql(1)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("CartesianProduct"))
  }
}

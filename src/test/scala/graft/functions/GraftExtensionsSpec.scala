package graft.functions

import graft.SparkFunSuite
import graft.plans.GraftRules
import org.apache.spark.sql.SparkSession

/** The cluster deployment path: a session created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` gets every
  * function and all nine plan rewrites with no imperative
  * registration; `GraftFunctions.register` gives any other session the
  * same nine, and neither seam ever adds a rule twice. */
class GraftExtensionsSpec extends SparkFunSuite {

  /** Each of the nine rule classes is present in `s` exactly once. */
  private def assertEachRuleOnce(s: SparkSession): Unit = {
    val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules ++
      s.experimental.extraOptimizations
    val counts = GraftRules.all.map { case (cls, _) =>
      cls.getSimpleName -> rules.count(cls.isInstance) }
    assert(counts.size === 9 && counts.map(_._1).distinct.size === 9)
    assert(counts.forall(_._2 == 1), counts.mkString(", "))
  }

  test("extensions-configured session registers functions and the rewrite rule") {
    val base = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `spark.sql.extensions` is a static conf, inert once a
      // SparkContext exists (as in this shared-context suite), so use
      // the equivalent public builder seam — the same GraftExtensions
      // instance a real cluster gets from the conf at first startup.
      val ext = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      assert(ext ne base)
      // functions resolve without GraftFunctions.register
      val r = ext.sql(
        "SELECT knn_cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F))")
        .head.getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      val agg = ext.sql(
        "SELECT vector_avg(v) FROM VALUES (array(2.0F)), (array(4.0F)) AS t(v)")
        .head.getSeq[Double](0)
      assert(agg === Seq(3.0))
      // EVERY registered function resolves (completeness as GraftFunctions.all grows)
      GraftFunctions.all.foreach { case (name, _, _) =>
        assert(ext.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)), name)
      }
      // all nine rewrites are injected, and register adds none of them again
      assertEachRuleOnce(ext)
      GraftFunctions.register(ext)
      assertEachRuleOnce(ext)
      // an injected rewrite fires and refuses in this session, with the
      // exact answer either way: footer-only count(*) over a registered
      // path, and the filtered count it must refuse
      val dir = java.nio.file.Files.createTempDirectory("graft_ext_spec").toString
      ext.range(1000).selectExpr("id", "id % 7 AS v").repartition(3)
        .write.mode("overwrite").parquet(dir)
      graft.plans.FooterCountCatalog.register(dir)
      val fired = ext.sql(s"SELECT count(*) FROM parquet.`$dir`")
      val firedPlan = fired.queryExecution.executedPlan.toString
      assert(firedPlan.contains("MapPartitions") && !firedPlan.contains("Scan parquet"),
        firedPlan)
      assert(fired.head.getLong(0) === 1000L)
      val refused = ext.sql(s"SELECT count(*) FROM parquet.`$dir` WHERE v = 3")
      assert(refused.queryExecution.executedPlan.toString.contains("Scan parquet"))
      assert(refused.head.getLong(0) === (0 until 1000).count(_ % 7 == 3).toLong)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("register from 8 threads at once appends each rewrite exactly once") {
    // the shared session, and a new session that starts with no rules
    for (s <- Seq(spark, spark.newSession())) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val done = (1 to 8).map(_ => pool.submit(new Runnable {
          def run(): Unit = { start.await(); GraftFunctions.register(s) }
        }))
        start.countDown()
        done.foreach(_.get())
      } finally pool.shutdown()
      assertEachRuleOnce(s)
    }
  }
}

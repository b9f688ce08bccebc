package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import graft.operators.HyperLogLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HLL distinct-count rewrite: a registered path's single
  * count(DISTINCT col) re-plans as the register pipeline (matching
  * HyperLogLog.estimatePer bit-for-bit after BIGINT rounding); an
  * unregistered path, and every shape outside the contract — several
  * distincts, mixed aggregates, expression groupings — keeps the
  * exact plan. */
class HllRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val path: String = {
    val p = java.nio.file.Files.createTempDirectory("hll_rw").toString
    // 1499 is coprime to 4, so every group sees (nearly) every uid
    (0 until 5000).map(i => (s"g${i % 4}", s"user-${i % 1499}", i.toLong))
      .toDF("grp", "uid", "v")
      .write.mode("overwrite").parquet(p)
    GraftFunctions.register(spark)
    p
  }

  private def q(sql: String): DataFrame = spark.sql(sql)

  test("registered path: SQL count(DISTINCT) re-plans to the register estimate") {
    // exact truth BEFORE registering — the rule rewrites DataFrame-API
    // aggregates over a registered path just the same
    val exact = spark.read.parquet(path)
      .groupBy("grp").agg(countDistinct("uid").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    HllCatalog.register(path)
    try {
      val got = q(s"""SELECT grp, count(DISTINCT uid) AS n
                     |FROM parquet.`$path` GROUP BY grp ORDER BY grp""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // reference: the explicit operator's estimate + the shared
      // small-range/empty correction the rewrite embeds
      val ref = HyperLogLog.estimatePer(
        HyperLogLog.registersPer(
          spark.read.parquet(path), "uid", Seq("grp")), Seq("grp"))
        .collect()
        .map(r => r.getString(0) -> HyperLogLog.corrected(
          r.getAs[Long]("v_zero"), r.getAs[Double]("est_distinct")))
        .toMap
      assert(got === ref)
      got.foreach { case (g, est) =>
        val ex = exact(g)
        assert(math.abs(est - ex) <= 0.25 * ex, s"grp=$g est=$est exact=$ex")
      }
      // at least one group differs from exact (all four matching the
      // exact counts would mean the rewrite never fired)
      assert(got.exists { case (g, est) => est != exact(g) }, (got, exact))
    } finally HllCatalog.unregister(path)
  }

  test("unregistered path keeps the exact distinct aggregate") {
    val expect = spark.read.parquet(path)
      .groupBy("grp").agg(countDistinct("uid").as("n")).orderBy("grp")
      .collect().map(r => r.getLong(1)).toSeq
    val got = q(s"""SELECT grp, count(DISTINCT uid) AS n
                   |FROM parquet.`$path` GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => r.getLong(1)).toSeq
    assert(got === expect)
    assert(expect.forall(_ > 1000L)) // sanity: the interleave worked
  }

  test("refusals: multiple distincts, mixed aggregates, global+filter variants") {
    HllCatalog.register(path)
    try {
      // distinct + plain count: must stay exact
      val exactPerGrp = spark.read.parquet(path)
        .groupBy("grp").agg(countDistinct("uid").as("n"), count(lit(1)).as("c"))
        .orderBy("grp").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val mixed = q(s"""SELECT grp, count(DISTINCT uid) AS n, count(*) AS c
                       |FROM parquet.`$path` GROUP BY grp ORDER BY grp""".stripMargin)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(mixed === exactPerGrp)
      // two distincts: exact
      val two = q(s"""SELECT count(DISTINCT uid) AS a, count(DISTINCT grp) AS b
                     |FROM parquet.`$path`""".stripMargin).collect().head
      assert(two.getLong(0) === 1499L && two.getLong(1) === 4L)
      // a WHERE on another column still rewrites (filter commutes):
      val filtered = q(s"""SELECT grp, count(DISTINCT uid) AS n
                          |FROM parquet.`$path` WHERE v < 2500
                          |GROUP BY grp ORDER BY grp""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val refF = HyperLogLog.estimatePer(
        HyperLogLog.registersPer(
          spark.read.parquet(path).filter(col("v") < 2500), "uid",
          Seq("grp")), Seq("grp"))
        .collect()
        .map(r => r.getString(0) -> HyperLogLog.corrected(
          r.getAs[Long]("v_zero"), r.getAs[Double]("est_distinct")))
        .toMap
      assert(filtered === refF)
    } finally HllCatalog.unregister(path)
  }

  test("small range: linear counting makes few-distinct groups near-exact") {
    // The raw harmonic estimate reports ~alpha*m ≈ 184 for ONE
    // distinct value; the linear-counting branch must report 1.
    val p = java.nio.file.Files.createTempDirectory("hll_rw_small").toString
    (0 until 400).map(i => (s"g${i % 4}", s"only-${i % 4}"))
      .toDF("grp", "uid").write.mode("overwrite").parquet(p)
    HllCatalog.register(p)
    try {
      val got = q(s"""SELECT grp, count(DISTINCT uid) AS n
                     |FROM parquet.`$p` GROUP BY grp ORDER BY grp""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.values.forall(_ == 1L), got) // each group has exactly 1
      // a handful of distincts stays near-exact too (LC regime):
      // ungrouped, 4 distinct uids, raw formula would say ~187
      val df4 = q(s"""SELECT count(DISTINCT uid) AS n
                     |FROM parquet.`$p`""".stripMargin)
      assert(df4.queryExecution.optimizedPlan.toString.contains("__hll_bucket"))
      val got4 = df4.collect().head.getLong(0)
      assert(math.abs(got4 - 4L) <= 1, got4)
    } finally HllCatalog.unregister(p)
  }

  test("empty input: ungrouped rewritten count(DISTINCT) returns 0, not NULL") {
    HllCatalog.register(path)
    try {
      val df = q(s"""SELECT count(DISTINCT uid) AS n
                    |FROM parquet.`$path` WHERE v < -1""".stripMargin)
      // the rewrite DID fire (data-dependent filter is not folded away)
      assert(df.queryExecution.optimizedPlan.toString.contains("__hll_bucket"))
      val row = df.collect().head
      assert(!row.isNullAt(0) && row.getLong(0) === 0L, row)
    } finally HllCatalog.unregister(path)
  }

  test("rewritten plan sheds the distinct expand: register aggregate instead") {
    HllCatalog.register(path)
    try {
      val df = q(s"""SELECT grp, count(DISTINCT uid) AS n
                    |FROM parquet.`$path` GROUP BY grp""".stripMargin)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("__hll_bucket"), plan)
      assert(plan.contains("md5"), plan)
    } finally HllCatalog.unregister(path)
  }
}

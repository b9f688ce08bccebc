package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame

/** Materialized-rollup rewrite: merge-closed aggregates over a
  * registered base re-plan against the summary (exact-grain, coarser
  * regroup, commuting WHERE, global aggregate); anything outside the
  * merge algebra — avg, count(col), float sums, non-grain predicates —
  * refuses and falls back to the base scan. */
class RollupRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val basePath: String = {
    val p = java.nio.file.Files.createTempDirectory("rollup_rw_base").toString
    val rows = (0 until 400).map { i =>
      (i.toLong, s"lang${i % 3}", s"src${i % 5}", (i * 7 % 101).toLong,
        i * 0.25,
        if (i % 7 == 0) None else Some((i * 13 % 37).toLong))
    }
    rows.toDF("id", "lang", "source", "n_chars", "score", "opt")
      .write.mode("overwrite").parquet(p)
    p
  }

  private lazy val params: RollupParams = {
    val sp = java.nio.file.Files.createTempDirectory("rollup_rw_sum").toString
    val p = RollupCatalog.buildSummary(spark, basePath, sp,
      Seq("lang", "source"), Seq("n_chars", "score", "opt"))
    p
  }

  private def scansSummary(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("rollup_rw_sum") && !plan.contains("rollup_rw_base")
  }
  private def scansBase(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("rollup_rw_base")

  private def withRegistered[T](f: => T): T = {
    GraftFunctions.register(spark)
    RollupCatalog.register(basePath, params)
    try f finally RollupCatalog.unregister(basePath)
  }

  private def sql(q: String) = spark.sql(q.replace("BASE", s"parquet.`$basePath`"))

  test("exact-grain query rewrites to the summary scan and stays exact") {
    val q = """SELECT lang, source, count(*) AS n, sum(n_chars) AS total,
              |       min(n_chars) AS lo, max(n_chars) AS hi
              |FROM BASE GROUP BY lang, source ORDER BY lang, source""".stripMargin
    val exact = sql(q).collect().toSeq
    withRegistered {
      val rw = sql(q)
      assert(scansSummary(rw), rw.queryExecution.executedPlan.toString)
      assert(rw.collect().toSeq === exact)
    }
  }

  test("coarser regroup + commuting WHERE rewrites and stays exact") {
    val q = """SELECT lang, count(*) AS n, sum(n_chars) AS total
              |FROM BASE WHERE source <> 'src0'
              |GROUP BY lang ORDER BY lang""".stripMargin
    val exact = sql(q).collect().toSeq
    withRegistered {
      val rw = sql(q)
      assert(scansSummary(rw), rw.queryExecution.executedPlan.toString)
      assert(rw.collect().toSeq === exact)
    }
  }

  test("global aggregate (no GROUP BY) rewrites and stays exact") {
    val q = "SELECT count(*) AS n, max(n_chars) AS hi FROM BASE"
    val exact = sql(q).collect().toSeq
    withRegistered {
      val rw = sql(q)
      assert(scansSummary(rw), rw.queryExecution.executedPlan.toString)
      assert(rw.collect().toSeq === exact)
    }
  }

  test("avg and count(col) serve from the nn/sum partials, nulls respected") {
    val q = """SELECT lang, count(opt) AS n_opt, avg(opt) AS mean_opt,
              |       avg(n_chars) AS mean_chars
              |FROM BASE GROUP BY lang ORDER BY lang""".stripMargin
    val exact = sql(q).collect().toSeq
    withRegistered {
      val rw = sql(q)
      assert(scansSummary(rw), rw.queryExecution.executedPlan.toString)
      assert(rw.collect().toSeq === exact)
    }
  }

  test("expressions OVER merge-closed aggregates serve: round(avg), sum/count") {
    val q = """SELECT lang, round(avg(n_chars), 6) AS m,
              |       sum(n_chars) + count(*) AS oddity
              |FROM BASE GROUP BY lang ORDER BY lang""".stripMargin
    val exact = sql(q).collect().toSeq
    withRegistered {
      val rw = sql(q)
      assert(scansSummary(rw), rw.queryExecution.executedPlan.toString)
      assert(rw.collect().toSeq === exact)
    }
  }

  test("count of an UNREGISTERED column: NOT rewritten") {
    withRegistered {
      assert(scansBase(sql(
        "SELECT lang, count(source) AS n FROM BASE GROUP BY lang")))
    }
  }

  test("avg over a float column is order-dependent: NOT rewritten") {
    withRegistered {
      assert(scansBase(sql(
        "SELECT lang, avg(score) AS m FROM BASE GROUP BY lang")))
    }
  }

  test("float sums are order-dependent: NOT rewritten") {
    withRegistered {
      assert(scansBase(sql(
        "SELECT lang, sum(score) AS s FROM BASE GROUP BY lang")))
    }
  }

  test("WHERE on a non-grain column does not commute: NOT rewritten") {
    withRegistered {
      assert(scansBase(sql(
        "SELECT lang, count(*) AS n FROM BASE WHERE n_chars > 50 GROUP BY lang")))
    }
  }

  test("count DISTINCT is never merge-closed: NOT rewritten") {
    withRegistered {
      assert(scansBase(sql(
        "SELECT lang, count(DISTINCT source) AS n FROM BASE GROUP BY lang")))
    }
  }

  test("registered base read together with an unregistered copy: NOT rewritten") {
    val copy = java.nio.file.Files.createTempDirectory("rollup_rw_copy").toString
    spark.read.parquet(basePath).write.mode("overwrite").parquet(copy)
    def both(): DataFrame = {
      spark.read.parquet(basePath, copy).createOrReplaceTempView("rollup_rw_both")
      spark.sql("""SELECT lang, count(*) AS n, sum(n_chars) AS total
                  |FROM rollup_rw_both GROUP BY lang ORDER BY lang""".stripMargin)
    }
    val exact = both().collect().toSeq
    withRegistered {
      val df = both()
      assert(scansBase(df), df.queryExecution.executedPlan.toString)
      assert(df.collect().toSeq === exact)
    }
  }

  test("unregistered base: NOT rewritten") {
    GraftFunctions.register(spark)
    assert(scansBase(sql(
      "SELECT lang, count(*) AS n FROM BASE GROUP BY lang")))
  }

  // ------------------------------------------------- time-grain serving

  private lazy val tsBasePath: String = {
    val p = java.nio.file.Files.createTempDirectory("rollup_rw_tsbase").toString
    val rows = (0 until 500).map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(
          f"2024-${1 + i % 3}%02d-${1 + i % 27}%02d ${i % 24}%02d:${i % 60}%02d:00"),
        s"t${i % 2}", (i * 11 % 97).toLong)
    }
    rows.toDF("id", "ts", "typ", "cents").write.mode("overwrite").parquet(p)
    p
  }

  private lazy val tsParams: RollupParams = {
    val sp = java.nio.file.Files.createTempDirectory("rollup_rw_tssum").toString
    RollupCatalog.buildSummary(spark, tsBasePath, sp, Seq("typ"),
      Seq("cents"), timeGrain = Some(("ts", "HOUR", "grain_hour")))
  }

  private def withTsRegistered[T](f: => T): T = {
    GraftFunctions.register(spark)
    RollupCatalog.register(tsBasePath, tsParams)
    try f finally RollupCatalog.unregister(tsBasePath)
  }
  private def tsSql(q: String) =
    spark.sql(q.replace("TSBASE", s"parquet.`$tsBasePath`"))
  private def tsScansSummary(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("rollup_rw_tssum") && !plan.contains("rollup_rw_tsbase")
  }

  test("hourly summary serves same-grain and coarser time rollups exactly") {
    for (lvl <- Seq("HOUR", "DAY", "WEEK", "MONTH", "YEAR")) {
      val q = s"""SELECT typ, date_trunc('$lvl', ts) AS g, count(*) AS n,
                 |       sum(cents) AS total, round(avg(cents), 6) AS m
                 |FROM TSBASE GROUP BY typ, date_trunc('$lvl', ts)
                 |ORDER BY typ, g""".stripMargin
      val exact = tsSql(q).collect().toSeq
      withTsRegistered {
        val rw = tsSql(q)
        assert(tsScansSummary(rw),
          s"$lvl:\n" + rw.queryExecution.executedPlan.toString)
        assert(rw.collect().toSeq === exact, lvl)
      }
    }
  }

  test("finer-than-stored grain (MINUTE vs HOUR summary): NOT rewritten") {
    withTsRegistered {
      val df = tsSql("""SELECT date_trunc('MINUTE', ts) AS g, count(*) AS n
                       |FROM TSBASE GROUP BY date_trunc('MINUTE', ts)""".stripMargin)
      assert(df.queryExecution.executedPlan.toString.contains("rollup_rw_tsbase"))
    }
  }

  test("other uses of the timestamp (year(ts) projection): NOT rewritten") {
    withTsRegistered {
      val df = tsSql("""SELECT year(ts) AS y, count(*) AS n
                       |FROM TSBASE GROUP BY year(ts)""".stripMargin)
      assert(df.queryExecution.executedPlan.toString.contains("rollup_rw_tsbase"))
    }
  }
}

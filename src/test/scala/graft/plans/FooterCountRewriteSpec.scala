package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Footer-only count(*) rewrite: exact counts without a data scan,
  * every refusal path, and the loud-failure contract on a corrupt
  * footer. */
class FooterCountRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val registered: Unit = GraftFunctions.register(spark)

  private def writeStore(n: Int, parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fc_spec").toString
    spark.range(n.toLong).select(col("id"), (col("id") % 7).as("v"),
      when(col("id") % 5 =!= 0, col("id")).as("w")) // NULL every 5th row
      .repartition(parts).write.mode("overwrite").parquet(dir)
    dir
  }

  test("registered unfiltered count(*): exact, and no parquet data scan") {
    registered
    val dir = writeStore(12345, 4)
    FooterCountCatalog.register(dir)
    val df = spark.sql(s"SELECT count(*) AS n FROM parquet.`$dir`")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("MapPartitions"), s"rewrite did not fire:\n$phys")
    assert(!phys.contains("Scan parquet"), s"data scan survived:\n$phys")
    assert(df.collect().head.getLong(0) === 12345L)
  }

  test("count(1) through a column-pruning projection also fires") {
    registered
    val dir = writeStore(999, 2)
    FooterCountCatalog.register(dir)
    val df = spark.read.parquet(dir).select("v").agg(count(lit(1)).as("n"))
    assert(df.queryExecution.executedPlan.toString.contains("MapPartitions"))
    assert(df.collect().head.getLong(0) === 999L)
  }

  test("refusals: filter, count(col), distinct, grouping, unregistered") {
    registered
    val dir = writeStore(500, 2)
    FooterCountCatalog.register(dir)
    val t = spark.read.parquet(dir)
    val refused = Seq(
      t.filter(col("v") > 2).agg(count(lit(1))),          // filtered
      t.agg(countDistinct(col("v"))),                     // distinct
      t.groupBy("v").agg(count(lit(1))))                  // grouped
    refused.foreach { df =>
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("Scan parquet"), s"should have scanned:\n$phys")
    }
    // count(col) has null semantics the row count cannot answer: the
    // footer-count rule itself leaves the plan untouched (it does
    // rewrite count(1) over the same scan), and the session's answer
    // (the footer-stats rule may serve it from null_count) is the exact
    // non-null count, not num_rows
    val rule = new FooterCountRule(spark)
    def untouched(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.analyzed
      rule.apply(plan) eq plan
    }
    assert(!untouched(t.agg(count(lit(1)))), "count(1) not rewritten")
    assert(untouched(t.agg(count(col("w")))), "count(col) rewritten")
    assert(t.agg(count(col("w"))).collect().head.getLong(0) === 400L)
    val other = writeStore(77, 1) // never registered
    val df = spark.read.parquet(other).agg(count(lit(1)).as("n"))
    assert(df.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(df.collect().head.getLong(0) === 77L)
  }

  test("several root paths: footers only when every one is registered") {
    registered
    val (a, b, c) = (writeStore(300, 2), writeStore(200, 1), writeStore(100, 1))
    FooterCountCatalog.register(a)
    FooterCountCatalog.register(b)
    val both = spark.read.parquet(a, b).agg(count(lit(1)))
    assert(!both.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(both.collect().head.getLong(0) === 500L)
    val partly = spark.read.parquet(a, c).agg(count(lit(1)))
    assert(partly.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(partly.collect().head.getLong(0) === 400L)
  }

  test("footerRows: exact per file; garbage and truncated files → None") {
    val dir = writeStore(100, 1)
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    var total = 0L
    while (f.hasNext) {
      val p = f.next()
      if (p.toString.endsWith(".parquet"))
        total += FooterCountRewrite.footerRows(p.toString).get
    }
    assert(total === 100L)
    val junk = java.nio.file.Files.createTempFile("graft_fc", ".parquet")
    java.nio.file.Files.write(junk, Array.fill[Byte](64)(0x5a))
    assert(FooterCountRewrite.footerRows(junk.toString).isEmpty)
    assert(FooterCountRewrite.footerRows("/nonexistent/x.parquet").isEmpty)
  }

  test("corrupt footer fails the query loudly, never undercounts") {
    registered
    val dir = writeStore(50, 1)
    // infer schema and build the FileIndex while the file is intact —
    // the corruption below is then first seen by OUR footer read
    val t = spark.read.parquet(dir)
    // truncate the one data file's tail so the footer is unreadable
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    var path: java.nio.file.Path = null
    while (f.hasNext) {
      val p = f.next()
      if (p.toString.endsWith(".parquet")) path = p
    }
    val bytes = java.nio.file.Files.readAllBytes(path)
    java.nio.file.Files.write(path, bytes.take(bytes.length - 6))
    // drop Hadoop's local checksum sidecars so the TRUNCATION (not a
    // ChecksumException) is what the read surfaces
    val all = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    while (all.hasNext) {
      val p = all.next()
      if (p.toString.endsWith(".crc")) java.nio.file.Files.delete(p)
    }
    FooterCountCatalog.register(dir)
    val ex = intercept[Exception] {
      t.agg(count(lit(1)).as("n")).collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(ex).exists(m =>
      m != null && m.contains("unreadable parquet footer")), ex.getMessage)
  }
}

package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Footer-statistics min/max rewrite: exact answers with no data
  * scan, null/all-null chunk handling, and every refusal path. */
class FooterStatsRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val registered: Unit = GraftFunctions.register(spark)

  private def write(df: org.apache.spark.sql.DataFrame, parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_spec").toString
    df.repartition(parts).write.mode("overwrite").parquet(dir)
    FooterCountCatalog.register(dir)
    dir
  }

  test("min/max/count mix: exact from footers, no parquet data scan") {
    registered
    val dir = write(spark.range(1000, 8000).select(
      col("id"), (col("id") % 321).cast("int").as("v")), 4)
    val df = spark.read.parquet(dir).agg(
      min("id").as("lo"), max("id").as("hi"),
      min("v").as("vlo"), max("v").as("vhi"),
      count(lit(1)).as("n"))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("MapPartitions"), s"rewrite did not fire:\n$phys")
    assert(!phys.contains("Scan parquet"), s"data scan survived:\n$phys")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1)) === ((1000L, 7999L)))
    assert((r.getInt(2), r.getInt(3)) === ((0, 320)))
    assert(r.getLong(4) === 7000L)
  }

  test("nulls are skipped exactly; an all-null column yields NULL") {
    registered
    val base = spark.range(100).select(col("id"),
      when(col("id") % 2 === 0, col("id") * 3).as("evens"),
      lit(null).cast("long").as("void"))
    val dir = write(base, 3)
    val df = spark.read.parquet(dir).agg(
      min("evens").as("a"), max("evens").as("b"),
      min("void").as("c"))
    assert(df.queryExecution.executedPlan.toString.contains("MapPartitions"))
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1)) === ((0L, 294L)))
    assert(r.isNullAt(2))
  }

  test("max(ts)/min(date): the freshness card answers from footers") {
    registered
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val base = spark.range(1000).select(
        expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id)")
          .as("ts"),
        expr("date'2024-01-01' + CAST(id % 90 AS INT)").as("d"))
      val dir = write(base, 3)
      val df = spark.read.parquet(dir).agg(
        min("ts").as("lo"), max("ts").as("hi"),
        min("d").as("dlo"), max("d").as("dhi"))
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("MapPartitions"), s"rewrite did not fire:\n$phys")
      assert(!phys.contains("Scan parquet"), s"data scan survived:\n$phys")
      val r = df.collect().head
      assert(r.getTimestamp(0) ===
        java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
      assert(r.getTimestamp(1) ===
        java.sql.Timestamp.valueOf("2024-03-01 00:16:39"))
      assert(r.getDate(2) === java.sql.Date.valueOf("2024-01-01"))
      assert(r.getDate(3) === java.sql.Date.valueOf("2024-03-30"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("INT96 timestamps refuse loudly rather than mis-decode") {
    registered
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val dir = write(spark.range(10).select(
        expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id)")
          .as("ts")), 1)
      val df = spark.read.parquet(dir).agg(max("ts"))
      val ex = intercept[Exception] { df.collect() }
      def causes(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: causes(t.getCause)
      assert(causes(ex).exists(m => m != null && m.contains("footer-stats")),
        ex.getMessage)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("count(col) from null_count: exact with nulls, strings included") {
    registered
    val base = spark.range(200).select(col("id"),
      when(col("id") % 3 === 0, concat(lit("s"), col("id"))).as("s"),
      when(col("id") % 5 =!= 0, col("id")).as("gaps"))
    val dir = write(base, 3)
    val df = spark.read.parquet(dir).agg(
      count(col("s")).as("ns"), count(col("gaps")).as("ng"),
      count(lit(1)).as("n"))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("MapPartitions"), s"rewrite did not fire:\n$phys")
    assert(!phys.contains("Scan parquet"), s"data scan survived:\n$phys")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((67L, 160L, 200L)))
  }

  test("count over an array column is refused (values ≠ rows)") {
    registered
    val dir = write(spark.range(10).select(col("id"),
      array(col("id"), col("id") + 1).as("arr")), 1)
    val df = spark.read.parquet(dir).agg(count(col("arr")))
    assert(df.queryExecution.executedPlan.toString.contains("Scan parquet"))
    assert(df.collect().head.getLong(0) === 10L)
  }

  test("results match the scan plan on every file layout") {
    registered
    for (parts <- Seq(1, 2, 7)) {
      val dir = write(spark.range(500).select(
        ((col("id") * 37) % 101 - 50).as("x")), parts)
      val got = spark.read.parquet(dir)
        .agg(min("x").as("lo"), max("x").as("hi")).collect().head
      assert((got.getLong(0), got.getLong(1)) === ((-50L, 50L)))
    }
  }

  test("refusals: filter, float (NaN hazard), string, grouped, mixed-unknown") {
    registered
    val dir = write(spark.range(100).select(col("id"),
      col("id").cast("double").as("d"),
      concat(lit("s"), col("id")).as("s")), 2)
    val t = spark.read.parquet(dir)
    val refused = Seq(
      t.filter(col("id") > 5).agg(min("id")),
      t.agg(min("d")),                       // floating point refused
      t.agg(min("s")),                       // string stats may truncate
      t.groupBy(col("id") % 2).agg(min("id")),
      t.agg(min("id"), sum("id")))           // sum can't come from footers
    refused.foreach { df =>
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("Scan parquet"), s"should have scanned:\n$phys")
    }
  }

  test("footer ColumnStats cross-check against what Spark wrote") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_raw").toString
    spark.range(10, 60).select(col("id"), (col("id") * 2).cast("int").as("v"))
      .repartition(1).write.mode("overwrite").parquet(dir)
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
    var meta: graft.sources.ParquetFooter.FooterMeta = null
    while (f.hasNext) {
      val p = f.next()
      if (p.toString.endsWith(".parquet"))
        meta = graft.sources.ParquetFooter.parse(
          java.nio.file.Files.readAllBytes(p)).get
    }
    val cols = meta.row_groups.head.columns
    assert(cols.map(_.path) === Seq("id", "v"))
    val id = cols.find(_.path == "id").get
    assert(id.typeCode === 2 && id.nullCount === Some(0L))
    val lo = java.nio.ByteBuffer.wrap(id.minValue.get)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val hi = java.nio.ByteBuffer.wrap(id.maxValue.get)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert((lo, hi) === ((10L, 59L)))
    val v = cols.find(_.path == "v").get
    assert(v.typeCode === 1)
    assert(java.nio.ByteBuffer.wrap(v.maxValue.get)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt === 118)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/**
 * `batch_pipeline`: one client runs fixed `SparkEntry.queries` rows over
 * the sf0.1 tables, one after another, each into a `noop`-like sink that
 * also digests the rows ([[DigestSink]]). Every digest is compared with the
 * one recorded in `batch_digests.tsv`, each recorded only after that row's
 * sf0.1 output had matched its DuckDB oracle. A cold pass (checked, not
 * timed) precedes the timed passes. The rows and their order are fixed, so
 * the seed does not change this workload.
 *
 * `SparkEntry` keeps the IVF index a row builds, keyed by the data
 * directory. So that every pass times the write path, each pass runs the
 * [[WriteRows]] on a fresh directory of hard links to the same tables:
 * they build, write and append their index again, as on newly arrived
 * data, and their output (and digest) stays the same.
 */
object BatchBench {
  /** One to three rows per group of LLM-data-pipeline operators: dedup,
    * retrieval, tokenization, TPC-H, an index write (IVF build, partitioned
    * write and append) and incremental dedup (an anti-join of new against
    * old documents), and light planning-bound rows. A run starts with a
    * cold pass of about 20 s at 4 cores, which bounds the set. Every row's
    * sf0.1 output matches its DuckDB oracle. */
  val Rows: Seq[String] = Seq(
    "dedup_simhash_near",
    "retrieval_bm25_batch",
    "unigram_segment",
    "tpch_q1_pricing",
    "ann_ivf_append", "dedup_incremental",
    "knn_topk_filtered", "sql_topk_cosine", "tpch_q6_forecast")
  /** Rows given a fresh data directory in every pass. */
  val WriteRows: Set[String] = Set("ann_ivf_append")
  val SetupCycles = 3

  def loadDigests(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); n -> Digest.parse(d) }.toMap

  /** Runs `df` into the digest sink under `key`. */
  def digestOf(df: DataFrame, key: String): Digest = {
    df.write.format(classOf[DigestSink].getName).option("key", key).mode("overwrite").save()
    DigestSink.take(key).getOrElse(throw new IllegalStateException(s"no digest for $key"))
  }

  private final case class RowRun(name: String, ms: Double, ok: Boolean)

  def run(a: Args, digestFile: String, report: Report): Unit = {
    val want = loadDigests(digestFile)
    val missing = Rows.filterNot(want.contains)
    require(missing.isEmpty, s"no recorded digest for ${missing.mkString(", ")}")
    val queries = SparkEntry.queries
    val rows = Rows

    // Set-up, repeated: session start, a first query and a first Parquet scan.
    var spark: SparkSession = null
    val cycles = (1 to SetupCycles).map { _ =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = Common.startSession()
      spark.sql("SELECT 1").collect()
      spark.read.parquet(s"${a.dataDir}/documents.parquet").selectExpr("sum(length(text))").collect()
      Common.secondsSince(s0)
    }
    val setupS = Stats.median(cycles)

    def dataDirFor(name: String): String =
      if (!WriteRows(name)) a.dataDir
      else {
        val dir = Files.createTempDirectory("perfbench-data")
        new java.io.File(a.dataDir).listFiles().foreach(f =>
          Files.createLink(dir.resolve(f.getName), f.toPath))
        dir.toString
      }

    def runRow(name: String, pass: String): RowRun = {
      report.attempted += 1
      val dir = dataDirFor(name)
      val t0 = System.nanoTime()
      val got = try Right(digestOf(queries(name)(spark, dir), name))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = got match {
        case Right(d) if d == want(name) => true
        case Right(d) => report.fail(s"$pass $name: digest $d, recorded ${want(name)}"); false
        case Left(why) => report.fail(s"$pass $name: $why"); false
      }
      RowRun(name, ms, ok)
    }

    try {
      if (!a.trace) {
        // Ramp: one cold pass, checked but not timed. Its time is printed.
        val cold = rows.map(runRow(_, "cold"))
        report.note("batch_cold_s", cold.map(_.ms).sum / 1000.0, "s")
        val t0 = System.nanoTime()
        val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[RowRun]]
        do runs += rows.map(runRow(_, "timed")) while (Common.secondsSince(t0) < a.seconds)
        // One operation is a pass: a pipeline's user waits for all of its rows.
        val passS = runs.map(_.map(_.ms).sum / 1000.0).toSeq
        val okRows = runs.flatten.count(_.ok)
        report.metric("p50_ms", Stats.median(passS) * 1000, "ms")
        report.metric("p75_ms", Stats.percentile(passS, 75) * 1000, "ms")
        report.metric("throughput_per_s", okRows / passS.sum, "1/s")
        report.metric("setup_s", setupS, "s")
        report.note("batch_s", Stats.median(passS), "s")
        report.note("passes", runs.size, "count")
        report.note("error_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
        runs.flatten.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
          report.note(s"batch.row.${n}_s", Stats.median(rs.map(_.ms / 1000.0).toSeq), "s")
        }
        report.metric("heap_retained_mb", Common.heapRetainedMb(), "MB")
      } else traced(a, spark, rows, queries, want, runRow, dataDirFor, report)
    } finally spark.stop()
  }

  /**
   * Three passes: a cold one (warms and checks), an untraced warm one (the
   * base of the tracing overhead) and a traced one. A traced row is a
   * `row` span with children `operators.build` (the query function builds
   * its DataFrame), `catalyst.plan` (`executedPlan`) and `spark.exec` (the
   * sink write, which plans the write command again).
   */
  private def traced(a: Args, spark: SparkSession, rows: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame], want: Map[String, Digest],
      runRow: (String, String) => RowRun, dataDirFor: String => String, report: Report): Unit = {
    rows.foreach(runRow(_, "cold"))
    val untraced = rows.map(runRow(_, "warm")).map(r => r.name -> r.ms).toMap
    val tracer = new Tracer
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val counters = rows.zipWithIndex.map { case (name, i) =>
      val dir = dataDirFor(name)
      val before = probe.snapshot(spark)
      tracer.span("row", i) { root =>
        val df = tracer.span("operators.build", i, root)(_ => queries(name)(spark, dir))
        tracer.span("catalyst.plan", i, root)(_ => df.queryExecution.executedPlan)
        val d = tracer.span("spark.exec", i, root)(_ => digestOf(df, name))
        report.attempted += 1
        if (d != want(name)) report.fail(s"traced $name: digest $d, recorded ${want(name)}")
      }
      probe.snapshot(spark) - before
    }
    spark.sparkContext.removeSparkListener(probe)

    val spans = tracer.spans
    val n = rows.size
    def total(name: String): Double = spans.filter(_.name == name).map(_.durationNs / 1e6).sum
    val c = counters.reduce(_ + _)
    val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def layer(name: String, v: Double, unit: String): Unit = layers += ((name, v, unit))
    def perOp(x: Double): Double = x / n
    layer("request_ms", perOp(total("row")), "ms")
    layer("operators.build_ms", perOp(total("operators.build")), "ms")
    layer("catalyst.plan_ms", perOp(total("catalyst.plan")), "ms")
    layer("spark.exec_ms", perOp(total("spark.exec")), "ms")
    layer("unattributed_ms", perOp(total("row") - total("operators.build") -
      total("catalyst.plan") - total("spark.exec")), "ms")
    layer("spark.jobs_per_op", perOp(c.jobs), "count")
    layer("spark.stages_per_op", perOp(c.stages), "count")
    layer("spark.tasks_per_op", perOp(c.tasks), "count")
    layer("spark.task_time_ms_per_op", perOp(c.taskTimeMs), "ms")
    layer("spark.task_wait_ms_per_op", perOp(c.taskWaitMs), "ms")
    layer("spark.coordination_ms_per_op",
      perOp(total("spark.exec") - c.taskTimeMs.toDouble / Common.cores), "ms")
    layer("scan.rows_read_per_op", perOp(c.inputRows), "count")
    layer("scan.bytes_read_per_op", perOp(c.inputBytes), "bytes")
    layer("exchange.shuffle_write_bytes_per_op", perOp(c.shuffleWriteBytes), "bytes")
    layer("exchange.shuffle_read_bytes_per_op", perOp(c.shuffleReadBytes), "bytes")
    layer("spark.spill_bytes_per_op", perOp(c.spillBytes), "bytes")
    layer("trace.overhead_ratio", total("row") / untraced.values.sum, "ratio")
    // whole-pipeline totals
    layer("batch.plan_ms", total("catalyst.plan"), "ms")
    layer("batch.jobs", c.jobs, "count")
    layer("batch.stages", c.stages, "count")
    layer("batch.tasks", c.tasks, "count")
    layer("batch.task_time_s", c.taskTimeMs / 1000.0, "s")
    layer("batch.coordination_s", (total("spark.exec") - c.taskTimeMs.toDouble / Common.cores) / 1000.0, "s")
    layer("batch.shuffle_write_mb", c.shuffleWriteBytes / 1048576.0, "MB")
    layer("batch.shuffle_read_mb", c.shuffleReadBytes / 1048576.0, "MB")
    layer("batch.spill_mb", c.spillBytes / 1048576.0, "MB")
    layer("batch.scan_mb", c.inputBytes / 1048576.0, "MB")
    rows.sorted.foreach(name => layer(s"batch.row.${name}_s", untraced(name) / 1000.0, "s"))

    val emb = spark.read.parquet(s"${a.dataDir}/embeddings.parquet")
    val vecs = emb.select("embedding").collect().flatMap(_.getSeq[Float](0))
    val store = new StoreData(vecs.length / StoreGen.Dim, vecs, _ => "", _ => "", _ => "")
    SearchBench.kernelLayers(spark, emb, store, vecs.take(StoreGen.Dim), layer)
    Common.writeTrace(a, tracer, layers.toSeq)
    layers.foreach { case (name, v, u) => report.note(name, v, u) }
  }
}

package perfbench

import java.nio.file.Paths

/**
 * One benchmark run:
 *
 *   perfbench.Main --workload <search_small|search_large|batch_pipeline>
 *     --seed <n> --seconds <n> --trace <0|1> --data <sf0.1 dir>
 *     --work <work dir> --digests <batch_digests.tsv> [--git-head <sha>]
 *
 * Prints each measured number as `[perfbench] name = value unit`, then one
 * JSON line: with `--trace 0` the gated end-to-end metrics, with
 * `--trace 1` the per-layer metrics [[PerLayer]]. Exits 1 when a reply or
 * row was wrong or failed, and 2, without the JSON line, when a metric
 * could not be computed.
 */
object Main {
  val Workloads: Seq[String] = Seq("search_small", "search_large", "batch_pipeline")
  val EndToEnd: Seq[String] = Seq("p50_ms", "p75_ms", "throughput_per_s", "setup_s", "heap_retained_mb")
  /** Per-layer metrics every workload produces, one operation being a
    * `/search` request or a batch row. */
  val PerLayer: Seq[String] = Seq(
    "operators.build_ms", "catalyst.plan_ms", "spark.exec_ms", "unattributed_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_time_ms_per_op", "spark.task_wait_ms_per_op", "spark.coordination_ms_per_op",
    "scan.rows_read_per_op", "scan.bytes_read_per_op",
    "exchange.shuffle_write_bytes_per_op", "exchange.shuffle_read_bytes_per_op",
    "scan.decode_ms",
    "functions.cosine_ns_per_row", "functions.plain_loop_ns_per_row", "trace.overhead_ratio")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, fail(s"missing --$k"))
    val a = Args(
      workload = opt("workload"), seed = opt("seed").toLong, seconds = opt("seconds").toInt,
      trace = opt("trace") match { case "0" => false; case "1" => true; case t => fail(s"--trace $t") },
      dataDir = opt("data"), workDir = Paths.get(opt("work")),
      gitHead = opts.getOrElse("git-head", "unknown"))
    if (!Workloads.contains(a.workload))
      fail(s"unknown workload ${a.workload}; expected one of ${Workloads.mkString(", ")}")
    println(s"[perfbench] workload=${a.workload} trace=${if (a.trace) 1 else 0} " +
      s"seconds=${a.seconds} ${Common.envStamp(a)}")

    val report = new Report
    a.workload match {
      case "search_small" => SearchBench.run(a, large = false, report)
      case "search_large" => SearchBench.run(a, large = true, report)
      case "batch_pipeline" => BatchBench.run(a, opt("digests"), report)
    }

    (report.metrics ++ report.info).foreach { case (n, (v, u)) => println(s"[perfbench] $n = $v $u") }
    report.unavailable.foreach { case (n, why) => println(s"[perfbench] $n = unavailable: $why") }
    println(s"[perfbench] attempted = ${report.attempted}, failed = ${report.failed}")
    val wanted = if (a.trace) PerLayer else EndToEnd
    val source = if (a.trace) report.info else report.metrics
    wanted.filterNot(source.contains).foreach(n => report.errors += s"$n: not measured")
    if (report.attempted == 0) report.errors += "no operation was attempted"
    if (report.errors.nonEmpty) {
      report.errors.foreach(e => println(s"[perfbench] ERROR $e"))
      sys.exit(2)
    }
    val metrics = wanted.map { n =>
      val (v, u) = source(n)
      s"${Common.jsonString(n)}: {\"value\": $v, \"unit\": ${Common.jsonString(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${report.failed == 0}, "attempted": ${report.attempted}, """ +
      s""""failed": ${report.failed}, "metrics": $metrics}""")
    sys.exit(if (report.failed == 0) 0 else 1)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command-line settings of one run. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: Path, gitHead: String) {
  /** Where this run leaves its span file and layer table. */
  val outDir: Path = workDir.resolve("out").resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}")
}

/** Everything a run measured. A metric that cannot be computed is recorded
  * as an error, which fails the run; it is never left out. */
final class Report {
  /** Gated end-to-end metrics (trace 0) or per-layer metrics (trace 1). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Further named numbers printed with their units but not gated. */
  val info = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Informational numbers this run cannot give, with the reason. */
  val unavailable = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: => Double, unit: String): Unit = put(metrics, name, value, unit)
  def note(name: String, value: => Double, unit: String): Unit = put(info, name, value, unit)

  private def put(m: mutable.Map[String, (Double, String)], name: String,
      value: => Double, unit: String): Unit =
    try {
      val v = value
      if (v.isNaN || v.isInfinite) errors += s"$name: not a finite number ($v)"
      else m(name) = (v, unit)
    } catch {
      case e: Exception => errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  def fail(what: String): Unit = {
    failed += 1
    if (failed <= 20) System.err.println(s"[perfbench] FAILED $what")
  }
}

object Common {
  val Clients = 4

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's own session factory, one local executor per core. */
  def startSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Jackson, from Spark's jars: reads `/search` replies independently of
    * the server's own JSON code, and quotes the strings the benchmark writes. */
  val Json: ObjectMapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  def jsonString(s: String): String = Json.writeValueAsString(s)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Heap in use after forced collections. */
  def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def envStamp(a: Args): String = Seq(
    s"nproc=$cores",
    s"jvm=${sys.props("java.vm.name")} ${sys.props("java.version")}",
    s"spark=${org.apache.spark.SPARK_VERSION}",
    s"xmx_mb=${Runtime.getRuntime.maxMemory() / 1048576}",
    s"seed=${a.seed}",
    s"git_head=${a.gitHead}").mkString(" ")

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(UTF_8))
  }

  /** Writes the span file and the per-layer tables of a traced run. */
  def writeTrace(a: Args, tracer: Tracer, layers: Seq[(String, Double, String)]): Unit = {
    Files.createDirectories(a.outDir)
    tracer.writeJsonLines(a.outDir.resolve("spans.jsonl"))
    val selfRows = Spans.selfTimeTable(tracer.spans).map { case (n, c, tot, med) =>
      f"$n\t$c\t$tot%.3f\t$med%.3f"
    }
    write(a.outDir.resolve("self_time.tsv"),
      ("span\tcount\tself_total_ms\tself_median_ms" +: selfRows).mkString("", "\n", "\n"))
    write(a.outDir.resolve("layers.tsv"),
      ("metric\tvalue\tunit" +: layers.map { case (n, v, u) => s"$n\t$v\t$u" })
        .mkString("", "\n", "\n"))
  }
}

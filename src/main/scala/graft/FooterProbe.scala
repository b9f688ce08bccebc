package graft

import org.apache.spark.sql.functions._

/**
 * Measures what the footer rewrites actually buy: the same
 * `count(*)` and `min/max` aggregates executed with and without the
 * [[graft.plans.FooterCountCatalog]] registration over the same
 * parquet files (unregistered COPIES for the baseline, so plans
 * differ only by the rewrite). The rewritten plans read |files|
 * footer tails; the baselines scan every data page — the gap is the
 * point, and it widens linearly with data size.
 *
 * Usage: runMain graft.FooterProbe [rows] [files] [reps]
 */
object FooterProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val files = args.lift(1).map(_.toInt).getOrElse(16)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    def write(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_fp_$tag").toString
      spark.range(rows).select(
        col("id"), (col("id") * 31 % 99991).as("v"),
        concat(lit("pad_"), col("id") % 100000).as("pad"))
        .repartition(files)
        .write.mode("overwrite").parquet(d)
      d
    }
    val reg = write("reg")
    val raw = write("raw")
    graft.plans.FooterCountCatalog.register(reg)

    def time(label: String, f: () => org.apache.spark.sql.DataFrame): Double = {
      f().collect() // warmup (1-row outputs)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f().collect()
        (System.nanoTime() - t0) / 1e9
      }
      val best = ts.min
      println(f"[footer-probe] $label%-30s best=$best%.3f  " +
        s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
      best
    }

    val cFoot = time("count(*) via footers", () =>
      spark.read.parquet(reg).agg(count(lit(1)).as("n")))
    val cScan = time("count(*) via scan", () =>
      spark.read.parquet(raw).agg(count(lit(1)).as("n")))
    val mFoot = time("min/max via footers", () =>
      spark.read.parquet(reg).agg(min("id"), max("id"), min("v"), max("v")))
    val mScan = time("min/max via scan", () =>
      spark.read.parquet(raw).agg(min("id"), max("id"), min("v"), max("v")))
    println(f"[footer-probe] count speedup ${cScan / cFoot}%.1fx, " +
      f"minmax speedup ${mScan / mFoot}%.1fx over $rows%d rows / $files%d files")
    spark.stop()
  }
}

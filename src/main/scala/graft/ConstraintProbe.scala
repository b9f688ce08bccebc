package graft

import org.apache.spark.sql.functions._

/**
 * Measures what the constraint rewrites actually buy: the same
 * DISTINCT and LEFT JOIN executed with and without the unique-key
 * registration, on a synthetic fact/dim pair big enough for the
 * shuffle/scan to dominate. The "without" runs use unregistered
 * copies of the same files, so the plans differ ONLY by the rewrite
 * (same data, same session, same JVM).
 *
 * Usage: runMain graft.ConstraintProbe [rows] [reps]
 */
object ConstraintProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    def writeFacts(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_cp_$tag").toString
      spark.range(rows).select(
        col("id").as("fid"), (col("id") % 100000).as("fk"),
        (col("id") * 31 % 9973).as("v"),
        concat(lit("pad_"), col("id") % 1000).as("pad"))
        .write.mode("overwrite").parquet(d)
      d
    }
    def writeDim(tag: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_cd_$tag").toString
      spark.range(100000).select(
        col("id").as("pk"), concat(lit("dim_"), col("id")).as("name"))
        .write.mode("overwrite").parquet(d)
      d
    }
    val factsReg = writeFacts("reg"); val factsRaw = writeFacts("raw")
    val dimReg = writeDim("reg"); val dimRaw = writeDim("raw")
    graft.plans.ConstraintCatalog.registerUnique(factsReg, Seq("fid"))
    graft.plans.ConstraintCatalog.registerUnique(dimReg, Seq("pk"))

    def time(label: String, f: () => org.apache.spark.sql.DataFrame): Double = {
      f().write.format("noop").mode("overwrite").save() // warmup
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val best = ts.min
      println(f"[constraint-probe] $label%-34s best=$best%.3f  " +
        s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
      best
    }

    val dElim = time("distinct (rewritten away)", () =>
      spark.read.parquet(factsReg).select("fid", "fk", "v").distinct())
    val dFull = time("distinct (real aggregate)", () =>
      spark.read.parquet(factsRaw).select("fid", "fk", "v").distinct())
    val jElim = time("left join (rewritten away)", () => {
      val f = spark.read.parquet(factsReg)
      val d = spark.read.parquet(dimReg)
      f.join(d, f("fk") === d("pk"), "left_outer").select(f("fid"), f("v"))
    })
    val jFull = time("left join (real join)", () => {
      val f = spark.read.parquet(factsRaw)
      val d = spark.read.parquet(dimRaw)
      f.join(d, f("fk") === d("pk"), "left_outer").select(f("fid"), f("v"))
    })
    println(f"[constraint-probe] distinct speedup ${dFull / dElim}%.1fx, " +
      f"join speedup ${jFull / jElim}%.1fx at $rows rows")
  }
}

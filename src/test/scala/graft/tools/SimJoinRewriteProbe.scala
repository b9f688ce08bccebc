package graft.tools

import graft.GraftSession
import graft.functions.GraftFunctions
import graft.plans.{SimJoinCatalog, SimJoinParams}

/**
 * Measurement harness behind SCALING.md's SQL-rewrite note: times the
 * SAME naive cosine-threshold self-join SQL with the store registered
 * (banded-LSH plan) and without (Spark's brute-force plan — a
 * broadcast-nested-loop / inequality join over n²/2 pairs), proving
 * the rewrite's advantage is measured, not asserted.
 * Run: sbt "Test/runMain graft.tools.SimJoinRewriteProbe [sfDir]"
 */
object SimJoinRewriteProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    // "synth<N>" builds N LshScaleProbe shards (N×2,000 rows) and
    // registers at the SCALING.md sizing rule's bit count for that n
    // (6 bits at 2k, +3 per 10×); brute force runs ONCE (n²/2 pairs).
    val synth = "synth(\\d+)(?::(\\d+))?".r
    val (path, bits, reps) = dir match {
      case synth(n, b) =>
        val p = java.nio.file.Files.createTempDirectory("simjoin_synth").toString
        LshScaleProbe.synthShards(spark, n.toInt)
          .select("vec_id", "embedding")
          .write.mode("overwrite").parquet(p)
        val defaultBits = 6 + (3 * math.log10(n.toDouble)).round.toInt
        (p, Option(b).map(_.toInt).getOrElse(defaultBits), 1)
      case _ => (s"$dir/embeddings.parquet", 6, 3)
    }

    def sql() = spark.sql(
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       round(knn_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
         |FROM parquet.`$path` a JOIN parquet.`$path` b
         |  ON a.vec_id < b.vec_id
         |WHERE round(knn_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4
         |""".stripMargin)

    def time(reps: Int): (Double, Long) = {
      var rows = 0L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = sql().count()
        (System.nanoTime() - t0) / 1e9
      }
      (times.min, rows)
    }

    val (brute, bruteRows) = time(reps)
    SimJoinCatalog.register(path, SimJoinParams(
      "vec_id", "embedding", bitsPerTable = bits, nTables = 64,
      seed = 42L, maxBucket = Some(1024), minThreshold = 0.4))
    try {
      val fired = sql().queryExecution.optimizedPlan.toString
        .contains("cosine_lsh_keys")
      println(s"[simjoin-probe] rewrite fired: $fired")
      sql().count() // warmup rewritten plan
      val (lsh, lshRows) = time(reps)
      println(f"[simjoin-probe] $dir bits=$bits brute=$brute%.2fs lsh=$lsh%.2fs " +
        f"speedup=${brute / lsh}%.1fx rows brute=$bruteRows lsh=$lshRows " +
        f"recall=${lshRows.toDouble / bruteRows}%.4f")
    } finally SimJoinCatalog.unregister(path)
  }
}

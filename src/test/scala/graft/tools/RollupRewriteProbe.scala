package graft.tools

import graft.functions.GraftFunctions
import graft.plans.RollupCatalog

/**
 * Offline probe (not a test): measures the materialized-rollup
 * rewrite's effect — the same datacard SQL timed against the base
 * scan and against the summary the rule re-plans onto, at sf0.01 and
 * sf0.1, plus the summary row count (the data the rewritten plan
 * actually reads). The interesting number at 100 TB is not the local
 * speedup (a 600k-row base amortizes in milliseconds) but the IO
 * ratio: base rows / summary rows is the factor the rewrite removes,
 * and it GROWS with corpus size while the summary stays at
 * |lang × source|. Numbers land in SCALING.md.
 *
 *   runMain graft.tools.RollupRewriteProbe
 */
object RollupRewriteProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (sf <- Seq("0.01", "0.1")) {
      val base = java.nio.file.Files.createTempDirectory(s"rrp_base_$sf").toString
      spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(base)
      val sum = java.nio.file.Files.createTempDirectory(s"rrp_sum_$sf").toString
      val t0 = System.nanoTime()
      val params = RollupCatalog.buildSummary(
        spark, base, sum, Seq("lang", "source"), Seq("n_chars"))
      val buildS = (System.nanoTime() - t0) / 1e9
      val nBase = spark.read.parquet(base).count()
      val nSum = spark.read.parquet(sum).count()

      def card =
        s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars,
           |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
           |FROM parquet.`$base`
           |WHERE source <> 'src0'
           |GROUP BY lang""".stripMargin

      def time(tag: String): Unit = {
        val df = spark.sql(card)
        val fired = df.queryExecution.executedPlan.toString.contains("rrp_sum")
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t1) / 1e9
        println(f"[rollup-probe] sf$sf base=$nBase%7d sum=$nSum%4d " +
          f"io_ratio=${nBase.toDouble / nSum}%9.1f $tag%-10s ${dt}%7.3f s  fromSummary=$fired")
      }

      println(f"[rollup-probe] sf$sf summary build (the one amortized scan): ${buildS}%.2f s")
      time("naive")
      time("naive")
      GraftFunctions.register(spark)
      RollupCatalog.register(base, params)
      time("rewritten")
      time("rewritten")
      RollupCatalog.unregister(base)
    }
    spark.stop()
  }
}

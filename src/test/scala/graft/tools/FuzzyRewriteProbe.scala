package graft.tools

import graft.functions.GraftFunctions
import graft.plans.{FuzzyJoinCatalog, FuzzyJoinParams}
import org.apache.spark.sql.functions._

/**
 * Offline probe (not a test): measures the fuzzy-join SQL rewrite's
 * effect — the same naive levenshtein<=1 self-join timed WITHOUT the
 * rule (exact O(n²) nested-loop plan) and WITH it (blocked plan) over
 * the ER records store at increasing scale. Numbers land in
 * SCALING.md.
 *
 *   runMain graft.tools.FuzzyRewriteProbe
 */
object FuzzyRewriteProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    for (sf <- Seq("0.01", "0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
        .filter(length(col("text")) >= 24)
        .select(col("doc_id").cast("long").as("id"),
          substring(col("text"), 1, 24).as("name"))
      val pos = (col("id") % 16 + lit(4)).cast("int")
      val records = docs.unionByName(docs.select(
        (col("id") + 1000000L).as("id"),
        concat(col("name").substr(lit(1), pos),
          col("name").substr(pos + lit(2), lit(24))).as("name")))
      val path = java.nio.file.Files.createTempDirectory(s"fjp_$sf").toString
      records.write.mode("overwrite").parquet(path)
      val n = spark.read.parquet(path).count()

      def naiveSql =
        s"""SELECT a.id AS a_id, b.id AS b_id,
           |       levenshtein(a.name, b.name) AS dist
           |FROM parquet.`$path` a JOIN parquet.`$path` b
           |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 1""".stripMargin

      def time(tag: String): Double = {
        // noop write, NOT count(): an Aggregate prunes the 3-column
        // projection the conservative matcher requires (count() needs
        // no dist column), so the rule would correctly refuse — the
        // driver row materializes all columns, which is what we time
        val df = spark.sql(naiveSql)
        val fired =
          !df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[fuzzy-probe] sf$sf n=$n%6d $tag%-10s ${dt}%8.2f s  blockedPlan=$fired")
        dt
      }

      // exact plan first (skip at sf0.1 unless asked: 200M lev pairs)
      if (sf == "0.01" || args.contains("--naive-large")) time("naive")
      GraftFunctions.register(spark)
      FuzzyJoinCatalog.register(path,
        FuzzyJoinParams("id", "name", blockKeyLen = 8,
          maxBucket = Some(1024)))
      time("rewritten")
      time("rewritten") // hot
      FuzzyJoinCatalog.unregister(path)
    }
    spark.stop()
  }
}

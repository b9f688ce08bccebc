package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus curation — the composition a training-data
 * pipeline actually runs, as one operator:
 *
 *   1. quality gate ([[TextAnalysis.qualityScore]] ≥ `minQuality`),
 *   2. exact dedup (keep the minimum id per md5 fingerprint),
 *   3. near-dup removal (blocked token-set Jaccard ≥ `nearDupThreshold`
 *      pairs collapse to keep-the-min-id).
 *
 * Stage order matters at scale: the cheap per-row quality gate runs
 * FIRST so the dedup shuffles only see surviving rows; exact dedup
 * (one hash shuffle) runs before near-dup so the quadratic-within-
 * block candidate stage never sees exact copies. Each stage is the
 * already-verified operator — this wrapper only composes them, so the
 * whole pipeline stays one lazy plan (no driver materialization
 * between stages).
 */
object CurationPipeline {

  /** Surviving documents after the three gates, tagged with the stage
    * outputs a pipeline wants to audit (quality score, fingerprint).
    *
    * Output columns: `idCol`, the other input columns in order, then
    * `quality` last. A document whose id is NULL is kept like any
    * other: the quality gate does not read the id, exact dedup keeps
    * one row per fingerprint (a NULL id sorts first, so it is the copy
    * kept), and near-dup removal never pairs it (NULL compares with no
    * id). Filter NULL ids before calling to drop them. */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = 0.75,
      nearDupBlockLen: Int = 16,
      nearDupThreshold: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Quality is a pure per-row projection: attach it scan-locally
    // instead of joining the scored relation back by id — the join
    // form shuffled the whole corpus on the id to re-attach a column
    // the scan can compute (guide §2.4: remove shuffles outright).
    val qualified = docs
      .withColumn("quality", TextAnalysis.qualityColumn(col(textCol)))
      .filter(col("quality") >= minQuality)
    // Referenced three times (both sides of the near-dup candidate
    // self-join + the final anti-join) but NOT materialized: the
    // window's fingerprint exchange is identical under all three, so
    // exchange reuse runs the scan+shuffle once and the three
    // sort+filter branches pipeline in parallel — an eager
    // localCheckpoint of the full-text relation was measured ~15 %
    // slower at sf0.1 (it blocks the DAG on a corpus-sized RDD write).
    val exactKept = Dedup.dedupKeepFirst(
      qualified, idCol, TextAnalysis.fingerprint(col(textCol)))
    val nearDupLosers = Dedup.blockedJaccardPairs(
        exactKept, idCol, textCol, nearDupBlockLen, nearDupThreshold)
      .select(col("b_id").as(idCol))
      .distinct()
    exactKept.join(nearDupLosers, Seq(idCol), "left_anti")
  }

  /** One-row funnel audit: how many documents each gate removed. */
  def curationStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minQuality: Double = 0.75,
      nearDupBlockLen: Int = 16,
      nearDupThreshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val total = docs.count()
    graft.functions.GraftFunctions.register(spark)
    val qualified = docs
      .withColumn("quality", TextAnalysis.qualityColumn(col(textCol)))
      .filter(col("quality") >= minQuality)
    val nQuality = qualified.count()
    val exactKept = Dedup.dedupKeepFirst(
      qualified, idCol, TextAnalysis.fingerprint(col(textCol)))
    val nExact = exactKept.count()
    val nFinal = curate(docs, idCol, textCol, minQuality,
      nearDupBlockLen, nearDupThreshold).count()
    Seq((total, nQuality, nExact, nFinal))
      .toDF("n_input", "n_quality", "n_exact_dedup", "n_final")
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._

/**
 * Catalyst rule (one of the nine [[GraftRules]]): an unfiltered
 * `count(*)` over a REGISTERED parquet table re-plans as a
 * FOOTER-ONLY job. Every parquet footer already carries the file's
 * exact `num_rows`
 * ([[graft.sources.ParquetFooter]], the from-scratch thrift reader the
 * footer-census row cross-validated against parquet-mr), so the
 * table-sized scan collapses to |files| tail reads of a few KB each.
 *
 * Why it exists at 100 TB: `SELECT count(*)` is the first query every
 * ingestion check, snapshot validation, and progress monitor runs.
 * Honest accounting (measured in `graft.FooterProbe`, see SCALING.md):
 * Spark's vectorized parquet reader already answers count(*) from
 * row-group metadata without decoding columns, so this rewrite's win
 * is NOT decode — it is request volume (one ~KB tail read per file
 * vs per-split row-group walks across the lake) and composability
 * (the same footer pass also answers min/max/count(col) via
 * [[FooterStatsRule]], where the scan DOES read full column chunks
 * and the footer path is measured 2× and widening). The rewritten job
 * ships
 * the file list to executors (the listing itself comes from the
 * relation's FileIndex, already materialized for planning) and each
 * task reads 8 trailing bytes + the footer — IO proportional to file
 * COUNT, not data size. The counting stays DISTRIBUTED: footers are
 * parsed in `mapPartitions` tasks, not on the driver, so a million-file
 * lake fans out instead of serializing through one listing loop.
 *
 * Correctness contract (why registration is explicit consent, same as
 * [[HllCatalog]]): footer counts equal `count(*)` ONLY for an
 * immutable directory of well-formed parquet files with no deletion
 * vectors or row-level tombstones layered on top. Registration
 * ([[FooterCountCatalog.register]]) is the user's assertion of that
 * contract for a path. Within it the rewrite is EXACT — and a file
 * whose footer fails to parse fails the QUERY (loud), never returns a
 * silent undercount.
 *
 * Shape served: `Aggregate(no grouping, single count(non-null
 * literal))` over Project-of-attributes chains on one registered
 * parquet relation. Anything else — a Filter (footers can't answer
 * filtered counts), `count(col)` (null semantics), `count(DISTINCT)`,
 * grouping, joins, several aggregates — refuses and keeps the scan.
 */
object FooterCountCatalog extends PathRegistry[Unit] {
  /** Assert the footer-count contract for this parquet directory. */
  def register(path: String): Unit = register(path, ())

  /** The registered parquet relation a Project-of-attributes chain
    * reads; a Filter anywhere refuses (footers can't answer filtered
    * aggregates). Shared by [[FooterCountRule]] and [[FooterStatsRule]]. */
  private[plans] def scanOf(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan match {
      case Project(pl, child)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        scanOf(child)
      case lr: LogicalRelation if lookup(lr).isDefined =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs)
          case _ => None
        }
      case _ => None
    }
}

object FooterCountRewrite {

  /**
   * Exact row count of one parquet file from its FOOTER ONLY: read the
   * trailing 8 bytes for the footer length, then one tail read of
   * `len + 12` bytes (the slice [[graft.sources.ParquetFooter.parse]]
   * needs to validate magic and walk FileMetaData). Total IO is KB per
   * file regardless of file size. None on anything malformed.
   *
   * Uses the default Hadoop configuration in-task: path schemes
   * resolve through the executor's core-site defaults, which is where
   * a cluster's HDFS/S3 credentials live anyway.
   */
  def footerRows(pathStr: String): Option[Long] =
    footerRowsMeta(pathStr).map(_.num_rows)

  /** Full parsed footer from the tail-only read — shared by the
    * count and min/max ([[FooterStatsRule]]) rewrites. */
  def footerRowsMeta(
      pathStr: String): Option[graft.sources.ParquetFooter.FooterMeta] = {
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(pathStr)
      val fs = p.getFileSystem(conf)
      val size = fs.getFileStatus(p).getLen
      if (size < 12L) return None
      val in = fs.open(p)
      try {
        val tail8 = new Array[Byte](8)
        in.readFully(size - 8, tail8)
        val len = (tail8(0) & 0xff) | ((tail8(1) & 0xff) << 8) |
          ((tail8(2) & 0xff) << 16) | ((tail8(3) & 0xff) << 24)
        if (len <= 0 || len.toLong + 12 > size) return None
        val t = len + 12
        val buf = new Array[Byte](t)
        in.readFully(size - t, buf)
        graft.sources.ParquetFooter.parse(buf)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

class FooterCountRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.footercount.rewritten")

  /** `count(*)` analyzes to `count(1)`; accept any non-null literal,
    * refuse DISTINCT / FILTER / count(col). */
  private def isCountStar(ae: AggregateExpression): Boolean = ae match {
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false,
        None, _) => v != null
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (FooterCountCatalog.isEmpty) plan else plan.transformDown {
    case agg @ Aggregate(Seq(), Seq(al @ Alias(ae: AggregateExpression, name)),
        child, _)
        if agg.getTagValue(rewritten).isEmpty && isCountStar(ae) =>
      FooterCountCatalog.scanOf(child) match {
        case Some(rel) =>
          val files = rel.location.inputFiles.toSeq
          import spark.implicits._
          val parts = math.max(1, math.min(files.size,
            spark.sparkContext.defaultParallelism))
          // Distributed footer parse: KB of tail IO per file, loud
          // failure on any unparseable footer (never an undercount).
          val counts = spark.createDataset(files)
            .repartition(parts)
            .mapPartitions(_.map(p =>
              FooterCountRewrite.footerRows(p).getOrElse(throw
                new IllegalStateException(
                  s"footer-count: unreadable parquet footer in $p"))))
          val summed = counts
            .agg(coalesce(sum(col("value")), lit(0L)).cast("long").as(name))
          val inner = summed.queryExecution.analyzed
          val out = Project(
            Seq(Alias(inner.output.head, name)(exprId = al.exprId)), inner)
          out.setTagValue(rewritten, true)
          out
        case None => agg
      }
  }
}

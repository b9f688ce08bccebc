package graft.plans

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Catalyst rule: unfiltered `min(x)` / `max(x)` / `count(*)` over a
 * REGISTERED parquet table answer from COLUMN-CHUNK STATISTICS — the
 * footer-count rule's ([[FooterCountRule]]) generalization, one of the
 * nine [[GraftRules]]. Every parquet column chunk records exact
 * `min_value`/`max_value`/`null_count` in the footer
 * ([[graft.sources.ParquetFooter.ColumnStats]]); min over the table is
 * the min of chunk minima, so the table-sized scan collapses to
 * |files| footer tail reads — the "data freshness check" queries
 * (`SELECT max(event_ts)`, `SELECT min(id), max(id)`) every ingestion
 * monitor runs on a schedule.
 *
 * Registration shares [[FooterCountCatalog]] — the contract asserted
 * is the same (immutable directory, well-formed footers, no delete
 * layer on top).
 *
 * Soundness restrictions (each refusal keeps the exact scan):
 *  - Fixed-width integer-backed columns only: IntegerType, LongType,
 *    DateType (INT32/DATE) and TimestampType (INT64, converted_type
 *    MICROS or MILLIS — the unit is read from the schema, never
 *    assumed; INT96 and nano timestamps refuse). `max(event_ts)` —
 *    THE freshness query — is the point of the extension. Fixed
 *    width means stats bytes are never TRUNCATED (string stats may
 *    be), and refusing FLOAT/DOUBLE dodges the NaN divergence: parquet
 *    stats ignore NaN while Spark's max() sorts NaN above everything.
 *  - No Filter below the aggregate, no grouping, no DISTINCT/FILTER
 *    clauses, no count(col).
 *  - Null handling is exact: a chunk whose stats are absent with
 *    `null_count == num_values` is an all-null chunk and contributes
 *    nothing (SQL min/max skip nulls); stats absent OTHERWISE fails
 *    the query loudly — a writer that records no statistics gets a
 *    refusal at runtime, never a wrong answer.
 */
object FooterStatsRewrite {

  /** Per-file footer stats for the needed columns: (rows, then for
    * each requested column its decoded min and max, null when every
    * chunk is all-null). Throws on missing stats / type mismatch. */
  private[plans] def fileStats(
      pathStr: String, cols: Seq[(String, DataType)],
      cntCols: Seq[String]): Row = {
    val meta = FooterCountRewrite.footerRowsMeta(pathStr).getOrElse(
      throw new IllegalStateException(
        s"footer-stats: unreadable parquet footer in $pathStr"))
    def chunk(rg: graft.sources.ParquetFooter.RowGroupMeta, name: String) =
      rg.columns.find(_.path == name).getOrElse(
        throw new IllegalStateException(
          s"footer-stats: no column chunk for '$name' in $pathStr"))
    val values = cols.flatMap { case (name, dt) =>
      val converted = meta.leaves.find(_.name == name)
        .map(_.convertedType).getOrElse(-1)
      var mn: Option[Long] = None
      var mx: Option[Long] = None
      meta.row_groups.foreach { rg =>
        if (rg.num_rows > 0) {
          val cs = chunk(rg, name)
          val allNull = cs.nullCount.contains(cs.numValues)
          (cs.minValue, cs.maxValue) match {
            case (Some(mnB), Some(mxB)) =>
              val lo = decode(name, dt, converted, cs.typeCode, mnB, pathStr)
              val hi = decode(name, dt, converted, cs.typeCode, mxB, pathStr)
              mn = Some(mn.fold(lo)(math.min(_, lo)))
              mx = Some(mx.fold(hi)(math.max(_, hi)))
            case _ if allNull => () // legitimately contributes nothing
            case _ =>
              throw new IllegalStateException(
                s"footer-stats: no min/max statistics for '$name' in " +
                  s"$pathStr (writer recorded none) — refusing to guess")
          }
        }
      }
      Seq(mn.map(toExternal(dt, _)).orNull, mx.map(toExternal(dt, _)).orNull)
    }
    // count(col) = Σ chunks (num_values − null_count); null_count must
    // be recorded — a writer that omits it gets a refusal, not a guess.
    val counts = cntCols.map { name =>
      var c = 0L
      meta.row_groups.foreach { rg =>
        if (rg.num_rows > 0) {
          val cs = chunk(rg, name)
          val nulls = cs.nullCount.getOrElse(throw new IllegalStateException(
            s"footer-stats: no null_count for '$name' in $pathStr"))
          c += cs.numValues - nulls
        }
      }
      c
    }
    Row.fromSeq((meta.num_rows +: values) ++ counts)
  }

  /** Decode one plain-encoded stats value to a comparable Long.
    * Units are VERIFIED from the schema's converted_type, never
    * assumed: DATE requires converted 6; TIMESTAMP accepts micros
    * (10) as-is and millis (9) scaled ×1000; an unannotated or
    * nano-annotated INT64 under a TimestampType column refuses. */
  private def decode(name: String, dt: DataType, converted: Int,
      typeCode: Int, bytes: Array[Byte], path: String): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (dt, typeCode) match {
      case (IntegerType, 1) if bytes.length == 4 => bb.getInt.toLong
      case (DateType, 1) if bytes.length == 4 && converted == 6 =>
        bb.getInt.toLong
      case (LongType, 2) if bytes.length == 8 => bb.getLong
      case (TimestampType, 2) if bytes.length == 8 && converted == 10 =>
        bb.getLong
      case (TimestampType, 2) if bytes.length == 8 && converted == 9 =>
        math.multiplyExact(bb.getLong, 1000L) // millis → micros
      case _ =>
        throw new IllegalStateException(
          s"footer-stats: column '$name' is $dt but the chunk in $path " +
            s"has physical type $typeCode (converted $converted) with " +
            s"${bytes.length}-byte stats")
    }
  }

  private def toExternal(dt: DataType, v: Long): Any = dt match {
    case IntegerType => v.toInt
    case DateType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(v.toInt)
    case TimestampType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v)
    case _ => v
  }
}

class FooterStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.footerstats.rewritten")

  private sealed trait Item
  private case object CountStar extends Item
  private case class MinOf(a: AttributeReference) extends Item
  private case class MaxOf(a: AttributeReference) extends Item
  private case class CountOf(a: AttributeReference) extends Item

  private def statsType(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType ||
      dt == DateType || dt == TimestampType

  /** count(col) needs leaf values ≡ rows: flat atomic columns only
    * (a repeated leaf's num_values counts elements, not rows). */
  private def flatType(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  private def classify(ae: AggregateExpression): Option[Item] = ae match {
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false,
        None, _) if v != null => Some(CountStar)
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete,
        false, None, _) if flatType(a.dataType) => Some(CountOf(a))
    case AggregateExpression(Min(a: AttributeReference), Complete, _,
        None, _) if statsType(a.dataType) => Some(MinOf(a))
    case AggregateExpression(Max(a: AttributeReference), Complete, _,
        None, _) if statsType(a.dataType) => Some(MaxOf(a))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (FooterCountCatalog.isEmpty) plan else plan.transformDown {
    case agg @ Aggregate(Seq(), resultExprs, child, _)
        if agg.getTagValue(rewritten).isEmpty && resultExprs.nonEmpty &&
          resultExprs.exists {
            case Alias(ae: AggregateExpression, _) =>
              classify(ae).exists(!_.isInstanceOf[CountStar.type])
            case _ => false
          } =>
      val classified = resultExprs.map {
        case al @ Alias(ae: AggregateExpression, _) =>
          classify(ae).map(it => (al, it))
        case _ => None
      }
      val replaced = for {
        rel <- FooterCountCatalog.scanOf(child)
        items <- Some(classified).filter(_.forall(_.isDefined))
          .map(_.map(_.get))
      } yield {
        val needed: Seq[(String, DataType)] = items.collect {
          case (_, MinOf(a)) => (a.name, a.dataType)
          case (_, MaxOf(a)) => (a.name, a.dataType)
        }.distinct
        val cntNeeded: Seq[String] = items.collect {
          case (_, CountOf(a)) => a.name
        }.distinct
        val files = rel.location.inputFiles.toSeq
        val schema = StructType(
          (StructField("__rows", LongType, nullable = false) +:
            needed.flatMap { case (n, dt) => Seq(
              StructField(s"__min_$n", dt, nullable = true),
              StructField(s"__max_$n", dt, nullable = true))
            }) ++
            cntNeeded.map(n =>
              StructField(s"__cnt_$n", LongType, nullable = false)))
        import spark.implicits._
        val parts = math.max(1, math.min(files.size,
          spark.sparkContext.defaultParallelism))
        val perFile = spark.createDataset(files)
          .repartition(parts)
          .mapPartitions(_.map(p =>
            FooterStatsRewrite.fileStats(p, needed, cntNeeded)))(
            Encoders.row(schema))
        val aggCols = items.zipWithIndex.map {
          case ((_, CountStar), i) =>
            coalesce(sum(col("__rows")), lit(0L)).cast("long")
              .as(s"__out_$i")
          case ((_, CountOf(a)), i) =>
            coalesce(sum(col(s"__cnt_${a.name}")), lit(0L)).cast("long")
              .as(s"__out_$i")
          case ((_, MinOf(a)), i) => min(col(s"__min_${a.name}"))
            .as(s"__out_$i")
          case ((_, MaxOf(a)), i) => max(col(s"__max_${a.name}"))
            .as(s"__out_$i")
        }
        val summed = perFile.agg(aggCols.head, aggCols.tail: _*)
        val inner = summed.queryExecution.analyzed
        val out = Project(
          items.zipWithIndex.map { case ((al, _), i) =>
            Alias(inner.output(i), al.name)(exprId = al.exprId)
          }, inner)
        out.setTagValue(rewritten, true)
        out
      }
      replaced.getOrElse(agg)
  }
}

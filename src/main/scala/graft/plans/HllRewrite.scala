package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/**
 * Catalyst rule: `count(DISTINCT x)` over a REGISTERED table re-plans
 * as the HyperLogLog register pipeline — one of the nine
 * [[GraftRules]]. Registration ([[HllCatalog.register]]) is the
 * user's EXPLICIT consent to an approximate answer: unlike the other
 * rewrites this one changes results, so it must never fire
 * implicitly — an unregistered path always keeps Spark's exact
 * expand + two-phase distinct aggregate. Accuracy: σ ≈ 1.04/√256 ≈
 * 6.5% in the mid range; below 2.5·m the estimator switches to the
 * linear-counting correction (near-exact for few distincts — a
 * 1-distinct group estimates 1, not the raw formula's ~184), using
 * the PRECOMPUTED integer table
 * [[graft.operators.HyperLogLog.LinearCountingTable]] so no
 * query-time `ln` runs in either engine; an empty input estimates 0.
 *
 * Why it exists at 100 TB: exact `count(DISTINCT url)` per group
 * shuffles every distinct key; the rewritten plan shuffles at most
 * |groups| × 256 register rows (map-side max-combined), turning the
 * corpus datacard's heaviest aggregate into metadata-sized traffic —
 * the same register relation [[graft.operators.HyperLogLog]] builds
 * explicitly, produced here from unmodified SQL.
 *
 * Shape served: a single-relation aggregate (Project/Filter chains
 * over one parquet scan) whose aggregate list contains EXACTLY ONE
 * `count(DISTINCT col)` of a plain column, all other outputs being
 * grouping references. Anything else — joins, several distincts,
 * FILTER clauses, expressions of the count — refuses and keeps the
 * exact plan. Null keys are filtered before hashing (COUNT DISTINCT
 * ignores nulls; so must the sketch).
 *
 * Replacement plan:
 *   Aggregate(group, [group..., round(est) AS cnt])      -- outer
 *     Aggregate(group + bucket, [group..., bucket, max(rho)])
 *       Project(group..., bucket(md5), rho(md5))         -- scan-local
 *         Filter(x IS NOT NULL [, original filters])
 *           ParquetScan
 * with bucket/rho the same md5-nibble arithmetic as
 * [[graft.operators.HyperLogLog.registers]] (one source of truth for
 * the SQL oracle's replay), and est the raw harmonic-mean estimate
 * rounded to the column's BIGINT contract.
 */
object HllCatalog extends PathRegistry[Unit] {
  /** Opt this parquet path's distinct-counts into HLL approximation. */
  def register(path: String): Unit = register(path, ())
}

class HllRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val rewritten = TreeNodeTag[Boolean]("graft.hll.rewritten")

  private def strip(plan: LogicalPlan): Option[(Seq[Expression], LogicalPlan)] =
    plan match {
      case Filter(cond, child) =>
        strip(child).map { case (cs, base) => (cond +: cs, base) }
      case p @ Project(pl, child)
          if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child).map { case (cs, base) => (cs, base) }
      case lr: LogicalRelation if HllCatalog.lookup(lr).isDefined =>
        Some((Nil, lr))
      case _ => None
    }

  // --- the register arithmetic as catalyst trees (mirrors
  //     HyperLogLog.registers nibble for nibble) ---
  private def lit(v: Any): Literal = Literal(v)

  private def md5Hex(x: Expression): Expression =
    Md5(Cast(Cast(x, StringType), BinaryType))

  private def bucketExpr(h: Expression): Expression =
    Cast(Conv(Substring(h, lit(1), lit(2)), lit(16), lit(10)), IntegerType)

  private def rhoExpr(h: Expression): Expression = {
    val w = Substring(h, lit(3), lit(12))
    val zn = Length(RegExpExtract(w, lit("^0*"), lit(0)))
    val fnz = Cast(
      Conv(Substring(Concat(Seq(w, lit("f"))), Add(zn, lit(1)), lit(1)),
        lit(16), lit(10)), IntegerType)
    val inNibble = CaseWhen(Seq(
      (GreaterThanOrEqual(fnz, lit(8)), lit(0)),
      (GreaterThanOrEqual(fnz, lit(4)), lit(1)),
      (GreaterThanOrEqual(fnz, lit(2)), lit(2))), Some(lit(3)))
    If(EqualTo(zn, lit(12)), lit(49),
      Add(Add(Multiply(zn, lit(4)), inNibble), lit(1)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (HllCatalog.isEmpty) plan else plan.transformDown {
    case agg @ Aggregate(groupExprs, resultExprs, child, _)
        if agg.getTagValue(rewritten).isEmpty =>
      val replaced = for {
        (conds, base) <- strip(child)
        // plain-attribute grouping only
        groupAttrs <- Some(groupExprs).filter(_.forall(
          _.isInstanceOf[AttributeReference]))
          .map(_.map(_.asInstanceOf[AttributeReference]))
        // exactly one count(DISTINCT plainCol); everything else a
        // grouping reference
        distincts = resultExprs.flatMap(_.collect {
          case ae @ AggregateExpression(
              Count(Seq(a: AttributeReference)), Complete, true, None, _) =>
            (ae, a)
        })
        (distinctAe, keyAttr) <- distincts match {
          case Seq(one) => Some(one)
          case _ => None
        }
        if resultExprs.forall {
          case a: AttributeReference => groupAttrs.exists(_.exprId == a.exprId)
          case Alias(ae: AggregateExpression, _) => ae eq distinctAe
          case _ => false
        }
      } yield {
        val notNull = Filter(IsNotNull(keyAttr),
          conds.foldLeft(base: LogicalPlan)((p, c) => Filter(c, p)))
        val h = md5Hex(keyAttr)
        val bucketAl = Alias(bucketExpr(h), "__hll_bucket")()
        val rhoAl = Alias(rhoExpr(h), "__hll_rho")()
        val proj = Project(
          groupAttrs ++ Seq(bucketAl, rhoAl), notNull)
        val rhoMax = Alias(
          Max(rhoAl.toAttribute).toAggregateExpression(), "__hll_rho_max")()
        val inner = Aggregate(
          groupAttrs :+ bucketAl.toAttribute,
          (groupAttrs: Seq[NamedExpression]) ++
            Seq(bucketAl.toAttribute, rhoMax),
          proj)
        val m = graft.operators.HyperLogLog.NumRegisters
        val alpha = graft.operators.HyperLogLog.Alpha
        val sumInv = Sum(Pow(lit(2.0),
          Cast(UnaryMinus(rhoMax.toAttribute), DoubleType)))
          .toAggregateExpression()
        val nHit = Count(Seq(lit(1))).toAggregateExpression()
        // Raw harmonic estimate: empty registers contribute 2^0 = 1
        // each; sum_inv is NULL over an empty input, so coalesce.
        val estRaw = Divide(
          Multiply(Multiply(lit(alpha), lit(m.toDouble)), lit(m.toDouble)),
          Add(Coalesce(Seq(sumInv, lit(0.0))),
            Cast(Subtract(lit(m.toLong), nHit), DoubleType)))
        val vZero = Subtract(lit(m.toLong), nHit)
        // Small-range correction from the precomputed integer table
        // (index v_zero-1 holds round(m*ln(m/v_zero))) — the `ln` ran
        // once in the JVM, so engine and oracle share exact literals.
        val lcTable = Literal.create(
          graft.operators.HyperLogLog.LinearCountingTable.toSeq,
          ArrayType(LongType, containsNull = false))
        val lcEst = GetArrayItem(lcTable,
          Cast(Subtract(vZero, lit(1L)), IntegerType))
        val estLong = CaseWhen(Seq(
          (EqualTo(nHit, lit(0L)), lit(0L)),
          (And(GreaterThan(vZero, lit(0L)),
            LessThan(estRaw,
              lit(graft.operators.HyperLogLog.SmallRangeThreshold))),
            lcEst)),
          Some(Cast(Round(estRaw, lit(0)), LongType)))
        val outExprs: Seq[NamedExpression] = resultExprs.map {
          case a: AttributeReference => a
          case al @ Alias(_, name) =>
            Alias(estLong, name)(exprId = al.exprId)
        }
        val out = Aggregate(groupAttrs, outExprs, inner, None)
        out.setTagValue(rewritten, true)
        out
      }
      replaced.getOrElse(agg)
  }
}

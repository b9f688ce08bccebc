package graft.plans

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.INSET
import org.apache.spark.sql.types.{BooleanType, DataType}

/**
 * Optimizer rewrite: a large `IN (v1, …, vN)` membership
 * test re-plans as a BROADCAST set probe. Spark folds big IN lists to
 * `InSet` — a hash set embedded IN THE EXPRESSION — so a 100k-id
 * blocklist filter (the routine "exclude these opted-out/contaminated
 * ids" pass) re-serializes the whole set into EVERY stage's task
 * binary: set-size × stages × executors of driver egress per query,
 * the same pathology the Bloom join's literal form had. This rule
 * moves the set into a broadcast variable and leaves a ~100-byte
 * handle in the plan; executors fetch the set once.
 *
 * RESULT-IDENTICAL by construction — the probe is the same exact
 * hash-set membership (no Bloom approximation), three-valued-logic
 * included (null input → null, like InSet). Fires only above
 * [[InSetBroadcastRule.Threshold]] elements: small sets are cheaper
 * inline, and Spark's own InSet printing already elides long lists so
 * the explain output stays readable either way.
 */
object InSetBroadcast {
  /** Exact membership probe against a broadcast java.util.HashSet of
    * Catalyst-internal values. */
  case class InSetBroadcastExpr(
      bc: org.apache.spark.broadcast.Broadcast[java.util.HashSet[Any]],
      child: Expression)
      extends UnaryExpression {

    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult =
      TypeCheckResult.TypeCheckSuccess

    override protected def nullSafeEval(v: Any): Any = bc.value.contains(v)

    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("graftInSetBc", bc,
        "org.apache.spark.broadcast.Broadcast")
      val setVar = ctx.addMutableState("java.util.HashSet", "graftInSet",
        v => s"$v = (java.util.HashSet) $bcRef.value();")
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = $setVar.contains($v);")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
    override def prettyName: String = "in_set_broadcast"
    // the set must not print into plans/explain
    override def toString: String = s"in_set_broadcast(${child})"
  }
}

class InSetBroadcastRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import InSetBroadcast._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(INSET)) {
      // a null IN the list makes non-matches evaluate to NULL (three-
      // valued IN); the set probe returns false — refuse that shape
      case InSet(child, hset)
          if hset.size >= InSetBroadcastRule.Threshold &&
            !hset.contains(null) =>
        InSetBroadcastExpr(InSetBroadcastRule.broadcastFor(spark, hset), child)
    }
}

object InSetBroadcastRule {
  /** Below this, the inline InSet is cheaper than a broadcast fetch. */
  val Threshold = 1000

  // The optimizer re-runs per action/DataFrame, and the same IN list
  // (a fixed blocklist) recurs across queries — without a cache every
  // pass would mint a new never-destroyed broadcast (driver+executor
  // memory growing per query). The cache is shared by every rule
  // instance because a session built with `spark.sql.extensions` gets
  // a fresh instance per optimizer run. Key by content hash, verify by
  // full equality and by SparkContext on hit (hash collisions must not
  // alias different lists; a stopped context's broadcasts are dead).
  // Eviction is wholesale AND RECLAIMS: dropped entries' Broadcasts are
  // unpersisted (executor copies freed at once) and the cache drops its
  // reference, so Spark's ContextCleaner removes the driver copy once
  // no plan holds the Broadcast any more (clear() alone would pin every
  // generation's executor blobs). Never destroy(): the cache is shared
  // by every session, and a plan another session optimized before the
  // eviction must still execute after it.
  private final case class Cached(
      sc: SparkContext, set: Set[Any], bc: Broadcast[java.util.HashSet[Any]])
  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, Cached]()

  private def broadcastFor(
      spark: SparkSession, hset: Set[Any]): Broadcast[java.util.HashSet[Any]] = {
    val key = hset.##
    val hit = cache.get(key)
    if (hit != null && (hit.sc eq spark.sparkContext) && hit.set == hset) hit.bc
    else {
      val set = new java.util.HashSet[Any](hset.size * 2)
      hset.foreach(v => set.add(v))
      val bc = spark.sparkContext.broadcast(set)
      if (cache.size > 64) evictAll()
      cache.put(key, Cached(spark.sparkContext, hset, bc))
      bc
    }
  }

  /** Unpersist every cached broadcast and empty the cache. */
  private[graft] def evictAll(): Unit = {
    val it = cache.values().iterator()
    while (it.hasNext) {
      val bc = it.next().bc
      try bc.unpersist()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    cache.clear()
  }
}

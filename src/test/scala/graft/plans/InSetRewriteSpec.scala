package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Broadcast IN-list rewrite: result identity against the inline
  * InSet, threshold/null refusals, and the plan-size property the
  * rule exists for. */
class InSetRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val registered: Unit = GraftFunctions.register(spark)

  test("rewritten IN list: identical rows, set absent from the plan") {
    registered
    val ids = (0 until 3000).map(i => (i * 3 + 1).toLong)
    val base = spark.range(10000).select(col("id"),
      (col("id") % 17).as("v"))
    val df = base.filter(col("id").isin(ids: _*))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("in_set_broadcast"), plan)
    // a mid-list member value must not be serialized into the plan text
    assert(!plan.contains("4501"), "list leaked into the plan")
    val got = df.agg(count(lit(1)), sum("v")).collect().head
    // truth: the whole list (max id 8998) sits below range(10000)
    assert(got.getLong(0) === 3000L)
    val want = (0 until 3000).map(i => (i * 3 + 1) % 17).sum
    assert(got.getLong(1) === want.toLong)
  }

  test("string keys probe exactly too") {
    registered
    val keys = (0 until 1500).map(i => s"k$i")
    val df = spark.range(4000)
      .select(concat(lit("k"), col("id")).as("s"))
      .filter(col("s").isin(keys: _*))
    assert(df.queryExecution.executedPlan.toString.contains("in_set_broadcast"))
    assert(df.count() === 1500L)
  }

  test("below threshold and null-bearing lists keep the exact inline form") {
    registered
    val small = spark.range(100).filter(col("id").isin((0L until 50L): _*))
    assert(!small.queryExecution.executedPlan.toString
      .contains("in_set_broadcast"))
    assert(small.count() === 50L)
    // a NULL in the list: three-valued IN semantics must survive —
    // the rule refuses, and non-matches stay NULL (filtered), matches pass
    val ids: Seq[java.lang.Long] =
      (0 until 1200).map(i => java.lang.Long.valueOf(i.toLong)) :+
        (null: java.lang.Long)
    val withNull = spark.range(5000).filter(col("id").isin(ids: _*))
    assert(!withNull.queryExecution.executedPlan.toString
      .contains("in_set_broadcast"))
    assert(withNull.count() === 1200L)
  }

  test("rewritten filter result equals the un-rewritten session's result") {
    registered
    val ids = (0 until 2000).map(i => (i * 7 + 3).toLong)
    val a = spark.range(20000).filter(col("id").isin(ids: _*))
      .orderBy("id").as[Long].collect().toSeq
    // ground truth, computed without Spark
    val want = ids.filter(_ < 20000).sorted
    assert(a === want)
  }

  test("cache eviction by another session keeps an already-planned query valid") {
    registered
    val ids = (0 until 1500).map(i => (i * 5).toLong)
    val planned = spark.range(10000).filter(col("id").isin(ids: _*))
    assert(planned.queryExecution.executedPlan.toString.contains("in_set_broadcast"))
    // a second session plans more distinct lists than the cache holds,
    // so the cache evicts the entry the first session's plan refers to
    val other = spark.newSession()
    GraftFunctions.register(other)
    (1 to 70).foreach { k =>
      val list = (0 until InSetBroadcastRule.Threshold).map(i => (i * 100 + k).toLong)
      val df = other.range(10).filter(col("id").isin(list: _*))
      assert(df.queryExecution.optimizedPlan.toString.contains("in_set_broadcast"))
    }
    assert(planned.collect().toSeq.map(_.longValue) === ids)
  }
}

package graft.plans

import graft.SparkFunSuite
import graft.functions.GraftFunctions
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** Constraint-driven rewrites: DISTINCT elimination and left-join
  * elimination fire exactly when a registered unique key licenses
  * them, produce identical rows, and refuse every unlicensed shape. */
class ConstraintRewriteSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val dims: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dim").toString
    (0L until 200L).map(i => (i, s"name_$i", i % 7))
      .toDF("pk", "name", "grp")
      .repartition(1).write.mode("overwrite").parquet(d)
    d
  }
  private lazy val facts: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_fact").toString
    (0L until 1000L).map(i => (i, i % 300, (i * 13) % 97))
      .toDF("fid", "fk", "v")
      .repartition(1).write.mode("overwrite").parquet(d)
    d
  }
  private lazy val registered: Unit = {
    GraftFunctions.register(spark)
    ConstraintCatalog.registerUnique(dims, Seq("pk"))
    ConstraintCatalog.registerUnique(facts, Seq("fid"))
  }

  private def hasAggregate(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty
  private def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.nonEmpty

  test("DISTINCT over a superset of a unique key drops the Aggregate") {
    registered
    val df = spark.read.parquet(facts).select("fid", "v").distinct()
    assert(!hasAggregate(df), df.queryExecution.optimizedPlan.toString)
    assert(df.count() === 1000L)
    // value identity vs an unregistered copy of the same data
    val copy = java.nio.file.Files.createTempDirectory("graft_fact2").toString
    spark.read.parquet(facts).write.mode("overwrite").parquet(copy)
    val want = spark.read.parquet(copy).select("fid", "v").distinct()
      .orderBy("fid").collect().toSeq
    assert(hasAggregate(spark.read.parquet(copy).select("fid", "v").distinct()))
    assert(df.orderBy("fid").collect().toSeq === want)
  }

  test("DISTINCT survives filters; refuses without the key in scope") {
    registered
    val filtered = spark.read.parquet(facts)
      .filter(col("v") > 10).select("fid", "fk").distinct()
    assert(!hasAggregate(filtered))
    // fk/v are NOT unique — the aggregate must stay
    val noKey = spark.read.parquet(facts).select("fk", "v").distinct()
    assert(hasAggregate(noKey))
    assert(noKey.count() ===
      (0L until 1000L).map(i => (i % 300, (i * 13) % 97)).distinct.size)
  }

  test("DISTINCT over the keyed table plus a copy keeps the Aggregate") {
    registered
    val want = spark.read.parquet(facts).select("fid", "v")
      .orderBy("fid").collect().toSeq
    def copyOfFacts(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_fact_copy").toString
      spark.read.parquet(facts).write.mode("overwrite").parquet(d)
      d
    }
    // an unregistered copy: the union holds every row twice
    val copy = copyOfFacts()
    // a separately keyed copy: two unique keys are not a key of the union
    val keyedCopy = copyOfFacts()
    ConstraintCatalog.registerUnique(keyedCopy, Seq("fid"))
    for (other <- Seq(copy, keyedCopy)) {
      val df = spark.read.parquet(facts, other).select("fid", "v").distinct()
      assert(hasAggregate(df), df.queryExecution.optimizedPlan.toString)
      assert(df.orderBy("fid").collect().toSeq === want)
    }
  }

  test("LEFT JOIN to an unreferenced unique dimension is deleted") {
    registered
    val f = spark.read.parquet(facts)
    val d = spark.read.parquet(dims)
    val joined = f.join(d, f("fk") === d("pk"), "left_outer")
      .select(f("fid"), f("v"))
    assert(!hasJoin(joined), joined.queryExecution.optimizedPlan.toString)
    assert(joined.count() === 1000L)
    val direct = f.select(col("fid"), col("v")).orderBy("fid").collect().toSeq
    assert(joined.orderBy("fid").collect().toSeq === direct)
  }

  test("aggregate directly over the join (CollapseProject shape) also fires") {
    registered
    val f = spark.read.parquet(facts)
    val d = spark.read.parquet(dims)
    val agg = f.join(d, f("fk") === d("pk"), "left_outer")
      .groupBy(f("fk")).agg(sum(f("v")).as("sv"))
    assert(!hasJoin(agg), agg.queryExecution.optimizedPlan.toString)
    val want = f.groupBy("fk").agg(sum("v").as("sv"))
      .orderBy("fk").collect().toSeq
    assert(agg.orderBy("fk").collect().toSeq === want)
  }

  test("join elimination refuses: referenced dim column, non-unique key, inner join") {
    registered
    val f = spark.read.parquet(facts)
    val d = spark.read.parquet(dims)
    // dim column referenced -> join stays
    val ref = f.join(d, f("fk") === d("pk"), "left_outer")
      .select(f("fid"), d("name"))
    assert(hasJoin(ref))
    // join on a non-unique dim column -> join stays
    val nonUnique = f.join(d, f("fk") === d("grp"), "left_outer")
      .select(f("fid"), f("v"))
    assert(hasJoin(nonUnique))
    // inner join is NOT multiplicity-preserving (unmatched rows drop)
    val inner = f.join(d, f("fk") === d("pk"), "inner")
      .select(f("fid"), f("v"))
    assert(hasJoin(inner))
    // semantics check on the inner case the rule refused: fk 200..299
    // have no dim match, so counts differ from the left-join row count
    assert(inner.count() === f.filter(col("fk") < 200).count())
  }

  private lazy val containedFacts: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_factc").toString
    (0L until 1000L).map(i => (i, i % 200, (i * 13) % 97))
      .toDF("fid", "fk", "v") // fk 0..199 ⊆ dim pk 0..199, no nulls
      .repartition(1).write.mode("overwrite").parquet(d)
    d
  }

  test("fk inner-join elimination: fires with a registered verified fk") {
    registered
    ConstraintCatalog.registerForeignKey(containedFacts, "fk", dims, "pk")
    val f = spark.read.parquet(containedFacts)
    val d = spark.read.parquet(dims)
    val df = f.join(d, f("fk") === d("pk"), "inner")
      .groupBy(f("fk")).agg(sum(f("v")).as("sv"))
    assert(!hasJoin(df), df.queryExecution.optimizedPlan.toString)
    val want = f.groupBy("fk").agg(sum("v").as("sv"))
      .orderBy("fk").collect().toSeq
    assert(df.orderBy("fk").collect().toSeq === want)
  }

  test("fk inner-join elimination refuses: parent filter, dim ref, wrong pk") {
    registered
    ConstraintCatalog.registerForeignKey(containedFacts, "fk", dims, "pk")
    val f = spark.read.parquet(containedFacts)
    val d = spark.read.parquet(dims)
    // a parent-side filter could drop child rows — refuse
    val filtered = f.join(d.filter(col("grp") =!= 3),
      f("fk") === d("pk"), "inner").select(f("fid"))
    assert(hasJoin(filtered))
    // referenced dim column — refuse
    val ref = f.join(d, f("fk") === d("pk"), "inner")
      .select(f("fid"), d("name"))
    assert(hasJoin(ref))
    // join on a column that is not the registered pk — refuse
    val wrong = f.join(d, f("fk") === d("grp"), "inner").select(f("fid"))
    assert(hasJoin(wrong))
  }
}

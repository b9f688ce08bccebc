package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * The nine graft plan rewrites, in the fixed order every graft session
 * runs them. Both seams read this one list:
 * `graft.functions.GraftExtensions` injects every entry into a session
 * built with `spark.sql.extensions`, and
 * `graft.functions.GraftFunctions.register` appends any entry a session
 * lacks. So every graft session carries all nine; each fires only for
 * a path registered in its [[PathRegistry]] (the IN-set rule: only for
 * a list of at least [[InSetBroadcastRule.Threshold]] non-null values).
 */
object GraftRules {
  val all: Seq[(Class[_ <: Rule[LogicalPlan]], SparkSession => Rule[LogicalPlan])] = Seq(
    classOf[IvfRewriteRule] -> (new IvfRewriteRule(_)),
    classOf[SimJoinRewriteRule] -> (new SimJoinRewriteRule(_)),
    classOf[FuzzyJoinRewriteRule] -> (new FuzzyJoinRewriteRule(_)),
    classOf[RollupRewriteRule] -> (new RollupRewriteRule(_)),
    classOf[ConstraintRewriteRule] -> (new ConstraintRewriteRule(_)),
    classOf[HllRewriteRule] -> (new HllRewriteRule(_)),
    classOf[InSetBroadcastRule] -> (new InSetBroadcastRule(_)),
    classOf[FooterCountRule] -> (new FooterCountRule(_)),
    classOf[FooterStatsRule] -> (new FooterStatsRule(_)))
}

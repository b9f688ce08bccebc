package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * JVM-global map from a table's root path to one rewrite's
 * registration — the opt-in every path-gated graft rewrite reads. A
 * path is normalized once (trailing `/` and a leading `file:` dropped),
 * so `/t`, `/t/` and `file:/t` name the same table.
 *
 * A scan matches only when EVERY root path of its relation is
 * registered to the same entry (one value registered under each path,
 * compared by reference; the `Unit` entries of the footer and HLL
 * catalogs always match). A scan of `spark.read.parquet(reg, other)`
 * with `other` unregistered never matches, and neither does the union
 * of two separately registered tables: a unique key or a rollup
 * summary describes one table, not a union of equal-looking ones.
 */
class PathRegistry[V] {
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, V]()

  def register(path: String, value: V): Unit =
    entries.put(PathRegistry.normalize(path), value)
  def unregister(path: String): Unit = entries.remove(PathRegistry.normalize(path))
  def isEmpty: Boolean = entries.isEmpty

  /** Replace the entry at `path` with `f` of the current one. */
  def update(path: String)(f: Option[V] => V): Unit =
    entries.compute(PathRegistry.normalize(path), (_, old) => f(Option(old)))

  /** The entry every root path of the file scan `plan` is registered
    * to; None for any other node, a partly registered scan, or one
    * whose root paths carry different entries. */
  def lookup(plan: LogicalPlan): Option[V] = {
    val found = PathRegistry.rootsOf(plan).map(p => entries.get(PathRegistry.normalize(p)))
    found.headOption.filter(v => v != null &&
      found.forall(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef]))
  }
}

object PathRegistry {
  def normalize(path: String): String =
    path.stripSuffix("/").replaceFirst("^file:", "")

  /** Root paths of a file-based scan, as Spark lists them; empty for
    * any other node. */
  def rootsOf(plan: LogicalPlan): Seq[String] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Nil
    }
    case _ => Nil
  }
}

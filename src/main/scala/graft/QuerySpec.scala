package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract query, self-described: its name, its plan over an sf dir,
  * how its output is checked and, for a streaming gate query, the plan of
  * its streaming transform over the batch inputs. [[SparkEntry.registry]]
  * lists every query once. */
final case class QuerySpec(name: String, plan: QuerySpec.Plan, check: QuerySpec.Check,
    batchPlan: Option[QuerySpec.Plan] = None) {

  /** A streaming gate query returns a memory-sink table (a LocalTableScan
    * plan) and runs its stream when called. Spark plans the transform in
    * batch mode too (the analyzer strips the watermark; (flat)
    * mapGroupsWithState runs per key from empty state), so `batchPlan` is
    * the plan surface PlanLintSpec lints in its place. */
  def streaming: Boolean = batchPlan.isDefined

  def shortKey: String = QuerySpec.shortKey(name)
}

object QuerySpec {
  type Plan = (SparkSession, String) => DataFrame

  /** The headline key of a query name: its prefix up to the first '_'
    * (q01, p32). */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  sealed trait Check

  /** Hash-exact: DuckDB `sql` over the sf dir's tables returns the rows. */
  final case class Oracle(sql: String) extends Check

  /** Rows-only by design (an engine-RNG sample): `checks` are distributed
    * (check, passed, detail) checks over an sf dir, and `oracleSqlFor`
    * authors DuckDB SQL reading a Verify dump dir that echoes the dumped
    * rows iff the contract holds there. */
  final case class Contract(checks: (SparkSession, String) => Seq[(String, Boolean, String)],
      oracleSqlFor: String => String) extends Check
}

package org.apache.spark.sql.graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graftplans.PlanBridge

/** Bench-only plan surgery; the one `private[sql]` touchpoint
  * (`Dataset.ofRows`) is shared through
  * [[org.apache.spark.sql.graftplans.PlanBridge]]. Nothing here runs in
  * query paths; see [[graft.Bench]].
  */
object PlanSurgeon {

  /** Drop the outermost global Sort, if any. Every graft query ends in a
    * total-order `orderBy` that exists ONLY for the driver's deterministic
    * hash compare (production appends are unordered); benching without it
    * strips the sort's cost out of the operator measurement: a range
    * exchange, or, for a small input, the single-partition sort that
    * [[graft.plans.SinglePartitionSort]] plans in its place. The analyzed
    * plan is matched, before that optimizer rule runs, so the stripped
    * plan carries neither the sort nor its coalesce. Returns None when the
    * top node is not a global sort (nothing to strip — the query's cost IS
    * the operator cost). */
  def withoutTopSort(df: DataFrame): Option[DataFrame] =
    df.queryExecution.analyzed match {
      case s: Sort if s.global =>
        Some(PlanBridge.ofRows(df.sparkSession, s.child))
      case _ => None
    }
}

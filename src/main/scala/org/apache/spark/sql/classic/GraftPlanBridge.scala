package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: wrap an explicitly-constructed
  * LogicalPlan back into a DataFrame. Used by the q84 registry query
  * to run the plan [[graft.plans.PushPartialAggThroughUniqueJoin]]
  * rewrote in a session without the rule — the same pattern
  * Delta/GraphFrames use to hand Catalyst trees back to the public
  * Dataset API. Nothing else should live in this package.
  */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Static factory for a DataFrame over a given logical plan: Spark's
  * `Dataset.ofRows` is package-private, and graft's bucketed-join
  * operators hand Spark the plan that `graft.plans.BandJoinRewrite`
  * builds. */
object GraftDataFrames {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)
}

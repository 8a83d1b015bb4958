package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint statistics. A checkpointed frame's `LogicalRDD` carries
  * its source plan's size estimate, and a join multiplies its
  * children's estimates, so a loop that joins its checkpointed state
  * twice a round squares the estimate every round (a `BigInt` whose
  * digit count doubles). Resetting it needs the plan node, which
  * Spark 4 keeps behind `private[sql]`.
  */
object PlanBridge {
  /** Checkpointed `df` with its size estimate capped at
    * `spark.sql.defaultSizeInBytes`, what a relation without
    * statistics reports; partitioning, ordering and constraints kept.
    * An estimate under the cap, or any other frame, is returned as it
    * is. */
  def boundedEstimate(df: DataFrame): DataFrame = df match {
    case ds: classic.Dataset[Row @unchecked] => ds.logicalPlan match {
      case lr: LogicalRDD =>
        val cap = BigInt(ds.sparkSession.sessionState.conf.defaultSizeInBytes)
        if (lr.stats.sizeInBytes <= cap) df
        else classic.Dataset.ofRows(ds.sparkSession, lr.copy()(ds.sparkSession,
          Some(Statistics(sizeInBytes = cap)), Some(lr.constraints)))
      case _ => df
    }
    case _ => df
  }
}

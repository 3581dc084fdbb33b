package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to Spark's `private[sql]` `Dataset.ofRows`: a DataFrame over an
  * existing logical plan, bound to the given session. A plan holds no
  * session, so one encoded `LocalRelation` can back frames of several
  * sessions without encoding its rows again.
  */
object FrameBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}

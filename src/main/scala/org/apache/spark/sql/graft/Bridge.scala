package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}

/** `Dataset.ofRows` is `private[sql]`; this bridge lives inside the sql
  * package tree so graft's custom logical plans (graft.plans.TopKPerGroup)
  * can materialize as DataFrames through the normal analyzer path — the
  * same technique every third-party Spark plan library uses.
  */
object Bridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `NormalizeFloatingNumbers.normalize` is `private[sql]` too: the same
    * NaN / -0.0 canonicalization Spark applies to GROUP BY and Window
    * keys, exposed for graft's custom grouping operator.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `DataSourceStrategy.translateFilter` is `protected[sql]`: the
    * catalyst-to-source filter translation a file scan hands its reader,
    * exposed so graft's zone-map file index prunes with the same filters
    * (graft.catalog.ZoneMapFileIndex). */
  def sourceFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** `listenerBus.waitUntilEmpty` is `private[spark]`: exposed so specs
    * can count jobs DETERMINISTICALLY (flush the async listener bus
    * before reading a job-count listener's state) — used by the
    * zero-jobs-at-lowering pin on SCORED with the all-emb marker. */
  def flushListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Plan-shape assertions (exchange counts, join types, partition counts)
  * run on sf0.001 tables as stand-ins for the plan at scale. Every such
  * table is small enough for `graft.plans.SmallScanStrategy` to plan it
  * as one partition, which would leave no exchange to count. This
  * helper evaluates a plan with
  * `spark.sql.adaptive.coalescePartitions.enabled=false`, the switch the
  * strategy's gate reads, so tests see the plan a large table gets. */
object PlanAtScale {

  /** Evaluates `body` with partition coalescing off, then restores the
    * session's setting. Build the DataFrame inside `body` too: an eager
    * checkpoint taken while building keeps the partitioning it had. */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val key = SQLConf.COALESCE_PARTITIONS_ENABLED.key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

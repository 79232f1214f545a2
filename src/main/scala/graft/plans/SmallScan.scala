package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.internal.SQLConf

/** Plans a small batch file scan as one partition: the usual
  * `FileSourceStrategy` output under `CoalesceExec(1)`.
  *
  * `SinglePartition` satisfies every clustered and ordered distribution,
  * so `EnsureRequirements` adds no exchange above the scan for
  * aggregates, windows, top-N-per-key or a closing sort. Each of those
  * exchanges would otherwise cost a shuffle map stage (a sort also a
  * range-sampling job) that AQE then coalesces back to a single task.
  *
  * The gate is Spark's own coalescing settings, no new option: AQE and
  * `spark.sql.adaptive.coalescePartitions.enabled` on, and the relation
  * at most `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * bytes. Below that size AQE merges a shuffle of the scan's own rows
  * into one partition anyway. The gate reads on-disk size, though, and
  * a plan can shuffle several times that (rows wider in memory than on
  * disk, explode, n-grams, self-joins): a stage AQE would have split
  * over a few tasks then runs as one. Bucketed relations keep their
  * bucketed partitioning, and an explicit `repartition(n)` above the
  * scan still plans its own exchange.
  * Streaming is untouched: neither a streaming scan nor a batch scan
  * planned on a streaming query's thread (a stream-static join side, a
  * `foreachBatch` body), where AQE does not coalesce stateful plans. */
case class SmallScanStrategy(session: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, l: LogicalRelation) if small(l) =>
      FileSourceStrategy(plan).map(CoalesceExec(1, _))
    case _ => Nil
  }

  private def small(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      val conf = SQLConf.get
      !l.isStreaming && fs.bucketSpec.isEmpty &&
        session.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY) == null &&
        conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
        fs.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    case _ => false
  }
}

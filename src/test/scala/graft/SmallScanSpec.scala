package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational.{latestPerKey, spread}
import graft.store.Store
import graft.streaming.StreamIngest

/** [[graft.plans.SmallScanStrategy]]: a batch file scan at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes plans
  * as one partition, so the aggregates, windows and sorts above it need
  * no exchange; rows stay those of the plan at scale, and large,
  * bucketed, repartitioned and streaming plans keep their partitioning. */
class SmallScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Aggregate, window and closing sort over one small table. */
  private def perUserRank(s: SparkSession): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("n").desc, col("user_id"))
    Tables.events(s, sf).groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(w))
      .orderBy("event_type", "r")
  }

  private def latestEvent(s: SparkSession): DataFrame =
    latestPerKey(Tables.events(s, sf), Seq("user_id"), col("event_id"))
      .select("user_id", "event_id").orderBy("user_id")

  test("small-table aggregate, window, latestPerKey and sort plan no exchange; rows as at scale") {
    for (q <- Seq(perUserRank _, latestEvent _)) {
      val df = q(spark)
      val rows = df.collect().toSeq
      assert(rows.nonEmpty)
      assert(!plan(df).contains("Exchange"), plan(df))
      assert(plan(df).contains("Coalesce 1"), plan(df))
      val (atScale, scaleRows) = PlanAtScale(spark) {
        val d = q(spark)
        (plan(d), d.collect().toSeq)
      }
      assert(atScale.contains("Exchange"), atScale)
      assert(rows == scaleRows)
    }
  }

  test("a relation above the gate keeps its exchanges") {
    val dir = Engine.tempDir("graft_smallscan") + "/big"
    // hashed longs do not compress: ~2.4 MB of parquet, above the 1 MB gate
    spark.range(300000).select(col("id"), (xxhash64(col("id")) % 1000).as("k"),
        xxhash64(col("id"), lit(1)).as("v"))
      .write.parquet(dir)
    val gate = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val big = spark.read.parquet(dir)
    val size = big.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > org.apache.spark.network.util.JavaUtils.byteStringAsBytes(gate), s"$size vs $gate")
    val df = big.groupBy("k").agg(max("v").as("m")).orderBy("k")
    assert(plan(df).contains("Exchange hashpartitioning"), plan(df))
    assert(!plan(df).contains("Coalesce 1"), plan(df))
    assert(df.collect().length == 1999)
  }

  test("a bucketed table keeps its bucketed partitioning") {
    import spark.implicits._
    Store.saveBucketed((1 to 200).map(i => (i % 7, i.toLong)).toDF("k", "v"),
      "small_scan_bkt", "k", 4)
    val df = spark.table("small_scan_bkt").groupBy("k").agg(sum("v").as("s"))
    assert(!plan(df).contains("Exchange"), plan(df))
    assert(!plan(df).contains("Coalesce"), plan(df))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.collect().map(_.getLong(1)).sum == (1 to 200).sum)
  }

  test("repartition(n) and spread over a small scan keep their partition counts") {
    val df = Tables.events(spark, sf).repartition(4)
    assert(plan(df).contains("RoundRobinPartitioning(4)"), plan(df))
    assert(df.rdd.getNumPartitions == 4)
    val p = spark.sparkContext.defaultParallelism
    assert(spread(Tables.events(spark, sf)).rdd.getNumPartitions == p)
  }

  test("stateful streaming aggregation over a small file source keeps its state partitions") {
    val work = Engine.tempDir("graft_smallscan")
    Tables.events(spark, sf).select(col("user_id"), col("event_id"))
      .write.parquet(s"$work/src")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType)))
    var q: StreamingQuery = null
    StreamIngest.drain(spark) {
      q = spark.readStream.schema(schema).parquet(s"$work/src")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("overwrite").parquet(s"$work/out"))
        .start()
      q
    }
    val ops = q.recentProgress.flatMap(_.stateOperators)
    assert(ops.nonEmpty)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    assert(ops.forall(_.numShufflePartitions == parts), ops.map(_.numShufflePartitions).toSeq)
    val got = spark.read.parquet(s"$work/out").orderBy("user_id").collect().toSeq
    val want = Tables.events(spark, sf).groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(got == want)
  }

  test("micro-batches plan small batch scans as before: stream-static join side, foreachBatch body") {
    val work = Engine.tempDir("graft_smallscan")
    Tables.events(spark, sf).select(col("user_id"), col("event_id"))
      .write.parquet(s"$work/src")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType)))
    val bodyPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var q: StreamingQuery = null
    StreamIngest.drain(spark) {
      q = spark.readStream.schema(schema).parquet(s"$work/src")
        .join(Tables.customer(spark, sf)
          .select(col("c_custkey").cast("long").as("user_id"), col("c_nationkey")), "user_id")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val perCustomer = Tables.orders(b.sparkSession, sf).groupBy("o_custkey").count()
          bodyPlans.add(plan(perCustomer))
          b.write.mode("overwrite").parquet(s"$work/out")
        }
        .start()
      q
    }
    val batchPlan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(batchPlan.contains("customer.parquet"), batchPlan)
    assert(!batchPlan.contains("Coalesce"), batchPlan)
    assert(!bodyPlans.isEmpty)
    bodyPlans.forEach(p => assert(!p.contains("Coalesce"), p))
  }

  test("exactly-once drain over a small source: replay appends nothing") {
    val work = Engine.tempDir("graft_smallscan")
    val src = Tables.orders(spark, sf).select(col("o_orderkey").cast("long").as("ok"),
      col("o_custkey").cast("long").as("c"))
    StreamIngest.toJsonLines(src).write.text(s"$work/src")
    val env = StructType(Seq(StructField("ok", LongType), StructField("c", LongType)))
    def parsed = StreamIngest.jsonLinesStream(spark, s"$work/src", env)
    StreamIngest.ingestOnceExactly(parsed, s"$work/drained", s"$work/ckpt")
    StreamIngest.ingestOnceExactly(parsed, s"$work/drained", s"$work/ckpt")
    val got = StreamIngest.readExactlyOnceTable(spark, s"$work/drained")
      .select("ok", "c").orderBy("ok").collect().toSeq
    assert(got == src.orderBy("ok").collect().toSeq)
  }
}

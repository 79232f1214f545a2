package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Per-drain throughput/state instrumentation (VERDICT r7 "next" #6):
  * every [[StreamIngest.drain]] appends one record — input rows, batch
  * count, drain wall seconds, and the state store's PEAK row count over
  * the drain's progress reports (the measured backing for every
  * "watermark-bounded state" claim). Consumers (Bench) poll the log
  * between queries to attribute records; the queue is lock-free so
  * concurrent drains (Verify's thread pool) never block each other. */
object StreamMetrics {
  final case class DrainStat(inputRows: Long, batches: Int, wallSec: Double,
                             peakStateRows: Long, droppedByWatermark: Long = 0L) {
    def rowsPerSec: Double = if (wallSec > 0) inputRows / wallSec else 0.0
  }
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[DrainStat]()
  private[streaming] def record(s: DrainStat): Unit = log.add(s)
  /** Remove and return every record appended since the last call. */
  def drainLog(): Seq[DrainStat] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[DrainStat]
    var x = log.poll()
    while (x != null) { out += x; x = log.poll() }
    out.toSeq
  }
}

/** Streaming ingest — the reference's daily pipeline
  * (services/airflow/dags/spark_streaming.py:45-97) re-expressed as
  * Structured Streaming over a JSON-lines file source:
  *
  *   readStream (Kafka-shaped: one raw JSON string per record)
  *     → CAST(value AS STRING) → from_json(schema) → select("data.*")
  *     → foreachBatch into a `batch_id=N` partition per micro-batch,
  *       checkpointed, Trigger.AvailableNow
  *
  * The file source stands in for the Kafka topic (same binary-value
  * envelope, kafka_producer.py:45-62); swapping `format("text")` for
  * `format("kafka")` is the only cluster-side change. The checkpoint
  * gives the reference's drain-the-topic-once-a-day semantics
  * (spark_streaming.py:91-94): a replay with the same checkpoint ingests
  * nothing new. The sink is exactly-once where the reference's JDBC
  * append is at-least-once: a retried micro-batch overwrites its own
  * partition instead of appending a second copy.
  *
  * This object owns every streaming decision the queries share: the one
  * AvailableNow [[drain]], the event wire format ([[eventLines]] /
  * [[eventStream]]) and ordered drop files ([[orderedFileStream]]).
  *
  * At 100 TB this is the right shape: the source lists only NEW files per
  * micro-batch, parse+flatten is embarrassingly parallel, and each
  * micro-batch writes with its own partitioning (no shuffle).
  */
object StreamIngest {

  /** P1/P2 — the envelope parse shared by every source: CAST the raw
    * value (binary for Kafka, string for the file source) to STRING,
    * from_json against the declared schema, flatten
    * (spark_streaming.py:60-66's select(from_json(...)).select("data.*")). */
  def parseEnvelope(raw: DataFrame, schema: StructType): DataFrame =
    raw
      .selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), schema).as("data"))
      .select("data.*")

  /** S2/P1/P2 — streaming source + envelope parse. `value` is the raw
    * JSON message string (the Kafka value after CAST AS STRING). */
  def jsonLinesStream(spark: SparkSession, srcDir: String, schema: StructType): DataFrame =
    parseEnvelope(spark.readStream.format("text").load(srcDir), schema)

  /** S2 Kafka-native — the configured reader for the reference's actual
    * source (spark_streaming.py:45-53: subscribe + bootstrap.servers +
    * startingOffsets=earliest). Construction only touches the reader's
    * option map; resolving the `kafka` format happens at `load()`, which
    * needs the spark-sql-kafka connector jar on the cluster classpath
    * (not shipped in this build environment — the file source above is
    * the harness stand-in, same envelope). */
  def kafkaReader(spark: SparkSession, brokers: String, topic: String,
                  startingOffsets: String = "earliest"): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)

  /** K1 Kafka-native — the producer sink half (kafka_producer.py:50-66:
    * one JSON object per record into a topic): rows serialized through
    * [[toJsonLines]]'s envelope as the Kafka `value`, writer configured
    * for the topic. Like [[kafkaReader]], construction only sets the
    * option map; `start()` resolves the connector jar. The file drop-dir
    * stand-in (`toJsonLines(df).write.text`) is the same envelope. */
  def kafkaWriter(df: DataFrame, brokers: String, topic: String,
                  checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    toJsonLines(df).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** Guards the check-then-act between `spark.streams.active.isEmpty`
    * and the JVM-global state release (ADVICE r5): query START and the
    * release CHECK are atomic w.r.t. each other, so a drain starting
    * concurrently is either already visible in `streams.active` (release
    * skipped) or starts strictly after the release completes (its state
    * reloads lazily from the checkpoint before the first batch — no
    * mid-query stop is possible). awaitTermination stays OUTSIDE the
    * lock so concurrent drains still overlap. */
  private val stateLock = new Object

  /** Drain `stream` to the end of what its source holds now: one
    * checkpointed AvailableNow query in `outputMode`, each micro-batch
    * handed to `sink` with its batch id. The query starts INSIDE the
    * start/release guard, is awaited outside it, is recorded in
    * [[StreamMetrics]], and state is released if no other streaming
    * query is live. Returns the finished query (its progress reports
    * stay readable). Every streaming query src/main starts goes
    * through here — a bare `.start()` elsewhere reopens the race. The
    * one exception is [[kafkaWriter]], which returns its writer
    * unstarted for a cluster with the Kafka connector to start. */
  def drain(stream: DataFrame, outputMode: String, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val t0 = System.nanoTime()
    val q = stateLock.synchronized {
      stream.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink)
        .start()
    }
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    // best-effort metrics: recentProgress is a bounded in-memory ring
    // (plenty for AvailableNow drains); a no-op replay reports 0 rows
    try {
      val ps = q.recentProgress
      val rows = ps.map(_.numInputRows).sum
      val peak = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsTotal)).foldLeft(0L)(math.max)
      val dropped = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsDroppedByWatermark)).sum
      StreamMetrics.record(StreamMetrics.DrainStat(rows, ps.length, wall, peak, dropped))
    } catch { case _: Throwable => () }
    releaseStateAfterDrain(stream.sparkSession)
    q
  }

  /** A completed AvailableNow drain is a batch-style use of the
    * streaming engine: the state-store provider cache (loaded state
    * versions held in executor memory for the NEXT micro-batch) is dead
    * weight until the next drain, which reloads lazily from the
    * checkpoint. Stateful fixtures here carry ~corpus-sized key state
    * (q41's join buffer, q101's dedup keys), so holding it would tax
    * every later batch query's GC in a shared JVM. The release is
    * JVM-GLOBAL, so it is skipped while any OTHER streaming query is
    * active (drains can run concurrently on Verify's thread pool — the
    * last one out releases). Best-effort: the hook is an internal API,
    * so failure is ignored. */
  private def releaseStateAfterDrain(spark: SparkSession): Unit =
    stateLock.synchronized {
      try {
        if (spark.streams.active.isEmpty)
          org.apache.spark.sql.GraftColumnBridge.releaseStreamingState()
      } catch { case _: Throwable => () }
    }

  /** K2, exactly-once (SURVEY §7.4 risk 3): each micro-batch lands in
    * its own `batch_id=N` partition directory with OVERWRITE semantics,
    * so a batch retried after a mid-append crash replaces its own
    * partial output instead of duplicating it. The reference is
    * at-least-once (plain JDBC append, spark_streaming.py:79-90); this
    * is the idempotent form a parquet table makes free. Blocks until
    * the drain completes. */
  def ingestOnceExactly(parsed: DataFrame, tableDir: String, checkpointDir: String): Unit =
    drain(parsed, "append", checkpointDir)(exactlyOnceSink(tableDir))

  private def exactlyOnceSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$tableDir/batch_id=$batchId")

  /** Replay an [[ingestOnceExactly]] drain against the same checkpoint
    * and fail if it read any input. The table cannot show a replay that
    * ignored its checkpoint: that replay restarts at batch 0 and
    * overwrites `batch_id=0` with the same rows. The drain's input row
    * count can. */
  def replayExactly(parsed: DataFrame, tableDir: String, checkpointDir: String): Unit = {
    val rows = drain(parsed, "append", checkpointDir)(exactlyOnceSink(tableDir))
      .recentProgress.map(_.numInputRows).sum
    require(rows == 0, s"replay against checkpoint $checkpointDir read $rows rows")
  }

  /** Read back a table written by [[ingestOnceExactly]] (drops the
    * partition-discovery batch_id column). */
  def readExactlyOnceTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir).drop("batch_id")

  /** X10 write half — serialize rows to one-JSON-object-per-line strings
    * (the producer's json.dumps envelope, kafka_producer.py:45-48). */
  def toJsonLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** The event wire format: `ts` travels as microsecond-precision text,
    * so a drained table's timestamps equal the `events` table's. */
  private val EventTsPattern = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Producer half: `events`-shaped rows as JSON lines in the
    * [[graft.Schemas.eventsEnvelope]] column order. */
  def eventLines(events: DataFrame): DataFrame =
    toJsonLines(events.select(col("event_id"),
      date_format(col("ts"), EventTsPattern).as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props")))

  /** Consumer half: the streamed [[eventLines]] of `srcDir`, parsed
    * back to `events` columns with `ts` a timestamp again. */
  def eventStream(spark: SparkSession, srcDir: String): DataFrame =
    jsonLinesStream(spark, srcDir, graft.Schemas.eventsEnvelope)
      .withColumn("ts", to_timestamp(col("ts"), EventTsPattern))

  /** Ordered drop files: each of `batches` lands as ONE JSON-lines file
    * `$work/src/b<i>.txt` with strictly increasing modification times,
    * then streams back one file per micro-batch (maxFilesPerTrigger=1,
    * which admits files in mtime order) parsed against `schema` — so
    * micro-batch i is exactly `batches(i)`, the fixture shape for
    * watermark and late-data semantics that depend on batch order. */
  def orderedFileStream(work: String, batches: Seq[DataFrame], schema: StructType): DataFrame = {
    val srcDir = s"$work/src"
    val src = new java.io.File(srcDir); src.mkdirs()
    batches.zipWithIndex.foreach { case (batch, b) =>
      val scratch = s"$work/.b$b"
      toJsonLines(batch).coalesce(1).write.mode("overwrite").text(scratch)
      val part = new java.io.File(scratch).listFiles().find(_.getName.startsWith("part-")).get
      val dest = new java.io.File(src, s"b$b.txt")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + b * 600000L)
    }
    parseEnvelope(batches.head.sparkSession.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(srcDir), schema)
  }

  /** §2.9 extension — cross-batch stateful dedup by message id via
    * flatMapGroupsWithState: a key's first occurrence passes, replays
    * and duplicates are dropped, across micro-batches (the id-keyed
    * exactly-once form, complementing [[ingestOnceExactly]]'s
    * batch-keyed form). State is one boolean per id; production streams
    * bound it with a watermark/timeout TTL once ids stop recurring. */
  def dedupById(parsed: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed
      .select(col(idCol).cast("long").as("__id"),
        to_json(struct(parsed.columns.map(col): _*)).as("__payload"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, String](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1).map(_._2) }
      }
      .toDF("value")
  }

  /** §2.9 extension — watermarked tumbling-window daily aggregate: the
    * event-time stateful op the reference never needed (its producer
    * rewrites event dates to "today") but any real daily pipeline does.
    * The watermark bounds state: windows older than `lateness` are
    * finalized and dropped from the store — constant state at any
    * stream length. */
  /** §2.9 extension — watermarked stream-stream interval join: each
    * click joined to the same user's views in the preceding `lookback`
    * window. Both sides carry a watermark and the join condition is
    * time-bounded, so the state store evicts rows older than
    * lateness+lookback — constant state at any stream length (the
    * unbounded-state stream-stream join is the classic streaming
    * scale-killer). Inner join in append mode: results emit as soon as
    * both sides arrive. */
  /** §2.9 extension — watermark-bounded streaming dedup: the first
    * arrival of each `keyCols` row passes; retries/duplicates arriving
    * within `lateness` of the watermark are dropped; key state is
    * EVICTED once the watermark passes it — constant state at any
    * stream length (plain streaming dropDuplicates never expires its
    * keys, the other classic streaming scale-killer alongside the
    * unbounded stream-stream join). `lateness` is the contract: a
    * duplicate later than that can re-emit, which is the correct trade
    * for producer-retry dedup where retries cluster within seconds. */
  def dedupWithinWatermark(parsed: DataFrame, tsCol: String, lateness: String,
                           keyCols: String*): DataFrame =
    parsed.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  def intervalJoin(clicks: DataFrame, views: DataFrame,
                   lateness: String = "10 minutes",
                   lookback: String = "5 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", lateness)
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $lookback") &&
        col("view_ts") <= col("click_ts"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }

  def dailyCounts(parsed: DataFrame, tsCol: String, lateness: String = "1 day"): DataFrame =
    parsed
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("date").as("day"), col("event_type"), col("n"))
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamIngest
import graft.PipelineQueries.cachedFixture

/** Streaming second wave (round 10, thirty-fifth wave): stream-static
  * SCD2 point-in-time enrichment, bounded-trigger backpressure ledger,
  * complete-mode histogram telemetry, and dead-letter routing.
  *
  * Reference intent: the reference's one streaming job blind-joins the
  * latest dimension row (services/airflow/dags/spark_streaming.py) —
  * version skew corrupts every event that arrives during a dimension
  * change. These four are the production-hardening shapes around it:
  * join the version that was TRUE AT EVENT TIME, bound per-trigger
  * intake, keep live distribution telemetry in O(buckets) state, and
  * never drop a malformed record silently. All run as real Structured
  * Streaming drains (StreamIngest.drain) against
  * file-source stand-ins, then certify the LANDED tables against batch
  * oracles — the same contract as q29/q101.
  */
object StreamTwoQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── G258: stream-static SCD2 point-in-time join ────────────────────
    // The dimension has two versions per customer (segment v1 until
    // anchor−15d, "V2-" segment after — anchor from the DATA, never
    // wall clock); each streamed event joins the version valid AT ITS
    // EVENT TIME (user key + ts ∈ [valid_from, valid_to) — a stream-
    // static broadcast join with a range predicate, re-broadcast per
    // micro-batch). The landed table proves no event got the wrong
    // version: the oracle recomputes the PIT join in batch.
    "q313_stream_scd2_join" -> ((s, dir) => {
      val work = cachedFixture(s"sscd2|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
        StreamIngest.eventLines(Tables.events(s, dir)).write.mode("overwrite").text(src)
        val mid = Tables.events(s, dir)
          .agg(date_sub(max(to_date(col("ts"))), 15).as("mid")).collect()(0).getDate(0)
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val dim = cust.select(col("user_id"), col("c_mktsegment").as("segment"),
            lit("1900-01-01").cast(TimestampType).as("valid_from"),
            lit(mid.toString).cast(TimestampType).as("valid_to"))
          .unionAll(cust.select(col("user_id"),
            concat(lit("V2-"), col("c_mktsegment")).as("segment"),
            lit(mid.toString).cast(TimestampType).as("valid_from"),
            lit("2999-01-01").cast(TimestampType).as("valid_to")))
        val parsed = StreamIngest.eventStream(s, src)
        val joined = parsed.join(broadcast(dim),
          parsed("user_id") === dim("user_id") &&
            col("ts") >= col("valid_from") && col("ts") < col("valid_to"))
          .select(parsed("event_id"), col("segment"), col("value"))
        StreamIngest.ingestOnceExactly(joined, tbl, ckpt)
      }
      StreamIngest.readExactlyOnceTable(s, s"$work/table")
        .groupBy("segment")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 1000000).cast(LongType)).as("sum_v6"))
        .orderBy("segment")
    }),

    // ── G259: bounded-trigger intake ledger (backpressure contract) ────
    // Five deterministic part files (explicit user_id mod 5 routing —
    // never round-robin, whose task order is not reproducible), drained
    // with maxFilesPerTrigger=1: the ledger must show exactly 5 micro-
    // batches, each one file's rows. Emitted facts are BATCH-ORDER-
    // INVARIANT (count/total/min/max) because the file→trigger order is
    // scheduler-dependent even though the file SET is not. This is the
    // knob that keeps a backlogged 100-TB source from OOMing trigger 1.
    "q314_trigger_ledger" -> ((s, dir) => {
      val work = cachedFixture(s"ledger|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/ledger", s"$work/ckpt")
        StreamIngest.eventLines(Tables.events(s, dir).repartition(5, expr("user_id % 5")))
          .withColumn("part", expr(
            "cast(get_json_object(value, '$.user_id') as bigint) % 5"))
          .write.partitionBy("part").mode("overwrite").text(src)
        // maxFilesPerTrigger is a SOURCE option — it throttles what each
        // micro-batch ADMITS, so it sits on readStream, not the sink
        val parsed = StreamIngest.parseEnvelope(
          s.readStream.format("text").option("maxFilesPerTrigger", "1")
            .load(s"$src/part=*"), Schemas.eventsEnvelope)
        StreamIngest.drain(parsed, "append", ckpt) { (batch, id) =>
          batch.sparkSession.createDataFrame(
              java.util.Collections.singletonList(org.apache.spark.sql.Row(id, batch.count())),
              StructType(Seq(StructField("batch_id", LongType), StructField("rows", LongType))))
            .write.mode("append").parquet(tbl)
        }
      }
      s.read.parquet(s"$work/ledger")
        .filter(col("rows") > 0)
        .agg(count(lit(1)).as("n_batches"), sum("rows").as("total_rows"),
          min("rows").as("min_batch_rows"), max("rows").as("max_batch_rows"))
    }),

    // ── G260: complete-mode histogram telemetry (O(buckets) state) ─────
    // The live distribution dashboard: a log₂-bucket histogram (q162's
    // float-free bucket) maintained as a streaming COMPLETE-mode
    // aggregate — state is |buckets| rows by construction, the whole
    // point of sketch telemetry — then p50/p90 read off the landed
    // histogram as the first bucket whose cumulative count crosses the
    // rank (bucket-resolution quantiles: exact bracket, zero per-event
    // state).
    "q315_stream_histogram" -> ((s, dir) => {
      val work = cachedFixture(s"shist|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/hist", s"$work/ckpt")
        StreamIngest.eventLines(Tables.events(s, dir).filter(col("value") > 0))
          .write.mode("overwrite").text(src)
        val parsed = StreamIngest.jsonLinesStream(s, src, Schemas.eventsEnvelope)
          .withColumn("v6", expr("cast(round(value * 1000000) as bigint)"))
          .withColumn("bucket", (length(expr("bin(v6)")) - 1).cast(LongType))
        val hist = parsed.groupBy("bucket").agg(count(lit(1)).as("n"))
        StreamIngest.drain(hist, "complete", ckpt) { (batch, _) =>
          batch.write.mode("overwrite").parquet(tbl)
        }
      }
      val h = s.read.parquet(s"$work/hist")
      val cum = h.select(col("bucket"), col("n"))
        .join(h.select(col("bucket").as("b2"), col("n").as("n2")), col("b2") <= col("bucket"))
        .groupBy("bucket", "n").agg(sum("n2").as("cum"))
      val tot = h.agg(sum("n").as("total"))
      val pb = cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") * 2 >= col("total"), col("bucket"))).as("p50_bucket"),
          min(when(col("cum") * 10 >= col("total") * 9, col("bucket"))).as("p90_bucket"),
          max("total").as("n_events"))
      pb.select(col("n_events"), col("p50_bucket"),
          expr("cast(pow(2, p50_bucket) as bigint)").as("p50_lo_v6"),
          col("p90_bucket"),
          expr("cast(pow(2, p90_bucket) as bigint)").as("p90_lo_v6"))
    }),

    // ── G261: dead-letter routing (no silent drops) ────────────────────
    // One in 37 source lines is corrupted (deterministic event_id mod —
    // reproducible chaos); the drain parses PERMISSIVE-style (from_json
    // null ⇒ unparseable), routes good rows to the main table and bad
    // LINES to the DLQ with their raw payload preserved, in ONE
    // foreachBatch (persisted batch, two filtered writes — single
    // source read). The census proves main + dlq = source exactly —
    // the at-least-once ingest ledger a 100-TB pipeline reconciles
    // nightly.
    "q316_dead_letter" -> ((s, dir) => {
      val work = cachedFixture(s"dlq|$dir") { work =>
        val (src, tbl, dlq, ckpt) = (s"$work/src", s"$work/main", s"$work/dlq", s"$work/ckpt")
        StreamIngest.eventLines(Tables.events(s, dir))
          .withColumn("event_id", expr(
            "cast(get_json_object(value, '$.event_id') as bigint)"))
          .select(when(col("event_id") % 37 === 0,
            concat(lit("{corrupt|"), col("value"))).otherwise(col("value")).as("value"))
          .write.mode("overwrite").text(src)
        val raw = s.readStream.schema(StructType(Seq(StructField("value", StringType))))
          .text(src)
        // PERMISSIVE from_json yields a NULL-FIELDED struct (not a null
        // struct) on malformed input — route on the required id field
        val routed = raw.withColumn("parsed",
          from_json(col("value"), Schemas.eventsEnvelope))
          .withColumn("ok", col("parsed.event_id").isNotNull)
        StreamIngest.drain(routed, "append", ckpt) { (batch, _) =>
          batch.persist()
          batch.filter(col("ok"))
            .select("parsed.*").write.mode("append").parquet(tbl)
          batch.filter(!col("ok"))
            .select(col("value").as("raw_line")).write.mode("append").parquet(dlq)
          batch.unpersist(); ()
        }
      }
      val main = s.read.parquet(s"$work/main")
        .agg(count(lit(1)).as("n_main"),
          countDistinct(col("event_type")).as("n_types"))
      val bad = s.read.parquet(s"$work/dlq").agg(count(lit(1)).as("n_dlq"))
      main.crossJoin(bad)
        .select(col("n_main"), col("n_dlq"), col("n_types"),
          (col("n_main") + col("n_dlq")).as("n_source"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q313_stream_scd2_join" ->
      """WITH a AS (SELECT MAX(CAST(ts AS DATE)) - 15 AS mid FROM events),
        |dim AS (
        |  SELECT c_custkey AS user_id, c_mktsegment AS segment,
        |         TIMESTAMP '1900-01-01' AS vf, CAST(mid AS TIMESTAMP) AS vt
        |  FROM customer, a
        |  UNION ALL
        |  SELECT c_custkey, 'V2-' || c_mktsegment,
        |         CAST(mid AS TIMESTAMP), TIMESTAMP '2999-01-01'
        |  FROM customer, a)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS sum_v6
        |FROM events JOIN dim ON events.user_id = dim.user_id
        |                     AND events.ts >= dim.vf AND events.ts < dim.vt
        |GROUP BY segment ORDER BY segment""".stripMargin,

    "q314_trigger_ledger" ->
      """WITH p AS (SELECT user_id % 5 AS part, COUNT(*) AS rows_
        |           FROM events GROUP BY user_id % 5)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
        |       CAST(SUM(rows_) AS BIGINT) AS total_rows,
        |       CAST(MIN(rows_) AS BIGINT) AS min_batch_rows,
        |       CAST(MAX(rows_) AS BIGINT) AS max_batch_rows
        |FROM p""".stripMargin,

    "q315_stream_histogram" ->
      """WITH v AS (SELECT CAST(round(value*1000000) AS BIGINT) AS v6 FROM events
        |           WHERE value > 0),
        |h AS (SELECT CAST(length(bin(v6)) - 1 AS BIGINT) AS bucket, COUNT(*) AS n
        |      FROM v GROUP BY 1),
        |c AS (SELECT a.bucket, a.n, SUM(b.n) AS cum FROM h a
        |      JOIN h b ON b.bucket <= a.bucket GROUP BY a.bucket, a.n),
        |t AS (SELECT SUM(n) AS total FROM h)
        |SELECT CAST(total AS BIGINT) AS n_events,
        |       CAST(MIN(CASE WHEN cum * 2 >= total THEN bucket END) AS BIGINT) AS p50_bucket,
        |       CAST(2 ** MIN(CASE WHEN cum * 2 >= total THEN bucket END) AS BIGINT) AS p50_lo_v6,
        |       CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket END) AS BIGINT) AS p90_bucket,
        |       CAST(2 ** MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket END) AS BIGINT) AS p90_lo_v6
        |FROM c, t GROUP BY total""".stripMargin,

    "q316_dead_letter" ->
      """WITH s AS (SELECT event_id, event_type,
        |             event_id % 37 = 0 AS corrupt FROM events)
        |SELECT CAST(SUM(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_main,
        |       CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
        |       CAST(COUNT(DISTINCT CASE WHEN NOT corrupt THEN event_type END) AS BIGINT) AS n_types,
        |       CAST(COUNT(*) AS BIGINT) AS n_source
        |FROM s""".stripMargin
  )
}

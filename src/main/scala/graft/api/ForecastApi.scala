package graft.api

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ml.Forecaster
import graft.ml.Forecaster.{Forecast, Obs}
import graft.ops.Relational.{latestPerKey, topK}

/** Thin query library — the reference's service-facing read paths as
  * library calls over the Rossmann-shaped tables (SURVEY §3.3, §7.1
  * module 6). No HTTP: each former endpoint is one declarative plan.
  */
object ForecastApi {

  /** The web-UI read path (services/web-ui/app/db_utils.py:32-73):
    * F4 key filter → W1 latest-version dedup → O2 last-n forecast days,
    * re-sorted ascending for charting. `forecasts` is a
    * `forecast_results`-shaped table (Schemas.ForecastResult). */
  def latestForecasts(forecasts: DataFrame, store: Int, product: String, n: Int = 7): DataFrame = {
    val deduped = latestPerKey(
      forecasts.filter(col("store") === store && col("productname") === product),
      Seq("store", "productname", "forecast_date"), col("model_version"))
    topK(deduped, n, col("forecast_date").desc).orderBy("forecast_date")
  }

  /** Request-driven forecast (forecast-service/app/main.py:83-112): the
    * next `nDays` days for one key. Inclusive window — nDays+1 rows —
    * matching the reference's pd.date_range inclusivity (helpers.py:29),
    * which is also where the fixed 7-day path's 8 rows come from: the
    * UI retrain button (web-ui/app/main.py:98-122) is `nDays = 7`.
    *
    * This is the RE-FIT form (reads the series). The production serve
    * path is [[forecastStored]]: the reference answers requests by
    * loading the registered model (handlers/mlflow.py:24-40), not by
    * re-training — prefer it whenever a coefficient-bearing registry
    * exists. */
  def forecastNext(series: Dataset[Obs], key: String, nDays: Int): Dataset[Forecast] = {
    val s = series.sparkSession
    import s.implicits._
    series.filter(col("key") === key)
      .groupByKey(_.key)
      .flatMapGroups((k: String, it: Iterator[Obs]) =>
        Forecaster.forecastKey(k, it, horizon = nDays + 1))
  }

  /** The reference's ACTUAL per-request serve path (handlers/mlflow.py:
    * 24-40 + main.py:83-112: resolve stage=production, load the stored
    * model, predict) over a coefficient-bearing registry table
    * ([[graft.ml.Forecaster.ModelCoef]] columns): one model's next
    * `nDays` days computed purely from the stored coefficients —
    * bit-identical to re-fitting (MlRegistry serve contract), without
    * touching the fact table. The `model_name` filter is a pushed
    * predicate, so at 10M registered models the scan reads one
    * name's row group, not the registry. */
  def forecastStored(registry: DataFrame, modelName: String, nDays: Int): DataFrame =
    graft.ml.ModelRegistry.forecastFromRegistry(
      graft.ml.ModelRegistry.servingVersions(
        registry.filter(col("model_name") === modelName)),
      horizonRows = nDays + 1)
}

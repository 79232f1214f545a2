package perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{SparkEntry, Tables}
import graft.ml.Forecaster

/** A benchmark workload: a set-up, a stream of timed operations, output
  * checks run outside the timed region, and the figures it reports. */
trait Workload {
  /** Times [[prepare]] runs; `setup_s` charges the median. */
  def prepareReps: Int = 1
  /** Set-up work that can be repeated. */
  def prepare(): Unit
  /** The rest of the set-up, including the untimed warm-up. */
  def warmUp(): Unit
  /** A window runs at least this many operations, and stops only after
    * a multiple of [[unit]]. */
  def minOps: Int
  def unit: Int = 1
  /** Name and body of operation i (counted over the whole process). */
  def op(i: Int): (String, () => Unit)
  /** Output checks of the operations that did not throw, as
    * (operation index, reason) per failure. */
  def check(ops: Seq[(Int, OpRecord)]): Seq[(Int, String)]
  /** Seconds of each user-facing operation made of the good operations:
    * by default one per operation. The end-to-end latency and throughput
    * are taken over these. */
  def latencies(ops: Seq[(Int, OpRecord)]): Seq[Double] = ops.map(_._2.seconds)
  /** Workload-specific figures from the untraced window's good operations. */
  def figures(ops: Seq[(Int, OpRecord)]): Unit
  /** Per-layer metrics from the traced window's good operations. */
  def layers(ops: Seq[(Int, OpRecord)]): Unit
  /** Extra content for the run's detail file. */
  def detail: Map[String, Any] = Map.empty
  /** Remove what the operations wrote; runs after the checks. */
  def cleanup(): Unit = ()
}

object Workload {
  /** Shuffle of `xs` fixed by `seed`. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  val Names: Seq[String] = Seq("pipeline_1k", "catalog_core")

  def apply(name: String, h: Harness, dataDir: String, work: String,
            expected: Map[String, (Long, String)]): Workload = name match {
    case "pipeline_1k" => new PipelineWorkload(h, dataDir, work)
    case "catalog_core" => new CatalogWorkload(h, dataDir, expected)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

/** `pipeline_1k`: the paper's weekly run at 1,000 keys, ending in a
  * serving batch, timed end to end. */
final class PipelineWorkload(h: Harness, dataDir: String, work: String) extends Workload {
  private val p = new SalesPipeline(h, dataDir, work)
  private val outcomes = mutable.Map.empty[Int, RunOutcome]
  private val written = mutable.Map.empty[Int, (Long, Long)]

  /** Requests of run i, drawn from the workload seed. */
  private def rng(i: Int) = new scala.util.Random(h.seed * 1000003L + i)

  def prepare(): Unit = p.writeMessages(h.seed)
  /** Two untimed runs: after one, the JIT still slows the next run by
    * 20–40 %. */
  def warmUp(): Unit =
    (1 to 2).foreach(i => Dirs.deleteTree(p.run(s"$work/warmup$i", rng(-i)).dir))
  def minOps: Int = 2

  def op(i: Int): (String, () => Unit) =
    ("weekly_run", () => outcomes(i) = p.run(s"$work/run$i", rng(i)))

  def check(ops: Seq[(Int, OpRecord)]): Seq[(Int, String)] = ops.flatMap { case (i, _) =>
    outcomes.get(i) match {
      case None => Seq(i -> "run left no outcome")
      case Some(o) =>
        val st = Seq("sales", "series", "models", "forecast_results")
          .map(t => Dirs.parquetStats(s"${o.dir}/$t"))
        written(i) = (st.map(_._1).sum, st.map(_._2).sum)
        p.check(o).map { case (c, r) => i -> s"$c: $r" }
    }
  }

  private def served(ops: Seq[(Int, OpRecord)]): Seq[Served] = ops.flatMap(o => outcomes(o._1).served)

  def figures(ops: Seq[(Int, OpRecord)]): Unit = {
    val med = Stats.median(ops.map(_._2.seconds))
    h.figures("pipeline_s") = (med, "s")
    h.figures("ingest_rows_per_s") =
      (p.sourceRows / Stats.median(ops.map(o => outcomes(o._1).drainSec)), "1/s")
    h.figures("train_models_per_min") = (p.sourceKeys / med * 60, "1/min")
    val ms = served(ops).map(_.seconds * 1000)
    h.figures("serve_p50_ms") = (Stats.median(ms), "ms")
    h.figures("serve_p95_ms") = (Stats.percentile(ms, 0.95), "ms")
  }

  def layers(ops: Seq[(Int, OpRecord)]): Unit = {
    val n = ops.size.toDouble
    val last = outcomes(ops.last._1)
    h.layer("ingest.drain_s") = h.totalSeconds("ingest.drain") / n
    h.layer("ingest.rows") = last.drainRows.getOrElse(-1L).toDouble
    h.layer("ingest.batches") = last.drainBatches.toDouble
    h.layer("ingest.replay_rows") = last.replayRows.getOrElse(-1L).toDouble
    h.layer("forecaster.series_s") = h.totalSeconds("forecaster.series") / n
    h.layer("forecaster.train_s") = h.totalSeconds("forecaster.train") / n
    h.layer("forecaster.keys") = last.keys.toDouble
    h.layer("forecaster.obs") = last.obs.toDouble
    h.layer("registry.register_s") = h.totalSeconds("registry.register") / n
    h.layer("registry.forecast_s") = h.totalSeconds("registry.forecast") / n
    h.layer("registry.gate_pass_frac") = p.gatePassFrac(last)
    h.layer("store.read_s") = h.totalSeconds("store.read") / n
    val w = ops.flatMap(o => written.get(o._1))
    h.layer("store.files_written") = w.map(_._1).sum.toDouble / n
    h.layer("store.bytes_written") = w.map(_._2).sum.toDouble / n
    val reqs = served(ops)
    Seq("stored", "latest").foreach { k =>
      val l = reqs.filter(_.kind == k).map(_.seconds * 1000)
      if (l.nonEmpty) h.layer(s"api.${k}_p50_ms") = Stats.median(l)
    }
    h.layer("api.plan_ms") = h.totalSeconds("api.plan") * 1000 / reqs.size
    h.layer("api.jobs_per_request") =
      Seq("api.build", "api.plan", "api.exec").map(h.counts(_).jobs).sum.toDouble / reqs.size
    h.layer("forecaster.kernel_s") = kernelSeconds(p.seriesByKey(last.dir))
  }

  /** The pure `cvPooled` + `fitCoef` kernel over every key's collected
    * series, on one driver thread. */
  private def kernelSeconds(series: Map[String, Array[Forecaster.Obs]]): Double = {
    val t0 = System.nanoTime()
    val fitted = series.iterator.map { case (k, pts) =>
      Forecaster.cvPooled(k, pts.iterator).size + Forecaster.fitCoef(k, pts.iterator).size
    }.sum
    val sec = (System.nanoTime() - t0) / 1e9
    require(fitted == 2 * series.size, s"kernel fitted $fitted of ${2 * series.size} models")
    sec
  }

  override def cleanup(): Unit = outcomes.values.foreach(o => Dirs.deleteTree(o.dir))
}

/** Physical plan size, looking through adaptive query execution. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan): Int = {
    var n = 0
    foreach(plan)(_ => n += 1)
    n
  }
}

/** `catalog_core`: the core query catalog, one noop-sink execution per
  * query, in a seed-shuffled order per pass. */
final class CatalogWorkload(h: Harness, dataDir: String,
                            expected: Map[String, (Long, String)]) extends Workload {
  import CatalogWorkload._
  private val spark = h.spark
  private val resolve = mutable.ArrayBuffer.empty[(Double, Long)]
  private val warm = mutable.LinkedHashMap.empty[String, Double]
  private val checkFailure = mutable.Map.empty[String, String]
  /** Per query, per traced execution: phase seconds, counts, plan nodes. */
  private val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]

  override def prepareReps: Int = 3

  /** `Tables.table` over all ten tables. */
  def prepare(): Unit = {
    val before = h.counters.map(_.snapshot())
    val t0 = System.nanoTime()
    Tables.All.foreach(t => Tables.table(spark, dataDir, t).schema)
    val sec = (System.nanoTime() - t0) / 1e9
    resolve += ((sec, h.counters.map(_.snapshot().jobs - before.get.jobs).getOrElse(0L)))
  }

  /** One collecting pass in seed order, which fills the fixture memos and
    * checks each result against its oracle hash, then [[WarmPasses]]
    * noop-sink passes of the queries that passed. */
  def warmUp(): Unit = {
    Workload.shuffled(Queries, h.seed).foreach(collectAndCheck)
    (1 to WarmPasses).foreach { p =>
      Workload.shuffled(Queries, h.seed - p).filterNot(checkFailure.contains).foreach { q =>
        try noop(SparkEntry.queries(q)(spark, dataDir))
        catch {
          case e: Exception =>
            checkFailure(q) = s"warm-up threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def collectAndCheck(q: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(q)(spark, dataDir)
      val got = Canon.hash(df.columns.toSeq, df.collect().iterator)
      warm(q) = (System.nanoTime() - t0) / 1e9
      expected.get(q) match {
        case None => checkFailure(q) = "no expected hash"
        case Some(e) if e != got =>
          checkFailure(q) = s"result (rows, sha256) $got, oracle $e"
        case _ => ()
      }
    } catch {
      case e: Exception =>
        warm(q) = (System.nanoTime() - t0) / 1e9
        checkFailure(q) = s"warm-up threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  /** Noop-sink passes after the collecting pass, untimed: the first
    * pass after it still runs 10–40 % slower while the JIT warms. */
  val WarmPasses = 1

  def minOps: Int = 2 * Queries.size
  override def unit: Int = Queries.size

  /** One user-facing operation is a pass over every query. */
  override def latencies(ops: Seq[(Int, OpRecord)]): Seq[Double] = passSeconds(ops, Queries.size)

  def op(i: Int): (String, () => Unit) = {
    val q = Workload.shuffled(Queries, h.seed + 1 + i / Queries.size)(i % Queries.size)
    (q, () => {
      val traced = h.tracer.enabled
      val c0 = if (traced) h.counters.map(_.snapshot()) else None
      val t0 = System.nanoTime()
      val df = h.span("catalog.build")(SparkEntry.queries(q)(spark, dataDir))
      val t1 = System.nanoTime()
      val c1 = if (traced) h.counters.map(_.snapshot()) else None
      val nodes = if (traced) PlanNodes.count(h.span("catalog.plan")(df.queryExecution.executedPlan)) else 0
      val t2 = System.nanoTime()
      h.span("catalog.exec")(noop(df))
      val t3 = System.nanoTime()
      if (traced) {
        val c2 = h.counters.get.snapshot()
        val (b, e) = (c1.get - c0.get, c2 - c1.get)
        phases.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Map(
          "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
          "build_jobs" -> b.jobs.toDouble, "exec_jobs" -> e.jobs.toDouble,
          "stages" -> (b.stages + e.stages).toDouble, "tasks" -> (b.tasks + e.tasks).toDouble,
          "shuffle_write_bytes" -> (b.shuffleWriteBytes + e.shuffleWriteBytes).toDouble,
          "spill_bytes" -> (b.spillBytes + e.spillBytes).toDouble, "plan_nodes" -> nodes.toDouble)
      }
    })
  }

  def check(ops: Seq[(Int, OpRecord)]): Seq[(Int, String)] =
    ops.flatMap { case (i, r) => checkFailure.get(r.name).map(i -> _) }

  def figures(ops: Seq[(Int, OpRecord)]): Unit = {
    val passes = latencies(ops)
    if (passes.nonEmpty) h.figures("catalog_s") = (Stats.median(passes), "s")
    h.figures("query_p50_s") = (Stats.median(ops.map(_._2.seconds)), "s")
  }

  def layers(ops: Seq[(Int, OpRecord)]): Unit = {
    val passes = ops.size.toDouble / Queries.size
    val runs = phases.values.flatten.toSeq
    Seq("build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs", "stages", "tasks",
      "shuffle_write_bytes", "spill_bytes", "plan_nodes").foreach { k =>
      h.layer(s"catalog.$k") = runs.map(_(k)).sum / passes
    }
    h.layer("tables.resolve_s") = Stats.median(resolve.map(_._1).toSeq)
    h.layer("tables.resolve_jobs") = Stats.median(resolve.map(_._2.toDouble).toSeq)
  }

  /** The per-query table: the build/plan/exec split with its counts from
    * traced executions, the warm-up seconds with the fixture builds the
    * first call pays, and the check status. */
  override def detail: Map[String, Any] = Map("queries" -> Queries.map { q =>
    val runs = phases.getOrElse(q, mutable.ArrayBuffer.empty).toSeq
    val med = (k: String) => if (runs.isEmpty) None else Some(Stats.median(runs.map(_(k))))
    val steady = if (runs.isEmpty) None
      else Some(Stats.median(runs.map(r => r("build_s") + r("plan_s") + r("exec_s"))))
    Map("query" -> q, "status" -> checkFailure.getOrElse(q, "ok"),
      "warmup_s" -> warm.get(q), "fixture_build_s" -> steady.map(s => math.max(0.0, warm(q) - s)),
      "steady_s" -> steady, "traced_runs" -> runs.size) ++
      Seq("build_s", "plan_s", "exec_s", "build_jobs", "exec_jobs", "stages", "tasks",
        "shuffle_write_bytes", "spill_bytes", "plan_nodes").map(k => k -> med(k))
  })
}

object CatalogWorkload {
  /** Seconds of each pass of `size` operations, in order; a pass missing
    * an operation (one that failed) is left out. */
  def passSeconds(ops: Seq[(Int, OpRecord)], size: Int): Seq[Double] =
    ops.groupBy(_._1 / size).toSeq.sortBy(_._1).map(_._2)
      .filter(_.size == size).map(_.map(_._2.seconds).sum)

  /** A core slice of the catalog: the reference's own query surface,
    * the forecasting pipeline slice and one compute-bound curation
    * query. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_scan", "q03_join_revenue", "q04_topk",
    "q13_error_metrics",
    "q30_cv_metrics", "q31_forecast", "q32_latest_forecasts", "q77_model_registry",
    "q107_registry_serving",
    "q23_minhash_dup_pairs")
}

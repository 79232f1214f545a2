package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Engine, HostProbe, SparkEntry}

/** One benchmark run in its own JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --result FILE [--expected FILE]
  *                  [--spans FILE]
  *   perfbench.Main --dump-oracle FILE
  *
  * Writes the run's result (end-to-end metrics, per-layer metrics when
  * traced, workload figures, failures, host readings, detail) to the
  * result file; `run.py` turns it into the final line. */
object Main {

  /** Per-layer metrics every traced run reports, with their units. */
  val Layers: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s", "tables.resolve_s" -> "s", "tables.resolve_jobs" -> "count",
    "catalog.build_s" -> "s", "catalog.plan_s" -> "s", "catalog.exec_s" -> "s",
    "catalog.build_jobs" -> "count", "catalog.exec_jobs" -> "count", "catalog.stages" -> "count",
    "catalog.tasks" -> "count", "catalog.shuffle_write_bytes" -> "bytes",
    "catalog.spill_bytes" -> "bytes", "catalog.plan_nodes" -> "count",
    "ingest.drain_s" -> "s", "ingest.rows" -> "count", "ingest.batches" -> "count",
    "ingest.replay_rows" -> "count",
    "forecaster.series_s" -> "s", "forecaster.train_s" -> "s", "forecaster.kernel_s" -> "s",
    "forecaster.keys" -> "count", "forecaster.obs" -> "count",
    "registry.register_s" -> "s", "registry.forecast_s" -> "s",
    "registry.gate_pass_frac" -> "fraction",
    "store.files_written" -> "count", "store.bytes_written" -> "bytes", "store.read_s" -> "s",
    "api.stored_p50_ms" -> "ms", "api.latest_p50_ms" -> "ms", "api.plan_ms" -> "ms",
    "api.jobs_per_request" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB", "host.steal_frac" -> "fraction", "host.probe_s" -> "s",
    "self.bench_s" -> "s", "self.tables_s" -> "s", "self.catalog_s" -> "s",
    "self.ingest_s" -> "s", "self.forecaster_s" -> "s", "self.registry_s" -> "s",
    "self.store_s" -> "s", "self.api_s" -> "s",
    "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "fraction",
    "ops.failed_frac" -> "fraction")

  /** Span names grouped into the layers whose self time is reported. */
  private val SelfLayers: Seq[(String, String)] = Seq(
    "op" -> "bench", "catalog." -> "catalog", "ingest." -> "ingest",
    "forecaster." -> "forecaster", "registry." -> "registry", "store." -> "store",
    "api." -> "api", "tables." -> "tables")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  private def progress(msg: String): Unit =
    println(f"[perfbench ${Host.sinceJvmStartSeconds()}%8.2f s] $msg")

  private def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  private def writeFile(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))

  private def readExpected(path: Option[String]): Map[String, (Long, String)] = path match {
    case None => Map.empty
    case Some(p) =>
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      val js = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Paths.get(p)), UTF_8))
      (js \ "queries").extract[Map[String, Map[String, JValue]]].map { case (q, m) =>
        q -> (m("rows").extract[Long], m("sha256").extract[String])
      }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.get("dump-oracle") match {
      case Some(path) =>
        writeFile(path, json(CatalogWorkload.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
      case None => run(a)
    }
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Engine.tune(SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
      cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSec = Host.sinceJvmStartSeconds()
    try {
      val counters = if (traced) Some(SchedulerCounters.install(spark)) else None
      val h = new Harness(spark, new Tracer(false), counters, seed)
      val w = Workload(workload, h, a("data"), a("work"), readExpected(a.get("expected")))

      progress(s"session ready after $sessionSec s")
      val prep = (1 to w.prepareReps).map { _ =>
        val t0 = System.nanoTime(); w.prepare(); (System.nanoTime() - t0) / 1e9
      }
      progress(s"prepared: ${prep.mkString(", ")} s")
      w.warmUp()
      progress("warmed up")
      val setupSec = Host.sinceJvmStartSeconds() - prep.sum + Stats.median(prep)

      val jiffies0 = Host.cpuJiffies()
      val gc0 = Host.gcSeconds()
      // a traced run interleaves traced and untraced operations, twice the
      // untraced minimum so each kind gets about as many; the difference of
      // their medians is the tracing overhead
      val minOps = if (traced) 2 * w.minOps else w.minOps
      val ops = h.measure(seconds, minOps, w.unit, alternate = traced)(i => w.op(i))
      val rssMb = Host.peakRssMb()
      val gcSec = Host.gcSeconds() - gc0
      val steal = Host.stealFrac(jiffies0, Host.cpuJiffies())

      // output checks, outside every timed region
      val all = ops.zipWithIndex.map(_.swap)
      val checkFails = w.check(all.filter(_._2.ok))
      checkFails.foreach { case (i, r) => h.fail(all(i)._2.name, r) }
      val bad = all.filterNot(_._2.ok).map(_._1).toSet ++ checkFails.map(_._1)
      val good = all.filterNot(o => bad(o._1))
      val goodPlain = good.filterNot(_._2.traced)
      val goodTraced = good.filter(_._2.traced)
      val probe = (1 to 3).map(_ => HostProbe.probeOnce()).min

      val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
      val latencies = w.latencies(goodPlain)
      if (latencies.nonEmpty) {
        e2e("op_p50_ms") = (Stats.median(latencies) * 1000, "ms")
        e2e("ops_per_s") = (latencies.size / latencies.sum, "1/s")
        w.figures(goodPlain)
      }
      e2e("setup_s") = (setupSec, "s")

      if (traced && goodTraced.nonEmpty) {
        val n = goodTraced.size.toDouble
        w.layers(goodTraced)
        h.layer("engine.session_s") = sessionSec
        val perOp = h.counts("op")
        h.layer("spark.jobs") = perOp.jobs / n
        h.layer("spark.stages") = perOp.stages / n
        h.layer("spark.tasks") = perOp.tasks / n
        h.layer("jvm.gc_s") = gcSec / all.size
        h.layer("jvm.peak_rss_mb") = rssMb
        h.layer("host.steal_frac") = steal
        h.layer("host.probe_s") = probe
        val self = Trace.selfSecondsByName(h.tracer.spans)
        SelfLayers.foreach { case (prefix, l) =>
          h.layer(s"self.${l}_s") =
            self.filter(kv => kv._1 == prefix || kv._1.startsWith(prefix)).values.sum / n
        }
        val tracedMed = Stats.median(goodTraced.map(_._2.seconds))
        if (goodPlain.nonEmpty) {
          val plainMed = Stats.median(goodPlain.map(_._2.seconds))
          h.layer("trace.overhead_ms") = (tracedMed - plainMed) * 1000
          h.layer("trace.overhead_frac") = tracedMed / plainMed - 1
        }
        a.get("spans").foreach(p => writeFile(p, json(Trace.toJson(h.tracer.spans))))
      }
      h.layer("ops.failed_frac") = bad.size.toDouble / all.size
      val perLayer = Layers.map { case (k, u) => k -> Map("value" -> h.layer.getOrElse(k, 0.0), "unit" -> u) }

      val result = Map(
        "workload" -> workload, "seed" -> seed, "trace" -> traced,
        "correct" -> bad.isEmpty, "attempted" -> all.size, "failed" -> bad.size,
        "failures" -> h.failures.map { case (n, r) => Map("op" -> n, "reason" -> r) },
        "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "per_layer" -> (if (traced) scala.collection.mutable.LinkedHashMap(perLayer: _*) else Map.empty),
        "figures" -> h.figures.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "op_seconds" -> all.map { case (_, r) => Seq(r.name, r.seconds, r.traced, r.ok) },
        "samples" -> Map("untraced_ops" -> goodPlain.size, "traced_ops" -> goodTraced.size,
          "tail_rank_with_10_beyond" -> Stats.tailRank(goodPlain.size)),
        "host" -> Map("cpus" -> cpus, "steal_frac" -> steal, "probe_s" -> probe, "peak_rss_mb" -> rssMb,
          "probe_ref_s" -> HostProbe.ProbeRefSec),
        "detail" -> w.detail)
      writeFile(a("result"), json(result))
      w.cleanup()
      if ((if (traced) goodTraced else goodPlain).isEmpty)
        throw new IllegalStateException(s"no operation passed its checks; failures are in ${a("result")}")
    } finally spark.stop()
  }
}

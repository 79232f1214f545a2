package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR,
  * writes the full per-query artifact to bench_out.json, and prints ONE
  * COMPACT (<500 B) machine-readable summary line as the last stdout
  * line.
  *
  * Fidelity (round-2 fixes):
  *  - each query is forced through a full materialization via a
  *    noop-format write (sink that deserializes every row) instead of
  *    `.count()`, which let Catalyst prune projection-only work and
  *    flattered the hash-heavy text queries (VERDICT r1 "what's wrong" #3);
  *  - the summary line is printed on a bare line (build.sbt StdoutOutput —
  *    no "[info] " prefix) AND the full artifact is written to
  *    bench_out.json next to the repo.
  *
  * Trust (round-6 fixes — the official artifact was corrupted two rounds
  * running, VERDICT r5 "what's wrong" #1-3):
  *  - the host-health probe is anchored to a COMMITTED absolute
  *    calibration constant, so a whole-session host degradation is
  *    DETECTED (host_degraded stamp) instead of normalized into the
  *    baseline (r5: q49 recorded 49 s min for a 0.29 s query because the
  *    degraded probe became its own baseline);
  *  - the per-run probe baseline is a ROLLING-window best clamped to
  *    [0.7, 1.2]× the calibration constant, so one anomalously fast
  *    turbo-burst probe cannot permanently tighten the threshold
  *    (ADVICE r5) and a degraded session cannot loosen it;
  *  - queries whose runs were ALL dirty are re-measured at the END of
  *    the suite (the storm may have passed) and the better attempt wins;
  *  - every per-query record carries clean_runs, and any query that
  *    fell back to dirty runs is flagged estimator_degraded — a
  *    throttled number is distinguishable from a clean one (ADVICE r5);
  *  - the final stdout line is a compact summary that survives the
  *    driver's 2,000-char tail capture (r5's 11 KB line parsed as null).
  */
object Bench {

  /** One query's timing; `error` is set when a run threw, and then
    * `min`/`med` carry no time. */
  final case class QStat(min: Double, med: Double, runs: Int, dirty: Int, clean: Int,
                         error: Option[String] = None) {
    def failed: Boolean = error.nonEmpty
    def degraded: Boolean = !failed && clean < 2
    /** A run that completed beats one that threw; then more clean
      * evidence wins; with equal evidence the lower median (quieter
      * window) wins. */
    def betterOf(o: QStat): QStat =
      if (o.failed) this
      else if (failed || o.clean > clean || (o.clean == clean && o.med < med)) o
      else this
  }

  /** Seconds of one noop-sink run of a query, or the error it threw. */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
               fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** `(total, total of mins)` over the queries that completed: a query
    * that threw has no time to add. */
  def totals(stats: Seq[QStat]): (Double, Double) = {
    val ok = stats.filterNot(_.failed)
    (ok.map(_.med).sum, ok.map(_.min).sum)
  }

  /** A JSON string literal. */
  def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\" + f"u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    // untimed warmup: absorb session/codegen/first-scan startup so the
    // alphabetically-first query isn't charged ~8 s of JVM warmup
    try {
      Tables.lineitem(spark, sfDir).limit(1000)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Either[String, Double] =
      Bench.timeOnce(spark, sfDir, name, fn)
    // steady-state timing with stall defense. This host shows bursty
    // multi-MINUTE hypervisor CPU-steal windows (/proc/stat steal grows
    // in steps; cgroup throttling is zero, so the noise is external).
    // Defense:
    //  - the HostGate: a run with >5% steal or a slow compute probe is
    //    discarded as dirty, and the bench waits for a clean 500 ms
    //    window before rerunning;
    //  - RATIO backstop: if the clean runs still show median/min > 3x
    //    (a stall steal sampling missed), collect more runs;
    //  - the reported estimator is the median of the 3 FASTEST accepted
    //    runs, with min alongside, and per-query clean/dirty counts are
    //    in the artifact so throttle exposure is visible after the fact.
    val baseRuns = 3
    val maxRuns = 9
    val gate = new HostGate()
    (1 to 3).foreach(_ => gate.healthy()) // JIT-warm the probe, seed the window
    def measure(name: String, fn: (SparkSession, String) => DataFrame): QStat = {
      var clean = Vector.empty[Double]
      var all = Vector.empty[Double]
      var dirtyRuns = 0
      var attempts = 0
      def ratioSuspect(ts: Vector[Double]): Boolean =
        ts.size >= baseRuns && { val s = ts.sorted; s(s.size / 2) / s.head > 3.0 }
      while (attempts < maxRuns && (clean.size < baseRuns || ratioSuspect(clean))) {
        if (dirtyRuns > 0 || ratioSuspect(clean)) gate.waitForClean(20000)
        attempts += 1
        val s0 = gate.steal()
        val t = timeOnce(name, fn) match {
          case Right(sec) => sec
          case Left(error) =>
            // a query that throws is failed, not a fast run
            return QStat(Double.NaN, Double.NaN, attempts, dirtyRuns, clean.size, Some(error))
        }
        all = all :+ t
        gate.dirtyAfter(s0, t) match {
          case Some(why) =>
            dirtyRuns += 1
            System.err.println(f"[bench] $name run ${all.size}: $t%.2f s DIRTY ($why) — discarded")
          case None => clean = clean :+ t
        }
      }
      // Estimator: median of the 3 fastest CLEAN runs. With <2 clean
      // runs the number falls back to all runs INCLUDING dirty ones and
      // the record says so (clean_runs in the artifact, degraded flag) —
      // the r5 artifact reported storm numbers under a clean-sounding
      // estimator name with no per-query tell (ADVICE r5).
      val times = (if (clean.size >= 2) clean else all).sorted
      val med = times(math.min(1, times.size - 1))
      QStat(times.head, med, attempts, dirtyRuns, clean.size)
    }
    // per-stream throughput/state metrics (VERDICT r7 "next" #6): drains
    // run inside each streaming query's first (fixture-building) run;
    // polling the drain log after each measurement attributes records to
    // the query that produced them. Replays report 0 input rows, so the
    // summary keeps the largest-drain record (the real ingest).
    val streamStats = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def harvestStreams(name: String): Unit = {
      val recs = graft.streaming.StreamMetrics.drainLog()
      if (recs.nonEmpty && !streamStats.contains(name)) {
        val real = recs.filter(_.inputRows > 0)
        val best = (if (real.nonEmpty) real else recs).maxBy(_.inputRows)
        streamStats(name) =
          f"""{"drains":${recs.size},"input_rows":${best.inputRows},"batches":${best.batches},"drain_sec":${best.wallSec}%.3f,"rows_per_sec":${best.rowsPerSec}%.1f,"peak_state_rows":${best.peakStateRows},"dropped_by_watermark":${best.droppedByWatermark}}"""
      }
    }
    graft.streaming.StreamMetrics.drainLog() // clear anything from warmup
    // dev-only subset knob (comma-separated names); the driver never sets
    // it, so official runs always time the full declared surface
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Suite-scale contention defense (VERDICT r9 "next" #4): the r8→r9
    // common-subset comparison inflated 16% on untouched queries — the
    // suspected cause is one JVM accumulating 266 plans' codegen classes
    // + GC pressure, under which real per-query regressions can hide.
    // Two measures, both recorded in the artifact:
    //  - a System.gc() breather every `gcEvery` queries bounds how much
    //    collectable garbage any query's timed runs inherit;
    //  - a fixed SENTINEL query (the alphabetically first) is re-timed
    //    at intervals through the suite; its series is the direct
    //    suite-position-vs-time curve. A flat series means per-query
    //    numbers are comparable across rounds regardless of suite size;
    //    a rising series quantifies exactly the inflation to subtract
    //    when comparing a query measured early in one round and late in
    //    another.
    val gcEvery = 20
    val sentinelEvery = 50
    val sentinel = ordered.headOption
    val sentinelSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // Each tick is the MIN of two back-to-back runs: the committed r13
    // quiet-window cuts show single sentinel runs varying up to 1.77x
    // the session min from one-off GC/scheduling jitter, which would
    // drown the hot-span signal — sustained external contention
    // inflates BOTH runs, so the min keeps the signal and sheds the
    // jitter.
    def sentinelTick(pos: Int): Unit = sentinel.foreach { case (sn, sfn) =>
      for (a <- timeOnce(sn, sfn); b <- timeOnce(sn, sfn)) sentinelSeries += ((pos, math.min(a, b)))
    }
    // untimed sentinel warm-up: tick 0 must measure the HOST, not the
    // JVM's warm-up — an inflated first tick would mark the whole
    // opening span dirty on every run. One warm-up run is not enough:
    // in a 2-query sf0.001 smoke the sentinel kept getting faster for
    // 20-25 runs (1.5 s, then 0.30-0.37 s, settling near 0.15 s), so
    // it warms for 40 runs, stopping at the first failure; then the
    // warm-up's garbage is collected, as every gcEvery queries below.
    sentinel.foreach { case (sn, sfn) =>
      (1 to 40).iterator.map(_ => timeOnce(sn, sfn)).forall(_.isRight)
    }
    System.gc()
    sentinelTick(0)
    val firstPass = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % gcEvery == 0) System.gc()
      if (idx > 0 && idx % sentinelEvery == 0) sentinelTick(idx)
      val st = measure(name, fn)
      harvestStreams(name)
      name -> st
    }
    sentinelTick(ordered.size)
    // Sentinel hot spans (VERDICT r13 "next" #1): the per-query steal/
    // probe gates see only the instant around each run; the r12/r13
    // driver windows carried sustained contention they missed (q35
    // 0.38 s measured as 4.24 s with 0 dirty runs). The sentinel series
    // IS the suite-position-vs-host curve, so automate the analysis
    // rule here: a tick > HotFactor x the session-best tick is hot, and
    // the suite span between two ticks is DIRTY if either endpoint is
    // hot. Spans land in the artifact (with each query's suite
    // position) so downstream gates can skip or discount queries timed
    // inside one — and the end-of-suite retry below re-times them.
    // HotFactor 1.3 sits between quiet-window min-of-2 tick jitter and
    // the 2-4x a q35-style burst reads; WHOLE-session elevation (the
    // r12 15-25% case) moves every tick including the min, which is by
    // construction invisible here — that is what the absolute
    // probe_best_vs_ref disclosure (and the budget gate's steal clamp)
    // catches.
    val HotFactor = 1.3
    def dirtySpans(): Vector[(Int, Int)] = {
      val ticks = sentinelSeries.sortBy(_._1).toVector
      if (ticks.size < 2) Vector.empty
      else {
        val base = ticks.map(_._2).min
        ticks.sliding(2).collect {
          case Seq((p1, t1), (p2, t2))
            if p2 > p1 && (t1 > base * HotFactor || t2 > base * HotFactor) =>
              (p1, p2)
        }.toVector
      }
    }
    def inDirty(spans: Vector[(Int, Int)], pos: Int): Boolean =
      spans.exists { case (s, e) => pos >= s && pos < e }
    // End-of-suite retry: a query whose window never went clean kept a
    // storm-era number (r5: q49 exhausted maxRuns mid-storm at 49 s min
    // for a 0.29 s query), and a query timed inside a sentinel hot span
    // above the 3 s budget line kept a contended number the per-run
    // gates could not see (r13: the driver's q486/q35 phantoms). By
    // suite end the storm has often passed — re-measure both classes
    // once and keep the better-attested stat. Retried queries get
    // positions past ordered.size and a closing sentinel tick, so their
    // kept numbers are span-classified too.
    val provisionalSpans = dirtySpans()
    var retryPos = ordered.size
    val results = firstPass.zipWithIndex.map { case ((name, st), idx) =>
      val budgetSuspect = st.med > 3.0 && inDirty(provisionalSpans, idx)
      if (!st.degraded && !budgetSuspect) (name, st, idx)
      else {
        System.err.println(s"[bench] $name: ${st.clean} clean runs, " +
          s"hotSpan=$budgetSuspect — end-of-suite retry")
        gate.waitForClean(30000)
        val re = measure(name, SparkEntry.queries(name))
        val kept = st.betterOf(re)
        // classification position: a budget-suspect query whose retry
        // produced clean evidence is classified at the RETRY position
        // even when the first-pass stat was kept — the retry window is
        // the deliberately-clean one, and if even min(med, re.med) is
        // over budget the cost is real in both windows, so the gate
        // must see it through the retry span's (presumably clean) lens
        val pos = if ((kept eq re) || (budgetSuspect && !re.degraded)) retryPos
                  else idx
        retryPos += 1
        (name, kept, pos)
      }
    }
    if (retryPos > ordered.size) sentinelTick(retryPos)
    val finalSpans = dirtySpans()
    def obj(f: QStat => String, of: Seq[(String, QStat, Int)] = results): String =
      of.map { case (n, st, _) => "\"" + n + "\":" + f(st) }.mkString("{", ",", "}")
    val (ok, failed) = results.partition(!_._2.failed)
    val posJson = results.map { case (n, _, p) => "\"" + n + "\":" + p }
      .mkString("{", ",", "}")
    val spansJson = finalSpans.map { case (s, e) => s"[$s,$e]" }
      .mkString("[", ",", "]")
    val (total, totalMin) = totals(results.map(_._2))
    val nDegraded = results.count(_._2.degraded)
    val probeBestSession = gate.bestProbe
    val probeRatio = probeBestSession / HostProbe.ProbeRefSec
    val hostDegraded = probeRatio > HostProbe.HealthyRatio
    val host = f"""{"probe_ref_sec":${HostProbe.ProbeRefSec},"probe_ref_provenance":"${HostProbe.probeRefProvenance}","probe_best_sec":$probeBestSession%.4f,"probe_best_vs_ref":$probeRatio%.3f,"host_degraded":$hostDegraded,"queries_estimator_degraded":$nDegraded}"""
    val streams = streamStats.map { case (n, j) => "\"" + n + "\":" + j }.mkString("{", ",", "}")
    val sentinelJson = sentinel.map { case (sn, _) =>
      val series = sentinelSeries.map { case (pos, t) => f"""[$pos,$t%.3f]""" }.mkString("[", ",", "]")
      // drift = final tick vs the session-best tick (the first tick
      // carries the sentinel's own codegen warmup, so first-vs-last
      // would understate inflation)
      val drift = if (sentinelSeries.size >= 2)
        sentinelSeries.last._2 / sentinelSeries.map(_._2).min else 1.0
      f"""{"name":"$sn","series_pos_sec":$series,"last_vs_best":$drift%.3f,"gc_every":$gcEvery}"""
    }.getOrElse("null")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","estimator":"median_of_best3_steal_filtered","value_min":$totalMin,"host":$host,"sentinel":$sentinelJson,"dirty_spans":$spansJson,"sentinel_hot_factor":$HotFactor,"query_pos":$posJson,"queries":${obj(_.med.toString, ok)},"queries_min":${obj(_.min.toString, ok)},"failed":${obj(st => jsonString(st.error.get), failed)},"query_runs":${obj(_.runs.toString)},"query_dirty":${obj(_.dirty.toString)},"query_clean":${obj(_.clean.toString)},"streams":$streams,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench_out.json"), full + "\n")
    // The LAST stdout line is a compact (<500 B) summary: the driver
    // captures only a tail of stdout, and r5's single 11 KB line was
    // truncated into unparseable ("parsed": null). Per-query detail
    // lives in bench_out.json; this line always parses.
    val summary = f"""{"metric":"total","value":$total%.2f,"unit":"sec","value_min":$totalMin%.2f,"n_queries":${results.size},"n_failed":${failed.size},"estimator":"median_of_best3_steal_filtered","host":$host,"detail":"bench_out.json","sf":"$sfDir"}"""
    println(summary)
    spark.stop()
  }
}

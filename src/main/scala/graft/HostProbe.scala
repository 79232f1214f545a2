package graft

import java.nio.file.{Files, Paths}

/** Shared host-health instrumentation for every timing main (Bench,
  * ScaleProbe). This host shows two independent noise modes:
  * bursty hypervisor CPU-steal (visible in /proc/stat) and sustained
  * degradation windows with ZERO steal recorded (vCPU caps, frequency
  * cuts, memory-bandwidth contention — r5 observed 5-40× query
  * inflation invisible to steal accounting; the first r6 scale-probe
  * run recorded a 28× inflated number the same way). Defense is an
  * absolute yardstick: a fixed parallel compute probe compared against
  * a COMMITTED calibration constant, so degradation is detected even
  * when it spans the whole session.
  */
object HostProbe {

  /** Absolute probe calibration: seconds for 8 threads × 40M xorshift
    * steps on a QUIET host of this machine class, measured standalone on
    * 2026-08-13 (best of 12 reps: 0.0684 s with a concurrent Spark run;
    * session best 0.0657 s in the same day's bench smoke). A session
    * whose best probe can't approach this is degraded end-to-end.
    *
    * Machine-class-specific by construction: on any other host class,
    * override with `GRAFT_PROBE_REF_SEC=<sec>` (re-calibrate via 12
    * standalone [[probeOnce]] reps, take the best) — otherwise a faster
    * class can never tighten the baseline and a slower class is
    * permanently stamped degraded. [[probeRefProvenance]] is recorded in
    * every timing artifact so numbers are interpretable either way. */
  val ProbeRefSec: Double = sys.env.get("GRAFT_PROBE_REF_SEC") match {
    case None => 0.065
    case Some(v) =>
      // validated at init: a malformed value must fail with the env var's
      // name (not a bare NumberFormatException from a static initializer),
      // and a zero/negative value would make every probe ratio — and the
      // host_degraded verdict — nonsense (ADVICE r7)
      val d = try v.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"GRAFT_PROBE_REF_SEC must be a number of seconds, got '$v'")
      }
      require(d > 0 && !d.isNaN && !d.isInfinite,
        s"GRAFT_PROBE_REF_SEC must be a finite value > 0, got '$v'")
      d
  }

  /** Where the calibration constant came from — stamped into Bench and
    * ScaleProbe artifacts next to the ratio it anchors. */
  val probeRefProvenance: String =
    if (sys.env.contains("GRAFT_PROBE_REF_SEC")) "env:GRAFT_PROBE_REF_SEC"
    else "committed-2026-08-13-best-of-12"

  /** Session-best-vs-reference ratio above which a whole artifact
    * should be stamped host-degraded. */
  val HealthyRatio = 1.5

  @volatile private var sink = 0L

  /** 8 threads × 40M xorshift steps — measures currently-ATTAINABLE
    * parallel compute (~[[ProbeRefSec]] on a quiet host). 8 threads
    * because single-threaded probes miss parallel-only degradation. */
  def probeOnce(): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until 8).map { k =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k
        var i = 0
        while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        sink ^= x
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Machine-wide steal jiffies (field 8 of /proc/stat's aggregate cpu
    * line); -1 when unavailable, callers then disable the steal layer.
    * USER_HZ=100 on this kernel: one jiffy = 10 ms. */
  def stealJiffies(): Long = try {
    Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(-1L)
  } catch { case _: Throwable => -1L }
}

/** The per-run host gate of the timing mains (Bench, ScaleProbe), on both
  * noise layers of [[HostProbe]]:
  *  - DIRECT evidence: steal jiffies are read around every run; a run
  *    during which more than 5% of machine capacity was stolen is dirty
  *    (external evidence, not timing heuristics — a genuinely slow plan
  *    with a quiet host is always kept);
  *  - the compute probe right after every run: a probe over 1.8× the
  *    baseline marks the run dirty even when no steal was recorded
  *    (round 5 saw a ~6-minute window of 5–40× queries with ZERO steal).
  *
  * The baseline is the best of the last 12 probes, CLAMPED to
  * [0.7, 1.2] × [[HostProbe.ProbeRefSec]] (ADVICE r5: an all-time session
  * minimum lets one turbo burst permanently tighten the threshold):
  *  - the 0.7 floor means a freak fast probe can tighten the dirty
  *    threshold by at most 30% below calibration;
  *  - the 1.2 ceiling means a degraded session can NEVER normalize
  *    itself — runs keep getting flagged dirty against (near-)
  *    calibration speed (the r5 failure mode: the session-best anchor
  *    drifted up with the host and 49 s runs of a 0.29 s query passed
  *    as clean).
  *
  * `probe` and `steal` are [[HostProbe.probeOnce]] and
  * [[HostProbe.stealJiffies]] unless a test passes fakes. */
final class HostGate(probe: () => Double = () => HostProbe.probeOnce(),
                     val steal: () => Long = () => HostProbe.stealJiffies()) {
  import HostGate._

  private val nCores = Runtime.getRuntime.availableProcessors()
  private var recent = Vector.empty[Double]
  private var best = Double.MaxValue

  /** Best probe of the session, for the artifact stamp. */
  def bestProbe: Double = best

  def baseline(): Double = {
    val recentBest = if (recent.isEmpty) HostProbe.ProbeRefSec else recent.min
    math.min(math.max(recentBest, HostProbe.ProbeRefSec * 0.7), HostProbe.ProbeRefSec * 1.2)
  }

  /** Runs one probe, adds it to the window, and says whether it came in
    * under [[DirtyFactor]] × the baseline. */
  def healthy(): Boolean = {
    val p = probe()
    recent = (recent :+ p).takeRight(Window)
    if (p < best) best = p
    p < baseline() * DirtyFactor
  }

  /** Share of the machine's capacity stolen between steal readings `s0`
    * and `s1` taken `sec` seconds apart; 0 when steal is unreadable. */
  def stealFrac(s0: Long, s1: Long, sec: Double): Double =
    if (s0 < 0 || s1 < 0) 0.0 else (s1 - s0) * JiffySec / (sec * nCores)

  /** Verdict on a run of `sec` seconds that began at steal reading `s0`:
    * None when clean, else why it is dirty. */
  def dirtyAfter(s0: Long, sec: Double): Option[String] = {
    val stolen = stealFrac(s0, steal(), sec)
    val probeOk = healthy()
    if (stolen > MaxRunSteal || !probeOk)
      Some(f"steal ${stolen * 100}%.1f%%, probeOk=$probeOk")
    else None
  }

  /** Blocks until a 500 ms window passes with under 2% of capacity stolen
    * AND a healthy probe (sleeping costs nothing and lets the neighbor
    * burst pass), for at most `maxWaitMs`. */
  def waitForClean(maxWaitMs: Long): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    while (System.nanoTime() < deadline) {
      val s0 = steal()
      Thread.sleep(500)
      val frac = stealFrac(s0, steal(), 0.5)
      if (frac < MaxWaitSteal && healthy()) return
      System.err.println(f"[host] degraded (steal ${frac * 100}%.1f%%, probe baseline ${baseline()}%.3f s) — waiting it out")
    }
  }
}

object HostGate {
  val Window = 12
  val DirtyFactor = 1.8
  val MaxRunSteal = 0.05
  val MaxWaitSteal = 0.02
  /** USER_HZ=100 on this kernel: one jiffy = 10 ms. */
  val JiffySec = 0.01
}

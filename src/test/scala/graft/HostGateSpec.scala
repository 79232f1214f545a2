package graft

import org.scalatest.funsuite.AnyFunSuite

/** The timing mains' host gate, driven by a fake probe and a fake steal
  * counter: the baseline clamp, the dirty threshold, the rolling window,
  * the steal fraction and the clean-window wait. */
class HostGateSpec extends AnyFunSuite {

  val ref = HostProbe.ProbeRefSec
  val nCores = Runtime.getRuntime.availableProcessors()

  /** A gate whose probe returns `probes(i)` on its i-th call and whose
    * steal counter reads `stolen`, plus the number of probes taken. */
  final class Fake(probes: Int => Double) {
    var calls = 0
    var stolen = 1000L
    val gate = new HostGate(() => { calls += 1; probes(calls - 1) }, () => stolen)
  }

  test("the gate constants are the bench's") {
    assert(HostGate.Window == 12)
    assert(HostGate.DirtyFactor == 1.8)
    assert(HostGate.MaxRunSteal == 0.05)
    assert(HostGate.MaxWaitSteal == 0.02)
  }

  test("the baseline is the recent best clamped to [0.7, 1.2] x ref") {
    val fast = new Fake(_ => ref * 0.1)
    assert(fast.gate.baseline() == ref, "an empty window reads the reference")
    fast.gate.healthy()
    assert(fast.gate.baseline() == ref * 0.7)
    val slow = new Fake(_ => ref * 5)
    (1 to 3).foreach(_ => slow.gate.healthy())
    assert(slow.gate.baseline() == ref * 1.2)
    assert(slow.gate.bestProbe == ref * 5)
    val mid = new Fake(_ => ref * 1.1)
    mid.gate.healthy()
    assert(mid.gate.baseline() == ref * 1.1)
  }

  test("a probe is dirty from 1.8 x the baseline") {
    val seq = Vector(ref, ref * 1.79, ref * 1.81)
    val f = new Fake(seq)
    assert(f.gate.healthy())
    assert(f.gate.healthy())
    assert(!f.gate.healthy())
    assert(f.gate.bestProbe == ref)
  }

  test("the baseline forgets a probe after 12 newer ones") {
    val f = new Fake(i => if (i == 0) ref * 0.8 else ref)
    f.gate.healthy()
    (1 to 11).foreach(_ => f.gate.healthy())
    assert(f.gate.baseline() == ref * 0.8)
    f.gate.healthy()
    assert(f.gate.baseline() == ref)
    assert(f.gate.bestProbe == ref * 0.8, "the session best is kept for the artifact")
  }

  test("the steal fraction is stolen jiffies over the machine's capacity") {
    val g = new Fake(_ => ref).gate
    assert(g.stealFrac(100, 100 + 10L * nCores, 2.0) == 10L * nCores * 0.01 / (2.0 * nCores))
    assert(g.stealFrac(-1, 500, 1.0) == 0.0, "unreadable steal disables the layer")
    assert(g.stealFrac(100, -1, 1.0) == 0.0)
  }

  test("a run is dirty above 5% steal or on a slow probe") {
    val f = new Fake(i => if (i < 2) ref else ref * 3)
    val s0 = f.stolen
    // 4% of the machine over a 1 s run
    f.stolen = s0 + math.round(0.04 * nCores / HostGate.JiffySec)
    assert(f.gate.dirtyAfter(s0, 1.0).isEmpty)
    f.stolen = s0 + math.round(0.06 * nCores / HostGate.JiffySec)
    assert(f.gate.dirtyAfter(s0, 1.0).exists(_.contains("probeOk=true")))
    f.stolen = s0
    assert(f.gate.dirtyAfter(s0, 1.0).exists(_.contains("probeOk=false")))
  }

  test("waitForClean returns on the first window of a quiet host") {
    val f = new Fake(_ => ref)
    val t0 = System.nanoTime()
    f.gate.waitForClean(20000)
    assert((System.nanoTime() - t0) / 1e9 < 5.0)
    assert(f.calls == 1)
  }

  test("waitForClean gives up on a degraded host at its deadline") {
    val f = new Fake(_ => ref * 10)
    val t0 = System.nanoTime()
    f.gate.waitForClean(1200)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 1.2 && sec < 5.0)
    assert(f.calls >= 2)
  }
}

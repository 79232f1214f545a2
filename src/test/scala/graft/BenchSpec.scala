package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` failure accounting: a query that throws is recorded as
  * failed with its message and adds nothing to the totals. */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  test("a throwing query is a failure with its message, not a fast run") {
    val got = Bench.timeOnce(spark, sf, "boom", (_, _) => throw new IllegalStateException("no such table"))
    assert(got == Left("IllegalStateException: no such table"))
    val ok = Bench.timeOnce(spark, sf, "q05_distinct", SparkEntry.queries("q05_distinct"))
    assert(ok.exists(_ > 0.0))
  }

  test("failed queries stay out of total and value_min") {
    val fine = Bench.QStat(min = 1.0, med = 2.0, runs = 3, dirty = 0, clean = 3)
    val broken = Bench.QStat(Double.NaN, Double.NaN, 1, 0, 0, Some("boom"))
    assert(Bench.totals(Seq(fine, broken, fine)) == ((4.0, 2.0)))
    assert(!broken.degraded, "a failure is not retried as a noisy measurement")
    assert(fine.betterOf(broken) eq fine)
    assert(broken.betterOf(fine) eq fine)
  }

  test("failure messages are escaped for bench_out.json") {
    assert(Bench.jsonString("a \"q\"\\\n") == "\"a \\\"q\\\"\\\\\\u000a\"")
  }
}

package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine
import graft.api.ForecastApi
import graft.ml.Forecaster
import graft.ml.Forecaster.Obs

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    Engine.tune(SparkSession.builder().master("local[2]").appName("perfbench-test"), "2")
      .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("nearest-rank percentile picks an observed sample") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 0.95) == 10.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(Seq(3.0), 0.99) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 0.34) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("tail rank keeps at least ten samples beyond it") {
    assert(Stats.tailRank(1000).contains(0.99))
    assert(Stats.tailRank(200).contains(0.95))
    assert(Stats.tailRank(100).contains(0.9))
    assert(Stats.tailRank(40).contains(0.75))
    assert(Stats.tailRank(19).isEmpty)
  }

  test("self time is a span minus the union of its children") {
    val spans = Seq(
      Span(0, -1, "op", 0, 0, 100),
      Span(1, 0, "a", 0, 10, 40),
      Span(2, 0, "b", 0, 30, 60), // overlaps a: union 10..60
      Span(3, 1, "a.inner", 0, 15, 25),
      Span(4, 0, "c", 0, 90, 130)) // clipped to the parent's end
    val self = Trace.selfNs(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30 - 10)
    assert(self(2) == 30)
    assert(self(3) == 10)
    val byName = Trace.selfSecondsByName(spans)
    assert(byName("op") == 40 / 1e9)
  }

  test("a tracer records nested spans with their parent and request") {
    val t = new Tracer(true)
    t.request = 7
    t.span("outer")(t.span("inner")(()))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(t.spans.forall(_.request == 7))
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("an operation that throws counts as failed and is left out of timings") {
    val h = new Harness(null, new Tracer(false), None, 0L)
    val ops = h.measure(0.0, 4, 1, alternate = false) { i =>
      (s"op$i", () => if (i % 2 == 1) throw new IllegalStateException(s"boom $i"))
    }
    assert(ops.size == 4)
    assert(ops.count(!_.ok) == 2)
    assert(h.failures.map(_._1) == Seq("op1", "op3"))
    assert(h.failures.forall(_._2.contains("boom")))
  }

  test("a window stops only after a whole unit of operations") {
    val h = new Harness(null, new Tracer(false), None, 0L)
    val ops = h.measure(0.0, 1, 5, alternate = true)(i => (s"q$i", () => ()))
    assert(ops.size == 5)
    val traced = h.measure(0.0, 4, 1, alternate = true)(i => (s"q$i", () => ()))
    assert(traced.map(_.traced) == Seq(false, true, true, false))
  }

  test("a catalog pass with a failed query is left out of the pass times") {
    val ops = (0 until 9).map(i => i -> OpRecord(s"q$i", 1.0 + i % 3, traced = false, None))
    assert(CatalogWorkload.passSeconds(ops, 3) == Seq(6.0, 6.0, 6.0))
    assert(CatalogWorkload.passSeconds(ops.filterNot(_._1 == 4), 3) == Seq(6.0, 6.0))
    assert(CatalogWorkload.passSeconds(ops.take(8), 3) == Seq(6.0, 6.0))
  }

  test("the canonical hash follows values, not column order") {
    import org.apache.spark.sql.Row
    val a = Canon.hash(Seq("b", "A"), Iterator(Row(1.5, "x"), Row(null, "y")))
    val b = Canon.hash(Seq("a", "B"), Iterator(Row("x", 1.5), Row("y", null)))
    assert(a == b)
    val c = Canon.hash(Seq("a", "b"), Iterator(Row("x", 1.5 + 1e-15), Row("y", null)))
    assert(c._2 != a._2)
    assert(Canon.value(new java.math.BigDecimal("12.3400")) == "D12.34")
    assert(Canon.value(new java.math.BigDecimal("0.000")) == "D0")
  }

  /** 70 daily points with a trend and a weekly pattern. */
  private def series(key: String): Seq[Obs] = (0 until 70).map { x =>
    val day = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(x.toLong))
    Obs(key, day, x, 1000L + 7L * x + (x % 7) * 50L + (x * 37 % 11))
  }

  test("the serving check passes a faithful registry and catches a perturbed coefficient") {
    import spark.implicits._
    val h = new Harness(spark, new Tracer(false), None, 0L)
    val p = new SalesPipeline(h, "unused", "unused")
    val pts = series("7")
    val pooled = Forecaster.cvPooled("7", pts.iterator).next()
    val coef = Forecaster.fitCoef("7", pts.iterator).next()
    val fit = Fitted("7", pooled.n_test, pooled.ssq3, pooled.train_end, coef.slope,
      coef.intercept, coef.sdow, coef.ci3, coef.maxx)
    val registry = p.registryRows(Seq(fit).toDS(), lit("production"))
    val days = 9
    val expected = ServeCheck.points(Forecaster.forecastKey("7", pts.iterator, days + 1).toSeq)
    def served(reg: org.apache.spark.sql.DataFrame) = ServeCheck.points(
      ForecastApi.forecastStored(reg, "supplier-7", days).collect().toSeq,
      "day", "yhat3", "lo3", "hi3")

    assert(ServeCheck.compare(served(registry), expected).isEmpty)
    val perturbed = registry.withColumn("icept", col("icept") + 1.0)
    assert(ServeCheck.compare(served(perturbed), expected).exists(_.contains("re-fit gives")))
    assert(ServeCheck.compare(served(registry).dropRight(1), expected).isDefined)
  }
}

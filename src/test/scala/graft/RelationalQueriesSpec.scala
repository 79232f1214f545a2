package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator checks on sf0.001 (fast); the DuckDB hash-match gate runs
  * driver-side at sf0.01 — these specs pin structural invariants the hash
  * can't see (plan shape, determinism across reruns, schema).
  */
class RelationalQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  test("every declared query runs non-empty on sf0.001 and is deterministic") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val a = fn(spark, sf).collect()
      assert(a.nonEmpty, s"$name returned 0 rows")
      val b = fn(spark, sf).collect()
      assert(a.sameElements(b), s"$name not deterministic across reruns")
    }
  }

  test("every query has an oracle and every oracle has a query") {
    // the driver's compare dies on a missing oracle key (r1/r2 both came
    // back {} with exactly one rows-only query declared) — full coverage
    // is load-bearing, not style
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("entry() smoke: flagship join returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q02 filter is pushed to the parquet scan") {
    val plan = SparkEntry.queries("q02_filter_scan")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"), plan)
  }

  test("q04 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("q04_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q06 latest-per-key keeps exactly one row per user and the max id") {
    import spark.implicits._
    val got = SparkEntry.queries("q06_latest_per_key")(spark, sf)
    val users = got.select("user_id").as[Long].collect()
    assert(users.distinct.length === users.length)
    val maxIds = Tables.events(spark, sf).groupBy("user_id")
      .max("event_id").as[(Long, Long)].collect().toMap
    got.select("user_id", "event_id").as[(Long, Long)].collect()
      .foreach { case (u, id) => assert(maxIds(u) === id) }
  }

  test("q08 inclusive date sequence yields 8 days per order (7-day horizon)") {
    val counts = SparkEntry.queries("q08_date_sequence")(spark, sf)
      .groupBy("o_orderkey").count().collect()
    assert(counts.forall(_.getLong(1) == 8))
  }

  test("rangeJoin equals the naive theta join and keeps an equi-join plan") {
    import graft.ops.Relational.rangeJoin
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // boundary-heavy points and intervals: exact ends, bin-straddling,
    // empty, and out-of-range intervals all covered
    val pts = Seq(0L, 1L, 7L, 8L, 15L, 16L, 49L, 50L, 63L).toDF("p")
    val ivs = Seq((0L, 0L, "a"), (1L, 3L, "b"), (2L, 20L, "c"),
      (15L, 16L, "d"), (60L, 100L, "e"), (200L, 300L, "never")).toDF("lo", "hi", "tag")
    val got = rangeJoin(pts, col("p"), ivs, col("lo"), col("hi"), 8)
      .select("p", "tag").as[(Long, String)].collect().sorted.toSeq
    val want = pts.crossJoin(ivs).filter(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "tag").as[(Long, String)].collect().sorted.toSeq
    assert(got == want)
    // the big-big shape: with broadcast off this must stay an EQUI-join
    // on the bin key — never a nested-loop/cartesian theta join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = PlanAtScale(spark)(rangeJoin(pts, col("p"), ivs, col("lo"), col("hi"), 8)
        .queryExecution.executedPlan.toString)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q03 broadcasts the nation dim") {
    val plan = PlanAtScale(spark)(SparkEntry.queries("q03_join_revenue")(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}

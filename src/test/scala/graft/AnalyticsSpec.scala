package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the analytics surface (AnalyticsQueries,
  * q154-q157): the OLS closed form agrees with a driver-side exact
  * recomputation, RFM buckets tile the user base, the star join's plan
  * broadcasts every dim and pushes both filters into scans, and the
  * contract audit proves it scanned (zero-violation rows present).
  */
class AnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q154 OLS: slope/intercept match an exact BigInt recomputation per type") {
    val rows = run("q154_group_ols").collect()
    assert(rows.nonEmpty)
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 1000000) as bigint)")).as("y6"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    daily.groupBy(_._1).foreach { case (t, g) =>
      val d0 = g.map(_._2).min
      val xs = g.map(p => BigInt(java.time.temporal.ChronoUnit.DAYS.between(d0, p._2)))
      val ys = g.map(p => BigInt(p._3))
      val n = BigInt(g.length)
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      def sdiv(a: BigInt, b: BigInt) = if (a < 0) -(a.abs / b) else a / b
      val slope = sdiv(num, den)
      val icept = sdiv(sy - slope * sx, n)
      val row = rows.find(_.getString(0) == t).get
      assert(row.getLong(2) == slope.toLong, s"$t slope")
      assert(row.getLong(3) == icept.toLong, s"$t intercept")
    }
  }

  test("q155 RFM: buckets tile the user base; money conserved; codes well-formed") {
    val rows = run("q155_rfm_segments").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e = Tables.events(spark, sf)
    val nUsers = e.select("user_id").distinct().count()
    assert(rows.map(_._2).sum == nUsers, "every user lands in exactly one segment")
    val totalMoney = e.select(sum(expr("cast(round(value * 1000000) as bigint)")))
      .collect()(0).getLong(0)
    assert(rows.map(_._3).sum == totalMoney, "monetary mass conserved")
    rows.foreach { case (seg, _, _) =>
      val (r, f, m) = (seg / 100, (seg / 10) % 10, seg % 10)
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5, s"segment $seg")
    }
  }

  test("q156 star join: all dims broadcast, both filters pushed to scans") {
    val plan = PlanAtScale(spark)(run("q156_star_join").queryExecution.executedPlan.toString)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4,
      "part, customer, nation, region must all broadcast")
    assert(!plan.contains("CartesianProduct"))
    val df = run("q156_star_join")
    val formatted = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) { df.explain("formatted") }
      out.toString
    }
    assert(formatted.contains("Brand#12"), "p_brand filter pushed into scan")
    assert(formatted.contains("1-URGENT"), "o_orderpriority filter pushed into scan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length == rows.length)
  }

  test("q157 contract audit: five rules, full-scan denominator, counts match recomputation") {
    val rows = run("q157_contract_audit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 5, "one row per declared rule")
    val e = Tables.events(spark, sf)
    val nRows = e.count()
    val expected = Map(
      "value_nonnegative" -> e.filter(col("value") < 0).count(),
      "known_event_type" -> e.filter(!col("event_type").isin(
        "click", "view", "purchase", "signup", "error")).count(),
      "ts_in_contract_window" -> e.filter(col("ts") < to_timestamp(lit("2024-01-01")) ||
        col("ts") >= to_timestamp(lit("2025-01-01"))).count(),
      "positive_user_id" -> e.filter(col("user_id").isNull || col("user_id") <= 0).count(),
      "props_json_object" -> e.filter(col("props").isNull ||
        !col("props").startsWith("{")).count())
    rows.foreach { case (rule, viol, n) =>
      assert(n == nRows, s"$rule: denominator is the full scan")
      assert(viol == expected(rule), s"$rule: violation count matches recomputation")
    }
    // the fixture ships real violations (user_id=0 rows) — the audit must see them
    assert(expected("positive_user_id") > 0, "fixture is known-dirty on user_id")
  }

  test("q162 log histogram: buckets tile [2^b, 2^(b+1)), counts conserve the scan") {
    val rows = run("q162_log_histogram").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val nPos = Tables.events(spark, sf).filter(col("value") > 0).count()
    assert(rows.map(_._3).sum == nPos, "every positive value lands in one bucket")
    rows.foreach { case (t, b, _, lo, hi) =>
      assert(lo >= (1L << b) && hi < (1L << (b + 1)),
        s"$t bucket $b: [$lo,$hi] inside [2^$b, 2^${b + 1})")
    }
  }

  test("q163 ship latency: non-negative lags, counts conserve the join") {
    val rows = run("q163_ship_latency").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // the synthetic fixture's ship dates are independent of order dates —
    // the histogram's extremes must match a direct recomputation (masking
    // negative lags would be a bug)
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        .cast("long").as("lat"))
      .agg(min("lat"), max("lat")).collect()(0)
    assert(rows.map(_._2).min == direct.getLong(0), "min lag matches")
    assert(rows.map(_._2).max == direct.getLong(1), "max lag matches")
    val joined = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey")).count()
    assert(rows.map(_._3).sum == joined, "histogram mass = joined row count")
    assert(rows.map(_._1).toSet.size == 5, "all five priorities present")
  }

  test("q164 trigrams: counts non-increasing, alphabet closed, mass bounded") {
    val rows = run("q164_event_trigrams").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq, "sorted desc")
    val types = Set("click", "view", "purchase", "signup", "error")
    rows.foreach { case (a, b, c, n) =>
      assert(types(a) && types(b) && types(c) && n > 0)
    }
    // total trigram mass = sum over users of max(0, n_events - 2)
    val mass = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => math.max(0L, r.getLong(1) - 2)).sum
    assert(rows.map(_._4).sum <= mass, "top-20 can't exceed total mass")
  }

  test("q165 HT estimate: inflation arithmetic exact, sample subset of scan") {
    val rows = run("q165_ht_estimate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, n, ns, exact, est, err) =>
      assert(ns <= n, s"$t: sample within scan")
      assert(est % 10 == 0, s"$t: estimate is 10x an integer sum")
      assert(err == (est - exact).abs * 10000 / exact, s"$t: err formula")
    }
    val direct = Tables.events(spark, sf)
      .filter(expr("cast(conv(substring(md5(cast(event_id as string)), 1, 4), 16, 10) as bigint) % 10 = 0"))
      .count()
    assert(rows.map(_._3).sum == direct, "sampled row count matches direct filter")
  }

  test("q166 lag-1 autocorrelation: defined and within [-1, 1] per type") {
    val rows = run("q166_lag_autocorr").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, n, cor) = (r.getString(0), r.getLong(1), r.getDouble(2))
      assert(n >= 2, s"$t: needs at least two day pairs")
      assert(!cor.isNaN && cor >= -1.0 && cor <= 1.0, s"$t: r=$cor")
    }
  }

  test("q167 join-cardinality sketch: estimate never undershoots, exact matches recount") {
    val r = run("q167_join_cardinality_sketch").collect()(0)
    val (exact, est, over) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(over >= 0, "CMS inner product can only overestimate")
    assert(est == exact + over)
    val e = Tables.events(spark, sf).select(col("user_id"), unix_micros(col("ts")).as("us"))
    val mm = e.agg(min("us"), max("us")).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val h = e.withColumn("h", when(col("us") * 2 <= lo + hi, 1).otherwise(2))
      .groupBy("h", "user_id").count()
    val direct = h.filter(col("h") === 1).select(col("user_id"), col("count").as("c1"))
      .join(h.filter(col("h") === 2).select(col("user_id"), col("count").as("c2")), Seq("user_id"))
      .agg(coalesce(sum(expr("c1 * c2")), lit(0L))).collect()(0).getLong(0)
    assert(exact == direct, "exact join size matches the direct two-half recount")
  }

  test("q168 watermark sizing: ordered percentiles, late fraction bounded") {
    val rows = run("q168_watermark_sizing").collect()
    assert(rows.nonEmpty)
    val perType = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (t, n, late, p95, p99, mx) = (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert(n == perType(t), s"$t: full scan")
      assert(late <= n && late >= 0, s"$t: late fraction bounded")
      assert(p95 <= p99 && p99 <= mx.toDouble, s"$t: percentiles ordered")
      assert(mx >= 0)
    }
  }

  test("q169 top-k with ties: every priority's distinct top-3 prices, all ties kept") {
    val rows = run("q169_topk_with_ties").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byPrio = Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    byPrio.foreach { case (prio, orders) =>
      val top3prices = orders.map(_._3).distinct.sorted(Ordering[Double].reverse).take(3).toSet
      val expected = orders.filter(o => top3prices(o._3)).map(_._2).toSet
      val got = rows.filter(_._1 == prio).map(_._2).toSet
      assert(got == expected, s"$prio: dense-rank top-3 must include every tie")
    }
  }

  test("q170 ratio to report: shares bounded, region totals exact, floor remainder tight") {
    val rows = run("q170_ratio_to_report").collect()
      .map(r => (r.getString(0), r.getDecimal(2), r.getDecimal(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (region, g) =>
      val total = g.head._3
      assert(math.abs(g.map(_._2.doubleValue).sum - total.doubleValue) < 0.01,
        s"$region: nation revenues tile the region total")
      val shareSum = g.map(_._4).sum
      assert(shareSum <= 1000000L && shareSum > 1000000L - g.length,
        s"$region: floor-rounded shares sum to 1e6 minus at most one ulp per nation")
    }
  }

  test("q171 merkle reconcile: corruption localised to exactly the mutated buckets") {
    val rows = run("q171_merkle_reconcile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == 64, "full bucket fan-out")
    val e = Tables.events(spark, sf).select(col("event_id"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10) as bigint)"))
    val touched = e.filter(col("h") % 97 === 0 || col("h") % 89 === 0)
      .select(expr("event_id % 64")).collect().map(_.getLong(0)).toSet
    rows.foreach { case (b, nb, nr, sync) =>
      assert(nb >= nr, s"bucket $b: replica only drops rows")
      if (sync) assert(!touched(b) && nb == nr, s"bucket $b claims sync but was touched")
      else assert(touched(b), s"bucket $b claims divergence but was never mutated")
    }
    assert(rows.exists(!_._4), "the corruption fixture must produce divergent buckets")
  }

  test("q172 Theil-Sen: pair counts exact, median within the slope envelope") {
    val rows = run("q172_theil_sen").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val days = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts"))).count()
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (t, nPairs, med) =>
      val d = days(t)
      assert(nPairs == d * (d - 1) / 2, s"$t: all day pairs with xj > xi")
      assert(!med.isNaN, s"$t: median defined")
    }
  }

  test("q158 streaming hourly uniques: hash-identical to the batch distinct count") {
    val got = SparkEntry.queries("q158_stream_hourly_uniques")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = Tables.events(spark, sf)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(countDistinct(col("user_id")).as("n"))
      .orderBy("hour_us").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(batch), "stream drain must equal batch countDistinct")
    assert(got.nonEmpty)
  }

  test("q159 z-order: z is a bijective interleave; bucket spans provably < 64") {
    val rows = run("q159_zorder_layout").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.events(spark, sf).count(), "every row lands in a bucket")
    rows.foreach { r =>
      val (minU, maxU, minD, maxD) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      // z div 4096 fixes bits >= 12 of z, hence bits >= 6 of each dim
      assert(maxU - minU < 64, s"user span in bucket ${r.getLong(0)}")
      assert(maxD - minD < 64, s"day span in bucket ${r.getLong(0)}")
    }
    // bijectivity: interleave then de-interleave round-trips on a sample
    def z(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    def unz(v: Long): (Long, Long) =
      ((0 until 16).map(i => ((v >> (2 * i)) & 1L) << i).sum,
        (0 until 16).map(i => ((v >> (2 * i + 1)) & 1L) << i).sum)
    for (x <- Seq(0L, 1L, 63L, 255L, 65535L); y <- Seq(0L, 2L, 64L, 30L))
      assert(unz(z(x, y)) == ((x, y)), s"roundtrip ($x, $y)")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Relational._

/** Plan-shape and semantic invariants for the feature-engineering surface
  * (FeatureQueries, q50-q56) — the properties that decide whether each
  * operator survives a 100-TB input, which the sf0.01 hash gate can't see.
  */
class FeatureQueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  // exchanges are inserted by EnsureRequirements, i.e. only visible in
  // executedPlan (sparkPlan is pre-preparation); count the hash ones
  private def hashShuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("q50 sessionize: ONE hash shuffle serves both windows and both groupBys") {
    // lag window, running-sum window, per-(user, session) agg and per-user
    // agg all cluster on user_id — a second hash exchange would mean the
    // gaps-and-islands rewrite lost its co-partitioning at 100 TB
    PlanAtScale(spark) {
      val df = SparkEntry.queries("q50_sessionize")(spark, sf)
      val n = hashShuffles(df)
      assert(n == 1, s"expected 1 hash shuffle, got $n:\n${df.queryExecution.executedPlan}")
    }
  }

  test("sessionize splits on gap > gapSec and never across keys") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, 0L), (1L, 2L, 100L), (1L, 3L, 2000L), // gap 1900 > 1800 → new session
      (2L, 4L, 0L)                                   // other key always restarts
    ).toDF("user_id", "event_id", "sec")
    val got = sessionize(rows, Seq("user_id"), $"sec", $"event_id", gapSec = 1800L)
      .select("user_id", "event_id", "session_id").as[(Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(got.toSeq == Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }

  test("q51 hashSplit is a pure key function: stable across runs, ~75/12.5/12.5, narrow") {
    import spark.implicits._
    def split() = hashSplit(Tables.documents(spark, sf), org.apache.spark.sql.functions.col("doc_id"))
    PlanAtScale(spark) {
      val d = split()
      assert(hashShuffles(d) == 0, "split assignment must not shuffle")
    }
    val d = split()
    val counts = d.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
    assert(counts("train") > counts("val") && counts("train") > counts("test"), counts.toString)
    // same doc always lands in the same split (pure function of doc_id)
    val a = d.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = hashSplit(Tables.documents(spark, sf), org.apache.spark.sql.functions.col("doc_id"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("q52 rollup plans as a single-pass Expand (grouping sets), not two aggregates") {
    val plan = SparkEntry.queries("q52_rollup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
  }

  test("q53 ntile window is key-partitioned — no single-partition global sort") {
    PlanAtScale(spark) {
      val df = SparkEntry.queries("q53_ntile_per_lang")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"), s"global window detected:\n$plan")
      assert(hashShuffles(df) == 1, s"ntile + groupBy should share the lang clustering:\n$plan")
    }
  }

  test("q55 pivot with a declared value list plans exactly its two agg phases") {
    // Spark's pivot = count per (user, type), then pivotfirst per user:
    // two hash exchanges, but the first partial-aggregates map-side so the
    // shuffle carries ≤ |users|·|types| rows, and the declared value list
    // means NO eager distinct-discovery job before planning (the killer at
    // 100 TB — .pivot(col) without values runs a collect first)
    PlanAtScale(spark) {
      val df = SparkEntry.queries("q55_pivot")(spark, sf)
      val n = hashShuffles(df)
      assert(n == 2, s"expected the 2 pivot agg exchanges, got $n:\n${df.queryExecution.executedPlan}")
    }
  }

  test("q57 session_window: sessions per user are disjoint, ordered, and gap-separated") {
    import spark.implicits._
    val rows = SparkEntry.queries("q57_session_window")(spark, sf)
      .select("user_id", "start_us", "end_us", "n").as[(Long, Long, Long, Long)]
      .collect()
    val gapUs = 1800L * 1000000L
    rows.groupBy(_._1).foreach { case (u, rs) =>
      rs.foreach { case (_, s, e, n) =>
        assert(e - s >= gapUs && n >= 1, s"user $u: window [$s,$e) shorter than gap")
      }
      rs.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          // end-exclusive windows: next session starts at or after prev end
          assert(s2 >= e1, s"user $u: overlapping sessions")
        case _ => ()
      }
    }
    // total events preserved
    assert(rows.map(_._4).sum == Tables.events(spark, sf).count())
  }

  test("q58 cube is a single Expand pass and its grand total matches the table count") {
    import spark.implicits._
    val df = SparkEntry.queries("q58_cube")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("Expand"))
    val grand = df.filter($"status" === "ALL" && $"priority" === "ALL")
      .select("n").as[Long].collect()
    assert(grand.toSeq == Seq(Tables.orders(spark, sf).count()))
  }

  test("q59 doc-frequency: ≤10 terms per lang, df non-increasing, rank window is post-agg") {
    import spark.implicits._
    val rows = SparkEntry.queries("q59_doc_freq")(spark, sf)
      .select("lang", "df", "rnk").as[(String, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.length <= 10, s"$lang has ${rs.length} rows")
      assert(rs.map(_._2).toSeq == rs.map(_._2).sortBy(-_).toSeq, s"$lang df not descending")
      assert(rs.map(_._3).toSeq == (1L to rs.length).toSeq, s"$lang ranks not dense")
    }
  }

  test("q60 unpivot round-trips q55: melted counts sum back to the event total") {
    import spark.implicits._
    val melted = SparkEntry.queries("q60_unpivot")(spark, sf)
    assert(melted.select("n").as[Long].collect().sum == Tables.events(spark, sf).count())
    // every user carries exactly the 5 declared feature rows
    val perUser = melted.groupBy("user_id").count().select("count").as[Long].collect()
    assert(perUser.forall(_ == 5))
  }

  test("q61 quantile sketch: quartiles are ordered and are actual data values") {
    import spark.implicits._
    val rows = SparkEntry.queries("q61_approx_quantile")(spark, sf)
      .select("lang", "p25", "p50", "p75").as[(String, Long, Long, Long)].collect()
    val byLang = Tables.documents(spark, sf).select("lang", "n_chars")
      .as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    rows.foreach { case (lang, p25, p50, p75) =>
      assert(p25 <= p50 && p50 <= p75, s"$lang quartiles out of order")
      // discrete quantile: each is an element of the group, not interpolated
      Seq(p25, p50, p75).foreach(q => assert(byLang(lang).contains(q), s"$lang: $q not a data value"))
    }
  }

  test("q62 RANGE frame sums exactly the trailing 7 calendar days, not 7 rows") {
    import spark.implicits._
    val rows = SparkEntry.queries("q62_trailing_7d")(spark, sf)
      .select("event_type", "day", "n", "trail7_n")
      .as[(String, java.sql.Date, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val byDay = rs.map(r => r._2.toLocalDate -> r._3).toMap
      rs.foreach { case (t, day, _, trail) =>
        val d = day.toLocalDate
        val expect = (0 to 6).map(i => byDay.getOrElse(d.minusDays(i), 0L)).sum
        assert(trail == expect, s"$t $day: trail7_n=$trail expect=$expect")
      }
    }
  }

  test("q63 rank features: pct_rank/cume in (0,1], monotone in n_chars within lang") {
    import spark.implicits._
    val rows = SparkEntry.queries("q63_rank_features")(spark, sf)
      .select("lang", "n_chars", "pct_rank", "cume")
      .as[(String, Long, Double, Double)].collect()
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && r._4 > 0.0 && r._4 <= 1.0))
      assert(rs.exists(_._4 == 1.0), s"$lang: max cume_dist must be 1.0")
      val sorted = rs.sortBy(r => (r._2, r._3))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq, s"$lang pct_rank not monotone")
    }
  }

  test("connectedComponents: chain collapses to min label, isolates keep their own id") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 5-4, 4-3, 3-2, 2-1 (diameter 4 forces multiple rounds); 9 isolated
    val edges = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("a", "b")
    val got = graft.ops.Graph.connectedComponents(verts, "id", edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 9L -> 9L))
  }

  test("q64 components are consistent with q23's pairs and q65's accounting") {
    import spark.implicits._
    val comp = SparkEntry.queries("q64_dup_components")(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every doc labeled, label never exceeds the doc id, label is a member
    assert(comp.size == Tables.documents(spark, sf).count())
    assert(comp.forall { case (d, c) => c <= d && comp(c) == c })
    // both endpoints of every dup pair land in the same component
    val pairs = TextQueries.queries("q23_minhash_dup_pairs")(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"pair ($a,$b) split") }
    val Array((nDocs, nKept, nDropped)) =
      SparkEntry.queries("q65_dedup_retention")(spark, sf)
        .as[(Long, Long, Long)].collect()
    assert(nDocs == comp.size && nKept == comp.values.toSet.size && nDropped == nDocs - nKept)
  }

  test("q66 grouping sets: marginals only — no cross cells, one Expand pass") {
    import spark.implicits._
    val df = SparkEntry.queries("q66_grouping_sets")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("Expand"))
    val rows = df.select("status", "priority").as[(String, String)].collect()
    assert(rows.forall { case (s0, p) => s0 == "ALL" || p == "ALL" },
      "grouping sets ((status),(priority),()) must never emit a cross cell")
    assert(rows.count { case (s0, p) => s0 == "ALL" && p == "ALL" } == 1)
  }

  test("q67 exact-moment correlation is a valid Pearson r") {
    import spark.implicits._
    val rows = SparkEntry.queries("q67_corr_exact")(spark, sf)
      .select("event_type", "r").as[(String, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (t, r) =>
      assert(!r.isNaN && math.abs(r) <= 1.0, s"$t: r=$r out of range") }
  }

  test("q72 co-bucketed join is shuffle-free: only the final aggregate exchanges") {
    val df = SparkEntry.queries("q72_bucketed_join")(spark, sf)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try PlanAtScale(spark) {
      val fresh = SparkEntry.queries("q72_bucketed_join")(spark, sf)
      val n = hashShuffles(fresh)
      assert(n == 1, s"join must use bucket co-location, got $n hash shuffles:\n${fresh.queryExecution.executedPlan}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(df.count() == 5)
  }

  test("q76 rolling distinct matches a direct per-anchor distinct count") {
    import spark.implicits._
    val got = SparkEntry.queries("q76_rolling_distinct")(spark, sf)
      .as[(String, java.sql.Date, Long)].collect()
    import org.apache.spark.sql.functions.{col, to_date}
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .as[(String, java.sql.Date, Long)].collect()
    got.foreach { case (t, day, u7) =>
      val d = day.toLocalDate
      val expect = raw.filter { case (rt, rd, _) =>
        rt == t && !rd.toLocalDate.isAfter(d) && rd.toLocalDate.isAfter(d.minusDays(7))
      }.map(_._3).distinct.length
      assert(u7 == expect, s"($t,$day): u7=$u7 expect=$expect")
    }
    // anchors = exactly the observed (type, day) pairs
    assert(got.map(r => (r._1, r._2)).toSet == raw.map(r => (r._1, r._2)).toSet)
  }

  test("q61 rank discipline: percentile_approx at accuracy 1e5 selects DuckDB's nearest-rank element for every n in 1..40") {
    // q61's oracle asserts strict equality between Spark percentile_approx
    // and DuckDB quantile_disc. Both are exact below the accuracy bound,
    // but their DISCRETE-rank definitions must also pick the same element
    // at boundary ranks (ADVICE r4). DuckDB's rule, probed exhaustively:
    // sorted element at 1-based rank max(ceil(p*n), 1). Sweep every group
    // size the boundary could bite at, all three declared quantiles.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, percentile_approx}
    val ps = Seq(0.25, 0.5, 0.75)
    for (n <- 1 to 40) {
      // non-uniform gaps so an off-by-one rank is a visible value change
      val vals = (1 to n).map(i => i.toLong * i)
      val row = vals.toDF("v").agg(
        percentile_approx(col("v"), lit(ps(0)), lit(100000)),
        percentile_approx(col("v"), lit(ps(1)), lit(100000)),
        percentile_approx(col("v"), lit(ps(2)), lit(100000))).head()
      ps.zipWithIndex.foreach { case (p, i) =>
        val duck = vals(math.max(math.ceil(p * n).toInt, 1) - 1)
        assert(row.getLong(i) == duck,
          s"n=$n p=$p: spark=${row.getLong(i)} quantile_disc=$duck")
      }
    }
  }

  test("q56 lag window runs over the aggregated daily rows, not the fact table") {
    import spark.implicits._
    val got = SparkEntry.queries("q56_dod_delta")(spark, sf)
    // first day of each type: delta == n (lag coalesced to 0); deltas
    // telescope back to the last day's n
    val rows = got.select("event_type", "n", "delta").as[(String, Long, Long)].collect()
    val byType = rows.groupBy(_._1)
    byType.foreach { case (t, rs) =>
      assert(rs.head._2 == rs.head._3, s"$t first-day delta should equal n")
      assert(rs.map(_._3).sum == rs.last._2, s"$t deltas should telescope to last n")
    }
  }

  test("q112 sliding windows: every event in exactly duration/slide windows, starts on the slide grid") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q112_sliding_window")(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == 2 * nEvents,
      "600s windows every 300s => each event covered by exactly 2 windows")
    rows.foreach { r =>
      assert(r.getLong(1) % 300000000L == 0L, "window starts align to the slide grid")
      assert(r.getLong(2) >= 1L)
    }
    // the window assignment is closed-form in the scan (an Expand), never
    // a join against a generated window spine
    val plan = PlanAtScale(spark)(SparkEntry.queries("q112_sliding_window")(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("Expand") || plan.contains("explode"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}

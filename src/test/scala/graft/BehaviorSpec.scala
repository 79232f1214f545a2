package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the behavioral-analytics surface
  * (BehaviorQueries, q98-q100): cohort conservation, funnel monotonicity,
  * attribution verdicts vs a naive per-purchase recomputation.
  */
class BehaviorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def executed(name: String) = PlanAtScale(spark) {
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q98 cohort retention: offset-0 diagonal counts every user exactly once") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q98_cohort_retention")(spark, sf).collect()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    // every user appears in their own cohort's week 0
    val week0 = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    assert(week0 == nUsers, s"week-0 sum $week0 != $nUsers users")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0, "offsets never precede the cohort week")
      assert(r.getLong(2) >= 1)
    }
    // retention never exceeds the cohort's size
    val c0 = rows.filter(_.getLong(1) == 0L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach(r => assert(r.getLong(2) <= c0(r.getLong(0))))
  }

  test("q99 funnel: stage counts monotone non-increasing, rates exact") {
    val r = SparkEntry.queries("q99_funnel")(spark, sf).collect().head
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel must narrow: $v $c $p")
    assert(v > 0 && c > 0)
    assert(r.getLong(3) == c * 10000 / v)
    assert(r.getLong(4) == p * 10000 / c)
  }

  test("q99 funnel stages agree with a per-user sequential scan") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
      .groupBy(_._1)
    var (nv, nc, np) = (0L, 0L, 0L)
    ev.values.foreach { es =>
      val vt = es.filter(_._2 == "view").map(_._3).minOption
      vt.foreach { v0 =>
        nv += 1
        val ct = es.filter(e => e._2 == "click" && e._3 > v0).map(_._3).minOption
        ct.foreach { c0 =>
          nc += 1
          if (es.exists(e => e._2 == "purchase" && e._3 > c0)) np += 1
        }
      }
    }
    val r = SparkEntry.queries("q99_funnel")(spark, sf).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((nv, nc, np)))
  }

  test("q100 attribution: one shuffle-window plan, verdicts match naive recompute, partitions purchases") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q100_last_touch")(spark, sf).collect()
    val nPurch = Tables.events(spark, sf).filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getLong(1)).sum == nPurch)
    rows.foreach(r => assert(r.getLong(2) + r.getLong(3) == r.getLong(1)))
    // naive verdict recomputation on the driver (spec scale only)
    val es = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3)))
    val byUser = es.groupBy(_._2)
    var attributed = 0L
    byUser.values.foreach { us =>
      val clicks = us.filter(_._3 == "click")
      us.filter(_._3 == "purchase").foreach { p =>
        val prior = clicks.filter(c =>
          c._4.getTime < p._4.getTime ||
            (c._4.getTime == p._4.getTime && c._1 < p._1))
        val last = prior.map(_._4.getTime).maxOption
        if (last.exists(l => p._4.getTime / 1000 - l / 1000 <= 3600)) attributed += 1
      }
    }
    assert(rows.map(_.getLong(2)).sum == attributed)
    // the plan is window-based: no join between purchases and clicks
    val plan = executed("q100_last_touch")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("q114 decayed engagement: exact BigInt recomputation, power-of-two ladder") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q114_decayed_engagement")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 1000000).cast("long").as("v6"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val maxd = ev.map(_._2).maxBy(_.toEpochDay)
    ev.groupBy(_._1).foreach { case (u, rs) =>
      val score = rs.map { case (_, d, v) =>
        val age = maxd.toEpochDay - d.toEpochDay
        if (age <= 30) BigInt(v) << (30 - age).toInt else BigInt(0)
      }.sum
      assert(got(u) == (rs.length.toLong, score), s"user $u")
    }
  }

  test("q115 transitions: per-user sequencing conserves rows, probabilities row-normalize") {
    val rows = SparkEntry.queries("q115_event_transitions")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_._3).sum == nEvents - nUsers,
      "each user contributes exactly (events - 1) transitions")
    rows.groupBy(_._1).foreach { case (prev, rs) =>
      assert(rs.map(_._3).sum == rs.head._4, s"$prev: n_from consistent")
      rs.foreach(t => assert(t._5 == t._3 * 1000000 / t._4))
      // integer floor division: row sums land within one ulp-per-cell of 1
      val pSum = rs.map(_._5).sum
      assert(pSum <= 1000000 && pSum > 1000000 - rs.length, prev)
    }
  }
}

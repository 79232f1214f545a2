package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the flow surface (FlowQueries, q227-q230):
  * the reflection identity equals the literal recursive fold, HITS
  * iterations conserve/grow mass coherently, the streaming drain
  * really drops late rows, and compaction bins tile the month ledger.
  */
class FlowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q227 capped balance: reflection identity equals the literal fold") {
    val got = run("q227_capped_balance").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // literal per-user fold: B = max(B + dx, 0)
    val moves = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("""cast(round(value * 1000000) as bigint) *
               |  (CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END)"""
          .stripMargin).as("dx6"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    moves.foreach { case (user, rows) =>
      var bal = 0L; var peak = 0L; var atFloor = 0L
      rows.sortBy(r => (r._2.getTime * 1000 + r._2.getNanos / 1000 % 1000, r._3))
        .foreach { case (_, _, _, dx) =>
          bal = math.max(bal + dx, 0L)
          peak = math.max(peak, bal)
          if (bal == 0L) atFloor += 1
        }
      val (n, gotPeak, gotFinal, gotFloor) = got(user)
      assert(n == rows.size)
      assert(gotPeak == peak, s"user $user peak")
      assert(gotFinal == bal, s"user $user final")
      assert(gotFloor == atFloor, s"user $user floor hits")
    }
  }

  test("q228 HITS: authority-1 equals weighted in-degree; a2 dominated by total mass") {
    val rows = run("q228_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.sliding(2).foreach {
      case Array((_, _, x), (_, _, y)) => assert(x >= y, "a2 sorted desc")
      case _ =>
    }
    // a1 of a part = number of lineitems for that part (hub0 = 1)
    val inDeg = Tables.lineitem(spark, sf).groupBy("l_partkey").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (p, a1, a2) =>
      assert(a1 == inDeg(p), s"part $p a1 = weighted in-degree")
      assert(a2 >= a1, "second iteration only amplifies (h1 >= 1 per buyer)")
    }
  }

  test("q229 late ledger: real watermark drops happened; totals reconcile") {
    graft.streaming.StreamMetrics.drainLog() // clear
    val rows = run("q229_late_drop_ledger").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty, "watermark-closed windows emitted")
    assert(rows.map(_._1).distinct.length == rows.length, "each window emitted once")
    val stats = graft.streaming.StreamMetrics.drainLog()
    // fixture may be cached from an earlier query build in this JVM; only
    // assert the drop metric when this call actually ran the drain
    if (stats.nonEmpty) {
      assert(stats.map(_.droppedByWatermark).sum > 0,
        "state operator really dropped late rows")
    }
    // accepted rows can never exceed the full corpus
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_._2).sum <= total)
  }

  test("q229 oracle dependency pin: one-batch-late rows survive the lagged watermark filter") {
    // The q229 DuckDB oracle hardcodes Spark's multi-stateful-operator
    // watermark propagation: the late-input filter for micro-batch k
    // uses the watermark carried over from batches ≤ k−2 (the PREVIOUS
    // batch's value), while eviction uses the current one. The
    // consequence the oracle relies on: rows arriving ONE batch late
    // always clear the two-batch-lagged horizon and are never dropped
    // (verified when q229 was built). If a Spark upgrade changes the
    // propagation — e.g. filtering with the CURRENT batch's watermark —
    // one-batch-late stragglers older than (batch max − 7 days) start
    // dropping and this test fails with a pointed message, instead of
    // the change surfacing as an opaque q229 hash mismatch in
    // attestation.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.streaming.StreamIngest
    val work = Engine.tempDir("wmpin")
    val ev = Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_id"))
    val Array(t0, t1) = ev.agg(min("us"), max("us")).collect()
      .flatMap(r => Array(r.getLong(0), r.getLong(1) + 1))
    val third = (t1 - t0) / 3
    val tagged = ev
      .withColumn("third", least(expr(s"(us - $t0) div $third"), lit(2L)))
      .withColumn("straggler",
        expr("cast(conv(substring(md5(cast(event_id as string)), 1, 4), 16, 10) as bigint) % 10 = 0"))
      .withColumn("batch", least(col("third") +
        when(col("straggler"), 1L).otherwise(0L), lit(2L))) // ONE batch late
    val windows = StreamIngest.orderedFileStream(work,
        (0 to 2).map(b => tagged.filter(col("batch") === b).select("us", "event_id")),
        StructType(Seq(StructField("us", LongType), StructField("event_id", LongType))))
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "7 days")
      .groupBy(window(col("ts"), "1 day").as("wnd"))
      .agg(count(lit(1)).as("n_accepted"))
      .select(unix_micros(col("wnd.start")).as("day_us"), col("n_accepted"))
    graft.streaming.StreamMetrics.drainLog() // clear
    StreamIngest.drain(windows, "append", s"$work/ckpt") {
      (b, _) => b.write.mode("append").parquet(s"$work/out")
    }
    // append mode never emits the still-open trailing windows, so the
    // emitted total is ≤ corpus by construction; the DROP metric is the
    // propagation signal.
    val dropped = graft.streaming.StreamMetrics.drainLog()
      .map(_.droppedByWatermark).sum
    assert(dropped == 0,
      s"Spark's watermark propagation changed: $dropped one-batch-late rows were " +
        s"dropped by the state operator — the q229 DuckDB oracle's hardcoded " +
        s"two-batch-lag watermark replay (FlowQueries q229 oracle) must be re-derived")
    val accepted = spark.read.parquet(s"$work/out")
      .agg(sum("n_accepted")).collect()(0).getLong(0)
    assert(accepted <= ev.count(), "emitted windows never exceed the corpus")
  }

  test("q230 compaction bins: order-preserving tiling, conserved rows") {
    val rows = run("q230_compaction_bins").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5)))
    val nMonths = Tables.orders(spark, sf)
      .select(date_format(col("o_orderdate"), "yyyy-MM")).distinct().count()
    assert(rows.map(_._2).sum == nMonths, "every month assigned to exactly one bin")
    assert(rows.map(_._3).sum == Tables.orders(spark, sf).count(), "rows conserved")
    rows.sliding(2).foreach {
      case Array((b1, _, _, _, to1, _), (b2, _, _, from2, _, _)) =>
        assert(b1 < b2 && to1 < from2, "bins are contiguous, order-preserving month spans")
      case _ =>
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantics-and-repair subsystem (round 10, forty-second wave): the
  * rank-window semantics matrix, functional-dependency majority repair,
  * business-day arithmetic, and the stream-stream LEFT OUTER join with
  * watermark-expired null emission.
  *
  * Reference intent: the reference's SQLAlchemy users lean on window
  * functions and date arithmetic whose cross-engine semantics are
  * exactly where silent divergence lives — q341 pins percent_rank /
  * cume_dist / ntile / lag-lead DEFAULTS against DuckDB the way q208
  * pinned the two percentile conventions and q264 the six join types.
  * q342 closes q234's loop: FD confidence measured there becomes the
  * REPAIR here (per-key majority vote with collateral accounting).
  * q343 is settlement-date math (order date + 3 business days) as a
  * weekday-indexed closed form — no loops, no calendar table, both
  * engines share the literal CASE. q344 completes the §2.9 join
  * matrix: q41 proved the inner interval join; LEFT OUTER is a
  * different state machine (null rows may only emit after the
  * watermark proves no match can still arrive — certified against the
  * batch left join).
  */
object SemanticsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── G286: rank-window semantics matrix ─────────────────────────────
    // Per event type's daily-count series: the anchor (latest) day's
    // percent_rank / cume_dist within the count ordering, its ntile(4)
    // bucket, and lag/lead BY TIME with explicit -1 defaults — lead of
    // the latest day must take the default path, which is exactly the
    // cross-engine trap this matrix pins. percent_rank/cume_dist are
    // exact rationals evaluated in IEEE double by both engines from
    // identical operands, floored at e6 (the q274 one-IEEE-op
    // precedent). Windows are partitioned by type over the day-grain
    // series — cell-scale after one corpus reduce.
    "q341_window_matrix" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val byCnt = Window.partitionBy("event_type").orderBy(col("x").asc, col("day").asc)
      val byDay = Window.partitionBy("event_type").orderBy(col("day").asc)
      daily
        .withColumn("n_days", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("pr", percent_rank().over(byCnt))
        .withColumn("cd", cume_dist().over(byCnt))
        .withColumn("pr_e6", expr("cast(floor(1000000 * pr) as bigint)"))
        .withColumn("cd_e6", expr("cast(floor(1000000 * cd) as bigint)"))
        .withColumn("nt4", ntile(4).over(byCnt).cast(LongType))
        .withColumn("lag_x", lag(col("x"), 1, -1L).over(byDay))
        .withColumn("lead_x", lead(col("x"), 1, -1L).over(byDay))
        .withColumn("is_last", col("day") === max(col("day")).over(Window.partitionBy("event_type")))
        .filter(col("is_last"))
        .select(col("event_type"), col("n_days"), col("x"), col("lag_x"),
          col("lead_x"), col("pr_e6"), col("cd_e6"), col("nt4"))
        .orderBy("event_type")
    }),

    // ── G287: functional-dependency majority repair ────────────────────
    // o_custkey → nationkey is a true FD (via the customer dim); a 3%
    // md5-picked corruption breaks it, and the repair assigns every
    // key its majority value (ties to the smallest). The ledger counts
    // what any production repair must disclose: corrupted rows fixed,
    // corrupted rows the majority could NOT fix (single-row keys whose
    // only evidence is the corruption), and clean rows a wrong
    // majority would damage (collateral — zero here whenever
    // corruption stays under 50% per key). One corpus shuffle to
    // (key, value) grain; the argmax is a partitioned window.
    "q342_fd_repair" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").cast(LongType).as("true_nat"))),
          col("o_custkey") === col("c_custkey"))
        .withColumn("dirty", expr(
          "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 5), 16, 10) as bigint) % 33 = 0"))
        .withColumn("obs_nat", when(col("dirty"),
          (col("true_nat") + 7) % 25).otherwise(col("true_nat")))
      val maj = base.groupBy("o_custkey", "obs_nat").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("n").desc, col("obs_nat").asc)))
        .filter(col("rk") === 1)
        .select(col("o_custkey").as("k"), col("obs_nat").as("repaired_nat"))
      base.join(maj, col("o_custkey") === col("k"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("dirty"), 1L).otherwise(0L)).as("n_dirty"),
          sum(when(col("dirty") && col("repaired_nat") === col("true_nat"), 1L)
            .otherwise(0L)).as("n_repaired"),
          sum(when(col("dirty") && col("repaired_nat") =!= col("true_nat"), 1L)
            .otherwise(0L)).as("n_unrepairable"),
          sum(when(!col("dirty") && col("repaired_nat") =!= col("true_nat"), 1L)
            .otherwise(0L)).as("n_collateral"),
          countDistinct("o_custkey").as("n_keys"))
        .withColumn("repair_rate_e4", expr("n_repaired * 10000 div greatest(n_dirty, 1)"))
    }),

    // ── G288: business-day offset (settlement-date arithmetic) ─────────
    // Settlement = order date + 3 business days, as a weekday-indexed
    // closed form (Mon/Tue jump 3, Wed-Fri jump 5 over the weekend,
    // Sat 4, Sun 3). Weekday is computed portably as days-since-a-
    // known-Monday mod 7 — NEVER an engine weekday builtin (Spark
    // dayofweek is Sun=1, DuckDB's is Sun=0, isodow differs again; the
    // arithmetic form cannot disagree). The census certifies every
    // settlement lands Mon-Fri and counts month-boundary crossings —
    // the rows a fiscal-period report must re-bucket.
    "q343_business_days" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("d"))
        .withColumn("dowm", expr(
          "((datediff(d, date '1995-01-02') % 7) + 7) % 7"))
        .withColumn("off", expr(
          "case dowm when 0 then 3 when 1 then 3 when 2 then 5 when 3 then 5 when 4 then 5 when 5 then 4 else 3 end"))
        .withColumn("settle", expr("date_add(d, off)"))
        .withColumn("settle_dowm", expr(
          "((datediff(settle, date '1995-01-02') % 7) + 7) % 7"))
      d.groupBy(col("dowm"))
        .agg(count(lit(1)).as("n_orders"),
          min("off").cast(LongType).as("offset_days"),
          max(col("settle_dowm")).cast(LongType).as("max_settle_dowm"),
          sum(when(col("settle_dowm") >= 5, 1L).otherwise(0L)).as("n_weekend_settles"),
          sum(when(expr("month(settle) != month(d)"), 1L).otherwise(0L)).as("n_cross_month"))
        .withColumn("dowm", col("dowm").cast(LongType))
        .orderBy("dowm")
    }),

    // ── G289: stream-stream LEFT OUTER join (watermark null emission) ──
    // Clicks left-join views on user within [click − 10 min, click]:
    // matched pairs emit immediately; a click's NULL row may only emit
    // once the watermark proves no qualifying view can still arrive —
    // the state machine q41's inner join never exercises. The fixture
    // routes the event stream into two time-halves (no stragglers), so
    // the drained result must equal the batch left join EXACTLY; both
    // sides exclude the final 2 minutes before the EARLIER stream's
    // end — the global watermark is the min over both inputs' (max
    // event time − delay), so that is where the flush guarantee stops
    // (the cutoff is data-anchored and mirrored by the oracle; learned
    // from a real one-click mismatch when anchored on the overall
    // max). Output is the batch-order-invariant census with an
    // md5_60-xor over the full pair set.
    "q344_stream_outer_join" -> ((s, dir) => {
      val work = PipelineQueries.cachedFixture(s"streamouter|$dir") { work =>
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "view"))
          .select(unix_micros(col("ts")).as("us"), col("event_id"),
            col("user_id"), col("event_type").as("etype"))
        val Array(t0, t1) = ev.agg(min("us"), max("us")).collect()
          .flatMap(r => Array(r.getLong(0), r.getLong(1) + 1))
        val half = (t1 - t0) / 2
        val parsed = streaming.StreamIngest.orderedFileStream(work,
          (0 to 1).map(b => ev.filter(expr(s"least((us - $t0) div $half, 1)") === b)),
          StructType(Seq(StructField("us", LongType), StructField("event_id", LongType),
            StructField("user_id", LongType), StructField("etype", StringType))))
        val clicks = parsed.filter(col("etype") === "click")
          .select(col("user_id"), col("event_id").as("c_id"),
            timestamp_micros(col("us")).as("c_ts"))
          .withWatermark("c_ts", "1 minute")
        val views = parsed.filter(col("etype") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
            timestamp_micros(col("us")).as("v_ts"))
          .withWatermark("v_ts", "1 minute")
        val joined = clicks.join(views,
            expr("user_id = v_user and v_ts between c_ts - interval 10 minutes and c_ts"),
            "leftOuter")
          .select(col("c_id"), unix_micros(col("c_ts")).as("c_us"), col("v_id"))
        streaming.StreamIngest.drain(joined, "append", s"$work/ckpt") {
          (b, _) => b.write.mode("append").parquet(s"$work/out")
        }
      }
      // the global watermark is the MIN over both streams' (max event
      // time − delay), so the flush guarantee anchors on the EARLIER
      // stream's end — least(max click, max view) − 2 min
      val cutoff = Tables.events(s, dir)
        .agg((least(
          max(when(col("event_type") === "click", unix_micros(col("ts")))),
          max(when(col("event_type") === "view", unix_micros(col("ts")))))
          - 120000000L).as("cut_us"))
      s.read.parquet(s"$work/out")
        .crossJoin(broadcast(cutoff))
        .filter(col("c_us") <= col("cut_us"))
        .agg(count(lit(1)).as("n_result_rows"),
          countDistinct("c_id").as("n_clicks"),
          sum(when(col("v_id").isNotNull, 1L).otherwise(0L)).as("n_matched_rows"),
          sum(when(col("v_id").isNull, 1L).otherwise(0L)).as("n_null_rows"),
          expr("bit_xor(md5_60(concat(cast(c_id as string), '|', coalesce(cast(v_id as string), 'null'))))")
            .as("xor60_pairs"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q341_window_matrix" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                 CAST(COUNT(*) AS BIGINT) AS x
        |               FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
        |        CAST(FLOOR(1000000 * percent_rank() OVER cnt) AS BIGINT) AS pr_e6,
        |        CAST(FLOOR(1000000 * cume_dist() OVER cnt) AS BIGINT) AS cd_e6,
        |        CAST(ntile(4) OVER cnt AS BIGINT) AS nt4,
        |        CAST(LAG(x, 1, -1) OVER tm AS BIGINT) AS lag_x,
        |        CAST(LEAD(x, 1, -1) OVER tm AS BIGINT) AS lead_x,
        |        day = MAX(day) OVER (PARTITION BY event_type) AS is_last
        |      FROM daily
        |      WINDOW cnt AS (PARTITION BY event_type ORDER BY x ASC, day ASC),
        |             tm AS (PARTITION BY event_type ORDER BY day ASC))
        |SELECT event_type, n_days, x, lag_x, lead_x, pr_e6, cd_e6, nt4
        |FROM w WHERE is_last ORDER BY event_type""".stripMargin,

    "q342_fd_repair" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |                CAST(c_nationkey AS BIGINT) AS true_nat,
        |                CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 5) AS BIGINT)
        |                  % 33 = 0 AS dirty
        |              FROM orders JOIN customer ON o_custkey = c_custkey),
        |obs AS (SELECT *, CASE WHEN dirty THEN (true_nat + 7) % 25
        |                       ELSE true_nat END AS obs_nat FROM base),
        |cnt AS (SELECT o_custkey, obs_nat, COUNT(*) AS n FROM obs GROUP BY 1, 2),
        |maj AS (SELECT o_custkey, obs_nat AS repaired_nat FROM
        |          (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |             ORDER BY n DESC, obs_nat ASC) AS rk FROM cnt) z
        |        WHERE rk = 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
        |       CAST(SUM(CASE WHEN dirty AND repaired_nat = true_nat THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired,
        |       CAST(SUM(CASE WHEN dirty AND repaired_nat != true_nat THEN 1 ELSE 0 END) AS BIGINT) AS n_unrepairable,
        |       CAST(SUM(CASE WHEN NOT dirty AND repaired_nat != true_nat THEN 1 ELSE 0 END) AS BIGINT) AS n_collateral,
        |       CAST(COUNT(DISTINCT obs.o_custkey) AS BIGINT) AS n_keys,
        |       CAST(SUM(CASE WHEN dirty AND repaired_nat = true_nat THEN 1 ELSE 0 END) * 10000
        |         // GREATEST(SUM(CASE WHEN dirty THEN 1 ELSE 0 END), 1) AS BIGINT) AS repair_rate_e4
        |FROM obs JOIN maj ON obs.o_custkey = maj.o_custkey""".stripMargin,

    "q343_business_days" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |             ((CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-02' AS BIGINT) % 7) + 7) % 7 AS dowm
        |           FROM orders),
        |o AS (SELECT *, CASE dowm WHEN 0 THEN 3 WHEN 1 THEN 3 WHEN 2 THEN 5
        |                WHEN 3 THEN 5 WHEN 4 THEN 5 WHEN 5 THEN 4 ELSE 3 END AS off
        |      FROM d),
        |st AS (SELECT *, d + CAST(off AS INT) AS settle FROM o),
        |s2 AS (SELECT *, ((CAST(settle - DATE '1995-01-02' AS BIGINT) % 7) + 7) % 7 AS sdowm
        |       FROM st)
        |SELECT CAST(dowm AS BIGINT) AS dowm, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(MIN(off) AS BIGINT) AS offset_days,
        |       CAST(MAX(sdowm) AS BIGINT) AS max_settle_dowm,
        |       CAST(SUM(CASE WHEN sdowm >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_settles,
        |       CAST(SUM(CASE WHEN month(settle) != month(d) THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_month
        |FROM s2 GROUP BY dowm ORDER BY dowm""".stripMargin,

    "q344_stream_outer_join" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_id, user_id, event_type
        |            FROM events WHERE event_type IN ('click', 'view')),
        |cut AS (SELECT LEAST(
        |          MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |          MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |          - 120000000 AS cut_us FROM events),
        |c AS (SELECT user_id, event_id AS c_id, us AS c_us FROM ev WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS v_id, us AS v_us FROM ev WHERE event_type = 'view'),
        |j AS (SELECT c.c_id, c.c_us, v.v_id
        |      FROM c LEFT JOIN v ON v.user_id = c.user_id
        |        AND v.v_us BETWEEN c.c_us - 600000000 AND c.c_us)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_result_rows,
        |       CAST(COUNT(DISTINCT c_id) AS BIGINT) AS n_clicks,
        |       CAST(SUM(CASE WHEN v_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_rows,
        |       CAST(SUM(CASE WHEN v_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows,
        |       bit_xor(CAST('0x' || substr(md5(CAST(c_id AS VARCHAR) || '|' ||
        |         COALESCE(CAST(v_id AS VARCHAR), 'null')), 1, 15) AS BIGINT)) AS xor60_pairs
        |FROM j, cut WHERE c_us <= cut_us""".stripMargin
  )
}

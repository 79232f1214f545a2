package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Relational.boundedGlobalRank

/** Estimator-infrastructure subsystem (round 10, forty-seventh wave):
  * the stream-stream FULL OUTER join that completes the §2.9 join
  * matrix, an AMS F₂ sketch accuracy audit, Duffield priority
  * sampling with its subset-sum estimator, and a randomized-response
  * local-DP release with exact debiasing.
  *
  * Reference intent: the reference's streaming job only ever inner-
  * joins (services/airflow/dags/spark_streaming.py:45-53) and its
  * analytics trust raw counts. These four land the machinery a 100-TB
  * deployment actually runs on: FULL OUTER stream joins are how two
  * event feeds reconcile without dropping either side's orphans; AMS
  * sketches price self-join sizes before the join runs; priority
  * sampling is the one-pass weighted sample whose subset-sum estimator
  * carries a per-query error certificate; and randomized response is
  * the privacy frontier BEFORE data reaches the warehouse (q340's
  * geometric mechanism protects the release; this protects the ROW).
  * House rules: md5-derived determinism stands in for entropy
  * (documented), every estimator is audited against the exact truth it
  * estimates, integers end to end.
  */
object EstimatorQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── G306: stream-stream FULL OUTER interval join ───────────────────
    // Clicks ⟗ views on user within [click − 10 min, click]: matches
    // emit immediately; EACH side's orphans emit only after the global
    // watermark proves no partner can arrive — and the two sides flush
    // ASYMMETRICALLY: a click at c matches views in [c − 10 min, c],
    // so its orphan-hood is decided as soon as the watermark passes c
    // itself; a view at v matches clicks in [v, v + 10 min], so its
    // orphan-hood is only decided 10 minutes BEHIND the watermark.
    // Certified regions (cut = earlier stream's end − 2·delay):
    // matched + click-orphan rows by their own time ≤ cut, view-orphan
    // rows by v ≤ cut − 10 min. Batch full join under identical
    // filters is the oracle.
    "q361_stream_full_outer" -> ((s, dir) => {
      val work = PipelineQueries.cachedFixture(s"streamfull|$dir") { work =>
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
          .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
            timestamp_micros(col("us")).as("c_ts"))
          .withWatermark("c_ts", "1 minute")
        val views = parsed.filter(col("etype") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
            timestamp_micros(col("us")).as("v_ts"))
          .withWatermark("v_ts", "1 minute")
        val joined = clicks.join(views,
            expr("c_user = v_user and v_ts between c_ts - interval 10 minutes and c_ts"),
            "fullOuter")
          .select(col("c_id"), unix_micros(col("c_ts")).as("c_us"),
            col("v_id"), unix_micros(col("v_ts")).as("v_us"))
        streaming.StreamIngest.drain(joined, "append", s"$work/ckpt") {
          (b, _) => b.write.mode("append").parquet(s"$work/out")
        }
      }
      val cutoff = Tables.events(s, dir)
        .agg((least(
          max(when(col("event_type") === "click", unix_micros(col("ts")))),
          max(when(col("event_type") === "view", unix_micros(col("ts")))))
          - 120000000L).as("cut_us"))
      s.read.parquet(s"$work/out")
        .crossJoin(broadcast(cutoff))
        .filter(
          (col("c_id").isNotNull && col("v_id").isNotNull && col("v_us") <= col("cut_us")) ||
          (col("c_id").isNull && col("v_us") <= col("cut_us") - 600000000L) ||
          (col("v_id").isNull && col("c_us") <= col("cut_us")))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("c_id").isNotNull && col("v_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_view_orphans"),
          sum(when(col("v_id").isNull, 1L).otherwise(0L)).as("n_click_orphans"),
          expr("bit_xor(md5_60(concat(coalesce(cast(c_id as string), 'n'), '|', coalesce(cast(v_id as string), 'n'))))")
            .as("xor60_pairs"))
    }),

    // ── G307: AMS F₂ sketch accuracy audit ─────────────────────────────
    // Sixteen independent ±1 sign functions (md5 nibbles of the key —
    // 4-wise-independence stand-in, documented) give sixteen one-counter
    // sketches Sⱼ = Σₓ fₓ·sⱼ(x); each Sⱼ² is an unbiased F₂ estimate
    // and the AUDIT measures them against the exact F₂ = Σ fₓ² the
    // sketch exists to avoid computing. Plan: one groupBy to key
    // frequencies, one pass of 16 conditional sums over the key grain,
    // one nearest-rank median over 16 values. F₂ prices the self-join
    // (q122's skew profiler shows WHERE, this shows HOW MUCH total).
    "q362_ams_f2" -> ((s, dir) => {
      val freq = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("f"))
        .withColumn("h", md5(col("k").cast("string")))
      val exact = freq.agg(sum(expr("f * f")).as("f2_exact"), count(lit(1)).as("n_keys"))
      val signSums = (0 until 16).map { j =>
        sum(expr(
          s"case when cast(conv(substring(h, ${j + 1}, 1), 16, 10) as bigint) % 2 = 0 then f else -f end"))
          .as(s"s$j")
      }
      val sketches = freq.agg(signSums.head, signSums.tail: _*)
      val ests = sketches.select(
        explode(array((0 until 16).map(j => expr(s"s$j * s$j")): _*)).as("est"))
      val ranked = ests
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1)).orderBy(col("est").asc)))
      val med = ranked.filter(col("rk") === 8).select(col("est").as("est_median"))
      val mean = ests.agg(expr("sum(est) div 16").as("est_mean"))
      exact.crossJoin(broadcast(med)).crossJoin(broadcast(mean))
        .withColumn("err_median_e4", expr(
          "abs(est_median - f2_exact) * 10000 div f2_exact"))
        .withColumn("err_mean_e4", expr(
          "abs(est_mean - f2_exact) * 10000 div f2_exact"))
        .select("n_keys", "f2_exact", "est_median", "est_mean",
          "err_median_e4", "err_mean_e4")
    }),

    // ── G308: priority sampling + subset-sum estimator audit ───────────
    // Duffield–Lund–Thorup: priority qᵢ = wᵢ·U div uᵢ (uᵢ an md5
    // uniform in [1, U], U = 2²⁰), sample = top-100 priorities
    // (TakeOrdered — per-partition heaps, never a global sort), τ = the
    // 101st priority, estimate = Σ_sample max(wᵢ, τ). The audit: exact
    // total vs estimate (rel err e4), plus the structural certificate
    // that makes priority sampling USEFUL — every item with wᵢ ≥ τ is
    // in the sample with probability 1 (heavy items are never missed;
    // the spec checks none were). One corpus scan + top-k.
    "q363_priority_sample" -> ((s, dir) => {
      val u20 = 1048576L
      val w = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("w"))
        .withColumn("u", expr(
          s"cast(conv(substring(md5(cast(k as string)), 1, 5), 16, 10) as bigint) % $u20 + 1"))
        .withColumn("q", expr(s"w * $u20 div u"))
      val total = w.agg(sum("w").as("w_total"), count(lit(1)).as("n_items"))
      val top = w.orderBy(col("q").desc, col("k").asc).limit(101)
        .withColumn("rk", row_number().over(
          boundedGlobalRank(col("q").desc, col("k").asc)))
      val tau = top.filter(col("rk") === 101).select(col("q").as("tau"))
      val sample = top.filter(col("rk") <= 100)
      sample.crossJoin(broadcast(tau)).crossJoin(broadcast(total))
        .agg(max("n_items").as("n_items"), max("w_total").as("w_total"),
          count(lit(1)).as("n_sampled"), max("tau").as("tau"),
          sum(expr("greatest(w, tau)")).as("w_est"),
          sum(when(col("w") >= col("tau"), 1L).otherwise(0L)).as("n_deterministic"))
        .withColumn("err_e4", expr("abs(w_est - w_total) * 10000 div w_total"))
    }),

    // ── G309: randomized-response release + exact debias ───────────────
    // Each customer's sensitive bit (market segment = BUILDING) is
    // reported truthfully with p = 3/4, flipped otherwise — the
    // md5-uniform is the documented deterministic stand-in for the
    // respondent's coin (the one-line production swap; q340 protects
    // the aggregate, THIS protects the row before it ever lands).
    // Debias exactly: E[obs] = t·p + (n−t)(1−p) ⟹ t̂ = (4·obs − n)
    // div 2 at p = 3/4. The audit emits truth vs estimate (possible
    // only in the audit harness, where truth is still at hand) and the
    // realized flip rate vs the design 1/4. One customer-grain scan.
    "q364_randomized_response" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey").as("k"),
          (col("c_mktsegment") === "BUILDING").as("b"))
        .withColumn("flip", expr(
          "cast(conv(substring(md5(cast(k as string)), 1, 6), 16, 10) as bigint) % 4 = 0"))
        .withColumn("report", expr("case when flip then not b else b end"))
      c.agg(count(lit(1)).as("n"),
          sum(when(col("b"), 1L).otherwise(0L)).as("true_cnt"),
          sum(when(col("report"), 1L).otherwise(0L)).as("obs_cnt"),
          sum(when(col("flip"), 1L).otherwise(0L)).as("n_flipped"))
        .withColumn("est_cnt", expr("(4 * obs_cnt - n) div 2"))
        .withColumn("flip_rate_e4", expr("n_flipped * 10000 div n"))
        .withColumn("err_e4", expr("abs(est_cnt - true_cnt) * 10000 div greatest(true_cnt, 1)"))
        .select("n", "true_cnt", "obs_cnt", "est_cnt", "n_flipped",
          "flip_rate_e4", "err_e4")
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q361_stream_full_outer" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_id, user_id, event_type
        |            FROM events WHERE event_type IN ('click', 'view')),
        |cut AS (SELECT LEAST(
        |          MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |          MAX(CASE WHEN event_type = 'view' THEN epoch_us(ts) END))
        |          - 120000000 AS cut_us FROM events),
        |c AS (SELECT user_id AS c_user, event_id AS c_id, us AS c_us FROM ev WHERE event_type = 'click'),
        |v AS (SELECT user_id AS v_user, event_id AS v_id, us AS v_us FROM ev WHERE event_type = 'view'),
        |j AS (SELECT c_id, c_us, v_id, v_us
        |      FROM c FULL JOIN v ON v_user = c_user
        |        AND v_us BETWEEN c_us - 600000000 AND c_us),
        |flt AS (SELECT * FROM j, cut WHERE
        |          (c_id IS NOT NULL AND v_id IS NOT NULL AND v_us <= cut_us)
        |          OR (c_id IS NULL AND v_us <= cut_us - 600000000)
        |          OR (v_id IS NULL AND c_us <= cut_us))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN c_id IS NOT NULL AND v_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |       CAST(SUM(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_orphans,
        |       CAST(SUM(CASE WHEN v_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_orphans,
        |       bit_xor(CAST('0x' || substr(md5(COALESCE(CAST(c_id AS VARCHAR), 'n') || '|' ||
        |         COALESCE(CAST(v_id AS VARCHAR), 'n')), 1, 15) AS BIGINT)) AS xor60_pairs
        |FROM flt""".stripMargin,

    "q362_ams_f2" ->
      {
        val signs = (0 until 16).map { j =>
          s"SUM(CASE WHEN CAST('0x' || substr(h, ${j + 1}, 1) AS BIGINT) % 2 = 0 THEN f ELSE -f END) AS s$j"
        }.mkString(", ")
        val ests = (0 until 16).map(j => s"s$j * s$j").mkString(", ")
        s"""WITH freq AS (SELECT o_custkey AS k, COUNT(*) AS f,
          |                md5(CAST(o_custkey AS VARCHAR)) AS h
          |              FROM orders GROUP BY 1),
          |exact AS (SELECT SUM(f * f) AS f2_exact, COUNT(*) AS n_keys FROM freq),
          |sk AS (SELECT $signs FROM freq),
          |ests AS (SELECT UNNEST([$ests]) AS est FROM sk),
          |ranked AS (SELECT est, ROW_NUMBER() OVER (ORDER BY est) AS rk FROM ests),
          |med AS (SELECT est AS est_median FROM ranked WHERE rk = 8),
          |mn AS (SELECT SUM(est) // 16 AS est_mean FROM ests)
          |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(f2_exact AS BIGINT) AS f2_exact,
          |       CAST(est_median AS BIGINT) AS est_median,
          |       CAST(est_mean AS BIGINT) AS est_mean,
          |       CAST(ABS(est_median - f2_exact) * 10000 // f2_exact AS BIGINT) AS err_median_e4,
          |       CAST(ABS(est_mean - f2_exact) * 10000 // f2_exact AS BIGINT) AS err_mean_e4
          |FROM exact, med, mn""".stripMargin
      },

    "q363_priority_sample" ->
      """WITH w AS (SELECT o_orderkey AS k,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS w,
        |             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 5) AS BIGINT)
        |               % 1048576 + 1 AS u
        |           FROM orders),
        |q AS (SELECT k, w, w * 1048576 // u AS q FROM w),
        |total AS (SELECT SUM(w) AS w_total, COUNT(*) AS n_items FROM w),
        |top AS (SELECT *, ROW_NUMBER() OVER (ORDER BY q DESC, k ASC) AS rk
        |        FROM q ORDER BY q DESC, k ASC LIMIT 101),
        |tau AS (SELECT q AS tau FROM top WHERE rk = 101),
        |smp AS (SELECT * FROM top WHERE rk <= 100)
        |SELECT CAST(MAX(n_items) AS BIGINT) AS n_items,
        |       CAST(MAX(w_total) AS BIGINT) AS w_total,
        |       CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |       CAST(MAX(tau) AS BIGINT) AS tau,
        |       CAST(SUM(GREATEST(w, tau)) AS BIGINT) AS w_est,
        |       CAST(SUM(CASE WHEN w >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_deterministic,
        |       CAST(ABS(SUM(GREATEST(w, tau)) - MAX(w_total)) * 10000
        |         // MAX(w_total) AS BIGINT) AS err_e4
        |FROM smp, tau, total""".stripMargin,

    "q364_randomized_response" ->
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment = 'BUILDING' AS b,
        |             CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6) AS BIGINT)
        |               % 4 = 0 AS flip
        |           FROM customer),
        |r AS (SELECT *, CASE WHEN flip THEN NOT b ELSE b END AS report FROM c),
        |agg AS (SELECT COUNT(*) AS n,
        |          SUM(CASE WHEN b THEN 1 ELSE 0 END) AS true_cnt,
        |          SUM(CASE WHEN report THEN 1 ELSE 0 END) AS obs_cnt,
        |          SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS n_flipped
        |        FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(true_cnt AS BIGINT) AS true_cnt,
        |       CAST(obs_cnt AS BIGINT) AS obs_cnt,
        |       CAST((4 * obs_cnt - n) // 2 AS BIGINT) AS est_cnt,
        |       CAST(n_flipped AS BIGINT) AS n_flipped,
        |       CAST(n_flipped * 10000 // n AS BIGINT) AS flip_rate_e4,
        |       CAST(ABS((4 * obs_cnt - n) // 2 - true_cnt) * 10000
        |         // GREATEST(true_cnt, 1) AS BIGINT) AS err_e4
        |FROM agg""".stripMargin
  )
}

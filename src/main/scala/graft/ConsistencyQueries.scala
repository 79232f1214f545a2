package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Consistency-and-governance subsystem (round 10, fifty-second wave):
  * update-mode streaming with merge-upsert landing, the
  * subject-access-request export, a join fan-out ledger, and the
  * rollup-lattice consistency audit.
  *
  * Reference intent: the reference's streaming writes append-only
  * (services/airflow/dags/spark_streaming.py:45-53) and its reports
  * aggregate each grain separately with nothing certifying they agree.
  * q381 exercises the §2.9 output mode still missing from the matrix —
  * UPDATE mode, where each micro-batch re-emits changed keys and the
  * sink must upsert, not append (landed table certified equal to the
  * batch recompute). q382 is GDPR Article 15 as a query: one canonical
  * per-subject export line with a deterministic checksum (q212 deletes;
  * this DISCLOSES). q383 certifies the join-size identity
  * |A ⋈ B| = Σ_k l_k·r_k exactly — the fan-out ledger that catches
  * M:N explosions before they run. q384 certifies the rollup lattice:
  * day/week/month/quarter aggregated INDEPENDENTLY from the corpus
  * must reconcile bit-exactly when the finer grain is re-summed.
  */
object ConsistencyQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── G326: update-mode streaming + merge-upsert landing ─────────────
    // Per-event-type running counts in outputMode("update"): each
    // micro-batch emits only the keys whose count CHANGED, and the
    // foreachBatch sink upserts them into the landed table (read
    // current → anti-join out the updated keys → union → overwrite;
    // |keys|-sized, the dimension-table merge pattern). Three
    // time-split batches drained with AvailableNow; the landed table
    // must equal the batch groupBy EXACTLY — which is what the DuckDB
    // oracle recomputes.
    "q381_update_mode_upsert" -> ((s, dir) => {
      val work = PipelineQueries.cachedFixture(s"updmode|$dir") { work =>
        val ev = Tables.events(s, dir)
          .select(unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
        val Array(t0, t1) = ev.agg(min("us"), max("us")).collect()
          .flatMap(r => Array(r.getLong(0), r.getLong(1) + 1))
        val third = (t1 - t0) / 3
        val parsed = streaming.StreamIngest.orderedFileStream(work,
          (0 to 2).map(b => ev.filter(expr(s"least((us - $t0) div $third, 2)") === b)),
          StructType(Seq(StructField("us", LongType), StructField("event_id", LongType),
            StructField("event_type", StringType))))
        val counts = parsed.groupBy("event_type")
          .agg(count(lit(1)).as("n"), max("us").as("last_us"))
        streaming.StreamIngest.drain(counts, "update", s"$work/ckpt") { (b, _) =>
          val landedDir = s"$work/landed"
          val updated = b.select("event_type", "n", "last_us").localCheckpoint(true)
          val merged =
            if (new java.io.File(landedDir).exists()) {
              b.sparkSession.read.parquet(landedDir)
                .join(updated.select(col("event_type").as("uk")),
                  col("event_type") === col("uk"), "left_anti")
                .select("event_type", "n", "last_us")
                .unionByName(updated)
            } else updated
          // overwrite must land fully before the next batch reads it
          val tmp = s"$work/.landed_tmp"
          merged.coalesce(1).write.mode("overwrite").parquet(tmp)
          val t = new java.io.File(tmp); val l = new java.io.File(landedDir)
          org.apache.commons.io.FileUtils.deleteQuietly(l)
          org.apache.commons.io.FileUtils.moveDirectory(t, l)
        }
      }
      s.read.parquet(s"$work/landed")
        .select(col("event_type"), col("n"), col("last_us"))
        .orderBy("event_type")
    }),

    // ── G327: subject-access-request export (GDPR Art. 15) ─────────────
    // For md5-picked subjects: ONE canonical export line per customer —
    // orders serialized as 'orderkey:cents' sorted by orderkey and
    // joined with '|' (canonical CONCAT, not JSON: field order and
    // number formatting are engine-defined in JSON, a checksum trap) —
    // with the md5 of the line as the disclosure receipt. q212 proves
    // deletion; this proves the disclosure is complete and repeatable
    // (same data ⇒ same checksum, in both engines).
    "q382_sar_export" -> ((s, dir) => {
      val subj = Tables.customer(s, dir)
        .filter(expr("cast(conv(substring(md5(cast(c_custkey as string)), 1, 5), 16, 10) as bigint) % 20 = 0"))
        .select(col("c_custkey").as("c"), col("c_mktsegment").as("seg"))
      val o = Tables.orders(s, dir).join(subj, col("o_custkey") === col("c"))
        .select(col("c"), col("seg"), col("o_orderkey").as("k"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("v_c"))
      o.groupBy("c", "seg")
        .agg(count(lit(1)).as("n_orders"), sum("v_c").as("spend_c"),
          expr("array_join(transform(array_sort(collect_list(struct(k, v_c)))," +
            " e -> concat(cast(e.k as string), ':', cast(e.v_c as string))), '|')").as("body"))
        .select(col("c"), col("seg"), col("n_orders"), col("spend_c"),
          length(col("body")).cast(LongType).as("export_len"),
          md5(concat(col("c").cast("string"), lit("#"), col("body"))).as("receipt_md5"))
        .orderBy("c")
    }),

    // ── G328: join fan-out ledger (exact size identity) ────────────────
    // Before running orders ⋈ orders on o_orderdate (an M:N join), the
    // ledger prices it: per date, l·r = n², Σ over dates = the exact
    // output size — certified against the ACTUAL join count (both
    // computed, equality emitted; the identity |A ⋈_k B| = Σ l_k·r_k
    // is what any join-size estimator is calibrated against). Top-5
    // hottest dates ride along — the skew a salted join (q190) would
    // target. Key-grain everywhere; the actual join runs date-bucketed.
    "q383_fanout_ledger" -> ((s, dir) => {
      val keys = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"))
      val predicted = keys.agg(sum(expr("n * n")).as("predicted_rows"),
        count(lit(1)).as("n_keys"), max("n").as("hottest_key_rows"))
      val o = Tables.orders(s, dir).select(to_date(col("o_orderdate")).as("d"))
      val actual = o.as("a").join(o.as("b"), col("a.d") === col("b.d"))
        .agg(count(lit(1)).as("actual_rows"))
      val top = keys.orderBy(col("n").desc, col("d").asc).limit(5)
        .agg(collect_list(expr("cast(n as string)")).as("tops"))
        .select(array_join(col("tops"), "|").as("top5_counts"))
      predicted.crossJoin(broadcast(actual)).crossJoin(broadcast(top))
        .withColumn("identity_holds", col("predicted_rows") === col("actual_rows"))
        .withColumn("amplification_e4", expr(
          "actual_rows * 10000 div greatest(n_keys * hottest_key_rows, 1)"))
    }),

    // ── G329: rollup-lattice consistency audit ─────────────────────────
    // Revenue at day/week/month/quarter grain, EACH aggregated
    // independently from the corpus; then each coarser level is
    // re-derived by summing the day table and the two must agree
    // bit-exactly on every cell (count of mismatched cells emitted,
    // certified zero). This is the semantic-layer guarantee a metrics
    // store sells: any query, any grain, one answer. The week label is
    // the integer day-number div 7 (engine-portable; ISO week naming
    // differs across engines — q251 handles calendars, this pins SUMS).
    "q384_rollup_lattice" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        expr("datediff(to_date(o_orderdate), date '1970-01-01')").as("dn"),
        to_date(col("o_orderdate")).as("d"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("v_c"))
      val day = o.groupBy("dn").agg(sum("v_c").as("rev"))
      def level(labelExpr: String, name: String): DataFrame = {
        val direct = o.groupBy(expr(labelExpr).as("lbl"))
          .agg(sum("v_c").as("direct_rev"))
        val derived = day
          .join(o.select(col("dn"), expr(labelExpr).as("lbl")).distinct(), Seq("dn"))
          .groupBy("lbl").agg(sum("rev").as("derived_rev"))
        direct.join(derived, Seq("lbl"), "full_outer")
          .select(lit(name).as("level"),
            when(coalesce(col("direct_rev"), lit(-1L)) =!= coalesce(col("derived_rev"), lit(-2L)), 1L)
              .otherwise(0L).as("mismatch"),
            coalesce(col("direct_rev"), lit(0L)).as("rev"))
      }
      val lv = Seq(
        level("dn div 7", "1_week"),
        level("date_format(d, 'yyyy-MM')", "2_month"),
        level("concat(year(d), '-Q', quarter(d))", "3_quarter"))
        .reduce(_ unionByName _)
      lv.groupBy("level")
        .agg(count(lit(1)).as("n_cells"),
          sum("mismatch").as("n_mismatched"),
          sum("rev").as("total_rev_c"))
        .orderBy("level")
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q381_update_mode_upsert" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q382_sar_export" ->
      """WITH subj AS (SELECT c_custkey AS c, c_mktsegment AS seg FROM customer
        |              WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 5) AS BIGINT)
        |                % 20 = 0),
        |o AS (SELECT c, seg, o_orderkey AS k,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS v_c
        |      FROM orders JOIN subj ON o_custkey = c),
        |ex AS (SELECT c, seg, COUNT(*) AS n_orders, SUM(v_c) AS spend_c,
        |         string_agg(CAST(k AS VARCHAR) || ':' || CAST(v_c AS VARCHAR), '|' ORDER BY k, v_c) AS body
        |       FROM o GROUP BY c, seg)
        |SELECT CAST(c AS BIGINT) AS c, seg,
        |       CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(spend_c AS BIGINT) AS spend_c,
        |       CAST(length(body) AS BIGINT) AS export_len,
        |       md5(CAST(c AS VARCHAR) || '#' || body) AS receipt_md5
        |FROM ex ORDER BY c""".stripMargin,

    "q383_fanout_ledger" ->
      """WITH keys AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
        |              FROM orders GROUP BY 1),
        |pred AS (SELECT SUM(n * n) AS predicted_rows, COUNT(*) AS n_keys,
        |           MAX(n) AS hottest_key_rows
        |         FROM keys),
        |act AS (SELECT COUNT(*) AS actual_rows
        |        FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders) a
        |          JOIN (SELECT CAST(o_orderdate AS DATE) AS d FROM orders) b USING (d)),
        |top AS (SELECT string_agg(CAST(n AS VARCHAR), '|' ORDER BY n DESC, d) AS top5_counts
        |        FROM (SELECT * FROM keys ORDER BY n DESC, d LIMIT 5) z)
        |SELECT CAST(predicted_rows AS BIGINT) AS predicted_rows,
        |       CAST(n_keys AS BIGINT) AS n_keys,
        |       CAST(hottest_key_rows AS BIGINT) AS hottest_key_rows,
        |       CAST(actual_rows AS BIGINT) AS actual_rows,
        |       top5_counts,
        |       predicted_rows = actual_rows AS identity_holds,
        |       CAST(actual_rows * 10000 // GREATEST(n_keys * hottest_key_rows, 1) AS BIGINT) AS amplification_e4
        |FROM pred, act, top""".stripMargin,

    "q384_rollup_lattice" ->
      """WITH o AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |             CAST(o_orderdate AS DATE) AS d,
        |             CAST(round(o_totalprice * 100) AS BIGINT) AS v_c
        |           FROM orders),
        |day AS (SELECT dn, SUM(v_c) AS rev FROM o GROUP BY dn),
        |wk AS (SELECT '1_week' AS level, dir.lbl,
        |         dir.direct_rev, der.derived_rev FROM
        |         (SELECT dn // 7 AS lbl, SUM(v_c) AS direct_rev FROM o GROUP BY 1) dir
        |         FULL JOIN
        |         (SELECT z.lbl, SUM(day.rev) AS derived_rev FROM day
        |          JOIN (SELECT DISTINCT dn, dn // 7 AS lbl FROM o) z USING (dn)
        |          GROUP BY z.lbl) der USING (lbl)),
        |mo AS (SELECT '2_month' AS level, dir.lbl,
        |         dir.direct_rev, der.derived_rev FROM
        |         (SELECT strftime(d, '%Y-%m') AS lbl, SUM(v_c) AS direct_rev FROM o GROUP BY 1) dir
        |         FULL JOIN
        |         (SELECT z.lbl, SUM(day.rev) AS derived_rev FROM day
        |          JOIN (SELECT DISTINCT dn, strftime(d, '%Y-%m') AS lbl FROM o) z USING (dn)
        |          GROUP BY z.lbl) der USING (lbl)),
        |qt AS (SELECT '3_quarter' AS level, dir.lbl,
        |         dir.direct_rev, der.derived_rev FROM
        |         (SELECT CAST(year(d) AS VARCHAR) || '-Q' || CAST(quarter(d) AS VARCHAR) AS lbl,
        |            SUM(v_c) AS direct_rev FROM o GROUP BY 1) dir
        |         FULL JOIN
        |         (SELECT z.lbl, SUM(day.rev) AS derived_rev FROM day
        |          JOIN (SELECT DISTINCT dn,
        |                  CAST(year(d) AS VARCHAR) || '-Q' || CAST(quarter(d) AS VARCHAR) AS lbl
        |                FROM o) z USING (dn)
        |          GROUP BY z.lbl) der USING (lbl)),
        |lv AS (SELECT level, CASE WHEN COALESCE(direct_rev, -1) != COALESCE(derived_rev, -2)
        |                          THEN 1 ELSE 0 END AS mismatch,
        |         COALESCE(direct_rev, 0) AS rev
        |       FROM (SELECT * FROM wk UNION ALL SELECT * FROM mo UNION ALL SELECT * FROM qt) u)
        |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_cells,
        |       CAST(SUM(mismatch) AS BIGINT) AS n_mismatched,
        |       CAST(SUM(rev) AS BIGINT) AS total_rev_c
        |FROM lv GROUP BY level ORDER BY level""".stripMargin
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-lifecycle flagships (round 12, VERDICT r11 "next" #5/#6).
  *
  * Reference intent — every query names its consumer:
  *  - q552: the reference's weekly Airflow DAG retrains all ~1,115
  *    models unconditionally every Sunday
  *    (services/airflow/dags/train_predict_to_db_dag.py:17-83 —
  *    `schedule_interval="0 0 * * 0"`, no gate of any kind). The
  *    operation a 1000-store deployment actually needs is the
  *    RETRAIN DECISION: drift gate (q534's PSI) → in-production
  *    adequacy test (q535's Trigg tracking signal) → challenger
  *    reselect (q524's inverse-MAE ensemble bake-off) → registry
  *    stage flip (q32/q77's versioning surface), composed as ONE
  *    declarative plan per series so the answer is a per-key decision
  *    row, not three dashboards a human joins by eye. Consumer: the
  *    weekly DAG itself — this query IS its replacement trigger
  *    condition.
  *  - q553: SemDeDup (Abbas et al., "SemDeDup: Data-efficient
  *    learning at web-scale through semantic deduplication", 2023) —
  *    the embedding-space member of the dedup family beside q21
  *    (exact), q23 (MinHash lexical) and q25 (SimHash): k-cluster the
  *    embeddings (q132's exact integer Lloyd assignment), compute
  *    cosines WITHIN each cluster cell only (never corpus-all-pairs),
  *    and drop every vector that has an earlier-id neighbor above the
  *    similarity threshold. Consumer: q87's corpus pipeline, as the
  *    semantic stage after q23's lexical pairs. The synthetic
  *    embeddings corpus contains no true near-dups (measured max
  *    pairwise cosine 0.53 at both check scales), so the query plants
  *    a deterministic clone per 25th vector (e6 coordinates perturbed
  *    ±1e-6 by md5 bit) — the operator must find exactly the planted
  *    mass and nothing else, which is what the oracle certifies.
  *  - q569 (round 13): q553's scale path — the coarse quantizer swapped
  *    for self-scaling SRP buckets (b = ⌈log₂⌈n/125⌉⌉ bits), so cell
  *    size stays flat as the corpus grows; ScaleProbe-measured
  *    exponent 0.222 over an 8× copy ratio (r12 verdict #6).
  *  - q570 (round 13): the daily DAG twin of q552 — producer-envelope
  *    JSON drain (exactly-once, replay-certified) appends the last
  *    week into the snapshot, and the SAME decision plan re-evaluates
  *    pre vs post with a gate_changed flag (r12 verdict #7).
  *
  * House rules: exact integer arithmetic (cents, e4/e6 ratios, BIGINT
  * div), day-grain aggregates before any window, per-key partitions
  * only, totally ordered outputs.
  */
object LifecycleOpsQueries {

  private def sdiv(num: String, den: String) =
    s"case when ($num) >= 0 then ($num) div ($den) else -((-($num)) div ($den)) end"
  private def sdivSql(num: String, den: String) =
    s"CASE WHEN ($num) >= 0 THEN ($num) // ($den) ELSE -((-($num)) // ($den)) END"

  /** q553/q569: cosine similarity threshold (r6-rounded cosines; planted
    * clones land at ~1.0, the corpus's natural ceiling is 0.53 — and the
    * ScaleProbe's shifted-copy fixtures measure 0.648 cross-copy). */
  private val SemTau = "0.99"

  /** Shared planted-clone union corpus for the SemDeDup family (q553
    * Lloyd cells, q569 LSH buckets): embeddings at e6 integers ∪ one
    * deterministic clone per 25th vector, clone id = vec_id + off with
    * off = greatest(1e6, max(vec_id)+1), each e6 coordinate nudged ±1
    * by an md5 bit. Returns (corpus(vec_id, v6), off). */
  private def semCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e6 = Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>), x -> cast(round(x * 1000000) as bigint))")
        .as("v6"))
    val off = e6.agg(
      greatest(lit(1000000L), max("vec_id") + lit(1L)).as("off"))
    val clones = e6.filter(col("vec_id") % 25 === 0)
      .crossJoin(broadcast(off))
      .select((col("vec_id") + col("off")).as("vec_id"), expr(
        """transform(v6, (x, p) -> x + CASE WHEN
          | cast(conv(substring(md5(concat(cast(vec_id + off as string),
          |   ':', cast(p as string))), 1, 4), 16, 10) as bigint) % 2 = 0
          | THEN 1L ELSE -1L END)""".stripMargin).as("v6"))
    (e6.unionByName(clones), off)
  }

  /** SQL mirror of [[semCorpus]]: CTEs e6x (long form), off, cx, x. */
  private val semCorpusSql: String =
    s"""e6x AS MATERIALIZED (SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
      |      AS v
      |  FROM embeddings),
      |off AS (SELECT GREATEST(1000000, MAX(vec_id) + 1) AS off
      |  FROM embeddings),
      |cx AS MATERIALIZED (SELECT vec_id + off AS vec_id, i,
      |    v + CASE WHEN CAST('0x' || substr(md5(
      |        CAST(vec_id + off AS VARCHAR) || ':' ||
      |        CAST(i - 1 AS VARCHAR)), 1, 4) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE -1 END AS v
      |  FROM e6x, off WHERE vec_id % 25 = 0),
      |x AS MATERIALIZED (SELECT * FROM e6x UNION ALL SELECT * FROM cx)"""
      .stripMargin

  /** q569: bits b with 2^(b−1) < m ≤ 2^b, clamped to [3, 16] — the
    * bucket count tracks ⌈n/125⌉ so the expected cell size stays flat
    * as the corpus grows (the SemDeDup scale path's k-scaling rule,
    * r12 verdict #6). */
  private def bitsLadder(m: String): String =
    "(case " + (16 to 4 by -1).map(b =>
      s"when $m > ${1L << (b - 1)}L then $b").mkString(" ") + " else 3 end)"
  private def bitsLadderSql(m: String): String =
    "(CASE " + (16 to 4 by -1).map(b =>
      s"WHEN $m > ${1L << (b - 1)} THEN $b").mkString(" ") + " ELSE 3 END)"

  /** The q552 decision plan over an order-grain (g, dn, y, ok)
    * relation: PSI drift gate (reference = dn <= c2, current = test
    * window) -> Trigg adequacy -> inverse-MAE challenger reselect ->
    * action/version flip. Shared by q552 (the weekly batch snapshot)
    * and q570 (the daily ingest-drain recompose, r12 verdict #7).
    * Output is unordered; callers order. */
  private[graft] def retrainDecision(od0: DataFrame): DataFrame = {
    val cut = od0.agg(expr("max(dn) - 56").as("c1"), expr("max(dn) - 28").as("c2"))
      // localCheckpoint: ~10 gate/forecaster branches below each re-read
      // (and re-scan) the order-grain frame; materialize it once per
      // evaluation (guide §3.3) — q570 runs this decision DAG twice
      val od = od0.crossJoin(broadcast(cut)).localCheckpoint()

      // — drift gate: PSI of order-value deciles, reference = dn ≤ c2,
      //   current = the test window (q534's machinery, q552's split) —
      val base = od.filter(col("dn") <= col("c2"))
      val cur = od.filter(col("dn") > col("c2"))
      val nb = base.groupBy("g").agg(count(lit(1)).as("n_base"))
      // rk/tg aliases: both join sides descend from `base`, and
      // attribute-equality on a shared lineage relied on analyzer
      // self-join disambiguation (the 'g == g' warning, r12 verdict #5)
      val ranked = base.withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy(col("y"), col("ok"))))
        .alias("rk")
      val targets = nb.select(col("g"), col("n_base"),
          explode(expr("sequence(1, 9)")).as("i"))
        .withColumn("tr", expr("(i * n_base + 9) div 10"))
        .alias("tg")
      // Optimization r15 measured-and-reverted: checkpointing the
      // multi-consumer junctions here (edges ×2, bc ×2, scored ×3)
      // measured SLOWER (q552 2.14→2.93, q570 4.80→5.50 s at sf0.1) —
      // each localCheckpoint is a synchronous job barrier, while the
      // lazily-duplicated subtrees execute CONCURRENTLY inside the one
      // action and soak up otherwise-idle cores on these byte-tiny
      // frames. The od checkpoint above (r14) remains the win.
      val edges = ranked.join(targets,
          col("rk.g") === col("tg.g") && col("rk.rn") === col("tg.tr"))
        .groupBy(col("rk.g").as("g"))
        .agg(array_sort(collect_list(col("rk.y"))).as("edges"))
      def binned(df: DataFrame): DataFrame =
        df.join(broadcast(edges), Seq("g"))
          .withColumn("bin", expr("1 + size(filter(edges, e -> e < y))"))
          .groupBy("g", "bin").agg(count(lit(1)).as("n"))
      val bc = binned(base).withColumnRenamed("n", "np")
        .join(binned(cur).withColumnRenamed("n", "nq"), Seq("g", "bin"), "full")
        .na.fill(0L, Seq("np", "nq"))
      val tot = bc.groupBy("g").agg(sum("np").as("tp"), sum("nq").as("tq"),
        count(lit(1)).as("nbins"))
      val sh = bc.join(tot, Seq("g"))
        .withColumn("p", expr("greatest(1L, (np + 1) * 1000000 div (tp + nbins))"))
        .withColumn("q", expr("greatest(1L, (nq + 1) * 1000000 div (tq + nbins))"))
      val psi = graft.ops.FixedLn.lnE9(
          sh.withColumn("hi", greatest(col("p"), col("q")))
            .withColumn("lo", least(col("p"), col("q"))),
          "hi", "lo", "lnhl")
        .withColumn("term", expr("abs(p - q) * lnhl"))
        .groupBy("g").agg(expr("sum(term) div 1000000").as("psi_e9"))
        .withColumn("drift", expr("case when psi_e9 >= 100000000 then 1L else 0L end"))

      // — shared forecasters: day grain, fit ≤ c1 —
      val nd = od.groupBy("g", "dn").agg(sum("y").as("y"),
          max("c1").as("c1"), max("c2").as("c2"))
        .withColumn("dow", expr("((dn % 7) + 7) % 7"))
      val fit = nd.filter(col("dn") <= col("c1"))
      val fA = fit.groupBy("g", "dow").agg(expr("sum(y) div count(1)").as("fa0"))
      val fB = fit.groupBy("g").agg(expr("sum(y) div count(1)").as("fb"))
      val scored = nd.join(fA, Seq("g", "dow"), "left").join(fB, Seq("g"))
        .withColumn("fa", coalesce(col("fa0"), col("fb")))

      // — adequacy: Trigg tracking signal of the CHAMPION on test —
      val ts = scored.filter(col("dn") > col("c2"))
        .withColumn("e", col("y") - col("fa"))
        .withColumn("ce", sum("e").over(Window.partitionBy("g").orderBy("dn")))
        .withColumn("ca", sum(abs(col("e"))).over(Window.partitionBy("g").orderBy("dn")))
        .withColumn("ts_e6", expr(sdiv("ce * 1000000", "greatest(ca, 1)")))
        .groupBy("g").agg(max_by(col("ts_e6"), col("dn")).as("ts_e6"),
          count(lit(1)).as("n_test"))
        .withColumn("biased", expr(
          "case when abs(ts_e6) >= 500000 then 1L else 0L end"))

      // — challenger reselect: inverse-MAE weights from validation,
      //   all three arms scored on test (q524's machinery) —
      val w = scored.filter(col("dn") > col("c1") && col("dn") <= col("c2"))
        .groupBy("g")
        .agg(expr("sum(abs(y - fa)) div count(1)").as("mae_a_val"),
          expr("sum(abs(y - fb)) div count(1)").as("mae_b_val"))
        .withColumn("w_a_e6", expr(
          "case when mae_a_val + mae_b_val = 0 then 500000L " +
            "else mae_b_val * 1000000 div (mae_a_val + mae_b_val) end"))
      val arms = scored.filter(col("dn") > col("c2"))
        .join(w.select("g", "w_a_e6"), Seq("g"))
        .withColumn("f_ens", expr(
          "(w_a_e6 * fa + (1000000 - w_a_e6) * fb) div 1000000"))
        .groupBy("g")
        .agg(max("w_a_e6").as("w_a_e6"),
          expr("sum(abs(y - fa)) div count(1)").as("mae_champion"),
          expr("sum(abs(y - fb)) div count(1)").as("mae_level"),
          expr("sum(abs(y - f_ens)) div count(1)").as("mae_ensemble"))
        .withColumn("winner", expr(
          "case when mae_champion <= mae_ensemble and mae_champion <= mae_level " +
            "then 'champion' when mae_ensemble <= mae_level then 'ensemble' " +
            "else 'level' end"))

      // — the decision row: gates → action → registry version flip —
      psi.join(ts, Seq("g")).join(arms, Seq("g"))
        .withColumn("retrain", expr("case when drift + biased > 0 then 1L else 0L end"))
        .withColumn("action", expr(
          "case when retrain = 0 then 'keep' " +
            "when winner = 'champion' then 'refresh_champion' " +
            "else concat('promote_', winner) end"))
        .withColumn("new_version", expr("1 + retrain"))
        .select("g", "psi_e9", "drift", "ts_e6", "biased", "n_test",
          "w_a_e6", "mae_champion", "mae_level", "mae_ensemble",
          "winner", "retrain", "action", "new_version")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── G497: the weekly retrain decision, composed end-to-end ─────────
    // Windows: fit ≤ c1 = max−56 (what the deployed champion saw at its
    // last retrain), validation (c1, c2 = max−28] (ensemble weights),
    // test (c2, max] (every gate scores here). Per nation:
    //   drift   = PSI(order-value deciles, fit+val window vs test) ≥ 0.1
    //   biased  = |Trigg TS over the test window| ≥ 0.5
    //   reselect: champion (weekday-mean) vs challenger (level-mean)
    //             vs their inverse-MAE ensemble, all fit ≤ c1
    //   action  = keep | refresh_champion | promote_{ensemble,level}
    // One orders⋈customer scan lands the order-grain fixture; every
    // branch reads the fixture (q542's lineage-checkpoint discipline).
    "q552_retrain_pipeline" -> ((s, dir) => {
      val basePath = PipelineQueries.cachedFixture(s"q552|$dir") { work =>
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").cast("long").as("g"),
            expr("datediff(to_date(o_orderdate), date '1970-01-01')").as("dn"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("y"),
            col("o_orderkey").as("ok"))
          .write.mode("overwrite").parquet(s"$work/od")
      }
      retrainDecision(s.read.parquet(s"$basePath/od")).orderBy("g")
    }),

    // ── G498: SemDeDup — embedding-space near-duplicate manifest ───────
    // Corpus = embeddings ∪ planted clones (one per vec_id ≡ 0 mod 25;
    // clone id = vec_id + off where off = greatest(1e6, max(vec_id)+1),
    // every e6 coordinate nudged ±1 by an md5 bit — cosine to its
    // source ≈ 1.0 at r6). Stage 1: exact
    // integer assignment to the 8 seed centroids (q132's Lloyd step).
    // Stage 2: pairwise r6 cosines INSIDE each cell only — candidate
    // work is Σ|cell|², never n²; at 10⁹ vectors the cell count grows
    // as √n to hold |cell| flat, and the per-cell join is an equi-join
    // on cid, so the plan shape survives verbatim. Stage 3: drop rule —
    // a vector with any LOWER-id neighbor at cos_e6 ≥ τ is dropped
    // (clones always lose to their source). Output: per-cell manifest.
    "q553_semdedup" -> ((s, dir) => {
      // clone key = the CLONE's id (vec_id + off) and the 0-based dim —
      // the md5 parity nudges each e6 coordinate ±1 (mirrored verbatim).
      // off = greatest(1e6, max(vec_id)+1) (ADVICE r12): a pinned 1e6
      // offset silently misclassifies once the table reaches 1e6 rows
      // (originals counted as planted, id collisions); the data-derived
      // floor keeps today's ids/hashes bit-identical and scales.
      val (all, off) = semCorpus(s, dir)
      // exact integer centroid assignment (q132): seeds = vec_id 0..7
      val x = all.select(col("vec_id"),
          posexplode(col("v6")).as(Seq("p", "v")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("v"))
      val cents = x.filter(col("vec_id").between(0, 7))
        .select(col("vec_id").as("cid"), col("i"), col("v").as("c"))
      val assign = x.join(broadcast(cents), Seq("i"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
        .groupBy("vec_id")
        .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
      val v = all.join(assign, Seq("vec_id"))
        .withColumn("vd", expr("transform(v6, t -> cast(t as double))"))
      // within-cell pairs; the shared r6 cosine kernel (native Catalyst
      // CosineR6, bit-matched to sqlCosineR6 — scaling by 1e6 cancels)
      val dropped = v.select(col("cid"), col("vec_id").as("ia"), col("vd").as("va"))
        .join(v.select(col("cid"), col("vec_id").as("ib"), col("vd").as("vb")),
          Seq("cid"))
        .filter(col("ia") < col("ib"))
        .filter(graft.functions.VectorFunctions.cosineR6(col("va"), col("vb"))
          >= lit(SemTau.toDouble))
        .select(col("cid"), col("ib").as("vec_id")).distinct()
      v.select("cid", "vec_id")
        .join(dropped.withColumn("drop", lit(1L)), Seq("cid", "vec_id"), "left")
        .na.fill(0L, Seq("drop"))
        .crossJoin(broadcast(off))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("case when vec_id >= off then 1L else 0L end")).as("n_planted"),
          sum("drop").as("n_dropped"),
          sum(expr("case when drop = 1 and vec_id >= off then 1L else 0L end"))
            .as("n_planted_dropped"),
          sum(expr("case when drop = 0 then vec_id else 0L end")).as("keep_checksum"))
        .withColumn("n_kept", col("n_members") - col("n_dropped"))
        .withColumn("drop_ratio_e4", expr("n_dropped * 10000 div n_members"))
        .select("cid", "n_members", "n_planted", "n_dropped",
          "n_planted_dropped", "n_kept", "drop_ratio_e4", "keep_checksum")
        .orderBy("cid")
    }),

    // ── G514: SemDeDup at scale — LSH buckets with √-free k-scaling ────
    // q553's Lloyd assignment is n·k distance work, so growing its cell
    // count with the corpus makes ASSIGNMENT the new quadratic; the
    // documented scale path (r12 verdict #6) swaps the coarse quantizer
    // for sign-random-projection buckets: b = ⌈log₂⌈n/125⌉⌉ hyperplane
    // bits (the low-order mask of ONE fused 16-bit SRP pass — linear in
    // n, no centroid join), so bucket count tracks n and the EXPECTED
    // cell size stays flat. Within-bucket pairs only, the same τ/drop
    // rule as q553, same planted-clone certification, plus the
    // realized candidate-pair census (Σ c·(c−1)/2) — the number the
    // ScaleProbe fits the exponent on. A tiny sign-flip recall risk is
    // inherent to SRP (a clone flips a bit only when |proj| ≤ 64·1e6 of
    // a ~1e12-scale sum); recall_e4 reports what actually happened.
    "q569_semdedup_lsh" -> ((s, dir) => {
      val (all, off) = semCorpus(s, dir)
      val nb = all.agg(count(lit(1)).as("n"))
        .withColumn("m", expr("greatest(1L, (n + 124) div 125)"))
        .withColumn("b", expr(bitsLadder("m")))
      // dim guard (ADVICE r13): the SRP plane bank and the oracle's
      // 64-sign VALUES list are pinned to 64 dims — SrpKernel would
      // silently truncate a longer vector while DuckDB's list_extract
      // NULL-propagates past 64 (its SUM skips NULL terms), so the two
      // engines would diverge silently. Fail loudly instead.
      val v = all
        .withColumn("vd", expr(
          "case when size(v6) = 64 then transform(v6, t -> cast(t as double)) " +
            "else raise_error(concat('q569_semdedup_lsh expects 64-dim " +
            "embeddings, got ', cast(size(v6) as string))) end"))
        .withColumn("bucket16", graft.functions.VectorFunctions.lshBucket(
          col("vd"), 0 until 16, 64))
        .crossJoin(broadcast(nb.select("b")))
        .withColumn("bkt", expr("bucket16 % shiftleft(1L, cast(b as int))"))
      val dropped = v.select(col("bkt"), col("vec_id").as("ia"), col("vd").as("va"))
        .join(v.select(col("bkt"), col("vec_id").as("ib"), col("vd").as("vb")),
          Seq("bkt"))
        .filter(col("ia") < col("ib"))
        .filter(graft.functions.VectorFunctions.cosineR6(col("va"), col("vb"))
          >= lit(SemTau.toDouble))
        .select(col("ib").as("vec_id")).distinct()
      val drops = v.select("vec_id")
        .join(dropped.withColumn("drop", lit(1L)), Seq("vec_id"), "left")
        .na.fill(0L, Seq("drop"))
        .crossJoin(broadcast(off))
        .agg(count(lit(1)).as("n_vectors"),
          sum(expr("case when vec_id >= off then 1L else 0L end")).as("n_planted"),
          sum("drop").as("n_dropped"),
          sum(expr("case when drop = 1 and vec_id >= off then 1L else 0L end"))
            .as("n_planted_dropped"),
          sum(expr("case when drop = 0 then vec_id else 0L end")).as("keep_checksum"))
      val buck = v.groupBy("bkt").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_buckets"), max("c").as("max_bucket"),
          sum(expr("c * (c - 1) div 2")).as("n_candidate_pairs"))
      drops.crossJoin(broadcast(buck))
        .crossJoin(broadcast(nb.select(col("b").cast("long").as("bits"))))
        .withColumn("recall_e4", expr(
          "n_planted_dropped * 10000 div greatest(n_planted, 1L)"))
        .select("n_vectors", "n_planted", "bits", "n_buckets", "max_bucket",
          "n_candidate_pairs", "n_dropped", "n_planted_dropped", "recall_e4",
          "keep_checksum")
    }),

    // ── G515: daily ingest-drain → snapshot append → gate re-evaluate ──
    // The composed twin of q552 (r12 verdict #7): the reference's OTHER
    // DAG is the daily Kafka→DB drain (kafka_spark_db_dag.py:6-26).
    // Stage 1 (fixture, once per JVM/dir): the pre-batch snapshot
    // (orders up to max−7) lands as `pre`; the last 7 days are
    // serialized through the producer's JSON envelope into a drop-dir,
    // drained by the checkpointed AvailableNow stream into the
    // `drained` delta table via ingestOnceExactly — EXACTLY-once by
    // construction (ADVICE r13): each micro-batch OVERWRITES its own
    // batch_id=N partition, so even a mid-append crash-then-retry
    // replaces its partial output instead of duplicating it. The drain
    // is then REPLAYED against the same checkpoint and must read nothing
    // (replayExactly fails the fixture otherwise). Stage 2: the q552
    // decision re-evaluated on the pre-drain snapshot and on
    // pre ∪ drained (each anchored to its own max-day), with a
    // per-nation gate_changed flag — certifying that the drained batch
    // actually moves the retrain decision through the declarative gate
    // plan.
    "q570_ingest_gate_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val work = PipelineQueries.cachedFixture(s"q570|$dir") { work =>
        val od = Tables.orders(s, dir)
          .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").cast("long").as("g"),
            expr("cast(datediff(to_date(o_orderdate), date '1970-01-01') as bigint)")
              .as("dn"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("y"),
            col("o_orderkey").cast("long").as("ok"))
        val cut = od.agg(expr("max(dn) - 7").as("bcut"))
        val odc = od.crossJoin(broadcast(cut))
        odc.filter(col("dn") <= col("bcut")).select("g", "dn", "y", "ok")
          .write.mode("overwrite").parquet(s"$work/pre")
        graft.streaming.StreamIngest.toJsonLines(
            odc.filter(col("dn") > col("bcut")).select("g", "dn", "y", "ok"))
          .write.mode("overwrite").text(s"$work/src")
        val env = StructType(Seq(
          StructField("g", LongType), StructField("dn", LongType),
          StructField("y", LongType), StructField("ok", LongType)))
        def parsed = graft.streaming.StreamIngest.jsonLinesStream(
          s, s"$work/src", env)
        graft.streaming.StreamIngest.ingestOnceExactly(
          parsed, s"$work/drained", s"$work/ckpt") // drain
        graft.streaming.StreamIngest.replayExactly(
          parsed, s"$work/drained", s"$work/ckpt")
      }
      val pre = retrainDecision(s.read.parquet(s"$work/pre"))
      val post = retrainDecision(s.read.parquet(s"$work/pre").unionByName(
        graft.streaming.StreamIngest.readExactlyOnceTable(s, s"$work/drained")
          .select("g", "dn", "y", "ok")))
      pre.select(col("g"), col("psi_e9").as("psi_pre"),
          col("ts_e6").as("ts_pre"), col("retrain").as("retrain_pre"),
          col("action").as("action_pre"))
        .join(post.select(col("g"), col("psi_e9").as("psi_post"),
          col("ts_e6").as("ts_post"), col("retrain").as("retrain_post"),
          col("action").as("action_post"),
          col("new_version").as("new_version_post")), Seq("g"))
        .withColumn("gate_changed", expr(
          "case when action_pre != action_post " +
            "or retrain_pre != retrain_post then 1L else 0L end"))
        .select("g", "psi_pre", "psi_post", "ts_pre", "ts_post",
          "retrain_pre", "retrain_post", "action_pre", "action_post",
          "new_version_post", "gate_changed")
        .orderBy("g")
    })
  )

  /** CTE chain computing the q552 decision from an order-grain
    * relation `src`(g, dn, y, ok); every CTE name gets prefix `pf`,
    * ending in `${pf}dec` with BIGINT-cast gate columns plus
    * action/new_version. Shared by the q552 and q570 oracles. */
  private def decisionSqlCtes(src: String, pf: String): String =
    s"""${pf}cut AS (SELECT MAX(dn) - 56 AS c1, MAX(dn) - 28 AS c2 FROM $src),
      |${pf}base AS MATERIALIZED (SELECT $src.* FROM $src, ${pf}cut
      |  WHERE dn <= c2),
      |${pf}cur AS MATERIALIZED (SELECT $src.* FROM $src, ${pf}cut
      |  WHERE dn > c2),
      |${pf}nb AS (SELECT g, COUNT(*) AS n_base FROM ${pf}base GROUP BY g),
      |${pf}ranked AS (SELECT g, y, ROW_NUMBER() OVER
      |    (PARTITION BY g ORDER BY y, ok) AS rn FROM ${pf}base),
      |${pf}targets AS (SELECT g, (i * n_base + 9) // 10 AS tr
      |  FROM ${pf}nb, (SELECT UNNEST(range(1, 10)) AS i)),
      |${pf}edges AS MATERIALIZED (SELECT r.g, list_sort(list(r.y)) AS edges
      |  FROM ${pf}ranked r JOIN ${pf}targets t ON r.g = t.g AND r.rn = t.tr
      |  GROUP BY r.g),
      |${pf}bb AS (SELECT b.g,
      |    1 + len(list_filter(e.edges, x -> x < b.y)) AS bin, COUNT(*) AS np
      |  FROM ${pf}base b JOIN ${pf}edges e ON b.g = e.g GROUP BY 1, 2),
      |${pf}cb AS (SELECT c.g,
      |    1 + len(list_filter(e.edges, x -> x < c.y)) AS bin, COUNT(*) AS nq
      |  FROM ${pf}cur c JOIN ${pf}edges e ON c.g = e.g GROUP BY 1, 2),
      |${pf}bcx AS (SELECT COALESCE(bb.g, cb.g) AS g,
      |    COALESCE(bb.bin, cb.bin) AS bin,
      |    COALESCE(np, 0) AS np, COALESCE(nq, 0) AS nq
      |  FROM ${pf}bb bb FULL JOIN ${pf}cb cb
      |    ON bb.g = cb.g AND bb.bin = cb.bin),
      |${pf}tot AS (SELECT g, SUM(np) AS tp, SUM(nq) AS tq, COUNT(*) AS nbins
      |  FROM ${pf}bcx GROUP BY g),
      |${pf}sh AS (SELECT bcx.g,
      |    GREATEST(1, (np + 1) * 1000000 // (tp + nbins)) AS p,
      |    GREATEST(1, (nq + 1) * 1000000 // (tq + nbins)) AS q
      |  FROM ${pf}bcx bcx JOIN ${pf}tot tot ON bcx.g = tot.g),
      |${pf}shc AS (SELECT g, p, q, GREATEST(p, q) AS hi, LEAST(p, q) AS lo
      |  FROM ${pf}sh),
      |${graft.ops.FixedLn.sqlLnE9Stages(s"${pf}shc", "hi", "lo", "lnhl",
           s"${pf}lx")},
      |${pf}psi AS MATERIALIZED (SELECT g,
      |    SUM(ABS(p - q) * lnhl) // 1000000 AS psi_e9
      |  FROM ${pf}lx12 GROUP BY g),
      |${pf}psig AS (SELECT g, psi_e9,
      |    CASE WHEN psi_e9 >= 100000000 THEN 1 ELSE 0 END AS drift
      |  FROM ${pf}psi),
      |${pf}ndg AS MATERIALIZED (SELECT g, dn, SUM(y) AS y,
      |    MAX(c1) AS c1, MAX(c2) AS c2, ((dn % 7) + 7) % 7 AS dow
      |  FROM $src, ${pf}cut GROUP BY g, dn),
      |${pf}fa AS (SELECT g, dow, SUM(y) // COUNT(*) AS fa0 FROM ${pf}ndg
      |  WHERE dn <= c1 GROUP BY 1, 2),
      |${pf}fbt AS (SELECT g, SUM(y) // COUNT(*) AS fb FROM ${pf}ndg
      |  WHERE dn <= c1 GROUP BY 1),
      |${pf}scored AS MATERIALIZED (SELECT nd.g, nd.dn, nd.y, nd.c1, nd.c2,
      |    COALESCE(fa.fa0, fbt.fb) AS fa, fbt.fb AS fb
      |  FROM ${pf}ndg nd LEFT JOIN ${pf}fa fa
      |    ON nd.g = fa.g AND nd.dow = fa.dow
      |  JOIN ${pf}fbt fbt ON nd.g = fbt.g),
      |${pf}tsx AS (SELECT g, dn,
      |    SUM(y - fa) OVER (PARTITION BY g ORDER BY dn) AS ce,
      |    SUM(ABS(y - fa)) OVER (PARTITION BY g ORDER BY dn) AS ca
      |  FROM ${pf}scored WHERE dn > c2),
      |${pf}ts AS MATERIALIZED (SELECT g,
      |    arg_max(${sdivSql("ce * 1000000", "GREATEST(ca, 1)")}, dn) AS ts_e6,
      |    COUNT(*) AS n_test
      |  FROM ${pf}tsx GROUP BY g),
      |${pf}tsg AS (SELECT g, ts_e6, n_test,
      |    CASE WHEN ABS(ts_e6) >= 500000 THEN 1 ELSE 0 END AS biased
      |  FROM ${pf}ts),
      |${pf}w AS (SELECT g,
      |    SUM(ABS(y - fa)) // COUNT(*) AS mae_a_val,
      |    SUM(ABS(y - fb)) // COUNT(*) AS mae_b_val
      |  FROM ${pf}scored WHERE dn > c1 AND dn <= c2 GROUP BY g),
      |${pf}wg AS (SELECT g, CASE WHEN mae_a_val + mae_b_val = 0 THEN 500000
      |    ELSE mae_b_val * 1000000 // (mae_a_val + mae_b_val) END AS w_a_e6
      |  FROM ${pf}w),
      |${pf}arms AS MATERIALIZED (SELECT s.g, MAX(wg.w_a_e6) AS w_a_e6,
      |    SUM(ABS(s.y - s.fa)) // COUNT(*) AS mae_champion,
      |    SUM(ABS(s.y - s.fb)) // COUNT(*) AS mae_level,
      |    SUM(ABS(s.y - (wg.w_a_e6 * s.fa + (1000000 - wg.w_a_e6) * s.fb)
      |      // 1000000)) // COUNT(*) AS mae_ensemble
      |  FROM ${pf}scored s JOIN ${pf}wg wg ON s.g = wg.g
      |  WHERE s.dn > s.c2 GROUP BY s.g),
      |${pf}armw AS (SELECT *, CASE
      |    WHEN mae_champion <= mae_ensemble AND mae_champion <= mae_level
      |      THEN 'champion'
      |    WHEN mae_ensemble <= mae_level THEN 'ensemble'
      |    ELSE 'level' END AS winner FROM ${pf}arms),
      |${pf}dec AS (SELECT CAST(p.g AS BIGINT) AS g,
      |    CAST(p.psi_e9 AS BIGINT) AS psi_e9,
      |    CAST(p.drift AS BIGINT) AS drift,
      |    CAST(t.ts_e6 AS BIGINT) AS ts_e6,
      |    CAST(t.biased AS BIGINT) AS biased,
      |    CAST(t.n_test AS BIGINT) AS n_test,
      |    CAST(a.w_a_e6 AS BIGINT) AS w_a_e6,
      |    CAST(a.mae_champion AS BIGINT) AS mae_champion,
      |    CAST(a.mae_level AS BIGINT) AS mae_level,
      |    CAST(a.mae_ensemble AS BIGINT) AS mae_ensemble, a.winner,
      |    CAST(CASE WHEN p.drift + t.biased > 0 THEN 1 ELSE 0 END AS BIGINT)
      |      AS retrain,
      |    CASE WHEN p.drift + t.biased = 0 THEN 'keep'
      |      WHEN a.winner = 'champion' THEN 'refresh_champion'
      |      ELSE 'promote_' || a.winner END AS action,
      |    CAST(1 + CASE WHEN p.drift + t.biased > 0 THEN 1 ELSE 0 END
      |      AS BIGINT) AS new_version
      |  FROM ${pf}psig p JOIN ${pf}tsg t ON p.g = t.g
      |  JOIN ${pf}armw a ON p.g = a.g)""".stripMargin

  private val odGrainSql: String =
    """SELECT c.c_nationkey AS g,
      |    date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
      |      AS dn,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS y,
      |    o.o_orderkey AS ok
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"""
      .stripMargin

  def oracleSql: Map[String, String] = Map(

    "q552_retrain_pipeline" ->
      s"""WITH od AS MATERIALIZED ($odGrainSql),
        |${decisionSqlCtes("od", "")}
        |SELECT * FROM dec ORDER BY g""".stripMargin,

    "q553_semdedup" -> {
      val cos = graft.functions.VectorFunctions.sqlCosineR6("a.vd", "b.vd")
      s"""WITH $semCorpusSql,
        |c AS (SELECT vec_id AS cid, i, v AS cv FROM x
        |  WHERE vec_id BETWEEN 0 AND 7),
        |d AS (SELECT x.vec_id, c.cid, SUM((x.v - c.cv) * (x.v - c.cv)) AS d2
        |  FROM x JOIN c ON x.i = c.i GROUP BY 1, 2),
        |a AS MATERIALIZED (SELECT vec_id, cid FROM
        |    (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
        |       ORDER BY d2, cid) AS rn FROM d) WHERE rn = 1),
        |vv AS MATERIALIZED (SELECT a.cid, l.vec_id, l.vd FROM
        |    (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY i) AS vd
        |     FROM x GROUP BY vec_id) l
        |  JOIN a ON l.vec_id = a.vec_id),
        |dropped AS (SELECT DISTINCT a.cid, b.vec_id FROM vv a JOIN vv b
        |  ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE $cos >= $SemTau),
        |m AS (SELECT vv.cid, vv.vec_id,
        |    CASE WHEN dropped.vec_id IS NULL THEN 0 ELSE 1 END AS drp
        |  FROM vv LEFT JOIN dropped
        |    ON vv.cid = dropped.cid AND vv.vec_id = dropped.vec_id)
        |SELECT CAST(cid AS BIGINT) AS cid,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(CASE WHEN vec_id >= (SELECT off FROM off) THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_planted,
        |  CAST(SUM(drp) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN drp = 1 AND vec_id >= (SELECT off FROM off)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_dropped,
        |  CAST(COUNT(*) - SUM(drp) AS BIGINT) AS n_kept,
        |  CAST(SUM(drp) * 10000 // COUNT(*) AS BIGINT) AS drop_ratio_e4,
        |  CAST(SUM(CASE WHEN drp = 0 THEN vec_id ELSE 0 END) AS BIGINT)
        |    AS keep_checksum
        |FROM m GROUP BY cid ORDER BY cid""".stripMargin
    },

    "q569_semdedup_lsh" -> {
      // cosine via per-vector precomputed sqrt-norms: round(dot/na/nb, 6)
      // is bit-identical to sqlCosineR6 (same op order, the sqrt is just
      // hoisted) and cuts the within-bucket pair cost 3x
      val dot = graft.functions.VectorFunctions.sqlDot("a.vd", "b2.vd")
      val nrm = graft.functions.VectorFunctions.sqlDot("vd", "vd")
      // the 16 SRP projections run on the long-form (vec_id, i, v) table
      // against a plane VALUES list — integer-exact identical to the
      // engine's fused SrpBucket kernel (proj = Σ round(vd_i·1e6)·s_i =
      // Σ v_i·1e6·s_i since v is already the e6 integer; exact BIGINT
      // sums are order-independent), and ~40× faster than evaluating a
      // 64-literal list_extract inside a per-element lambda (the naive
      // sqlLshBucket mirror measured 16.5 s on 2k vectors)
      val planeRows = (0 until 16).map { p =>
        val signs = graft.functions.VectorFunctions.planeSigns(p, 64)
          .mkString("[", ",", "]")
        s"($p, $signs)"
      }.mkString(", ")
      s"""WITH $semCorpusSql,
        |vv0 AS MATERIALIZED (SELECT vec_id,
        |    list(CAST(v AS DOUBLE) ORDER BY i) AS vd
        |  FROM x GROUP BY vec_id),
        |vv AS MATERIALIZED (SELECT vec_id, vd, sqrt($nrm) AS nrm FROM vv0),
        |nb AS (SELECT COUNT(*) AS n,
        |    GREATEST(1, (COUNT(*) + 124) // 125) AS m FROM vv),
        |bb AS (SELECT n, m, ${bitsLadderSql("m")} AS b FROM nb),
        |planes(p, signs) AS (VALUES $planeRows),
        |proj AS (SELECT x.vec_id, planes.p,
        |    SUM(x.v * 1000000 * list_extract(planes.signs, CAST(x.i AS INT)))
        |      AS pr
        |  FROM x, planes GROUP BY 1, 2),
        |bks AS (SELECT vec_id,
        |    SUM(CASE WHEN pr > 0 THEN 1::BIGINT << CAST(p AS INT)
        |      ELSE 0 END) AS bucket16
        |  FROM proj GROUP BY vec_id),
        |bk AS MATERIALIZED (SELECT vv.vec_id, vv.vd, vv.nrm,
        |    bks.bucket16 % (1::BIGINT << b) AS bkt
        |  FROM vv JOIN bks ON vv.vec_id = bks.vec_id, bb),
        |dropped AS MATERIALIZED (SELECT DISTINCT b2.vec_id
        |  FROM bk a JOIN bk b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
        |  WHERE round($dot / a.nrm / b2.nrm, 6) >= $SemTau),
        |m AS (SELECT k.vec_id,
        |    CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS drp
        |  FROM bk k LEFT JOIN dropped d ON k.vec_id = d.vec_id),
        |drops AS (SELECT COUNT(*) AS n_vectors,
        |    SUM(CASE WHEN vec_id >= (SELECT off FROM off) THEN 1 ELSE 0 END)
        |      AS n_planted,
        |    SUM(drp) AS n_dropped,
        |    SUM(CASE WHEN drp = 1 AND vec_id >= (SELECT off FROM off)
        |      THEN 1 ELSE 0 END) AS n_planted_dropped,
        |    SUM(CASE WHEN drp = 0 THEN vec_id ELSE 0 END) AS keep_checksum
        |  FROM m),
        |bs AS (SELECT bkt, COUNT(*) AS c FROM bk GROUP BY bkt),
        |bstat AS (SELECT COUNT(*) AS n_buckets, MAX(c) AS max_bucket,
        |    SUM(c * (c - 1) // 2) AS n_candidate_pairs FROM bs)
        |SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
        |  CAST(n_planted AS BIGINT) AS n_planted,
        |  CAST(b AS BIGINT) AS bits,
        |  CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(max_bucket AS BIGINT) AS max_bucket,
        |  CAST(n_candidate_pairs AS BIGINT) AS n_candidate_pairs,
        |  CAST(n_dropped AS BIGINT) AS n_dropped,
        |  CAST(n_planted_dropped AS BIGINT) AS n_planted_dropped,
        |  CAST(n_planted_dropped * 10000 // GREATEST(n_planted, 1) AS BIGINT)
        |    AS recall_e4,
        |  CAST(keep_checksum AS BIGINT) AS keep_checksum
        |FROM drops, bstat, bb""".stripMargin
    },

    // bc0's cut column is named batch_cut, NOT bcut (ADVICE r13):
    // decisionSqlCtes("od", "b") emits a CTE named `bcut`, and a
    // same-named column in scope is one rename away from shadowing.
    "q570_ingest_gate_pipeline" ->
      s"""WITH od AS MATERIALIZED ($odGrainSql),
        |bc0 AS (SELECT MAX(dn) - 7 AS batch_cut FROM od),
        |pre AS MATERIALIZED (SELECT od.* FROM od, bc0 WHERE dn <= batch_cut),
        |${decisionSqlCtes("pre", "a")},
        |${decisionSqlCtes("od", "b")}
        |SELECT a.g AS g,
        |  a.psi_e9 AS psi_pre, b.psi_e9 AS psi_post,
        |  a.ts_e6 AS ts_pre, b.ts_e6 AS ts_post,
        |  a.retrain AS retrain_pre, b.retrain AS retrain_post,
        |  a.action AS action_pre, b.action AS action_post,
        |  b.new_version AS new_version_post,
        |  CAST(CASE WHEN a.action != b.action OR a.retrain != b.retrain
        |    THEN 1 ELSE 0 END AS BIGINT) AS gate_changed
        |FROM adec a JOIN bdec b ON a.g = b.g ORDER BY g""".stripMargin
  )
}

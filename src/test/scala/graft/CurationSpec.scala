package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape and semantic invariants for the curation surface
  * (CurationQueries, q78-q84) — the 100-TB properties the sf0.01 hash
  * gate can't see: broadcasts where a side is vocabulary/benchmark-sized,
  * TakeOrdered instead of global sorts, deterministic sampling.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def executed(name: String) = PlanAtScale(spark) {
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q78 repetition: ratio bounded, flag consistent with threshold") {
    val rows = SparkEntry.queries("q78_repetition_filter")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, top, ratio, rep) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert(top >= 1 && top <= n)
      assert(ratio == top * 10000 / n)
      assert(rep == (ratio >= 2000))
    }
  }

  test("q79 canonical docs: one canonical per component, members partition the corpus") {
    val rows = SparkEntry.queries("q79_canonical_docs")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum == nDocs, "members must partition the corpus")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach(r => assert(!r.isNullAt(1) && r.getLong(2) > 0))
  }

  test("q80 stratified rebalance: every stratum keeps exactly the min class size, deterministically") {
    val take = SparkEntry.queries("q80_stratified_rebalance")(spark, sf)
    val perLang = take.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = classes.values.min
    assert(perLang.keySet == classes.keySet)
    assert(perLang.values.forall(_ == m), s"expected $m per stratum, got $perLang")
    // pure function of doc_id: a second run selects the same docs
    val a = take.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = SparkEntry.queries("q80_stratified_rebalance")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("q81 tfidf: df side is broadcast (vocabulary-sized), ≤3 terms per doc") {
    val plan = executed("q81_tfidf_topk")
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q81_tfidf_topk")(spark, sf).collect()
    val perDoc = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(perDoc.forall(_ <= 3))
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(3))
    }
  }

  test("q82 contamination: probe side broadcast, join carries 32-hex hashes not gram text") {
    val plan = executed("q82_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q82_contamination")(spark, sf).collect()
    rows.foreach(r => assert(r.getLong(1) >= 1))
    // probe docs themselves (source src0) are never flagged
    val src0 = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => !src0.contains(r.getLong(0))))
  }

  test("q83 histogram: closed bucket formula, partitions the corpus") {
    val rows = SparkEntry.queries("q83_token_histogram")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(b >= 0 && b <= 15)
      assert(lo <= hi)
      if (b < 15) assert(lo / 10 == b && hi / 10 == b)
    }
  }

  test("q85 sequence packing: bins conserve tokens, contiguous per stratum, window never global") {
    val plan = executed("q85_sequence_packing")
    assert(!plan.contains("Exchange SinglePartition"),
      "packing window must partition by stratum, never collapse to one partition")
    val rows = SparkEntry.queries("q85_sequence_packing")(spark, sf).collect()
    val binTokens = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // token conservation: per-lang bin totals == per-lang corpus totals
    import org.apache.spark.sql.functions.{col, size, sum}
    val corpus = Tables.documents(spark, sf)
      .groupBy("lang")
      .agg(sum(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val packed = binTokens.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(packed == corpus, s"packed=$packed corpus=$corpus")
    // bins contiguous from 0 within each stratum
    binTokens.groupBy(_._1).foreach { case (_, bs) =>
      val ids = bs.map(_._2).sorted.toSeq
      assert(ids == (0L until ids.length).toSeq)
    }
  }

  test("q86 chunking: stride-25 windows, full-width except the tail, indices dense") {
    val rows = SparkEntry.queries("q86_chunk_windows")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_._2).toSeq
      assert(sorted.map(_._2) == (0L until sorted.length).toSeq, "dense chunk indices")
      sorted.foreach { case (_, idx, start, len) =>
        assert(start == idx * 25)
        assert(len >= 1 && len <= 50)
      }
      // every chunk except the last is full-width
      sorted.dropRight(1).foreach { case (_, _, _, len) => assert(len == 50) }
      // the tail chunk keeps more than the overlap (no fully-contained chunk)
      if (sorted.length > 1) assert(sorted.last._4 > 25)
    }
  }

  test("q87 corpus pipeline: manifest consistent, composed plan never collapses to one partition") {
    val plan = executed("q87_corpus_pipeline")
    assert(!plan.contains("Exchange SinglePartition") || plan.contains("TakeOrdered"),
      "pipeline stages must stay keyed on lang/comp")
    val rows = SparkEntry.queries("q87_corpus_pipeline")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, kept, tokens, bins, pct) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(kept <= total && kept > 0)
      assert(pct == kept * 10000 / total)
      // bin count matches the packing arithmetic: the last bin starts
      // below the running total, so (bins-1)*512 < tokens
      assert(bins >= 1 && (bins - 1) * 512 < tokens)
    }
  }

  test("q88 incremental dedup: covers the whole incoming batch, asymmetric verdicts consistent") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q88_incremental_dedup")(spark, sf).collect()
    val nIncoming = Tables.documents(spark, sf).filter(col("source") === "src9").count()
    assert(rows.length == nIncoming, "every incoming doc gets a verdict")
    rows.foreach { r =>
      val (nDups, admitted) = (r.getLong(1), r.getBoolean(3))
      assert(admitted == (nDups == 0))
      if (nDups > 0) assert(!r.isNullAt(2) && r.getLong(2) >= 200000L)
      else assert(r.isNullAt(2))
    }
  }

  test("q89 data mixture: kept counts are exact floor(weight × class size), weight side broadcast") {
    val plan = executed("q89_data_mixture")
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q89_data_mixture")(spark, sf).collect()
    val totals = Tables.documents(spark, sf).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = Map("src0" -> 10000L, "src1" -> 7500L, "src2" -> 5000L,
      "src3" -> 5000L, "src4" -> 2500L, "src5" -> 2500L, "src6" -> 2500L,
      "src7" -> 1000L, "src8" -> 1000L, "src9" -> 1000L)
    rows.foreach { r =>
      val (src, total, keep) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(total == totals(src))
      assert(keep == total * weights(src) / 10000L)
    }
    // full-weight source keeps everything
    rows.find(_.getString(0) == "src0").foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("q90 dup-source matrix: normalized pairs, counts partition the dup-pair table") {
    val rows = SparkEntry.queries("q90_dup_source_matrix")(spark, sf).collect()
    rows.foreach(r => assert(r.getString(0) <= r.getString(1), "pair order normalized"))
    val nPairs = SparkEntry.queries("q23_minhash_dup_pairs")(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == nPairs, "matrix must partition the pair table")
    rows.foreach(r => assert(r.getLong(3) >= 200000L, "mean of values ≥ threshold"))
  }

  test("q91 interval overlap: binned equi-join ≡ naive theta join, overlaps in (0, 300]") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q91_interval_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // naive reference: theta join on the raw predicate (fine at spec scale)
    val iv = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("s0"))
      .withColumn("e0", col("s0") + 300L)
    val c = iv.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("s0").as("cs"), col("e0").as("ce"))
    val v = iv.filter(col("event_type") === "view")
      .select(col("user_id").as("uid2"), col("event_id").as("vid"), col("s0").as("vs"), col("e0").as("ve"))
    val naive = c.join(v, col("user_id") === col("uid2")
        && col("cs") < col("ve") && col("vs") < col("ce"))
      .select(col("user_id"),
        (least(col("ce"), col("ve")) - greatest(col("cs"), col("vs"))).as("o"))
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("o")).as("so"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == naive, s"binned=$got naive=$naive")
    // theta-join-free plan: the query itself must join on user+bin keys only
    val plan = executed("q91_interval_overlap")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q92 z-score outliers: integer verdicts match exact BigInt recomputation") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q92_outlier_zscore")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 1000000).cast("long").as("v6"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(v => BigInt(v._2))).toMap
    vals.foreach { case (et, xs) =>
      val n = BigInt(xs.length); val s = xs.sum; val s2 = xs.map(x => x * x).sum
      val out = xs.count(x => (x * n - s).pow(2) > 9 * (n * s2 - s * s))
      assert(got(et) == (xs.length.toLong, out.toLong), s"$et")
    }
  }

  test("q109 snapshot diff: change classes exactly match the snapshot derivation rules") {
    val rows = SparkEntry.queries("q109_snapshot_diff")(spark, sf).collect()
    val byChange = rows.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    assert(byChange.keySet == Set("added", "removed", "changed"),
      "all three churn classes must be non-empty")
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    assert(byChange("added") == ids.count(_ % 10 == 3))
    assert(byChange("removed") == ids.count(_ % 10 == 7))
    assert(byChange("changed") == ids.count(i => i % 7 == 0 && i % 10 != 3 && i % 10 != 7))
    // hash columns: null exactly on the missing side
    rows.foreach { r =>
      r.getString(1) match {
        case "added"   => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "removed" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "changed" => assert(r.getString(2) != r.getString(3))
      }
    }
  }

  test("q110 bloom decontamination: bloom probe in the plan, verdict identical to plain join") {
    import org.apache.spark.sql.functions._
    val plan = executed("q110_bloom_decontaminate")
    assert(plan.toLowerCase.contains("might_contain"),
      s"bloom probe must prune the corpus chunk stream\n$plan")
    val got = SparkEntry.queries("q110_bloom_decontaminate")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // plain (bloom-free) recomputation
    val chunks = AuditQueries.chunkRows(spark, sf)
    val block = chunks.filter(col("source") === "src7").select("chunk_md5").distinct()
    val bad = chunks.filter(col("source") =!= "src7")
      .join(block, Seq("chunk_md5"), "left_semi").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val docs = Tables.documents(spark, sf).filter(col("source") =!= "src7")
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val dropped = ds.count(d => bad(d._1)).toLong
      assert(got(src) == (ds.length.toLong, dropped, ds.length - dropped), src)
    }
    assert(got.values.map(_._2).sum > 0,
      "fixture must exercise the drop path (src7 shares chunks cross-source)")
  }

  test("Bloom.semiJoin/antiJoin are exactly the plain joins, and partition the probe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probe = (0L until 500L).map(i => (i, s"k${i % 97}")).toDF("id", "k")
    val build = (0 until 97 by 3).map(i => Tuple1(s"k$i")).toDF("k")
    val semi = graft.ops.Bloom.semiJoin(probe, build, "k")
    val anti = graft.ops.Bloom.antiJoin(probe, build, "k")
    val plainSemi = probe.join(build.distinct(), Seq("k"), "left_semi")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(semi) == ids(plainSemi))
    assert(ids(anti) == ids(probe) -- ids(plainSemi))
    assert(ids(semi).nonEmpty && ids(anti).nonEmpty)
  }

  test("Bloom joins with an EMPTY build side: semi is empty, anti keeps the whole probe") {
    import spark.implicits._
    // BloomFilterAggregate returns NULL over zero rows; without the
    // coalesce guard both filter branches drop everything and an empty
    // blocklist silently discards the corpus.
    val probe = (0L until 100L).map(i => (i, s"k$i")).toDF("id", "k")
    val build = Seq.empty[Tuple1[String]].toDF("k")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(graft.ops.Bloom.semiJoin(probe, build, "k")).isEmpty)
    assert(ids(graft.ops.Bloom.antiJoin(probe, build, "k")) == ids(probe))
  }

  test("q111 MAD outliers: exact integer ladder matches a driver-side recomputation") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q111_mad_outliers")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 1000000).cast("long").as("v6"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // exact interpolated median of ints scaled ×2: integral for any n
    def med2x(xs: Seq[Long]): Long = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2) * 2 else xs(n / 2 - 1) + xs(n / 2)
    }
    vals.foreach { case (et, xs) =>
      val m2 = med2x(xs)
      val dev2 = xs.map(x => math.abs(x * 2 - m2)).sorted
      val m4 = med2x(dev2) // dev2 already ×2-scale; med2x doubles again → ×4
      val nOut = dev2.count(d => d * 2 > 3 * m4).toLong
      assert(got(et) == (xs.length.toLong, m2, m4, nOut, dev2.max), et)
    }
  }

  test("q84 phrase lift: top-k via TakeOrdered (no global sort), unigram sides broadcast") {
    val plan = executed("q84_phrase_lift")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q84_phrase_lift")(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 5), "min support")
    // descending by lift with total tie-break
    val lifts = rows.map(_.getLong(4)).toSeq
    assert(lifts == lifts.sorted.reverse)
  }
}

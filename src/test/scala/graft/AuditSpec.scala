package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic and plan-shape invariants for the audit surface
  * (AuditQueries, q93-q97) — the 100-TB properties the sf0.01 hash gate
  * can't see: banded candidates (never all-pairs), narrow-row verify
  * joins, broadcast vocabulary sides, exact integer score arithmetic.
  */
class AuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")
  val sf = "/root/testdata/sf0.001"

  private def executed(name: String) = PlanAtScale(spark) {
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("q93 containment: flags only one-way-covered pairs, arithmetic exact, no cartesian") {
    val rows = SparkEntry.queries("q93_containment_dup")(spark, sf).collect()
    rows.foreach { r =>
      val (a, b, inter, na, nb, ca, cb) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(a < b)
      assert(inter <= math.min(na, nb))
      assert(ca == inter * 1000000L / na && cb == inter * 1000000L / nb)
      assert(ca >= 500000L || cb >= 500000L)
    }
    assert(!executed("q93_containment_dup").contains("CartesianProduct"))
  }

  test("q93 catches a containment pair Jaccard-at-0.2 would understate") {
    // containment is by definition ≥ jaccard for the smaller side:
    // inter/min(na,nb) ≥ inter/union — verify the engine agrees
    val rows = SparkEntry.queries("q93_containment_dup")(spark, sf).collect()
    rows.foreach { r =>
      val (inter, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val j = inter * 1000000L / (na + nb - inter)
      val cmax = math.max(inter * 1000000L / na, inter * 1000000L / nb)
      assert(cmax >= j)
    }
  }

  test("q94 sketch accuracy: buckets partition the dup-pair table, estimates quantized to 1/8") {
    val rows = SparkEntry.queries("q94_sketch_accuracy")(spark, sf).collect()
    val nPairs = FeatureQueries.dupPairsTable(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nPairs, "every kept pair audited")
    rows.foreach { r =>
      val (bucket, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(lo <= hi)
      assert(lo / 50000 == bucket && hi / 50000 == bucket)
      assert(bucket >= 0 && bucket <= 20)
    }
  }

  test("q95 vocab overlap: all source pairs present, sizes broadcast, jaccard bounded") {
    val plan = executed("q95_vocab_overlap")
    assert(plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q95_vocab_overlap")(spark, sf).collect()
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    // shared-vocab corpus: every pair shares at least one token here
    assert(rows.length == (nSources * (nSources - 1) / 2).toInt)
    rows.foreach { r =>
      val (inter, na, nb, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(r.getString(0) < r.getString(1))
      assert(inter <= math.min(na, nb))
      assert(j == inter * 1000000L / (na + nb - inter))
      assert(j >= 0 && j <= 1000000L)
    }
  }

  test("q96 cluster stats: cells partition the corpus, cohesion bounds ordered, seeds broadcast") {
    val plan = executed("q96_cluster_stats")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    val rows = SparkEntry.queries("q96_cluster_stats")(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "every vector lands in exactly one cell")
    rows.foreach { r =>
      val (cell, mean, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cell >= 1 && cell <= 8)
      assert(lo <= mean && mean <= hi)
      assert(hi <= 1000000L && lo >= -1000000L)
    }
    // each seed's own vector has cosine 1.0 with itself → its cell's max is 1e6
    assert(rows.filter(r => r.getLong(0) >= 1).forall(_.getLong(4) <= 1000000L))
  }

  test("q97 chunk dedup: shuffles md5 keys only, counts consistent") {
    val rows = SparkEntry.queries("q97_chunk_dedup")(spark, sf).collect()
    rows.foreach { r =>
      val (nDocs, nOcc) = (r.getLong(1), r.getLong(2))
      assert(nDocs >= 2)
      assert(nOcc >= nDocs, "occurrences count all windows, docs are distinct")
      assert(r.getString(0).length == 32, "md5 hex key")
    }
    // duplicated chunks must come from near-dup docs: every flagged chunk's
    // first_doc really contains a window hashing to that md5
    if (rows.nonEmpty) {
      import org.apache.spark.sql.functions._
      val firstDocs = rows.map(_.getLong(3)).toSet
      val chunkSet = rows.map(_.getString(0)).toSet
      val recomputed = Tables.documents(spark, sf)
        .filter(col("doc_id").isInCollection(firstDocs))
        .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
        .withColumn("n", size(col("toks")))
        .withColumn("start", explode(expr("sequence(0, greatest(cast(n - 26 as int), 0), 25)")))
        .select(md5(expr("concat_ws(' ', slice(toks, start + 1, least(50, n - start)))")).as("h"))
        .collect().map(_.getString(0)).toSet
      assert(chunkSet.subsetOf(recomputed))
    }
  }

  test("q108 dup-span filter: fractions bounded, verdict rule exact, consistent with q97") {
    val rows = SparkEntry.queries("q108_dup_span_filter")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every doc gets a verdict")
    rows.foreach { r =>
      val (n, dup, frac, v) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(n >= 1 && dup >= 0 && dup <= n)
      assert(frac == dup * 10000 / n)
      assert(v == (if (frac >= 5000) "drop" else "keep"))
    }
    // docs with duplicated spans exist iff q97 found cross-doc chunks
    val q97HasDups = SparkEntry.queries("q97_chunk_dedup")(spark, sf).count() > 0
    assert((rows.map(_.getLong(2)).sum > 0) == q97HasDups)
  }

  test("q113 gram novelty: bounded, covers exactly the ≥3-token docs, hash keys stay narrow") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q113_gram_novelty")(spark, sf).collect()
    val eligible = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 3).count()
    assert(rows.length == eligible)
    rows.foreach { r =>
      val (n, sh, nov) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 1 && sh >= 0 && sh <= n)
      assert(nov == (n - sh) * 10000 / n)
    }
    // the frequency/verdict joins key on xxhash64 longs, never gram strings
    val plan = SparkEntry.queries("q113_gram_novelty")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), plan)
  }

  test("q116 dup-graph degrees: handshake identity, histogram partitions the pair endpoints") {
    val rows = SparkEntry.queries("q116_dup_degree")(spark, sf).collect()
    val nPairs = FeatureQueries.dupPairsTable(spark, sf).count()
    // Σ degree·n_docs counts each pair's two endpoints once
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * nPairs)
    rows.foreach(r => assert(r.getLong(0) >= 1 && r.getLong(1) >= 1))
  }
}

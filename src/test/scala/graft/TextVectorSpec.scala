package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Semantic identities for the dedup / similarity primitives that the
  * DuckDB hash-match can't express: duplicate inputs must collide,
  * self-similarity must be exactly 1, buckets must be stable. */
class TextVectorSpec extends AnyFunSuite {

  lazy val spark = Engine.session("textvec-test")
  import spark.implicits._

  test("exact-dedup hash collides iff text identical") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d")).toDF("id", "text")
    val groups = df.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect().sorted
    assert(groups.toSeq == Seq(1L, 2L))
  }

  test("minhash signatures identical for identical text, and j_e6 = 1e6 for dup pair") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
                 (2L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val hashed = df.select(col("doc_id"), hashArray(shingles(col("text"), 5), "").as("h"))
    val sigs = hashed.select(col("doc_id"), minChunk(col("h"), 0).as("s0"), minChunk(col("h"), 1).as("s1"))
    val rows = sigs.collect()
    assert(rows(0).getString(1) == rows(1).getString(1))
    assert(rows(0).getString(2) == rows(1).getString(2))
  }

  test("fingerprint is token-order-insensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta")).toDF("id", "text")
    val fps = df.select(fingerprint(tokens(col("text")))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("simhash16 of identical token multisets matches") {
    val fn = TextQueries.queries("q25_simhash")
    val out = fn(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0)
    // all values fit in 16 bits
    assert(out.agg(max(col("simhash16"))).as[Long].head() < 65536L)
  }

  test("cosine of a vector with itself is 1.0 after rounding") {
    val df = Seq((1L, Array(0.1f, 0.2f, 0.3f))).toDF("id", "embedding")
    val c = df.select(cosineR6(asDouble(col("embedding")), asDouble(col("embedding"))))
      .as[Double].head()
    assert(c == 1.0)
  }

  test("lsh bucket is deterministic and within range") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v"), 0 until 8, 64))
    val a = e.select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = e.select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    assert(a.values.forall(x => x >= 0 && x < 256))
  }

  test("hot-path queries run inside WholeStageCodegen (no interpreted fallback stages)") {
    for (q <- Seq("q22_minhash_signatures", "q25_simhash", "q26_ann_bruteforce")) {
      val df = TextQueries.queries.getOrElse(q,
        VectorQueries.queries(q))(spark, "/root/testdata/sf0.001")
      df.collect() // AQE renders codegen stages only in the FINAL plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"$q has no WholeStageCodegen stage:\n$plan")
    }
  }

  test("q117 int8 quantize: exact per-vector recomputation; only the presentation sort shuffles") {
    import org.apache.spark.sql.functions.col
    val df = VectorQueries.queries("q117_int8_quantize")(spark, "/root/testdata/sf0.001")
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    vecs.foreach { case (id, v) =>
      // HALF_UP like Spark's round() (math.round floors half toward +inf,
      // which differs on negative halves)
      val x6 = v.map(x => java.math.BigDecimal.valueOf(x * 1000000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact())
      val m6 = x6.map(math.abs).max
      val qs = x6.map(x =>
        if (m6 == 0) 0L else math.signum(x) * ((math.abs(x) * 254 + m6) / (2 * m6)))
      assert(qs.forall(q => math.abs(q) <= 127), s"vec $id saturates past int8")
      assert(got(id) == (m6, qs.sum, qs.map(q => q * q).sum, qs.count(q => math.abs(q) == 127).toLong),
        s"vec $id")
    }
    // per-vector HOFs: the only exchange is the final ORDER BY (count in
    // the final plan only — AQE's "Initial Plan" section repeats nodes)
    val plan = PlanAtScale(spark) {
      val d = VectorQueries.queries("q117_int8_quantize")(spark, "/root/testdata/sf0.001")
      d.collect()
      d.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("near-dup pair queries contain no all-pairs join (the 100-TB guarantee)") {
    for (q <- Seq("q23_minhash_dup_pairs", "q24_ngram_jaccard", "q27_embedding_neardup",
                  "q42_simhash_dup_pairs")) {
      val plan = PlanAtScale(spark)(TextQueries.queries.getOrElse(q,
        VectorQueries.queries(q))(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString)
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("q104/q105 stay parallel: no global window in ids, no single-partition gap-fill") {
    // q104's ids come from per-partition offsets (RDD zipWithIndex) —
    // a Window here would mean the plan regressed to the global
    // ROW_NUMBER that collapses everything into one partition
    val p104 = SparkEntry.queries("q104_contiguous_ids")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p104.contains("Window"), s"q104 regressed to a window plan:\n$p104")
    // q105's fill window partitions by user_id — SinglePartition in the
    // window exchange would mean the partition keys were lost
    val p105 = PlanAtScale(spark)(SparkEntry.queries("q105_gap_ffill")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString)
    assert(p105.contains("Window"), s"q105 lost its fill window:\n$p105")
    assert(!p105.replaceAll("(?s)Sort \\[user_id.*", "")
      .contains("SinglePartition"), s"q105 window runs on one partition:\n$p105")
  }

  test("q130 concentration: uniform text -> simpson = 1e6/n_types; single token -> 1e6") {
    val rows = SparkEntry.queries("q130_token_concentration")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, types, simpson, topShare) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(types <= n && simpson >= 1000000L / math.max(types, 1) - 1 && simpson <= 1000000L)
      // the heaviest token's share is at least the uniform share, at most all
      assert(topShare <= 10000L && topShare >= 10000L / math.max(types, 1) - 1)
    }
  }

  test("q133 boilerplate: shares bounded by 1e4; boiler grams never exceed total grams") {
    val rows = SparkEntry.queries("q133_boilerplate")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, b, e4) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(b <= n && e4 <= 10000L && e4 == b * 10000 / n)
    }
  }

  test("q142 centroid drift: halves partition each label; shift bounded by worst dim") {
    val rows = SparkEntry.queries("q142_centroid_drift")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    rows.foreach { r =>
      val (shift2, topAbs) = (r.getLong(3), r.getLong(5))
      // the worst dimension's square is part of (and at most) the total
      assert(topAbs * topAbs <= shift2 && shift2 <= 64L * topAbs * topAbs)
    }
  }

  test("q132 kmeans step: every vector assigned exactly once; centroids well-formed") {
    val df = SparkEntry.queries("q132_kmeans_step")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length == 8 * 64, s"expected K*d rows, got ${rows.length}")
    val total = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    // per dimension, memberships across cells partition the corpus
    rows.groupBy(_.getLong(1)).foreach { case (_, dimRows) =>
      assert(dimRows.map(_.getLong(2)).sum == total)
    }
    // floor-div mean stays inside the member envelope
    rows.foreach { r =>
      val (n, sum, c6) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && math.abs(c6 - sum.toDouble / n) <= 1.0)
    }
  }

  test("langid heuristic prefers the language whose stopwords dominate") {
    val df = Seq((1L, "el la de que los una es y"), (2L, "the a of to in and is"))
      .toDF("doc_id", "text")
    val toks = tokens(col("text"))
    val out = df.select(col("doc_id"),
        stopwordCount(toks, EnStop).as("en"), stopwordCount(toks, EsStop).as("es"))
      .withColumn("pred", when(col("en") >= col("es") && col("en") > 0, "en")
        .when(col("es") > 0, "es").otherwise("und"))
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "es" && out(2L) == "en")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/** The fused MinHashSigs kernel must be value-identical to the
  * declarative HOF definition that the DuckDB oracle mirrors —
  * asserted element-wise on real testdata. */
class MinHashKernelSpec extends AnyFunSuite {

  lazy val spark = Engine.session("minhash-kernel-test")

  test("minhash_sigs(text, 5) equals the declarative shingle/md5/chunk-min definition") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    // declarative reference: per-shingle md5s, chunk mins via HOFs
    val hashed = docs
      .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      .select(col("doc_id"),
        hashArray(col("sh"), "").as("h0"), hashArray(col("sh"), "1:").as("h1"))
    val ref = hashed.select(
      col("doc_id"),
      array((0 until 4).map(j => minChunk(col("h0"), j)) ++
        (0 until 4).map(j => minChunk(col("h1"), j)): _*).as("sigs"))
    val fused = docs.select(col("doc_id"), expr("minhash_sigs(text, 5)").as("sigs"))
    assert(fused.join(ref.withColumnRenamed("sigs", "ref_sigs"), "doc_id")
      .filter(col("sigs") =!= col("ref_sigs")).count() == 0)
    assert(fused.count() == docs.count())
  }

  test("ngrams(toks, 3) equals the declarative transform+array_distinct definition") {
    val d = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
    val ref = d.select(col("doc_id"),
      array_distinct(transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))).as("ref_g"))
    val fused = d.select(col("doc_id"), expr("ngrams(toks, 3)").as("g"))
    assert(fused.join(ref, "doc_id").filter(col("g") =!= col("ref_g")).count() == 0)
    // degenerate: fewer tokens than n -> empty array
    import spark.implicits._
    val tiny = Seq((1L, Seq("a", "b"))).toDF("doc_id", "toks")
    assert(tiny.select(expr("ngrams(toks, 3)")).as[Seq[String]].head().isEmpty)
  }

  test("ngrams_all(toks, 2) equals the declarative transform lambda, multiplicity kept") {
    val d = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
    val ref = d.select(col("doc_id"),
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1))).as("ref_g"))
    val fused = d.select(col("doc_id"), expr("ngrams_all(toks, 2)").as("g"))
    assert(fused.join(ref, "doc_id").filter(col("g") =!= col("ref_g")).count() == 0)
    import spark.implicits._
    val tiny = Seq((1L, Seq("a"))).toDF("doc_id", "toks")
    assert(tiny.select(expr("ngrams_all(toks, 2)")).as[Seq[String]].head().isEmpty)
  }

  test("md5_60 equals conv(substring(md5, 1, 15), 16, 10) on real text") {
    val d = Tables.documents(spark, "/root/testdata/sf0.01")
    val both = d.select(
      expr("md5_60(text)").as("k"),
      expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)").as("r"))
    assert(both.filter(col("k") =!= col("r")).count() == 0)
    assert(both.count() == d.count())
  }

  test("stop_hits3 equals the per-list stopwordCount HOFs in one pass") {
    val d = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", tokens(col("text")))
    val both = d.select(col("doc_id"),
      expr("stop_hits3(toks)").as("h"),
      stopwordCount(col("toks"), EnStop).cast("long").as("en"),
      stopwordCount(col("toks"), EsStop).cast("long").as("es"),
      stopwordCount(col("toks"), DeStop).cast("long").as("de"))
    assert(both.filter(
      element_at(col("h"), 1) =!= col("en") ||
      element_at(col("h"), 2) =!= col("es") ||
      element_at(col("h"), 3) =!= col("de")).count() == 0)
    // degenerate: empty token array -> [0,0,0], multiplicity kept for dups
    import spark.implicits._
    val tiny = Seq((1L, Seq.empty[String]), (2L, Seq("the", "the", "de", "der")))
      .toDF("doc_id", "toks")
    val rows = tiny.select(expr("stop_hits3(toks)")).as[Seq[Long]].collect()
    assert(rows(0) == Seq(0L, 0L, 0L))
    assert(rows(1) == Seq(2L, 1L, 1L)) // 'de' is Spanish-list only, 'der' German
  }

  test("cosine_r6 kernel is bit-identical to the declarative round(dot/sqrt/sqrt)") {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qe"))
    val both = e.crossJoin(q)
      .select(cosineR6(col("v"), col("qe")).as("fused"),
        cosineR6Hof(col("v"), col("qe")).as("ref"))
    assert(both.filter(col("fused") =!= col("ref")).count() == 0)
    assert(both.count() == 500)
  }

  test("tri_products equals the declarative nested-transform/flatten form") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), x -> cast(round(x * 1000000) as bigint))").as("x6"))
    val both = e.select(col("vec_id"),
      expr("tri_products(x6)").as("fused"),
      expr("""flatten(transform(sequence(1, size(x6)), i ->
              transform(sequence(i, size(x6)), j -> x6[i-1] * x6[j-1])))""").as("ref"))
    assert(both.filter(col("fused") =!= col("ref")).count() == 0)
    assert(both.count() == 500)
    assert(both.select(size(col("fused"))).first().getInt(0) == 64 * 65 / 2)
  }

  test("rolling_fp equals the declarative codepoint-fold definition") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val ref = docs.select(col("doc_id"),
      aggregate(
        transform(sequence(lit(1), length(col("text"))), i => ascii(col("text").substr(i, lit(1))).cast("long")),
        lit(0L), (acc, x) => (acc * 31 + x) % 2147483647L).as("ref_fp"))
    val fused = docs.select(col("doc_id"), expr("rolling_fp(text)").as("fp"))
    assert(fused.join(ref, "doc_id").filter(col("fp") =!= col("ref_fp")).count() == 0)
    // order sensitivity: same bag of chars, different order -> different fp
    import spark.implicits._
    val pair = Seq((1L, "ab"), (2L, "ba")).toDF("doc_id", "text")
      .select(expr("rolling_fp(text)")).as[Long].collect()
    assert(pair(0) != pair(1))
  }

  test("simhash16 kernel equals the explode + bit-vote aggregation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val t = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), tokenHash16(col("tok")).as("v"))
    val sums = (0 until 16).map(b =>
      sum(when(shiftright(col("v"), b).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"s$b"))
    val sim = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val ref = t.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sim.cast("long").as("ref_sh"))
    val fused2 = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), expr("simhash16(toks)").as("sh"))
    assert(fused2.join(ref, "doc_id").filter(col("sh") =!= col("ref_sh")).count() == 0)
  }

  test("simhash128 chunk layout: 8 x 16-bit chunks, prefix-compatible with simhash64/16") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val all = docs.select(col("doc_id"),
      expr("simhash128(toks)").as("sh128"),
      expr("simhash16(toks)").as("sh16"))
    // every chunk is a 16-bit value
    assert(all.filter(exists(col("sh128"),
      c => c < 0 || c > 65535)).count() == 0)
    assert(all.filter(size(col("sh128")) =!= 8).count() == 0)
    // chunk 0 == simhash16
    assert(all.filter(element_at(col("sh128"), 1) =!= col("sh16")).count() == 0)
  }

  test("srp_bucket kernel == declarative zip_with/aggregate form on real embeddings") {
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    for (planes <- Seq(0 until 8, 8 until 16, 24 until 32)) {
      val mismatches = e.select(
        lshBucket(col("v"), planes, 64).as("k"),
        lshBucketHof(col("v"), planes, 64).as("h"))
        .filter(col("k") =!= col("h")).count()
      assert(mismatches == 0, s"kernel/HOF divergence for planes $planes")
    }
  }

  test("kernel handles degenerate inputs like the declarative form") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, ""), (3L, "exactly5"), (4L, "héllo wörld"))
      .toDF("doc_id", "text")
    val hashed = df
      .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      .select(col("doc_id"),
        hashArray(col("sh"), "").as("h0"), hashArray(col("sh"), "1:").as("h1"))
    val ref = hashed.select(
      col("doc_id"),
      array((0 until 4).map(j => minChunk(col("h0"), j)) ++
        (0 until 4).map(j => minChunk(col("h1"), j)): _*).as("sigs"))
      .as[(Long, Seq[String])].collect().toMap
    val fused = df.select(col("doc_id"), expr("minhash_sigs(text, 5)").as("sigs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(fused == ref)
  }
}

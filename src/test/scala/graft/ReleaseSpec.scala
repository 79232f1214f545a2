package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Replay spec for the q571 corpus-release flagship: a PLANTED corpus
  * (one contaminated clone of the eval doc, one exact duplicate pair,
  * one too-short and one stopword-free doc, and an over-mixed 20-doc
  * source at weight 0.10) whose release manifest is fully derivable by
  * hand — so a perturbation of any stage (gate order, canonical rule,
  * mixture floor, id assignment, the contamination re-check) fails
  * here with a named expectation, not just at the oracle hash.
  */
class ReleaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("test")

  /** Disjoint-vocabulary doc text: `n` tokens prefixed `p`, with a
    * shared stopword "the" planted every 20 tokens when `stop` is set
    * (tokens are lowercase alphanumeric, so any word tokenizer agrees). */
  private def text(p: String, n: Int, stop: Boolean): String =
    (0 until n).map { i =>
      if (stop && i % 20 == 10) "the" else s"${p}w$i"
    }.mkString(" ")

  private lazy val dir: String = {
    import spark.implicits._
    val work = Engine.tempDir("graft_release")
    val evalText = text("ev", 60, stop = false)
    val dupText = text("dd", 40, stop = true)
    val rows =
      // src7 = the held-out eval source
      Seq((900L, evalText, "src7")) ++
      Seq(
        (1L, text("keep", 40, stop = true), "src0"),  // clean keeper
        (2L, evalText, "src0"),                       // planted contamination
        (3L, dupText, "src0"),                        // dup pair, canonical
        (4L, dupText, "src0"),                        // dup pair, dropped
        (5L, text("sh", 5, stop = true), "src0"),     // too short (quality)
        (6L, text("ns", 40, stop = false), "src0")    // no stopwords (quality)
      ) ++
      // over-mixed source: 20 clean candidates at weight 0.10 → keep 2
      (100L to 119L).map(i => (i, text(s"s8d$i", 30, stop = true), "src8"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    work
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q571 planted fixture: every stage lands exactly as derived by hand") {
    val rows = SparkEntry.queries("q571_corpus_release")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("src0", "src8"), s"sources: ${rows.keySet}")

    // — src0: 6 docs → 1 decon (exact clone of the eval doc), 1 dup
    //   (the higher-id twin), 2 quality (short, stopword-free),
    //   2 candidates at weight 1.0 → both kept —
    val a = rows("src0")
    assert(a.getLong(1) == 6L, "src0 n_total")
    assert(a.getLong(2) == 1L, "src0 n_decon_dropped (the planted clone)")
    assert(a.getLong(3) == 1L, "src0 n_dup_dropped (higher-id twin only)")
    assert(a.getLong(4) == 2L, "src0 n_quality_dropped (short + no-stopword)")
    assert(a.getLong(5) == 2L, "src0 n_candidates")
    assert(a.getLong(6) == 2L && a.getLong(7) == 2L, "src0 n_keep = n_kept = 2")
    assert(a.getLong(8) == 80L, "src0 kept_tokens (2 x 40)")
    assert(a.getLong(9) == 1L, "src0 n_bins (80 tokens < 512)")
    assert(a.getLong(10) == 0L, "src0 released set re-measures ZERO contamination")
    // global ids in doc_id order: docs 1 and 3 are the two lowest kept
    assert(a.getLong(11) == 0L && a.getLong(12) == 1L && a.getLong(13) == 1L,
      "src0 ids 0..1, checksum 1")
    assert(a.getLong(14) == 2L * 10000 / 6, "src0 pct_kept_e4")

    // — src8: 20 clean candidates, weight 0.10 → keep exactly
    //   floor(20 * 0.10) = 2, chosen by md5(doc_id) rank —
    val b = rows("src8")
    assert(b.getLong(1) == 20L && b.getLong(5) == 20L, "src8 totals")
    assert(b.getLong(2) == 0L && b.getLong(3) == 0L && b.getLong(4) == 0L,
      "src8 has no planted drops")
    assert(b.getLong(6) == 2L && b.getLong(7) == 2L,
      "src8 over-mixing clamps to floor(20 x 0.10) = 2")
    assert(b.getLong(8) == 60L, "src8 kept_tokens (2 x 30)")
    assert(b.getLong(10) == 0L, "src8 contamination_final")
    // the two kept src8 docs take global rows 2 and 3 (after src0's)
    assert(b.getLong(11) == 2L && b.getLong(12) == 3L && b.getLong(13) == 5L,
      "src8 ids 2..3, checksum 5")
    assert(b.getLong(14) == 1000L, "src8 pct_kept_e4 = 10%")

    // the md5-rank selection is reproducible outside the engine: the
    // two kept ids must be the first two of 100..119 by (md5(id), id)
    val expectKept = (100L to 119L)
      .sortBy(i => (md5hex(i.toString), i)).take(2).toSet
    import spark.implicits._
    // re-derive kept ids through the same public surface: candidates of
    // src8 are all 20 docs, so the mixture rank is pure md5 order
    val got = Tables.documents(spark, dir)
      .filter($"source" === "src8")
      .select($"doc_id",
        org.apache.spark.sql.functions.md5($"doc_id".cast("string")).as("h"))
      .orderBy("h", "doc_id").limit(2)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(got == expectKept, s"md5 rank order: engine $got vs spec $expectKept")
  }
}

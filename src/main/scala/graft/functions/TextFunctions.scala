package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for the large-scale training-data pipeline:
  * tokenization, character shingles, MinHash signatures, SimHash, language
  * ID heuristics, quality metrics, content fingerprints.
  *
  * Everything is built from codegen'd Catalyst higher-order functions
  * (transform/aggregate/filter over arrays) — no Scala UDFs — so the whole
  * stage stays inside WholeStageCodegen and scales linearly with
  * executors. Each builder has a matching SQL-fragment generator (`sql*`)
  * used to derive the DuckDB oracle from the same definition, so engine
  * and oracle can't drift.
  *
  * Ratios are returned as scaled integers (`*_eN`, value × 10^N, floor
  * division) — exact in any engine, immune to float rounding differences.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")
  def sqlTokens(c: String): String = s"regexp_split_to_array(trim($c), '\\s+')"

  /** Character k-shingles (overlapping substrings), the MinHash input.
    * 1-based positions in both engines. */
  def shingles(text: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k)))
  def sqlShingles(c: String, k: Int): String =
    s"list_transform(range(1, greatest(length($c)-${k - 1},1)+1), i -> substr($c, CAST(i AS INT), $k))"

  /** md5 each element of a string array (optionally salted). One md5 call
    * per element; downstream signatures slice the 32-hex result into four
    * independent 8-hex chunks — 4 MinHash signatures per md5 instead of
    * one md5 per signature (the round-1 bench's dominant cost). */
  def hashArray(arr: Column, salt: String): Column =
    if (salt.isEmpty) transform(arr, s => md5(s))
    else transform(arr, s => md5(concat(lit(salt), s)))
  def sqlHashArray(arrSql: String, salt: String): String =
    if (salt.isEmpty) s"list_transform($arrSql, x -> md5(x))"
    else s"list_transform($arrSql, x -> md5('$salt'||x))"

  /** MinHash signature from chunk j∈0..3 of pre-hashed 32-hex strings:
    * lexicographic min of the 8-hex substring. A fixed-width lowercase hex
    * min is a valid uniform minhash (binary collation in both engines) and
    * needs no 64-bit int parsing. */
  def minChunk(hashes: Column, j: Int): Column =
    array_min(transform(hashes, h => substring(h, 1 + 8 * j, 8)))
  def sqlMinChunk(hashesSql: String, j: Int): String =
    s"list_min(list_transform($hashesSql, h -> substr(h, ${1 + 8 * j}, 8)))"

  /** LSH band bucket = hash of the concatenated signature rows. */
  def bandBucket(sigs: Seq[Column]): Column = md5(concat(sigs: _*))
  def sqlBandBucket(sigSqls: Seq[String]): String =
    s"md5(${sigSqls.mkString("||")})"

  /** 16-bit token hash for SimHash: first 4 hex digits of md5 as int. */
  def tokenHash16(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast(IntegerType)
  /** DuckDB lacks conv(); emulate with per-digit hex value arithmetic. */
  def sqlTokenHash16(tok: String): String = sqlTokenHash16At(tok, 0)

  /** Same, for chunk c of the digest: hex digits 4c+1..4c+4 (= digest
    * bytes 2c, 2c+1 big-endian) — the per-chunk token hash of
    * [[graft.plans.SimHashKernel.simhash128]]. */
  def sqlTokenHash16At(tok: String, c: Int): String = {
    def digit(p: Int, mult: Int) =
      s"(strpos('0123456789abcdef', substr(md5($tok),${4 * c + p},1))-1)*$mult"
    s"(${digit(1, 4096)} + ${digit(2, 256)} + ${digit(3, 16)} + ${digit(4, 1)})"
  }

  /** Stopword hit count over a token array (language-ID feature). */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
  def sqlStopwordCount(toksSql: String, stopwords: Seq[String]): String =
    s"len(list_filter($toksSql, t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")})))"

  val EnStop = Seq("the", "a", "an", "of", "to", "in", "and", "is")
  val EsStop = Seq("el", "la", "de", "que", "los", "una", "es", "y")
  val DeStop = Seq("der", "die", "das", "und", "ist", "ein", "nicht")

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive document signature (bag-of-words identity). */
  def fingerprint(toks: Column): Column =
    md5(array_join(array_sort(array_distinct(toks)), " "))
  def sqlFingerprint(toksSql: String): String =
    s"md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))"

  /** Sum of element lengths (total token chars) — aggregate HOF. */
  def totalTokenChars(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
  def sqlTotalTokenChars(toksSql: String): String =
    s"CAST(list_sum(list_transform($toksSql, t -> length(t))) AS INTEGER)"
}

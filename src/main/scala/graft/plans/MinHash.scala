package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Fused MinHash signature kernel — the custom-Catalyst-Expression path
  * (SURVEY §7.3) for the one pipeline where built-in operators can't hit
  * the needed throughput.
  *
  * Semantics are IDENTICAL to the declarative form mirrored by the
  * DuckDB oracle (TextQueries.sigCte):
  *   shingles  = substr(text, i, k) for i in 1..greatest(len-k+1, 1)
  *   h0        = md5(shingle),  h1 = md5('1:' || shingle)
  *   sig[j]    = min over shingles of hex-chunk j of h0 (j<4) / h1 (j>=4)
  * A lexicographic min over fixed-width lowercase hex equals an unsigned
  * numeric min over the corresponding 4 digest bytes, so the kernel
  * tracks 8 ints per row and formats once — no per-shingle string or
  * array allocation, one reused MessageDigest, full codegen (the
  * equivalent higher-order-function plan evaluates interpreted lambdas
  * per array element: ~30× slower at sf0.1).
  *
  * Equality with the declarative definition is asserted on real data in
  * MinHashKernelSpec.
  */
object MinHashKernel {

  private val localMd = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val SaltBytes = "1:".getBytes("UTF-8")

  /** 8 chunk-min signatures (s0..s3 from md5(shingle), s4..s7 from
    * md5('1:'||shingle)) over the k-char shingles of `text`. */
  def sigs(text: UTF8String, k: Int): GenericArrayData = {
    val md = localMd.get()
    val nChars = text.numChars()
    val n = math.max(nChars - (k - 1), 1)
    val mins = new Array[Long](8)
    java.util.Arrays.fill(mins, 0xffffffffL + 1)
    var i = 0
    while (i < n) {
      val sh = text.substring(i, math.min(i + k, nChars)).getBytes
      md.reset(); md.update(sh)
      accumulate(md.digest(), mins, 0)
      md.reset(); md.update(SaltBytes); md.update(sh)
      accumulate(md.digest(), mins, 4)
      i += 1
    }
    val out = new Array[AnyRef](8)
    var j = 0
    while (j < 8) {
      out(j) = UTF8String.fromString(f"${mins(j)}%08x")
      j += 1
    }
    new GenericArrayData(out)
  }

  private def accumulate(digest: Array[Byte], mins: Array[Long], off: Int): Unit = {
    var c = 0
    while (c < 4) {
      val v = ((digest(4 * c) & 0xffL) << 24) | ((digest(4 * c + 1) & 0xffL) << 16) |
        ((digest(4 * c + 2) & 0xffL) << 8) | (digest(4 * c + 3) & 0xffL)
      if (v < mins(off + c)) mins(off + c) = v
      c += 1
    }
  }
}

/** `minhash_sigs(text, k)` → array<string> of the 8 chunk-min MinHash
  * signatures. Codegen emits a direct static kernel call. */
case class MinHashSigs(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.sigs(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashKernel.sigs($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** Word n-gram kernel: distinct space-joined n-grams of a token array,
  * first-occurrence order — value-identical to
  * `array_distinct(transform(sequence(1, size-2), i -> concat_ws(' ',
  * t[i], t[i+1], t[i+2])))` but one codegen'd pass instead of
  * interpreted per-element lambdas. */
object NGramKernel {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def ngrams(toks: ArrayData, n: Int): GenericArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(new Array[AnyRef](0))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Non-distinct variant: every n-gram with multiplicity, in order —
    * repetition counting (q78) and collocation mining (q84) need the
    * duplicates the dedup kernel above drops. */
  def ngramsAll(toks: ArrayData, n: Int): GenericArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `ngrams_all(tokenArray, n)` → array<string> of ALL word n-grams in
  * order (multiplicity kept) — the codegen'd replacement for the
  * interpreted `transform(sequence(...), i -> concat(...))` lambda
  * (HOF lambdas are CodegenFallback: per-element interpreted eval). */
case class WordNGramsAll(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ngrams_all needs array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    NGramKernel.ngramsAll(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NGramKernel.ngramsAll($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNGramsAll =
    copy(child = newChild)
}

/** `ngrams(tokenArray, n)` → array<string> of distinct word n-grams. */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ngrams needs array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    NGramKernel.ngrams(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NGramKernel.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

/** SimHash-16 kernel: per-token 16-bit hash votes folded per document in
  * one pass — value-identical to the explode + 16-bit-vote-SUM
  * aggregation (token hash = first 4 hex digits of md5 as int, i.e. the
  * first two digest bytes big-endian), but with no explode and no
  * shuffle: the whole operator collapses into a scan-side projection. */
object SimHashKernel {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private val localMd = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  def simhash16(toks: ArrayData): Long = {
    val md = localMd.get()
    val votes = new Array[Int](16)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      md.reset(); md.update(toks.getUTF8String(i).getBytes)
      val d = md.digest()
      val v = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      var b = 0
      while (b < 16) {
        if (((v >> b) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 128-bit SimHash as 8 × 16-bit chunks (array<long>, each 0..65535):
    * chunk c∈0..7 votes on digest bytes (2c, 2c+1) big-endian — the FULL
    * md5 of each token (chunk 0 equals [[simhash16]]). Returned
    * pre-chunked because the banded index consumes chunks, never the
    * packed value. */
  def simhash128(toks: ArrayData): GenericArrayData = {
    val md = localMd.get()
    val votes = new Array[Int](128)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      md.reset(); md.update(toks.getUTF8String(i).getBytes)
      val d = md.digest()
      var c = 0
      while (c < 8) {
        val v = ((d(2 * c) & 0xff) << 8) | (d(2 * c + 1) & 0xff)
        var b = 0
        while (b < 16) {
          if (((v >> b) & 1) == 1) votes(16 * c + b) += 1 else votes(16 * c + b) -= 1
          b += 1
        }
        c += 1
      }
      i += 1
    }
    val out = new Array[Long](8)
    var c = 0
    while (c < 8) {
      var chunk = 0L
      var b = 0
      while (b < 16) {
        if (votes(16 * c + b) > 0) chunk |= (1L << b)
        b += 1
      }
      out(c) = chunk
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** `simhash16(tokenArray)` → bigint 16-bit SimHash. */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash16 needs array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashKernel.simhash16(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashKernel.simhash16($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** `simhash128(tokenArray)` → array<bigint> of the 8 × 16-bit SimHash
  * chunks (chunk 0 == simhash16). */
case class SimHash128(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash128 needs array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashKernel.simhash128(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHashKernel.simhash128($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
}

/** 60-bit md5 slice as a BIGINT — value-identical to
  * `conv(substring(md5(s), 1, 15), 16, 10) :: long` (15 lowercase hex
  * chars = digest bytes 0..6 plus the high nibble of byte 7), but
  * computed straight from the digest: no 32-char hex string
  * materialization, no base-16 string parse per row. The q129 checksum
  * hashes every row of every audited table — this is its hot path. */
object Hash60Kernel {
  private val localMd = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  def h60(s: UTF8String): Long = {
    val md = localMd.get()
    md.reset(); md.update(s.getBytes)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }
}

/** `md5_60(str)` → bigint: first 60 bits of md5, the checksum hash. */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"md5_60 needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Hash60Kernel.h60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Hash60Kernel.h60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

/** Single-pass multilingual stopword counter — q19's former plan called
  * one `size(filter(toks, isin(...)))` per language, and array HOF
  * lambdas are CodegenFallback (interpreted per element), so the token
  * array was walked three times through interpreted eval: the suite's
  * most expensive query at 2.65 s (VERDICT r7). One codegen'd walk with
  * a shared token→language-bitmask table returns all three counts;
  * value-identical to the per-list `TextFunctions.stopwordCount`
  * (tokens counted with multiplicity), asserted on real data in
  * MinHashKernelSpec. The lists live in TextFunctions (En/Es/De) so the
  * oracle mirror and the kernel can't drift. */
object StopHitsKernel {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private val masks: java.util.HashMap[UTF8String, java.lang.Integer] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Integer]()
    def add(ws: Seq[String], bit: Int): Unit = ws.foreach { w =>
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, if (prev == null) 1 << bit else prev | (1 << bit))
    }
    add(graft.functions.TextFunctions.EnStop, 0)
    add(graft.functions.TextFunctions.EsStop, 1)
    add(graft.functions.TextFunctions.DeStop, 2)
    m
  }

  /** [en, es, de] stopword hit counts over one token array. */
  def hits3(toks: ArrayData): GenericArrayData = {
    val out = new Array[Long](3)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val m = masks.get(toks.getUTF8String(i))
      if (m != null) {
        val v = m.intValue()
        if ((v & 1) != 0) out(0) += 1
        if ((v & 2) != 0) out(1) += 1
        if ((v & 4) != 0) out(2) += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `stop_hits3(tokenArray)` → array<bigint> [en_hits, es_hits, de_hits]. */
case class StopHits3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"stop_hits3 needs array<string>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    StopHitsKernel.hits3(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.StopHitsKernel.hits3($c)")

  override protected def withNewChildInternal(newChild: Expression): StopHits3 =
    copy(child = newChild)
}

/** Polynomial rolling-hash fingerprint over codepoints:
  * fp = fold(0, (acc, cp) -> (acc·31 + cp) mod (2^31−1)) — the
  * Rabin-Karp-style content fingerprint, order-SENSITIVE (complements
  * the order-insensitive bag-of-words md5 fingerprint). Value-identical
  * to the HOF form `aggregate(transform(sequence(1, len), i ->
  * ascii(substr(text, i, 1))), 0, (a, x) -> (a*31 + x) % 2147483647)`
  * mirrored in DuckDB via list_reduce. */
object RollingFpKernel {
  def fp(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    acc
  }
}

/** `rolling_fp(text)` → bigint polynomial rolling-hash fingerprint. */
case class RollingFp(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"rolling_fp needs a string column, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    RollingFpKernel.fp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.RollingFpKernel.fp($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingFp =
    copy(child = newChild)
}

/** Upper-triangle self-product kernel for the Gram matrix (q178):
  * tri_products(x) over an array<bigint> of d e6-scaled coordinates
  * returns the d(d+1)/2 products x[i]·x[j] (1 ≤ i ≤ j ≤ d) in
  * row-major (i, j) order — one tight long-multiply loop per row
  * instead of d(d+1)/2 interpreted HOF lambda invocations. Identical
  * values to the declarative nested-transform/flatten form (pure
  * integer multiplies, same order), which the DuckDB oracle mirrors. */
object TriProductsKernel {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  def tri(x: ArrayData): ArrayData = {
    val d = x.numElements()
    val out = new Array[Long](d * (d + 1) / 2)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = x.getLong(i)
      var j = i
      while (j < d) {
        out(k) = xi * x.getLong(j)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `tri_products(arr)` → array<bigint> upper-triangle self products. */
case class TriProducts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"tri_products needs an array<bigint> column, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    TriProductsKernel.tri(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TriProductsKernel.tri($c)")

  override protected def withNewChildInternal(newChild: Expression): TriProducts =
    copy(child = newChild)
}

/** Fused cosine kernel: dot(a,b)/sqrt(dot(a,a))/sqrt(dot(b,b)) rounded
  * to 6 decimals, with the SAME left-to-right double accumulation and
  * the same HALF_UP rounding as the declarative
  * zip_with/aggregate/round plan mirrored by the DuckDB oracle — so
  * results are bit-identical, just without interpreted per-element
  * lambdas (the per-pair cost of every vector query). */
object CosineKernel {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def cosineR6(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot, na, nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / math.sqrt(na) / math.sqrt(nb)
    if (c.isNaN || c.isInfinite) c
    else java.math.BigDecimal.valueOf(c).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** `VectorFunctions.cosineR6(a, b)` → double cosine similarity rounded
  * to 6 decimals. */
case class CosineR6(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_r6 needs two array<double> columns, got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineKernel.cosineR6(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.CosineKernel.cosineR6($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineR6 =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection bucket kernel: one codegen'd pass computing
  * all plane projections of a double vector in scaled-BIGINT arithmetic —
  * value-identical to the declarative zip_with/aggregate form
  * (VectorFunctions.lshBucketHof) and its DuckDB mirror (sqlLshBucket):
  *   bit k = [ Σ_i round(v_i·10⁶)·sign(plane_k, i) > 0 ],  bucket = Σ 2^k·bit
  * Signs are the md5-parity hyperplanes of VectorFunctions.planeSigns,
  * computed once per (start, n, dims) and cached. Rounding is HALF_UP via
  * BigDecimal.valueOf — the same path Spark's round() takes for doubles —
  * so sign tests are exact and engine-independent. */
object SrpKernel {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Int]]()

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Flattened [plane][dim] ±1 sign matrix for planes start..start+n-1. */
  private def signs(start: Int, n: Int, dims: Int): Array[Int] =
    signCache.computeIfAbsent((start, n, dims), _ => {
      val out = new Array[Int](n * dims)
      var k = 0
      while (k < n) {
        var i = 0
        while (i < dims) {
          out(k * dims + i) =
            if (Integer.parseInt(md5Hex(s"plane${start + k}:$i").substring(0, 1), 16) % 2 == 0) 1
            else -1
          i += 1
        }
        k += 1
      }
      out
    })

  def bucket(v: ArrayData, start: Int, n: Int, dims: Int): Long = {
    val sg = signs(start, n, dims)
    val len = math.min(v.numElements(), dims)
    // round each element once, reuse across all planes
    val scaled = new Array[Long](len)
    var i = 0
    while (i < len) {
      scaled(i) = java.math.BigDecimal.valueOf(v.getDouble(i) * 1000000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < n) {
      var proj = 0L
      var j = 0
      while (j < len) {
        proj += scaled(j) * sg(k * dims + j)
        j += 1
      }
      if (proj > 0) out |= (1L << k)
      k += 1
    }
    out
  }
}

/** `VectorFunctions.lshBucket(vec, planes, dims)` → bigint SRP-LSH
  * bucket. */
case class SrpBucket(child: Expression, start: Int, n: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"srp_bucket needs array<double>, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    SrpKernel.bucket(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], start, n, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SrpKernel.bucket($c, $start, $n, $dims)")

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

/** Session extensions: registers the engine's native functions and the
  * small-scan planner strategy ([[SmallScanStrategy]]).
  * Installed by Engine via `SparkSession.builder.withExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(SmallScanStrategy)
    ext.injectFunction((
      new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(k: Int, IntegerType)) => MinHashSigs(text, k)
        case _ => throw new IllegalArgumentException(
          "usage: minhash_sigs(textCol, k) with a literal int k")
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "ngrams"),
      (children: Seq[Expression]) => children match {
        case Seq(arr, Literal(n: Int, IntegerType)) => WordNGrams(arr, n)
        case _ => throw new IllegalArgumentException(
          "usage: ngrams(arrayCol, n) with a literal int n")
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngrams_all"),
      new ExpressionInfo(classOf[WordNGramsAll].getName, "ngrams_all"),
      (children: Seq[Expression]) => children match {
        case Seq(arr, Literal(n: Int, IntegerType)) => WordNGramsAll(arr, n)
        case _ => throw new IllegalArgumentException(
          "usage: ngrams_all(arrayCol, n) with a literal int n")
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_60"),
      new ExpressionInfo(classOf[Md5Hash60].getName, "md5_60"),
      (children: Seq[Expression]) => Md5Hash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bottomk_md5"),
      new ExpressionInfo(classOf[BottomKMd5].getName, "bottomk_md5"),
      (children: Seq[Expression]) => children match {
        case Seq(v, Literal(k: Int, IntegerType)) => BottomKMd5(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: bottomk_md5(stringCol, k) with a literal int k")
      }))
    ext.injectFunction((
      new FunctionIdentifier("spacesaving"),
      new ExpressionInfo(classOf[SpaceSavingTopK].getName, "spacesaving"),
      (children: Seq[Expression]) => children match {
        case Seq(v, Literal(k: Int, IntegerType)) => SpaceSavingTopK(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: spacesaving(stringCol, k) with a literal int k")
      }))
    ext.injectFunction((
      new FunctionIdentifier("stop_hits3"),
      new ExpressionInfo(classOf[StopHits3].getName, "stop_hits3"),
      (children: Seq[Expression]) => StopHits3(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFp].getName, "rolling_fp"),
      (children: Seq[Expression]) => RollingFp(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("tri_products"),
      new ExpressionInfo(classOf[TriProducts].getName, "tri_products"),
      (children: Seq[Expression]) => TriProducts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => SimHash16(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash128"),
      new ExpressionInfo(classOf[SimHash128].getName, "simhash128"),
      (children: Seq[Expression]) => SimHash128(children.head)))
  }
}

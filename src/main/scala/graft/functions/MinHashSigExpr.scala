package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over a shingle (string) array: xxhash64 each
  * shingle into the 31-bit domain and take all `numHashes` minima of
  * `(a_i·x + b_i) mod P` — ONE fused pass, as a codegen'd Catalyst
  * expression.
  *
  * Why a custom Expression (SURVEY §7.3 tier (b)): the Column-form
  * [[graft.operators.Dedup.minhashSignature]] inlines `numHashes` separate
  * `array_min(transform(...))` trees — the plan grows linearly in numHashes
  * (64 array traversals, each re-hashing every shingle) and, because
  * higher-order functions are CodegenFallback, the whole projection drops
  * out of whole-stage codegen. This kernel is one expression node regardless
  * of numHashes, hashes each shingle exactly once, allocates nothing but the
  * output array, and `doGenCode` emits the loop straight into the codegen
  * body. (For per-doc TEXT input prefer [[MinHashTokensSigExpr]], which also
  * fuses the shingling and avoids the projection-collapse re-tokenize trap;
  * this expression serves callers that already hold a shingle array —
  * streaming ingest, signature columns inside wider projections. The
  * explode+aggregate form `Dedup.minhashSigsAgg` remains for inputs that
  * arrive as one-row-per-shingle tables.)
  *
  * The (a_i, b_i) affine family is `Dedup.hashParams(numHashes)` (seed 42)
  * and the shingle hash is `pmod(xxhash64(s), 2^31)` — output is
  * bit-identical to the HOF formulation. x < 2^31 and a_i < 2^31 bound
  * a_i·x + b_i < 2^62 + 2^31, so the Long arithmetic is exact and
  * non-negative (no ANSI overflow; `%` ≡ pmod). Empty input → NULL (no
  * shingles, no signature); null elements are skipped.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int,
                          md5Portable: Boolean = false)
    extends UnaryExpression {

  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  /** analysis-time type check: a wrong-typed argument (e.g. array<bigint>)
    * must fail with a clear analysis error, not a runtime
    * ClassCastException from getUTF8String. */
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<string> shingles, got ${other.catalogString}")
  }

  private lazy val params: Array[(Long, Long)] =
    graft.operators.Dedup.hashParams(numHashes).toArray
  private lazy val aArr: Array[Long] = params.map(_._1)
  private lazy val bArr: Array[Long] = params.map(_._2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input → null signature
  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(input: Any): Any =
    MinHashSigExpr.compute(input.asInstanceOf[ArrayData], aArr, bArr, md5Portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $res =
         |  graft.functions.MinHashSigExpr.compute($xs, $aRef, $bRef, $md5Portable);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  val P: Long = (1L << 31) - 1
  private val TwoPow31 = 1L << 31

  /** pmod(xxhash64(s), 2^31) — identical to the SQL formulation (seed 42).
    * Called from generated code via the companion's static forwarder. */
  def hash31(s: UTF8String): Long = {
    val h = XxHash64Function.hash(s, StringType, 42L) % TwoPow31
    if (h < 0) h + TwoPow31 else h
  }

  private[functions] val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** pmod(conv(substring(md5(bytes), 1, 8), 16, 10), 2^31) — the md5-derived
    * 31-bit hash every portable (DuckDB-replicable) pipeline uses. The first
    * 8 hex characters of the digest ARE the first 4 bytes big-endian, so this
    * parses no hex. Value < 2^32 is non-negative → plain % ≡ pmod. */
  def hash31Md5(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % TwoPow31
  }

  /** first 15 hex chars of md5 as a long — conv(substring(md5, 1, 15), 16,
    * 10): top 60 bits of the first 8 digest bytes (drop the 16th nibble). */
  def hash60Md5(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** shared by interpreted eval and generated code (both hash bases). */
  def compute(xs: ArrayData, a: Array[Long], b: Array[Long],
              md5Portable: Boolean): GenericArrayData = {
    val n = xs.numElements()
    val numHashes = a.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        any = true
        val s = xs.getUTF8String(i)
        val x = if (md5Portable) hash31Md5(s) else hash31(s)
        var j = 0
        while (j < numHashes) {
          val v = (x * a(j) + b(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }
}

/** MinHash signature straight from a TOKEN array: word n-gram shingling +
  * hashing + all `numHashes` minima fused into ONE expression — no
  * intermediate shingle array at all.
  *
  * Why (the projection-collapse trap): building the shingle array with the
  * `transform(sequence(...), i -> concat_ws(slice(toks, ...)))` HOF and
  * feeding it to [[MinHashSigExpr]] leaves a CodegenFallback HOF in the
  * projection AND — because Catalyst's CollapseProject substitutes alias
  * references into lambda bodies, where common-subexpression elimination
  * does not reach — re-evaluates the upstream tokenize/regex per reference.
  * Measured at sf0.1: 6.9 s for the HOF-shingled kernel vs 1.6 s for
  * explode+aggregate (which only dodges collapse because Generate blocks
  * it). This expression references the token array exactly ONCE, so
  * collapsing the tokenize projection into it is safe, and the whole
  * doc→signature pipeline stays inside whole-stage codegen: 0.4 s.
  *
  * Shingle semantics are [[TokenShingles]]' — exactly
  * [[graft.operators.Dedup.shinglesFromTokens]]' (an empty token array
  * yields the empty-string shingle, never a null signature here; a NULL
  * array stays NULL). Bit-identical signatures to the explode+aggregate
  * form (asserted in OperatorsSpec).
  */
case class MinHashTokensSigExpr(child: Expression, ngram: Int, numHashes: Int,
                                md5Portable: Boolean = false)
    extends UnaryExpression {

  require(ngram > 0, s"ngram must be positive, got $ngram")
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_tokens requires array<string> tokens, got ${other.catalogString}")
  }

  private lazy val params: Array[(Long, Long)] =
    graft.operators.Dedup.hashParams(numHashes).toArray
  private lazy val aArr: Array[Long] = params.map(_._1)
  private lazy val bArr: Array[Long] = params.map(_._2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_minhash_tokens"

  override def nullSafeEval(input: Any): Any =
    MinHashTokensSigExpr.compute(
      input.asInstanceOf[ArrayData], ngram, aArr, bArr, md5Portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      s"""
         |${ev.value} = graft.functions.MinHashTokensSigExpr.compute(
         |  $xs, $ngram, $aRef, $bRef, $md5Portable);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashTokensSigExpr =
    copy(child = newChild)
}

object MinHashTokensSigExpr {
  /** shared by interpreted eval and generated code: one pass over
    * [[TokenShingles]], minima updated in place. */
  def compute(toks: ArrayData, ngram: Int,
              a: Array[Long], b: Array[Long],
              md5Portable: Boolean): GenericArrayData = {
    val numHashes = a.length
    val mins = Array.fill(numHashes)(Long.MaxValue)
    TokenShingles.foreach(toks, ngram) { shingle =>
      val x = if (md5Portable) MinHashSigExpr.hash31Md5(shingle)
        else MinHashSigExpr.hash31(shingle)
      var i = 0
      while (i < numHashes) {
        val v = (x * a(i) + b(i)) % MinHashSigExpr.P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    new GenericArrayData(mins)
  }
}

/** The word n-gram shingle loop of the token-array kernels
  * ([[MinHashTokensSigExpr]], [[ShingleSetHitsExpr]]), with the exact
  * semantics of [[graft.operators.Dedup.shinglesFromTokens]]
  * (`distinct = false`): windows start at 0..max(len−n, 0), so a doc shorter
  * than n yields ONE shorter shingle and an empty token array yields the
  * empty string; tokens join with a single space and null tokens are skipped
  * like concat_ws does. A NULL token array counts as empty — the HOF form's
  * `slice` of a NULL array feeds concat_ws nothing and builds "" too. */
object TokenShingles {
  private val Space = UTF8String.fromString(" ")

  /** calls `f` once per window, in order, with a fresh UTF8String (the same
    * string concat_ws builds). */
  def foreach(toks: ArrayData, ngram: Int)(f: UTF8String => Unit): Unit = {
    val len = if (toks == null) 0 else toks.numElements()
    val nShingles = math.max(len - ngram, 0) + 1
    val parts = new Array[UTF8String](ngram)
    var s = 0
    while (s < nShingles) {
      val end = math.min(s + ngram, len)
      var m = 0
      var j = s
      while (j < end) {
        if (!toks.isNullAt(j)) { parts(m) = toks.getUTF8String(j); m += 1 }
        j += 1
      }
      f(if (m == ngram) UTF8String.concatWs(Space, parts: _*)
        else UTF8String.concatWs(Space, java.util.Arrays.copyOf(parts, m): _*))
      s += 1
    }
  }
}

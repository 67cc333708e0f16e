package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused hashed-BOW quality kernel over a token (string) array: per token
  * the md5-bucketed model weight (exactly the q_quality_model oracle's
  * bucket, [[MinHashSigExpr.hash31Md5]] — first 4 digest
  * bytes, % 2^31, % nBuckets, weight lookup), summed per ROW, returned as
  * `[n_tokens, sum_micros]` — one codegen'd expression node.
  *
  * Why a custom Expression (SURVEY §7.3 tier (b), the [[MinHashSigExpr]]
  * precedent): the batch scorer explode+groupBy form pays a corpus-sized
  * explode, a hash-aggregate SHUFFLE, and (in the curation compositions) a
  * semi-join back to the gated corpus — for a score that never needs to
  * leave its row; the streaming twin's row-local `aggregate()` HOF form is
  * CodegenFallback (interpreted md5 per token per row). This kernel is the
  * row-local form with whole-stage codegen: the r21 curation-gate lesson
  * (§4.1 "prefer built-ins"/custom codegen over interpreted HOFs) applied
  * to the quality-model stage.
  *
  * Exact equivalence with the explode+aggregate form (oracle-checked by
  * q_quality_model / the curateFull composition oracles): every array
  * element counts toward n_tokens (explode emits a row per element — the
  * split-built arrays never hold nulls, but a null element would count in
  * `count(lit(1))` while contributing no weight to `sum`, mirrored here);
  * NULL or EMPTY array → NULL (no explode rows — the doc is absent from
  * the grouped score, and filter(NULL) drops it like the semi-join did).
  */
case class HashedQualityExpr(child: Expression, weightsMicros: Array[Long])
    extends UnaryExpression {

  require(weightsMicros.nonEmpty,
    "graft_hashed_quality requires a non-empty weight vector")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hashed_quality requires array<string> tokens, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/null input → null
  override def prettyName: String = "graft_hashed_quality"

  override def nullSafeEval(input: Any): Any =
    HashedQualityExpr.compute(input.asInstanceOf[ArrayData], weightsMicros)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val wRef = ctx.addReferenceObj("qualityW", weightsMicros, "long[]")
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $res =
         |  graft.functions.HashedQualityExpr.compute($xs, $wRef);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedQualityExpr =
    copy(child = newChild)

  // Array[Long] has reference equality; compare by content so plan
  // canonicalization (subexpression elimination, cached plan reuse) sees
  // two kernels with the same model as equal.
  override def equals(other: Any): Boolean = other match {
    case HashedQualityExpr(c, w) =>
      c == child && java.util.Arrays.equals(w, weightsMicros)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(weightsMicros)
}

object HashedQualityExpr {
  /** shared by interpreted eval and generated code. Returns
    * [n_tokens, sum_micros], or null for an empty array (no explode rows —
    * the doc must vanish from the score, matching the aggregate form). */
  def compute(xs: ArrayData, w: Array[Long]): GenericArrayData = {
    val n = xs.numElements()
    if (n == 0) return null
    val nb = w.length
    var sum = 0L
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        // pmod(conv(substring(md5(t),1,8),16,10), 2^31) % nBuckets —
        // bit-identical to the oracle's SQL bucket (hash31Md5 IS that value)
        val bucket = (MinHashSigExpr.hash31Md5(xs.getUTF8String(i)) % nb).toInt
        sum += w(bucket)
      }
      i += 1
    }
    new GenericArrayData(Array(n.toLong, sum))
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** K-class twin of [[HashedQualityExpr]] (r22): fused hashed-BOW sums over
  * a token (string) array for SEVERAL weight vectors at once — per token
  * ONE md5 bucket (exactly [[HashedQualityExpr]]'s: first 4 digest bytes,
  * % 2^31, % nBuckets), then one add per class — returned as
  * `[n_tokens, sum_0, …, sum_{K-1}]`, one codegen'd expression node.
  *
  * Replaces the domain classifier's explode + K-column hash-aggregate
  * shuffle: the per-class mean logits never need to leave the row, and
  * the old form also re-derived the md5 bucket once per class per token
  * (K regexp-free but digest-heavy subtrees). Equivalence with the
  * explode+aggregate form (oracle-checked by q_domain_classify): every
  * array element counts toward n_tokens; a null element contributes no
  * weight (explode emits its row, `sum` skips its NULL weight — the
  * split-built arrays never hold nulls anyway); NULL or EMPTY array →
  * NULL (no explode rows — the doc is absent from the grouped score, and
  * filter(NULL) drops it exactly like that absence).
  */
case class HashedClassifyExpr(child: Expression,
                              classWeightsMicros: Array[Array[Long]])
    extends UnaryExpression {

  require(classWeightsMicros.nonEmpty &&
      classWeightsMicros.forall(_.length == classWeightsMicros.head.length) &&
      classWeightsMicros.head.nonEmpty,
    "graft_hashed_classify requires >= 1 class sharing one nonzero bucket count")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hashed_classify requires array<string> tokens, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/null input → null
  override def prettyName: String = "graft_hashed_classify"

  override def nullSafeEval(input: Any): Any =
    HashedClassifyExpr.compute(input.asInstanceOf[ArrayData], classWeightsMicros)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val wRef = ctx.addReferenceObj("classW", classWeightsMicros, "long[][]")
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $res =
         |  graft.functions.HashedClassifyExpr.compute($xs, $wRef);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedClassifyExpr =
    copy(child = newChild)

  // content equality for plan canonicalization (the HashedQualityExpr rule)
  override def equals(other: Any): Boolean = other match {
    case HashedClassifyExpr(c, w) =>
      c == child && w.length == classWeightsMicros.length &&
        w.indices.forall(i => java.util.Arrays.equals(w(i), classWeightsMicros(i)))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      classWeightsMicros.map(java.util.Arrays.hashCode)
        .foldLeft(0)(31 * _ + _)
}

object HashedClassifyExpr {
  /** shared by interpreted eval and generated code. Returns
    * [n_tokens, sum_0, …, sum_{K-1}], or null for an empty array. */
  def compute(xs: ArrayData, w: Array[Array[Long]]): GenericArrayData = {
    val n = xs.numElements()
    if (n == 0) return null
    val k = w.length
    val nb = w(0).length
    val out = new Array[Long](k + 1)
    out(0) = n.toLong
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val bucket = (MinHashSigExpr.hash31Md5(xs.getUTF8String(i)) % nb).toInt
        var c = 0
        while (c < k) {
          out(c + 1) += w(c)(bucket)
          c += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

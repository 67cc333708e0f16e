package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The DISTINCT k-token window hashes of a TOKEN array, as `array<bigint>`
  * in one codegen'd pass: Spark's `xxhash64` (seed 42) of each space-joined
  * run of `k` consecutive tokens, each value once, in order of first
  * occurrence. A NULL array or one with fewer than `k` tokens has no
  * window.
  *
  * These are exactly the distinct values of `Dedup`'s span-window arrays
  * (`xxhash64` over `shinglesFromTokens(toks, k, distinct = false)` of the
  * docs with at least `k` tokens): the windows are [[TokenShingles]]'. One
  * row per (doc, window) after an explode is what lets the curation span
  * decision count a window's documents with a plain `count(*)`. A
  * `transform` lambda over the shingles would fall out of whole-stage
  * codegen; this kernel does not. */
case class SpanWindowHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, s"k must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_span_window_hashes requires array<string> tokens, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_span_window_hashes"

  override def eval(input: InternalRow): Any =
    SpanWindowHashesExpr.compute(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.functions.SpanWindowHashesExpr.compute(
      |  ${c.isNull} ? null : ${c.value}, $k);
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SpanWindowHashesExpr =
    copy(child = newChild)
}

object SpanWindowHashesExpr {
  private val Empty = new GenericArrayData(Array.emptyLongArray)

  /** shared by interpreted eval and generated code */
  def compute(toks: ArrayData, k: Int): ArrayData =
    if (toks == null || toks.numElements() < k) Empty
    else {
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = Array.newBuilder[Long]
      TokenShingles.foreach(toks, k) { w =>
        val h = XxHash64Function.hash(w, StringType, 42L)
        if (seen.add(h)) out += h
      }
      new GenericArrayData(out.result())
    }
}

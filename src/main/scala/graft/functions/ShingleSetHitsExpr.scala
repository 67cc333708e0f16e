package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document benchmark overlap straight from a TOKEN array: the number of
  * DISTINCT word n-gram shingles of `child` and how many of them are members
  * of a broadcast shingle set — `struct<n_shingles: bigint, n_hits: bigint>`,
  * one codegen'd pass, hash-set lookups only.
  *
  * Why a custom Expression (the [[TokenSetHitsExpr]] /
  * [[MinHashTokensSigExpr]] precedent): `Dedup.decontaminate` decides per
  * ROW, but its postings form exploded every shingle, joined the exploded
  * rows to the broadcast benchmark set and re-aggregated them by id — a
  * shuffle of the whole corpus's shingles for a row-local answer. A
  * shingle-array HOF inside the filter would instead re-run the tokenizer
  * per shingle (the projection-collapse trap in [[MinHashTokensSigExpr]]'s
  * scaladoc); this kernel references the token array exactly once.
  *
  * Shingles are [[TokenShingles]]' — exactly the distinct elements of
  * `Dedup.shinglesFromTokens(toks, ngram, distinct = true)`, including the
  * one shorter shingle of a doc with fewer than `ngram` tokens and the
  * single "" shingle of a NULL or empty token array (so `n_shingles ≥ 1`
  * and the output is never NULL), which is what `Dedup.contaminationScores`
  * counts for the same row.
  *
  * The benchmark set rides in a Spark broadcast, fetched once per executor
  * and bound once per generated-code instance (a per-row `value()` call
  * would take the broadcast's lock on every row); the plan holds only the
  * handle. */
case class ShingleSetHitsExpr(child: Expression, ngram: Int,
                              benchSet: Broadcast[java.util.HashSet[UTF8String]])
    extends UnaryExpression {

  require(ngram > 0, s"ngram must be positive, got $ngram")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_set_hits requires array<string> tokens, got ${other.catalogString}")
  }

  override def dataType: DataType = ShingleSetHitsExpr.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingle_set_hits"
  // the broadcast handle's id differs per call; keep it out of plan strings
  override def flatArguments: Iterator[Any] = Iterator(child, ngram)

  @transient private lazy val lookup = benchSet.value

  override def eval(input: InternalRow): Any =
    ShingleSetHitsExpr.compute(
      child.eval(input).asInstanceOf[ArrayData], ngram, lookup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val bcRef = ctx.addReferenceObj("benchShingles", benchSet,
      classOf[Broadcast[_]].getName)
    val set = ctx.addMutableState("java.util.HashSet", "benchSet",
      v => s"$v = (java.util.HashSet) $bcRef.value();")
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |InternalRow ${ev.value} = graft.functions.ShingleSetHitsExpr.compute(
      |  ${c.isNull} ? null : ${c.value}, $ngram, $set);
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSetHitsExpr =
    copy(child = newChild)
}

object ShingleSetHitsExpr {
  val Schema: StructType = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_hits", LongType, nullable = false)))

  /** shared by interpreted eval and generated code: one pass over the
    * shingles, a per-row set for distinctness, one lookup per distinct
    * shingle. A NULL token array counts as empty. */
  def compute(toks: ArrayData, ngram: Int,
              bench: java.util.HashSet[UTF8String]): InternalRow = {
    val seen = new java.util.HashSet[UTF8String]()
    var hits = 0L
    TokenShingles.foreach(toks, ngram) { s =>
      if (seen.add(s) && bench.contains(s)) hits += 1
    }
    InternalRow(seen.size.toLong, hits)
  }
}

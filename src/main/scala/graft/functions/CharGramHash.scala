package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character-3-gram hasher for the language-ID profile (q37): one
  * pass over the text emits, per sliding window of 3 code units, the
  * PORTABLE token hash [[graft.queries.Parity.strHash]] of that trigram
  * ([[PortableText]]) — for a fixed length of 3 the positional LCG
  * weights are constants:
  *
  *   h = (code(c1)·1103527590 + code(c2)·59559188 + code(c3)·1163074433)
  *       mod (2³¹−1)
  *
  * Why native: the Column form (`transform(sequence, substr)`) allocates a
  * UTF8String per trigram — ~2000 small allocations per document on the
  * scan side of BOTH the train and test branches. Here the scan emits one
  * long[] per document and the downstream join/groupBy key is an 8-byte
  * long instead of a string.
  *
  * Cross-engine: the same constants are spelled out in the oracle SQL
  * (`ord(substring(text,i,k))::BIGINT * w_k`), so profiles and tiebreaks
  * (ORDER BY cnt DESC, t) order identically in Spark and DuckDB. */
final case class CharGramHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"chargram3_hashes expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "chargram3_hashes"

  override protected def nullSafeEval(input: Any): Any =
    CharGramHashExpr.grams3(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[CharGramHashExpr].getName}$$.MODULE$$.grams3($c)")

  override protected def withNewChildInternal(newChild: Expression): CharGramHashExpr =
    copy(child = newChild)
}

object CharGramHashExpr {
  /** The shared kernel (also called from generated code). */
  def grams3(s: UTF8String): ArrayData =
    new GenericArrayData(new PortableText(s).windowHashes(3))
}

object CharGramHash {
  /** Column-API entry point: `array<long>` of portable char-3-gram hashes. */
  def of(c: Column): Column =
    Bridge.column(CharGramHashExpr(Bridge.expression(c)))
}

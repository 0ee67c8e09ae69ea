package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprinter (Schleimer et al., the q40 semantics):
  * char 5-gram portable hashes, 4-gram window minima, distinct minima per
  * document, emitted as `array<long>`.
  *
  * Why native: the declarative form explodes one 5-char string per
  * character position, runs [[PortableHashExpr]] per gram, then pays a
  * per-document window sort for the 4-window minimum and a distinct
  * shuffle on (doc, fingerprint). All of that is a strictly local,
  * sequential computation per document — here it is one pass: hash each
  * gram in O(5), slide the 4-window minimum, dedup into a small open set.
  * The downstream plan starts from the fingerprint ARRAY (explode → agg),
  * so the corpus-wide shuffles carry only fingerprints.
  *
  * Bit-parity: gram hash = (strHash(gram) · 2654435761) mod 1000003 with
  * strHash the [[PortableText.windowHashes]] of the 5-code-unit spans
  * (positions restart at 1 per gram). */
final case class WinnowExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override protected def nullSafeEval(input: Any): Any =
    WinnowExpr.fingerprints(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[WinnowExpr].getName}$$.MODULE$$.fingerprints($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object WinnowExpr {
  private final val Mult = 2654435761L
  private final val Mod = 1000003L

  /** The shared kernel (also called from generated code). */
  def fingerprints(s: UTF8String): ArrayData = {
    val hg = new PortableText(s).windowHashes(5)
    val nGrams = hg.length
    if (nGrams < 4) return new GenericArrayData(Array.emptyLongArray)
    var g = 0
    while (g < nGrams) { hg(g) = (hg(g) * Mult) % Mod; g += 1 }
    // sliding 4-window min + dedup (fingerprint domain is [0, Mod))
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var j = 0
    while (j <= nGrams - 4) {
      var m = hg(j)
      if (hg(j + 1) < m) m = hg(j + 1)
      if (hg(j + 2) < m) m = hg(j + 2)
      if (hg(j + 3) < m) m = hg(j + 3)
      if (seen.add(m)) out += m
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object Winnow {
  /** Column-API entry point: distinct winnowing fingerprints per string. */
  def of(c: Column): Column =
    Bridge.column(WinnowExpr(Bridge.expression(c)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 16-bit SimHash signature (r19; VERDICT r18 next-list #5): the
  * whole per-document signature — tokenize on spaces, portable-hash each
  * word ([[PortableHashExpr]] semantics), bucket to 16 bits with the
  * Knuth multiplier, accumulate ±1 bit votes over word INSTANCES, emit
  * the sign bits — in ONE row-local projection.
  *
  * Why: the composed form
  * (`explode(split(text, ' ')) → filter(w ≠ '') → strHash·2654435761 %
  * 65536 → groupBy(doc_id).agg(16 signed bit-plane sums)`) pays a word
  * array + one row per word instance + a 16-buffer hash aggregation with
  * a doc_id exchange — per-row work AND a shuffle for what is a purely
  * row-local function of the text. The kernel turns q34/q169's signature
  * front into a map-side projection: NO explode, NO exchange before the
  * pigeonhole probe (q34) / signature histogram (q169).
  *
  * Bit-identical to the composed form:
  *   - words are `split(text, ' ')` segments ([[PortableText.wordEnd]]);
  *     EMPTY segments are skipped (the `w ≠ ''` filter);
  *   - per word: h = the [[PortableText]] hash of the word (positions
  *     restart per word — [[PortableHashExpr]]), then
  *     hw = (h · 2654435761) mod 65536;
  *   - bit b of the signature is set iff Σ over word instances of
  *     (2·((hw >> b) & 1) − 1) is > 0 (strictly positive, ties → 0);
  *   - a document with NO nonempty words returns −1: the composed
  *     formulation emits no row for it at all (explode of an empty/null
  *     array), so callers filter `sh >= 0` to reproduce the absence.
  *     −1 is unambiguous (signatures live in [0, 65535]). */
final case class SimHash16Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects string, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    SimHash16Expr.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[SimHash16Expr].getName}$$.MODULE$$.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16Expr =
    copy(child = newChild)
}

object SimHash16Expr {
  private final val Knuth = 2654435761L

  /** The shared kernel (also called from generated code). */
  def simhash(s: UTF8String): Long = {
    val t = new PortableText(s)
    val votes = new Array[Long](16)
    var any = false
    var from = 0
    while (from <= t.length) {
      val until = t.wordEnd(from)
      if (until > from) { // nonempty word: vote
        any = true
        val hw = (t.hash(from, until) * Knuth) % 65536L
        var bt = 0
        while (bt < 16) {
          votes(bt) += (((hw >> bt) & 1L) << 1) - 1L
          bt += 1
        }
      }
      from = until + 1
    }
    if (!any) return -1L
    var sh = 0L
    var bt = 0
    while (bt < 16) {
      if (votes(bt) > 0) sh |= 1L << bt
      bt += 1
    }
    sh
  }
}

object SimHash16 {
  /** Column-API entry point: the 16-bit signature, or −1 for a document
    * with no nonempty words (callers filter `>= 0`). */
  def of(c: Column): Column =
    Bridge.column(SimHash16Expr(Bridge.expression(c)))
}

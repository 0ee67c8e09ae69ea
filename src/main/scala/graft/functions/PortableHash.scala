package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the cross-engine token hash
  * ([[graft.queries.Parity.strHash]]) of the whole string, in the format
  * [[PortableText]] defines.
  *
  * Why native: the Column formulation (`aggregate(sequence(1, length(s)),
  * …, ascii(substr(s, i, 1)))`) allocates an index array per row and makes
  * `substr` re-scan the string per character — O(len²) work per token. The
  * dedup/fingerprint family (q33/q34/q40) hashes every shingle of every
  * document, so this loop IS their hot path. Here it is one registerized
  * O(len) pass inside whole-stage codegen.
  *
  * Semantics are bit-identical to the Column form: `code` is the
  * char-at-i value (what `ascii(substr(s,i,1))` returns for BMP strings
  * and what DuckDB's `ord(s[i])` computes for ASCII). */
final case class PortableHashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"portable_hash expects string, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash"

  override protected def nullSafeEval(input: Any): Any =
    PortableHashExpr.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[PortableHashExpr].getName}$$.MODULE$$.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PortableHashExpr =
    copy(child = newChild)
}

object PortableHashExpr {
  /** The shared kernel (also called from generated code). */
  def hash(s: UTF8String): Long = {
    val t = new PortableText(s)
    t.hash(0, t.length)
  }
}

object PortableHash {
  /** Column-API entry point. */
  def hash(c: Column): Column =
    Bridge.column(PortableHashExpr(Bridge.expression(c)))
}

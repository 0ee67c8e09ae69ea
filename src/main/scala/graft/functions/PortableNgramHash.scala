package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram PORTABLE hasher (r18): one pass over the UTF-8
  * bytes emits, for every n consecutive words of `split(text, ' ')`, the
  * cross-engine [[graft.queries.Parity.strHash]] of the space-joined
  * n-gram string — without materializing a single n-gram string.
  *
  * Where [[ShingleHashExpr]] (any well-distributed hash, values never
  * surface) serves the Jaccard family, THIS kernel serves the paths whose
  * hash VALUES are part of the computation the oracle replays: the
  * MinHash signatures (q33/q115/q162 — the min over hashed shingles IS
  * the signature) and the DSIR feature buckets (q143/q150 — the bucket id
  * is strHash(bigram) mod B). Bit-identical by construction to
  * `strHash(concat_ws(" ", w_k, …, w_{k+n-1}))` over
  * `split(text, " ")`: [[PortableText]] owns the word segmentation (empty
  * segments count) and why each joined n-gram is a span of the text.
  * Fewer than n words → empty array (the callers' old size-guard filters
  * become no-ops).
  */
final case class PortableNgramHashExpr(child: Expression, n: Int)
  extends UnaryExpression {

  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"portable_ngram_hashes expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_ngram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    PortableNgramHashExpr.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"${classOf[PortableNgramHashExpr].getName}$$.MODULE$$.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): PortableNgramHashExpr =
    copy(child = newChild)
}

object PortableNgramHashExpr {
  /** The shared kernel (also called from generated code). */
  def ngrams(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(new PortableText(s).ngramHashes(n))
}

object PortableNgramHash {
  /** Column-API entry point: `array<long>` of portable n-gram hashes. */
  def of(c: Column, n: Int): Column =
    Bridge.column(PortableNgramHashExpr(Bridge.expression(c), n))
}

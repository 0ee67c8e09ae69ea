package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native K-permutation MinHash signature over word n-grams (r19): the
  * whole per-document signature — portable n-gram hashes
  * ([[PortableNgramHashExpr]] semantics, bit-identical) fed through the
  * affine permutation family `(a_k·h + b_k) mod p`, tracking the K
  * minima — in ONE row-local projection.
  *
  * Why: the composed form
  * (`explode(portable_ngram_hashes(text)) → groupBy(doc_id).agg(K min
  * buffers)`) emits one row per n-gram instance and pays a doc_id
  * exchange for a purely row-local function of the text. The kernel
  * turns the signature front of setup_mh12 / q33 / q115 / q162 into a
  * map-side projection: no explode, no exchange before the band join.
  *
  * Bit-identical to the composed form: the n-gram hash is EXACTLY
  * [[PortableNgramHashExpr]]'s — both take it from
  * [[PortableText.ngramHashes]]; each permutation value is
  * `(a_k·h + b_k) % p` in Long arithmetic (h < 2³¹ and the house family's
  * a_k ≤ 590 keep the product far from overflow); duplicate n-grams cannot
  * change a min. A document with fewer than n words returns an EMPTY
  * array — the composed form emits no row for it (explode of an empty
  * array), so callers filter `size(ms) > 0` to reproduce the absence. */
final case class MinHashSigExpr(child: Expression, n: Int,
                                as: Seq[Long], bs: Seq[Long], p: Long)
  extends UnaryExpression {

  require(n >= 1 && p > 0 && as.nonEmpty && as.length == bs.length,
    s"minhash_sig: bad parameters n=$n p=$p k=${as.length}/${bs.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects string, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val asArr = as.toArray
  @transient private lazy val bsArr = bs.toArray

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigExpr.sig(input.asInstanceOf[UTF8String], n, asArr, bsArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as.toArray, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs.toArray, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"${classOf[MinHashSigExpr].getName}$$.MODULE$$.sig($c, $n, $asRef, $bsRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  /** The shared kernel (also called from generated code): permute every
    * n-gram hash through every family member, keeping the minima. */
  def sig(s: UTF8String, n: Int, as: Array[Long], bs: Array[Long],
          p: Long): ArrayData = {
    val hashes = new PortableText(s).ngramHashes(n)
    if (hashes.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val mins = new Array[Long](as.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var j = 0
      while (j < as.length) {
        val v = (as(j) * h + bs(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

object MinHashSig {
  /** Column-API entry point: the K-minima signature as `array<long>`,
    * empty for a document with fewer than n words (callers filter
    * `size(ms) > 0`). */
  def of(c: Column, n: Int, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    Bridge.column(MinHashSigExpr(Bridge.expression(c), n, as, bs, p))
}

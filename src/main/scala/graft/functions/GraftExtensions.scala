package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions, so SQL users
  * get them too:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *   SELECT vector_dot(a.embedding, b.embedding) FROM ...
  *
  * For an already-running session use [[GraftExtensions.install]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A SQL function `name` of exactly `arity` arguments built by `build`. */
  private def fn[E <: Expression](name: String, arity: Int, build: Seq[Expression] => E)
                                 (implicit cls: ClassTag[E]): Descriptor = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.runtimeClass.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity,
        s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
      build(children)
    })

  /** The one registration table: drives both [[GraftExtensions.apply]] and
    * [[install]]. */
  private val functions: Seq[Descriptor] = Seq(
    fn("vector_dot", 2, c => VectorReduceExpr(c(0), c(1), VectorOp.Dot)),
    fn("top_k_by_score", 3, c => TopKByScore(c(0), c(1), c(2))),
    fn("portable_hash", 1, c => PortableHashExpr(c.head)),
    fn("shingle_hashes", 1, c => ShingleHashExpr(c.head)),
    fn("winnow_fingerprints", 1, c => WinnowExpr(c.head)))

  /** Imperative registration on an existing session. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

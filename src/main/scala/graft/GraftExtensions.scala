package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ExplodeDnf, FloatVecDot, MaskIntersect, SimHash60, VecTopK}

/** Session-extension entry point: registers the engine's custom Catalyst
  * expressions at session build time —
  *
  * {{{
  *   builder.withExtensions(new GraftExtensions)   // or
  *   builder.config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment path for a cluster (spark.sql.extensions works
  * from pure config, no code changes at the call site). The operator
  * library also self-registers via [[graft.functions.FloatVecDot.register]]
  * so the ops work on any plain session — the two paths install the same
  * function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.checkArity

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        checkArity("vec_dot", "vec_dot(a ARRAY<FLOAT>, b ARRAY<FLOAT>)", 2, children)
        FloatVecDot(children.head, children(1))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("vec_topk"),
      new ExpressionInfo(classOf[VecTopK].getName, "vec_topk"),
      (children: Seq[Expression]) => {
        checkArity("vec_topk", "vec_topk(id BIGINT, measure DOUBLE, k INT literal)", 3, children)
        VecTopK(children(0), children(1), children(2))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      (children: Seq[Expression]) => {
        checkArity("simhash60", "simhash60(hashes ARRAY<BIGINT>)", 1, children)
        SimHash60(children.head)
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("mask_intersect"),
      new ExpressionInfo(classOf[MaskIntersect].getName, "mask_intersect"),
      (children: Seq[Expression]) => {
        checkArity("mask_intersect", "mask_intersect(a ARRAY<BIGINT>, b ARRAY<BIGINT>)", 2, children)
        MaskIntersect(children.head, children(1))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("explode_dnf"),
      new ExpressionInfo(classOf[ExplodeDnf].getName, "explode_dnf"),
      (children: Seq[Expression]) => {
        checkArity("explode_dnf", "explode_dnf(rule STRING)", 1, children)
        ExplodeDnf(children.head)
      },
    ))
  }
}

object GraftExtensions {
  /** Clean analysis-time arity error instead of the builder's
    * IndexOutOfBoundsException on a wrong-arg-count call (r3 advice).
    */
  def checkArity(fn: String, sig: String, n: Int, children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> fn,
          "expectedNum" -> n.toString,
          "actualNum" -> children.length.toString,
          "docroot" -> s"expected signature: $sig"),
        cause = None)
}

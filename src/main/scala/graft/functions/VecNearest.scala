package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Nearest codebook entry of one vector: the argmin over K centroids of
  * `d2_j = (xnrm2 − 2.0·dot(x, c_j)) + cnrm2_j`, returned as
  * `struct<id INT, d2 DOUBLE>`.
  *
  * The codebook arrives as three parallel arrays: `ids` (K entry ids),
  * `cents` (the K centroids flattened end to end, each |cents|/K floats
  * long) and `cnrm2s` (their K squared norms). Flat centroids let the
  * scan read primitives straight off one array, with no `ArrayData` per
  * entry. `dot` is [[FloatVecDot]]'s left fold in double over the first
  * min(|x|, |cents|/K) components, so each d2 is bit-identical to
  * `snrm2 - 2.0 * vec_dot(x, c) + cnrm2`.
  *
  * The winner is the smallest d2 under Spark's double ordering
  * (`SQLOrderingUtil.compareDoubles`: NaN largest, −0.0 equal to 0.0),
  * ties going to the smallest id: exactly the row `min(struct(d2, id, …))`
  * picks over the joined (vector × codebook) rows, without materializing
  * them. The result is null when any input is null or the codebook is
  * empty; a codebook whose arrays disagree in size, or that holds a null
  * id or norm, fails the query.
  *
  * Used by the PQ encode (Jégou et al. 2011's per-vector argmin over the
  * codebook), where it replaces an n·M·K join + sort aggregate with a
  * narrow map. Generated code calls [[VecNearest.nearest]], the one
  * implementation of the scan, so the interpreted and code-generated
  * paths cannot disagree; the call stays inside WholeStageCodegen.
  */
case class VecNearest(x: Expression, xnrm2: Expression, ids: Expression,
    cents: Expression, cnrm2s: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(x, xnrm2, ids, cents, cnrm2s)
  override def nullable: Boolean = true
  override def dataType: DataType = VecNearest.resultType

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = Seq(ArrayType(FloatType), DoubleType, ArrayType(IntegerType), ArrayType(FloatType),
      ArrayType(DoubleType))
    val ok = children.zip(want).forall {
      case (c, ArrayType(e, _)) => c.dataType match {
        case ArrayType(`e`, _) => true
        case _ => false
      }
      case (c, t) => c.dataType == t
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_nearest requires (array<float>, double, array<int>, array<float>, array<double>), got (" +
        children.map(_.dataType.simpleString).mkString(", ") + ")")
  }

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (v.contains(null)) null
    else VecNearest.nearest(v(0).asInstanceOf[ArrayData], v(1).asInstanceOf[Double],
      v(2).asInstanceOf[ArrayData], v(3).asInstanceOf[ArrayData], v(4).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.map(_.genCode(ctx))
    val anyNull = in.map(_.isNull.toString).mkString(" || ")
    val args = in.map(_.value.toString).mkString(", ")
    ev.copy(code = code"""
       |${in.map(_.code).reduce(_ + _)}
       |boolean ${ev.isNull} = $anyNull;
       |org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
       |if (!${ev.isNull}) {
       |  ${ev.value} = graft.functions.VecNearest.nearest($args);
       |  ${ev.isNull} = ${ev.value} == null;
       |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(x = c(0), xnrm2 = c(1), ids = c(2), cents = c(3), cnrm2s = c(4))

  override def prettyName: String = "vec_nearest"
}

object VecNearest {
  val resultType: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))

  /** The argmin scan (see [[VecNearest]]); null for an empty codebook. */
  def nearest(x: ArrayData, xnrm2: Double, ids: ArrayData, cents: ArrayData,
      cnrm2s: ArrayData): InternalRow = {
    val k = ids.numElements()
    if (k == 0) return null
    if (cnrm2s.numElements() != k || cents.numElements() % k != 0)
      throw new IllegalArgumentException(s"vec_nearest: ${ids.numElements()} ids, " +
        s"${cnrm2s.numElements()} norms and ${cents.numElements()} centroid components do not " +
        "describe one codebook")
    val stride = cents.numElements() / k
    val xs = x.toFloatArray()
    val n = math.min(xs.length, stride)
    var bestId = 0
    var bestD2 = 0.0
    var j = 0
    while (j < k) {
      if (ids.isNullAt(j) || cnrm2s.isNullAt(j))
        throw new IllegalArgumentException(s"vec_nearest: codebook entry $j has a null id or norm")
      val base = j * stride
      var dot = 0.0
      var i = 0
      while (i < n) { dot += xs(i).toDouble * cents.getFloat(base + i).toDouble; i += 1 }
      val d2 = (xnrm2 - 2.0 * dot) + cnrm2s.getDouble(j)
      val id = ids.getInt(j)
      val c = if (j == 0) -1 else SQLOrderingUtil.compareDoubles(d2, bestD2)
      if (c < 0 || (c == 0 && id < bestId)) { bestId = id; bestD2 = d2 }
      j += 1
    }
    InternalRow(bestId, bestD2)
  }

  /** Idempotently register `vec_nearest` so operators can use it via
    * expr("vec_nearest(x, xnrm2, ids, cents, cnrm2s)") on plain sessions too.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_nearest", exprs => {
        graft.GraftExtensions.checkArity("vec_nearest", signature, 5, exprs)
        VecNearest(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))
      }, "scala_udf")

  val signature: String = "vec_nearest(x ARRAY<FLOAT>, xnrm2 DOUBLE, ids ARRAY<INT>, " +
    "cents ARRAY<FLOAT>, cnrm2s ARRAY<DOUBLE>)"
}

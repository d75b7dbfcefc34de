package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims.{column, expression}
import org.apache.spark.sql.types._

/** Native vector arithmetic for the similarity operators.
  *
  * The composed-built-in forms (`aggregate(zip_with(a, b, ...))` folds) are
  * higher-order functions: Catalyst evaluates every lambda step interpreted
  * (HOFs are CodegenFallback with no common-subexpression elimination), and
  * a cosine built from them references each embedding argument three times
  * — measured at ~300 µs per candidate pair at sf0.1, which made the ANN
  * recall queries cost 60-80 s on a 2,020-row corpus (round-2 verdict).
  * These expressions do the same math in one tight JIT-compiled loop per
  * pair and keep the surrounding stage in whole-stage codegen.
  *
  * Numerical contract: [[DotProduct]] is the same SEQUENTIAL left fold in
  * double precision as `aggregate(zip_with(a, b, (x, y) => x.cast(double) *
  * y.cast(double)), 0.0, _ + _)` — element products added in index order —
  * so results are bit-identical to the HOF form (and to the DuckDB oracle's
  * `list_dot_product`, which folds the same way), deterministic, and
  * independent of partitioning. [[VecMaxAbs]] matches
  * `aggregate(v, 0.0, (acc, x) => greatest(acc, abs(x.cast(double))))`
  * exactly (max is order-insensitive and rounding-free).
  *
  * Per the engine's extension policy (SURVEY.md §7.3): compose built-ins
  * first, drop to a custom Expression only when the built-in form is
  * measurably inadequate. This is that case.
  */
object VectorExprs {

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Only array<float>/array<double> are legal inputs: `ArrayData.getDouble`
    * on, say, array<int> would silently reinterpret the element buffer as
    * garbage doubles, so anything else must be an ANALYSIS error. */
  private def requireFloatingArray(fn: String, pos: String, dt: DataType): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires the $pos argument to be array<float> or array<double>, got ${other.sql}")
    }

  /** Sequential-fold dot product in double precision over two numeric
    * arrays (float or double elements; both inputs must be non-null
    * element arrays of equal length — the embedding-table contract). */
  case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatingArray(prettyName, "first", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess =>
          requireFloatingArray(prettyName, "second", right.dataType)
        case fail => fail
      }

    private lazy val leftFloat = isFloatArray(left.dataType)
    private lazy val rightFloat = isFloatArray(right.dataType)

    def compute(a: ArrayData, b: ArrayData): Double = {
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      acc
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("graftDot", this, classOf[DotProduct].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "graft_dot"
  }

  /** max(|x|) over a numeric array — the symmetric-quantization scale
    * numerator. Exact, order-insensitive, and NaN-propagating (math.max
    * returns NaN when either side is NaN, matching Spark's `greatest`
    * NaN-is-largest ordering — a poisoned embedding must surface as a NaN
    * scale, not be silently dropped). */
  case class VecMaxAbs(child: Expression) extends UnaryExpression {

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatingArray(prettyName, "only", child.dataType)

    private lazy val childFloat = isFloatArray(child.dataType)

    def compute(a: ArrayData): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.numElements()) {
        val v = math.abs(if (childFloat) a.getFloat(i).toDouble else a.getDouble(i))
        acc = math.max(acc, v)
        i += 1
      }
      acc
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("graftMaxAbs", this, classOf[VecMaxAbs].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_vec_maxabs"
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions with
    * a {+1, -1} sign matrix (Achlioptas 2001 — database-friendly random
    * projections): out[j] = Σ_i sign(i, j) · v[i], folded sequentially in
    * index order (the [[DotProduct]] numerical contract, so the result is
    * bit-identical to any engine evaluating the same ordered fold). The
    * sign matrix is never materialized: sign(i, j) derives from an integer
    * LCG step on the flat index — h = 1103515245·(i·outDim + j) + 12345,
    * sign = +1 iff bit 16 of h is clear (a HIGH bit: an LCG's low bit
    * alternates deterministically with the index, which would make the
    * "random" matrix a parity pattern) — pure 64-bit integer arithmetic
    * any engine reproduces exactly.
    *
    * Second argument must be a foldable integer (the output
    * dimensionality): the sign matrix is part of the function's identity,
    * so a per-row dimension would silently change the projection. */
  case class JlProject(left: Expression, right: Expression)
    extends BinaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      requireFloatingArray(prettyName, "first", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess =>
          if (right.foldable && right.dataType == IntegerType &&
              right.eval() != null && right.eval().asInstanceOf[Int] > 0)
            TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires a foldable positive INT output dimension, got ${right.sql}")
        case fail => fail
      }

    private lazy val childFloat = isFloatArray(left.dataType)
    private lazy val outDim: Int = right.eval().asInstanceOf[Int]

    def compute(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val out = new Array[Double](outDim)
      var j = 0
      while (j < outDim) {
        var acc = 0.0
        var i = 0
        while (i < n) {
          val h = 1103515245L * (i.toLong * outDim + j) + 12345L
          val sign = if (((h >> 16) & 1L) == 0L) 1.0 else -1.0
          val x = if (childFloat) a.getFloat(i).toDouble else a.getDouble(i)
          acc += x * sign
          i += 1
        }
        out(j) = acc
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("graftJl", this, classOf[JlProject].getName)
      nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "graft_jl_project"
  }

  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))

  def maxAbs(a: Column): Column = column(VecMaxAbs(expression(a)))

  def jlProject(a: Column, outDim: Int): Column =
    column(JlProject(expression(a), Literal(outDim)))
}

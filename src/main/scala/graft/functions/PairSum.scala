package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftExpr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** A sum over the element pairs of two arrays: the dot product
  * Σ aᵢ·bᵢ, or the squared L2 distance Σ (aᵢ − bᵢ)² when `squaredDiff`,
  * over the whole arrays or over the 1-based literal `window`
  * (start, len) = [start, start + len). The one native kernel behind
  * every recall, IVF, cluster-quality and fidelity stage.
  *
  * It replaces `aggregate(zip_with(a, b, …), 0, …)` chains (and
  * `dot(slice(a, …), slice(b, …))` for windows), which allocate an
  * intermediate array per row pair and run their lambdas interpreted:
  * brute-force kNN on q26 fell from 34 s to ~4 s at sf0.1. Here the op,
  * the element type (bigint or double, read from the inputs) and the
  * window are fixed when the expression is built, so the generated loop
  * reads the two ArrayData buffers with no per-element branch on either
  * and allocates nothing.
  *
  * Summation is sequential left to right, bit-identical to the replaced
  * chains and to the oracle twins (DuckDB `list_dot_product`, on slices
  * for windows, and `list_sum(list_transform(…))`). Bigint arithmetic is
  * raw 64-bit: under the IVF width schedule a 64-dim sum of ppm
  * differences is at most 2.6e14 ≪ 2^63.
  *
  * NULL contract, the replaced chains': a null array, a null element
  * (inside the window), a length mismatch (whole arrays: zip_with pads
  * with null) or a window past the end of either array yields NULL —
  * corrupt vectors surface, never a truncated partial sum. The result
  * is always nullable, so projections keep the null bit even over
  * non-nullable inputs.
  *
  * Plan names: `graft_dot`, `graft_dot_range` (windowed dot),
  * `graft_sqdist` (bigint) and `graft_sqdist_d` (double). Built through
  * the companion's `Column` constructors; no session registration.
  */
case class PairSum(left: Expression, right: Expression,
                   squaredDiff: Boolean, window: Option[(Int, Int)] = None)
  extends BinaryExpression {
  // A start below 1 would index the arrays at negative offsets, and an
  // end past Int.MaxValue would overflow the loop bound to an empty sum.
  window.foreach { case (start, len) =>
    require(start >= 1, s"$prettyName start must be >= 1 (1-based), got $start")
    require(len >= 0, s"$prettyName len must be >= 0, got $len")
    require(start - 1L + len <= Int.MaxValue,
      s"$prettyName window end start-1+len=${start - 1L + len} exceeds Int range")
  }

  /** 0-based first index and, for a window, the exclusive end. */
  private val lo: Int = window.fold(0)(_._1 - 1)
  private val end: Int = window.fold(0)(w => w._1 - 1 + w._2)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == LongType || l == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> or two array<double>, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = left.dataType match {
    case ArrayType(LongType, _) => LongType
    case _ => DoubleType
  }

  @transient private lazy val isLong: Boolean = dataType == LongType

  override def nullable: Boolean = true

  override def prettyName: String =
    (if (!squaredDiff) "graft_dot"
     else if (left.resolved && isLong) "graft_sqdist"
     else "graft_sqdist_d") + (if (window.isDefined) "_range" else "")

  private def windowArgs: Seq[Int] = window.toSeq.flatMap(w => Seq(w._1, w._2))

  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right) ++ windowArgs
  override def sql: String =
    (Seq(left.sql, right.sql) ++ windowArgs).mkString(s"$prettyName(", ", ", ")")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val fits =
      if (window.isEmpty) x.numElements() == y.numElements()
      else x.numElements() >= end && y.numElements() >= end
    if (!fits) return null
    val hi = if (window.isEmpty) x.numElements() else end
    var sl = 0L
    var sd = 0.0
    var i = lo
    while (i < hi) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      if (isLong) {
        val p = x.getLong(i)
        val q = y.getLong(i)
        sl += (if (squaredDiff) (p - q) * (p - q) else p * q)
      } else {
        val p = x.getDouble(i)
        val q = y.getDouble(i)
        sd += (if (squaredDiff) (p - q) * (p - q) else p * q)
      }
      i += 1
    }
    if (isLong) sl else sd
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val t = CodeGenerator.javaType(dataType)
      val Seq(n, i, s, p, q) = Seq("n", "i", "s", "p", "q").map(ctx.freshName)
      val (fits, hi) =
        if (window.isEmpty) (s"$a.numElements() == $b.numElements()", s"$a.numElements()")
        else (s"$a.numElements() >= $end && $b.numElements() >= $end", s"$end")
      val term = if (squaredDiff) s"($p - $q) * ($p - $q)" else s"$p * $q"
      s"""
         |if ($fits) {
         |  int $n = $hi;
         |  $t $s = 0;
         |  for (int $i = $lo; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $t $p = ${CodeGenerator.getValue(a, dataType, i)};
         |    $t $q = ${CodeGenerator.getValue(b, dataType, i)};
         |    $s += $term;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PairSum =
    copy(left = newLeft, right = newRight)
}

object PairSum {
  /** `graft_dot(a, b)`: Σ aᵢ·bᵢ over two whole arrays. */
  def dot(a: Column, b: Column): Column = column(a, b, squaredDiff = false, None)

  /** `graft_dot_range(a, b, start, len)`: Σ aᵢ·bᵢ over the 1-based window
    * [start, start + len) of both arrays — `dot` of the two slices,
    * without copying them. Throws on start < 1, len < 0 or an end past
    * Int.MaxValue. */
  def dot(a: Column, b: Column, start: Int, len: Int): Column =
    column(a, b, squaredDiff = false, Some((start, len)))

  /** `graft_sqdist(a, b)` on bigint arrays, `graft_sqdist_d(a, b)` on
    * double arrays: Σ (aᵢ − bᵢ)² over two whole arrays. */
  def sqDist(a: Column, b: Column): Column = column(a, b, squaredDiff = true, None)

  private def column(a: Column, b: Column, squaredDiff: Boolean,
                     window: Option[(Int, Int)]): Column =
    GraftExpr.column(PairSum(GraftExpr.expression(a), GraftExpr.expression(b),
      squaredDiff, window))
}

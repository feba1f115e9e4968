package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.PairSum

/** [[PairSum]] — the codegen'd kernel that replaced the interpreted
  * zip_with/aggregate HOF chains: graft_sqdist in every trained-IVF
  * distance sweep, graft_sqdist_d at the cluster-quality sites, and
  * graft_dot / graft_dot_range in recall and the fidelity audits — must
  * be BIT-IDENTICAL to those chains, including their NULL contract
  * (length mismatch or any null element → NULL, never a truncated
  * partial sum), in both codegen and interpreted evaluation.
  */
class SqDistSpec extends SparkSpec {
  import spark.implicits._

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
      "0L, (acc, v) -> acc + v)"

  /** The dot chain, summed from `zero`, over a's and b's first `k`
    * elements (all of them when `k` is 0). */
  private def hofDot(zero: String, k: Int = 0): String = {
    val (a, b) = if (k == 0) ("a", "b") else (s"slice(a, 1, $k)", s"slice(b, 1, $k)")
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), $zero, (acc, v) -> acc + v)"
  }

  /** `cols` over `df` twice: from whole-stage generated code, then
    * interpreted. Each pass pins one codegen factory mode, and the
    * optimizer is kept from pre-evaluating the projection over the
    * local rows (which would run it interpreted in both passes). */
  private def bothPaths(df: DataFrame, cols: Column*): Seq[Array[Row]] = {
    val keys = Seq("spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage", "spark.sql.optimizer.excludedRules")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").map {
      case (mode, wholeStage) =>
        spark.conf.set(keys(0), mode)
        spark.conf.set(keys(1), wholeStage)
        spark.conf.set(keys(2),
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        df.select(cols: _*).collect()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameBits(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)

  test("graft_sqdist == the zip_with/aggregate chain on well-formed " +
    "vectors, including the ppm magnitude bound") {
    val df = Seq(
      (Seq(0L, 0L), Seq(3L, 4L)),
      (Seq(1000000L, -1000000L), Seq(-1000000L, 1000000L)),
      (Seq.fill(64)(2000000L), Seq.fill(64)(-2000000L)), // the doc'd bound
      (Seq(7L), Seq(7L))
    ).toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    for (out <- bothPaths(df, PairSum.sqDist(a, b).as("n"), expr(hof).as("h"),
        PairSum.dot(a, b), expr(hofDot("0L")),
        PairSum.dot(a, b, 1, 1), expr(hofDot("0L", 1)))) {
      assert(out.forall(r => r.getLong(0) == r.getLong(1)))
      assert(out(0).getLong(0) == 25L)
      assert(out(2).getLong(0) == 64L * 4000000L * 4000000L)
      assert(out(3).getLong(0) == 0L)
      // the dot and prefix-window forms match their chains too
      assert(out.forall(r => r.getLong(2) == r.getLong(3) &&
        r.getLong(4) == r.getLong(5)))
      assert(out(1).getLong(2) == -2000000000000L)
      assert(out(1).getLong(4) == -1000000000000L)
    }
  }

  test("NULL contract matches the HOF: length mismatch and null " +
    "elements dead-letter, in codegen AND interpreted eval") {
    val df = Seq(
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L)), // mismatch
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](null, 2L))
    ).toDF("a", "b")
    for (out <- bothPaths(df, PairSum.sqDist(col("a"), col("b")).as("n"),
        expr(hof).as("h")))
      assert(out.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // the expression's own eval on literal operands
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Any]) =
      Literal(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    def sq(x: Seq[Any], y: Seq[Any]) = PairSum(lit(x), lit(y), squaredDiff = true)
    assert(sq(Seq(1L, 2L), Seq(1L)).eval(null) == null)
    assert(sq(Seq(1L, null), Seq(1L, 2L)).eval(null) == null)
    assert(sq(Seq(3L, 4L), Seq(0L, 0L)).eval(null) == 25L)
  }

  private val hofD =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  test("graft_sqdist_d (the double variant at the cluster-quality " +
    "sites) is bit-identical to its zip_with chain incl. NULL contract") {
    val df = Seq(
      (Seq(0.0, 0.0), Seq(3.0, 4.0)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.3, 0.2, -0.1)),
      (Seq.fill(64)(1.0 / 3), Seq.fill(64)(-2.0 / 7)),
      (Seq(7.5), Seq(7.5))
    ).toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    val zero = "CAST(0.0 AS DOUBLE)"
    for (out <- bothPaths(df, PairSum.sqDist(a, b).as("n"), expr(hofD).as("h"),
        PairSum.dot(a, b), expr(hofDot(zero)),
        PairSum.dot(a, b, 1, 1), expr(hofDot(zero, 1)))) {
      // exact double equality — same ops in the same order, by design
      assert(out.forall(r => sameBits(r.getDouble(0), r.getDouble(1))))
      assert(out(0).getDouble(0) == 25.0)
      // the dot and prefix-window forms are bit-identical to theirs
      assert(out.forall(r => sameBits(r.getDouble(2), r.getDouble(3)) &&
        sameBits(r.getDouble(4), r.getDouble(5))))
    }
    val nulls = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))
    ).toDF("a", "b")
    for (out <- bothPaths(nulls, PairSum.sqDist(a, b).as("n"),
        expr(hofD).as("h"), PairSum.dot(a, b), expr(hofDot(zero))))
      assert(out.forall(r => (0 until 4).forall(r.isNullAt)))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def litD(xs: Seq[Any]) =
      Literal(ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType))
    def sqD(x: Seq[Any], y: Seq[Any]) =
      PairSum(litD(x), litD(y), squaredDiff = true)
    assert(sqD(Seq(1.0, 2.0), Seq(1.0)).eval(null) == null)
    assert(sqD(Seq(1.0, null), Seq(1.0, 2.0)).eval(null) == null)
    assert(sqD(Seq(3.0, 4.0), Seq(0.0, 0.0)).eval(null) == 25.0)
  }
}

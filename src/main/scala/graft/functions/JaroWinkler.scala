package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftExpr
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity over two string columns — the fuzzy-match
  * primitive Spark lacks (it ships only `levenshtein`), used by the
  * blocked entity-resolution join.
  *
  * Canonical definition (Winkler 1990): Jaro similarity
  * (m/|a| + m/|b| + (m−t)/m)/3 with the ⌊max/2⌋−1 match window and
  * half-transposition count, boosted by ℓ·0.1·(1−jaro) for a common
  * prefix ℓ ≤ 4 when jaro > 0.7. Matches DuckDB's
  * `jaro_winkler_similarity` (the oracle) bit-for-bit on ASCII,
  * including its empty-string convention (either side empty → 0.0,
  * NOT the textbook 1.0 for two empties).
  *
  * Matching is over UTF-8 BYTES, same as DuckDB — byte-wise equality
  * is what the oracle computes, and for ASCII data (all testdata
  * strings) bytes ≡ code points.
  *
  * Codegen follows the `levenshtein` pattern: the loop lives in a
  * static method and whole-stage codegen emits a single call — no
  * boxing, no UDF serialization, stays inside the generated stage.
  */
case class JaroWinkler(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_jw requires (string, string), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jw"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  /** The column `JaroWinkler(a, b)` (`graft_jw` in plans); no session
    * registration needed. */
  def apply(a: Column, b: Column): Column =
    GraftExpr.column(JaroWinkler(GraftExpr.expression(a), GraftExpr.expression(b)))

  /** Static hot loop, shared by eval and generated code. O(|a|·w)
    * time, two small boolean scratch arrays — no allocation beyond
    * them, no regex, no boxing. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.getBytes
    val b = ub.getBytes
    val la = a.length
    val lb = b.length
    // DuckDB convention: any empty side → 0.0 (even both empty).
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val jLo = math.max(i - window, 0)
      val jHi = math.min(i + window + 1, lb)
      var j = jLo
      var found = false
      while (j < jHi && !found) {
        if (!mb(j) && a(i) == b(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // Transpositions: matched chars of each side in order; every
    // position where the two sequences disagree is half a transposition.
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val lMax = math.min(math.min(la, lb), 4)
    while (l < lMax && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftExpr
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** A hex window of an md5 digest read as an unsigned integer:
  * `Md5Int(x, s, k)` = `conv(substring(md5(x), s, k), 16, 10)` cast to
  * BIGINT — the engine-portable hash draw every seeded split, sample
  * and sketch uses (DuckDB's twin is `('0x' || substr(md5(x), s, k))
  * ::BIGINT`). `startHex` is 1-based like `substring`; `hexDigits` is
  * at most 15, so the value (< 2^60) always fits a signed long.
  *
  * The string idiom formats all 32 hex characters, cuts `k` of them
  * and parses them twice (`conv`, then the cast); this reads the `k`
  * nibbles straight off the 16 digest bytes. Input is coerced the way
  * `md5` coerces it (binary; strings are cast), and null in gives null
  * out. Codegen follows the [[JaroWinkler]] pattern: one static method
  * serves eval and generated code.
  */
case class Md5Int(child: Expression, startHex: Int, hexDigits: Int)
  extends UnaryExpression with ImplicitCastInputTypes {
  require(hexDigits >= 1 && hexDigits <= 15,
    s"Md5Int reads 1..15 hex digits, got $hexDigits")
  require(startHex >= 1 && startHex + hexDigits - 1 <= 32,
    s"Md5Int window ($startHex, $hexDigits) leaves the 32-digit md5")

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_md5_int"
  override def sql: String = s"$prettyName(${child.sql}, $startHex, $hexDigits)"

  override protected def nullSafeEval(input: Any): Any =
    Md5Int.compute(input.asInstanceOf[Array[Byte]], startHex, hexDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Int.compute($c, $startHex, $hexDigits)")

  override protected def withNewChildInternal(newChild: Expression): Md5Int =
    copy(child = newChild)
}

object Md5Int {
  /** The column `Md5Int(c, startHex, hexDigits)`; no session
    * registration needed. */
  def apply(c: Column, startHex: Int, hexDigits: Int): Column =
    GraftExpr.column(Md5Int(GraftExpr.expression(c), startHex, hexDigits))

  private val digest = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** Static hot loop, shared by eval and generated code: hex digit j
    * (0-based) of the digest is the high nibble of byte j/2 when j is
    * even, else its low nibble. */
  def compute(input: Array[Byte], startHex: Int, hexDigits: Int): Long = {
    val d = digest.get().digest(input)
    var v = 0L
    var j = startHex - 1
    val end = j + hexDigits
    while (j < end) {
      val b = d(j >> 1)
      v = (v << 4) | ((if ((j & 1) == 0) b >> 4 else b) & 0xF)
      j += 1
    }
    v
  }
}

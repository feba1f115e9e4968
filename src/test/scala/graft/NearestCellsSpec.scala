package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftExpr
import org.apache.spark.sql.types._

import graft.functions.{CellIndex, NearestCells}

/** The r14 map-only argmin kernel must be bit-identical to the
  * broadcast-join + groupBy(id) min(struct)/TopKAggregator chain it
  * replaced — same distance math ([[graft.functions.PairSum]]'s
  * NULL contract included), same (dist ASC NULLS FIRST, cid ASC)
  * order, and the same row-drop behaviour as the old inner equi-join
  * on `shard`.
  */
class NearestCellsSpec extends SparkSpec {
  import spark.implicits._

  private def idx(k: Int, cells: (Long, Long, Array[Long])*): CellIndex =
    CellIndex.build(cells.toArray, k)

  private def run(ci: CellIndex, rows: Seq[(java.lang.Long, Array[java.lang.Long])]): Seq[Seq[Long]] = {
    val schema = StructType(Seq(
      StructField("shard", LongType, nullable = true),
      StructField("qemb", ArrayType(LongType, containsNull = true), nullable = true)))
    val data = rows.map { case (s, q) =>
      Row(s, if (q == null) null else q.toSeq)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
    val out = df.select(GraftExpr.column(NearestCells(
      GraftExpr.expression(col("shard")),
      GraftExpr.expression(col("qemb")), ci)).as("cells"))
    out.collect().map(_.getSeq[Long](0).toSeq).toSeq
  }

  private def L(xs: Long*): Array[java.lang.Long] = xs.map(Long.box).toArray

  test("argmin matches min(struct(dist, cid)) with cid tiebreak") {
    val ci = idx(1,
      (0L, 10L, Array(0L, 0L)), (0L, 7L, Array(3L, 4L)),
      (0L, 20L, Array(0L, 0L)))
    // q = (0,0): cids 10 and 20 both at dist 0 → smaller cid 10 wins
    assert(run(ci, Seq((Long.box(0L), L(0L, 0L)))) == Seq(Seq(10L)))
    // q = (3,4): cid 7 at dist 0 wins
    assert(run(ci, Seq((Long.box(0L), L(3L, 4L)))) == Seq(Seq(7L)))
  }

  test("top-k order is (dist ASC, cid ASC), bounded at k and at the " +
    "cell count") {
    val ci = idx(3,
      (0L, 5L, Array(0L)), (0L, 2L, Array(10L)), (0L, 9L, Array(0L)),
      (0L, 1L, Array(4L)))
    // q = 0: dists — cid5:0, cid9:0, cid1:16, cid2:100
    assert(run(ci, Seq((Long.box(0L), L(0L)))) == Seq(Seq(5L, 9L, 1L)))
    val ci1 = idx(8, (0L, 5L, Array(0L)), (0L, 2L, Array(10L)))
    assert(run(ci1, Seq((Long.box(0L), L(7L)))) == Seq(Seq(2L, 5L)))
  }

  test("unknown or null shard yields an empty array (the inner-join " +
    "drop); known shard only sees its own cells") {
    val ci = idx(2, (1L, 4L, Array(0L)), (2L, 3L, Array(0L)))
    assert(run(ci, Seq(
      (Long.box(1L), L(5L)),
      (Long.box(9L), L(5L)),
      (null, L(5L)))) == Seq(Seq(4L), Seq(), Seq()))
  }

  test("SqDistLong NULL contract: length mismatch, null element, or " +
    "null vector rank nulls-first with cid tiebreak") {
    val ci = idx(2,
      (0L, 8L, Array(0L, 0L)), (0L, 3L, Array(1L, 1L)))
    // null vector: both dists null → cid order (3, 8)
    assert(run(ci, Seq((Long.box(0L), null))) == Seq(Seq(3L, 8L)))
    // length mismatch: same
    assert(run(ci, Seq((Long.box(0L), L(1L)))) == Seq(Seq(3L, 8L)))
    // null element: same
    assert(run(ci, Seq((Long.box(0L), Array[java.lang.Long](null, Long.box(1L))))) ==
      Seq(Seq(3L, 8L)))
    // null-dist cell ranks before a real-dist cell
    val ci2 = idx(2, (0L, 8L, Array(0L, 0L)), (0L, 3L, Array(1L, 1L, 1L)))
    assert(run(ci2, Seq((Long.box(0L), L(0L, 0L)))) == Seq(Seq(3L, 8L)))
  }

  test("interpreted eval matches codegen") {
    val ci = idx(2, (0L, 5L, Array(2L)), (0L, 7L, Array(5L)))
    val e = NearestCells(
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4L), ArrayType(LongType)), ci)
    // dists: cid5 → (4−2)² = 4, cid7 → (4−5)² = 1 → order (7, 5)
    val r = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(r.toLongArray.toSeq == Seq(7L, 5L))
  }
}

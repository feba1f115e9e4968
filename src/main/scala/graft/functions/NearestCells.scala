package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Driver-pinned IVF codebook, indexed by shard, with a per-row
  * nearest-`k`-cells kernel — the map-side half of the r14 argmin
  * fusion (guide §2.4 "remove shuffles outright", §4.2 "heavy lifting
  * in native code").
  *
  * The replaced plan shape was: broadcast the ≤2^16-row codebook, join
  * it onto the corpus (n·kc distance rows), then `groupBy(id)` argmin /
  * TopKAggregator — an Exchange of n rows plus a hash aggregate per
  * assignment, per probe stage, and per Lloyd round. The codebook is
  * ALREADY collected driver-side (`pinLocal`, the MLlib k-means
  * discipline), so the whole argmin can run per input row inside
  * whole-stage codegen: no join, no aggregate, no Exchange.
  *
  * Semantics are bit-identical to the replaced chain and asserted in
  * NearestCellsSpec:
  *   - distance = [[PairSum]]'s exact integer squared-L2 (`graft_sqdist`),
  *     including its NULL contract (length mismatch or null element →
  *     null distance);
  *   - ranking = (distance ASC NULLS FIRST, cid ASC) — `min(struct(d,
  *     cid))` orders a null field first, and TopKAggregator's (score
  *     DESC, id ASC) on score = −d is the same order (d is an exact
  *     integer ≤ 2.6e14 < 2^53, so the −d double cast in the old path
  *     was lossless);
  *   - a missing/empty/null shard yields an EMPTY array, so the
  *     caller's `explode`/null-filter drops the row exactly where the
  *     old inner equi-join on `shard` dropped it.
  */
final class CellIndex(
    private val shardIds: Array[Long],
    private val cidsByShard: Array[Array[Long]],
    private val embsByShard: Array[Array[Array[Long]]],
    val k: Int) extends Serializable {

  def nCells: Int = cidsByShard.iterator.map(_.length).sum

  /** Per-row kernel: the `k` nearest cells of `shard`'s codebook to
    * `q`, ordered (dist ASC NULLS FIRST, cid ASC). Returns an empty
    * array when the shard is null/unknown; `q` may be null (all
    * distances null → the k smallest cids, the nulls-first contract).
    */
  def nearest(shardNull: Boolean, shard: Long, q: ArrayData): ArrayData = {
    if (shardNull) return CellIndex.empty
    val slot = java.util.Arrays.binarySearch(shardIds, shard)
    if (slot < 0) return CellIndex.empty
    val cids = cidsByShard(slot)
    val embs = embsByShard(slot)
    val n = cids.length
    val m = if (k < n) k else n
    if (m == 0) return CellIndex.empty
    // insertion top-k, best-first (k ≤ 8 at every call site)
    val bd = new Array[Long](m)
    val bn = new Array[Boolean](m) // dist-is-null flag (nulls rank first)
    val bc = new Array[Long](m)
    var cnt = 0
    var c = 0
    while (c < n) {
      var dNull = false
      var d = 0L
      val emb = embs(c)
      if (q == null || emb == null) dNull = true
      else {
        val len = emb.length
        if (q.numElements() != len) dNull = true
        else {
          var i = 0
          var s = 0L
          while (i < len && !dNull) {
            if (q.isNullAt(i)) dNull = true
            else { val diff = q.getLong(i) - emb(i); s += diff * diff }
            i += 1
          }
          d = s
        }
      }
      val cid = cids(c)
      // reject after ONE comparison when worse than the current m-th
      if (cnt < m || better(dNull, d, cid, bn(cnt - 1), bd(cnt - 1), bc(cnt - 1))) {
        var pos = cnt
        while (pos > 0 && !better(bn(pos - 1), bd(pos - 1), bc(pos - 1), dNull, d, cid))
          pos -= 1
        val last = if (cnt == m) m - 1 else cnt
        var i = last
        while (i > pos) {
          bd(i) = bd(i - 1); bn(i) = bn(i - 1); bc(i) = bc(i - 1)
          i -= 1
        }
        bd(pos) = d; bn(pos) = dNull; bc(pos) = cid
        if (cnt < m) cnt += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bc, cnt))
  }

  // (null dist, smaller cid) ranks before (non-null dist, any cid):
  // min(struct) field ordering with Spark's nulls-first ASC semantics
  private def better(n1: Boolean, d1: Long, c1: Long,
                     n2: Boolean, d2: Long, c2: Long): Boolean =
    if (n1 != n2) n1
    else if (!n1 && d1 != d2) d1 < d2
    else c1 < c2
}

object CellIndex {
  private val empty = new GenericArrayData(Array.empty[Long])

  /** Build from collected codebook rows (shard, cid, cemb) — cells
    * sorted by cid within each shard so equal-distance ties scan in
    * cid order (the comparator breaks ties anyway; sorting just keeps
    * construction deterministic).
    */
  def build(rows: Array[(Long, Long, Array[Long])], k: Int): CellIndex = {
    val byShard = rows.groupBy(_._1).toArray.sortBy(_._1)
    new CellIndex(
      byShard.map(_._1),
      byShard.map(_._2.sortBy(_._2).map(_._2)),
      byShard.map(_._2.sortBy(_._2).map(_._3)),
      k)
  }
}

/** `graft` expression form of [[CellIndex.nearest]]: children are the
  * (shard, qemb) columns; the codebook rides as constructor state
  * (bounded, driver-built, serialized into the task binary via the
  * codegen references array — the broadcast-hash-relation class of
  * payload, without the join).
  */
case class NearestCells(shard: Expression, qemb: Expression,
                        index: CellIndex) extends Expression {

  override def children: Seq[Expression] = Seq(shard, qemb)

  override def checkInputDataTypes(): TypeCheckResult =
    (shard.dataType, qemb.dataType) match {
      case (LongType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cells requires (bigint, array<bigint>), got " +
          s"(${shard.dataType.catalogString}, ${qemb.dataType.catalogString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "graft_nearest_cells"

  override def eval(input: InternalRow): Any = {
    val s = shard.eval(input)
    val q = qemb.eval(input)
    index.nearest(s == null, if (s == null) 0L else s.asInstanceOf[Long],
      if (q == null) null else q.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("graftCellIndex", index,
      classOf[CellIndex].getName)
    val sEv = shard.genCode(ctx)
    val qEv = qemb.genCode(ctx)
    ev.copy(code = code"""
      ${sEv.code}
      ${qEv.code}
      ArrayData ${ev.value} = $idx.nearest(${sEv.isNull},
        ${sEv.isNull} ? 0L : ${sEv.value},
        ${qEv.isNull} ? null : ${qEv.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCells =
    copy(shard = newChildren(0), qemb = newChildren(1))
}

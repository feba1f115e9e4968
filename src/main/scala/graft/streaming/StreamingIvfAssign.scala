package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Streaming twin of the trained-IVF assignment
  * ([[graft.operators.SimilarityOps]] q440/q441): route a vector
  * STREAM to the cells of a FROZEN codebook trained batch-side.
  *
  * The codebook is ≤kCent (cid, ppm-centroid) rows by construction, so
  * it folds into one literal array at plan build — scoring is then
  * MAP-ONLY: the ppm quantization, every integer squared-L2 distance
  * and the (dist, cid) argmin all evaluate inside a single projection
  * per row. No state store, no stream-static join, no shuffle, no
  * watermark; a codebook refresh is a query restart with a new literal
  * (the frozen-model serving pattern of [[StreamingScore]]).
  *
  * Determinism contract (StreamingIvfAssignSpec): arithmetic is the
  * BIGINT math of the batch assigner — exact, order-independent — and
  * the fold's argmin keeps strictly-better (d, cid) candidates, so the
  * result is independent of codebook order and bit-identical to the
  * batch `min(struct(d, cid))` tiebreak.
  *
  * Malformed-input contract: a streamed vector whose dimensionality
  * differs from the codebook's, or that is null / contains null
  * elements, makes every zip_with distance null, so no candidate ever
  * beats the fold's init sentinel — such rows emit cid = dist2 = NULL
  * (a visible dead-letter the consumer can route), never a phantom
  * Long.MaxValue cell. (Corollary: Long.MaxValue itself is not a
  * usable cid — cids are corpus vector ids, which never reach 2^63−1.)
  */
object StreamingIvfAssign {

  /** ppm quantization of the streamed embedding — the batch
    * [[graft.operators.SimilarityOps]] integer math, applied per row.
    */
  private def quantized(embCol: String): Column =
    expr(s"transform($embCol, " +
      "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")

  /** argmin fold over a literal (cid, cemb) array: keeps
    * strictly-better (d, cid) candidates so the result is independent
    * of array order; null distances (malformed input, see object doc)
    * never beat the init sentinel. A NULL array (missing shard) folds
    * to NULL wholesale.
    */
  private def bestCell(cb: Column): Column =
    aggregate(cb,
      struct(lit(Long.MaxValue).as("d"), lit(Long.MaxValue).as("cid")),
      (acc, c) => {
        val d = aggregate(zip_with(col("__q"), c.getField("_2"),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v)
        when(d < acc.getField("d") ||
            (d === acc.getField("d") &&
              c.getField("_1") < acc.getField("cid")),
          struct(d.as("d"), c.getField("_1").as("cid")))
          .otherwise(acc)
      })

  /** NULL-out the init sentinel: a row no candidate beat (malformed
    * vector or missing shard) must surface as NULL, not as a phantom
    * Long.MaxValue cell.
    */
  private def scored(c: Column): Column =
    when(col("__best.cid") =!= lit(Long.MaxValue), c)

  /** Assign each streamed vector against the FLAT frozen codebook —
    * [[assignSharded]] with every cell in shard 0: output (idCol, cid,
    * dist2); cid/dist2 are NULL for malformed vectors (see object doc).
    */
  def assign(stream: DataFrame, idCol: String, embCol: String,
             codebook: Seq[(Long, Seq[Long])]): DataFrame = {
    require(codebook.nonEmpty, "cannot assign against an empty codebook")
    assignSharded(stream, idCol, embCol, Map(0 -> codebook), shardBits = 0)
      .drop("shard")
  }

  /** Assign each streamed vector against the SHARDED frozen codebook
    * ([[graft.operators.SimilarityOps.ivfShardedCodebook]], the q441
    * layout): the row's `shardBits` leading sign bits pick its shard,
    * `element_at` on the literal shard→codebook MAP fetches that
    * shard's ≤kcPerShard cells, and the same argmin fold scores them —
    * still map-only, per-row cost kcPerShard (not shards·kc), no
    * state, no shuffle. Output (idCol, shard, cid, dist2); a vector
    * routed to a shard with no codebook (possible when a shard was
    * empty at train time) emits NULL cid/dist2 — visible, like the
    * malformed-input case.
    */
  def assignSharded(stream: DataFrame, idCol: String, embCol: String,
                    codebooks: Map[Int, Seq[(Long, Seq[Long])]],
                    shardBits: Int): DataFrame = {
    require(codebooks.nonEmpty, "cannot assign against an empty codebook")
    stream
      .withColumn("__q", quantized(embCol))
      .withColumn("shard", SimilarityOps.signBucket(shardBits, embCol))
      .withColumn("__best", bestCell(
        element_at(typedLit(codebooks), col("shard"))))
      .select(col(idCol), col("shard"),
        scored(col("__best.cid")).as("cid"),
        scored(col("__best.d")).as("dist2"))
  }
}

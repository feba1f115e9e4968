package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps
import graft.streaming.StreamingIvfAssign

/** The map-only streaming IVF assigner must route vectors to exactly
  * the cells the batch assignment picks under the same frozen codebook
  * — the train-batch / serve-stream split for the q440 quantizer — and
  * must break exact-distance ties toward the smaller cid independent
  * of codebook order (the batch min(struct(d, cid)) contract).
  */
class StreamingIvfAssignSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(1.1f, -0.1f),
    4L -> Seq(-1.0f, 0.0f), 5L -> Seq(-0.9f, -0.1f), 6L -> Seq(-1.1f, 0.1f))

  test("stream assignments == the trained codebook's batch cells; " +
    "ties go to the smaller cid regardless of codebook order") {
    val df = vecs.toDF("vec_id", "embedding")
    // the IvfSpec fixture's converged round-2 codebook, collected the
    // way a serving layer would freeze it
    val codebook = SimilarityOps.ivfShardedCodebook(df, "vec_id",
        "embedding", 2, shardBits = 0)
      .collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getAs[scala.collection.Seq[Long]]("cemb").toSeq).toSeq
    assert(codebook.map(_._1).sorted == Seq(4L, 6L))

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamingIvfAssign.assign(
      mem.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      codebook)
    val q = out.writeStream.format("memory").queryName("ivf_stream")
      .outputMode("append").start()
    mem.addData(vecs: _*)
    q.processAllAvailable()
    val streamed = spark.table("ivf_stream")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the hand-traced final assignment from IvfSpec
    assert(streamed == Map(1L -> 4L, 2L -> 4L, 3L -> 4L,
      4L -> 6L, 5L -> 6L, 6L -> 6L))

    // an exactly equidistant vector (0, 0) must pick the SMALLER cid,
    // and must do so for both codebook orders
    mem.addData(100L -> Seq(0.0f, 0.0f))
    q.processAllAvailable()
    val tie = spark.table("ivf_stream").filter(col("vec_id") === 100L)
      .collect()
    assert(tie.length == 1 && tie(0).getLong(1) == 4L)
    q.stop()

    val rev = StreamingIvfAssign.assign(
      Seq(100L -> Seq(0.0f, 0.0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", codebook.reverse)
    assert(rev.collect().head.getLong(1) == 4L)
  }

  test("assign: a wrong-dimension or null-element vector emits NULL " +
    "cid/dist2, never a phantom Long.MaxValue cell") {
    val df = vecs.toDF("vec_id", "embedding")
    val codebook = SimilarityOps.ivfShardedCodebook(df, "vec_id",
        "embedding", 2, shardBits = 0)
      .collect()
      .map(r => r.getAs[Long]("cid") ->
        r.getAs[scala.collection.Seq[Long]]("cemb").toSeq).toSeq
    val bad = Seq(
      200L -> Seq(1.0f),                      // too short
      201L -> Seq(1.0f, 0.0f, 0.0f),          // too long
      203L -> Seq(1.0f, 0.0f))                // well-formed control
    val out = StreamingIvfAssign.assign(
        bad.toDF("vec_id", "embedding"), "vec_id", "embedding", codebook)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(200L).isEmpty && out(201L).isEmpty)
    assert(out(203L).contains(4L))
    // a null ELEMENT also nulls out (null-element arithmetic)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nullElem = spark.createDataFrame(
      java.util.List.of(Row(202L, Seq[java.lang.Float](1.0f, null))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    val o2 = StreamingIvfAssign.assign(nullElem, "vec_id", "embedding",
      codebook).collect().head
    assert(o2.isNullAt(1) && o2.isNullAt(2))
  }

  test("assignSharded: stream == batch on the frozen PER-SHARD " +
    "codebook; an empty-shard vector emits NULL, not a phantom cell") {
    // 4-dim vectors in three sign-shards (2 leading bits -> 4 shards);
    // shard 2 (emb[0] <= 0 < emb[1]) stays EMPTY at train time
    val sv = Seq(
      10L -> Seq(1.0f, 0.1f, 0.1f, 0.1f),     // shard 3
      11L -> Seq(0.9f, 0.2f, 0.1f, 0.1f),     // shard 3
      12L -> Seq(1.1f, 0.1f, 0.2f, 0.1f),     // shard 3
      20L -> Seq(0.5f, -0.5f, 0.5f, -0.5f),   // shard 1
      21L -> Seq(0.6f, -0.4f, 0.5f, -0.5f),   // shard 1
      40L -> Seq(-0.5f, -0.5f, -0.5f, -0.5f)) // shard 0
    val sdf = sv.toDF("vec_id", "embedding")
    val cbDf = SimilarityOps.ivfShardedCodebook(sdf, "vec_id",
      "embedding", kcPerShard = 2, rounds = 2, shardBits = 2)
    val codebooks = cbDf.collect()
      .map(r => (r.getAs[Int]("shard"), (r.getAs[Long]("cid"),
        r.getAs[scala.collection.Seq[Long]]("cemb").toSeq)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(!codebooks.contains(2), "fixture: shard 2 must be empty")
    // batch input INCLUDES the empty-shard vector: stream == batch must
    // hold for dead letters too (the frozen batch assigner left-joins
    // and emits NULL cid/dist2, mirroring the stream contract — not a
    // silent drop, not a phantom argmin over NULL distances)
    val orphanVec = 99L -> Seq(-0.5f, 0.5f, 0.1f, 0.1f)
    // wrong-dimension vector in a POPULATED shard: every candidate
    // distance is NULL — must dead-letter, never argmin over NULLs
    val malformedVec = 98L -> Seq(1.0f, 0.1f)
    val batchRows = SimilarityOps.ivfShardedAssignFrozen(
        (sv :+ orphanVec :+ malformedVec).toDF("vec_id", "embedding"),
        "vec_id", "embedding", cbDf, shardBits = 2)
      .collect()
    val batch = batchRows.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val bOrphan = batchRows.filter(_.getLong(0) == 99L)
    assert(bOrphan.length == 1 && bOrphan.head.getInt(1) == 2 &&
      bOrphan.head.isNullAt(2) && bOrphan.head.isNullAt(3),
      "batch orphan-shard vector must emit a visible NULL dead letter")
    assert(batch(98L).isEmpty,
      "batch wrong-dimension vector must dead-letter, not phantom-argmin")

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamingIvfAssign.assignSharded(
      mem.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      codebooks, shardBits = 2)
    val q = out.writeStream.format("memory").queryName("ivf_shard_stream")
      .outputMode("append").start()
    mem.addData(sv: _*)
    // a late vector landing in the EMPTY shard 2, plus the malformed one
    mem.addData(orphanVec, malformedVec)
    q.processAllAvailable()
    val rows = spark.table("ivf_shard_stream").collect()
    q.stop()
    // FULL-map parity, NULL dead letters included — not just the
    // assigned subset
    val streamed = rows.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(streamed == batch,
      s"stream $streamed must equal batch $batch")
    val orphan = rows.filter(_.getLong(0) == 99L)
    assert(orphan.length == 1 && orphan.head.getInt(1) == 2 &&
      orphan.head.isNullAt(2) && orphan.head.isNullAt(3))
  }
}

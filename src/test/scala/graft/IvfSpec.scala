package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** Trained-IVF quantizer specs (q440/q441): exact-integer Lloyd on a
  * hand-computed fixture, and the probe-covers-everything equivalence
  * to the exact baseline.
  */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  // Two clean 2-D clusters around (±1, 0). md5 ranks of the string ids
  // "1".."6" put ids 6 then 4 first (verified by hand against the hex
  // digests) — so BOTH seeds start inside cluster B, the adversarial
  // init: round 1 lumps all of cluster A plus id 4/5 onto seed 4, and
  // the exact-integer Lloyd update must still recover the true
  // centroids (±1e6, 0) by round 2.
  private val vecs = Seq(
    1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(1.1f, -0.1f),
    4L -> Seq(-1.0f, 0.0f), 5L -> Seq(-0.9f, -0.1f), 6L -> Seq(-1.1f, 0.1f))

  private def df = vecs.toDF("vec_id", "embedding")

  test("ivfTrain: adversarial same-cluster seeds converge to the true " +
    "integer centroids in two rounds; census is exact") {
    val out = SimilarityOps.ivfTrain(df, "vec_id", "embedding", kCent = 2)
      .collect().map(r => (r.getAs[Long]("cid"),
      r.getAs[Long]("n_members"), r.getAs[Long]("centroid_l1"),
      r.getAs[Long]("shift_l1")))
    // hand trace (ppm ints): seeds c0 = {4: (-1e6, 0), 6: (-1.1e6, 1e5)};
    // round-1 assign pulls 1/2/3/4/5 onto cid 4 -> c1 = {4: (220000,
    // -20000), 6: (-1100000, 100000)} (floor-division means); round-2
    // assign splits the clusters correctly -> c2 = {4: (1000000, 0),
    // 6: (-1000000, 0)}; final members 3+3; shifts |c2-c1| per dim.
    assert(out.toSeq == Seq(
      (4L, 3L, 1000000L, 800000L),
      (6L, 3L, 1000000L, 200000L)))
  }

  test("flat IVF (shardBits = 0): probing every trained cell equals " +
    "exact top-k") {
    val ann = SimilarityOps.ivfAnnTopKSharded(df, "vec_id", "embedding",
        k = 2, kcPerShard = 2, nprobe = 2, shardBits = 0)
      .orderBy("vec_id", "neighbor_id").collect().toSeq
    val exact = SimilarityOps.cosineTopK(df, "vec_id", "embedding", 2)
      .orderBy("vec_id", "neighbor_id").collect().toSeq
    assert(ann == exact)
  }

  test("ivfRecallAudit: probing every trained cell reaches exact " +
    "recall; levels are monotone") {
    val out = SimilarityOps.ivfRecallAudit(df, "vec_id", "embedding",
        k = 2, kCent = 2, sampleMod = 1)
      .orderBy("nprobe")
      .collect().map(r => (r.getAs[Long]("nprobe"),
        r.getAs[Long]("n_queries"), r.getAs[Long]("recall_ppm")))
    assert(out.length == 3 && out.forall(_._2 == 6L))
    // with only 2 trained cells, nprobe >= 2 covers the whole corpus
    // -> the candidate top-k IS the exact top-k
    assert(out(1)._3 == 1000000L && out(2)._3 == 1000000L)
    assert(out(0)._3 <= out(1)._3)
  }

  test("ivfAnnTopKSharded: search stays shard-local and, with every " +
    "shard cell probed, equals the per-shard exact baseline") {
    // 4-dim vectors in three distinct sign-shards (shard = 4 leading
    // sign bits) plus one singleton shard with no possible neighbor.
    val sv = Seq(
      10L -> Seq(1.0f, 0.1f, 0.1f, 0.1f),    // shard 15
      11L -> Seq(0.9f, 0.2f, 0.1f, 0.1f),    // shard 15
      12L -> Seq(1.1f, 0.1f, 0.2f, 0.1f),    // shard 15
      20L -> Seq(-1.0f, 0.1f, 0.1f, 0.1f),   // shard 14
      21L -> Seq(-0.9f, 0.2f, 0.1f, 0.1f),   // shard 14
      30L -> Seq(0.5f, -0.5f, 0.5f, -0.5f),  // shard 5
      31L -> Seq(0.6f, -0.4f, 0.5f, -0.5f),  // shard 5
      40L -> Seq(-0.5f, -0.5f, -0.5f, -0.5f)) // shard 0 — alone
    val sdf = sv.toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfAnnTopKSharded(sdf, "vec_id", "embedding",
        k = 2, kcPerShard = 2, nprobe = 2)
      .orderBy("vec_id", "neighbor_id").collect().toSeq
    // with kcPerShard = 2 and nprobe = 2 every (≤3-vector) shard is
    // fully probed, so the result must equal the exact cosine top-2
    // restricted to each shard — and the singleton shard contributes
    // nothing.
    val shards = Seq(Seq(10L, 11L, 12L), Seq(20L, 21L), Seq(30L, 31L))
    val expected = shards.flatMap { ids =>
      SimilarityOps.cosineTopK(
          sdf.filter(col("vec_id").isin(ids: _*)), "vec_id",
          "embedding", 2)
        .collect().toSeq
    }.sortBy(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      expected.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    assert(!out.exists(r => r.getLong(0) == 40L || r.getLong(1) == 40L))
  }

  test("the demoted q448 composition (fixed-4-bit IMI dials) still " +
    "produces its gate-verified rows at sf0.001") {
    // q448_ivf_sharded_ann was a DECLARED query through round 12
    // (green rows+schema+hash vs the DuckDB oracle at all three gate
    // SFs) and was demoted in round 13: q452's dial table subsumes the
    // comparison it made, and q441 ships the winning dials. This pin
    // freezes the exact former composition — shardBits = 4,
    // kcPerShard = max(2, 2^(bits/2+1)/4), nprobe = 2, k = 5 — against
    // the checksums of its last gate-verified sf0.001 output (2500
    // rows; captured from the r13 Verify dump the commit before the
    // demotion), so the fixed-4-bit semantics stay executable and
    // regression-guarded without paying a declared super-linear plan.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bits = SimilarityOps.adaptiveSignBits(emb)
    val kc = math.max(2, (1 << (bits / 2 + 1)) / 4)
    val rows = SimilarityOps.ivfAnnTopKSharded(emb, "vec_id", "embedding",
        5, kc)
      .orderBy("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 2500)
    assert(rows.map(r => r._1 * 1000003L + r._2).sum == 623752489331L)
    assert(rows.map(r => math.round(r._3 * 1e6)).sum == 545449788L)
  }

  test("ivfServeBatchPruned: pruned cell reads equal ivfServeSharded " +
    "on one frozen index") {
    // 240 seeded 8-dim vectors: 2 shards x 4 cells, every request
    // probes 2 of its shard's cells
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 240L).map(i =>
      i -> Seq.fill(8)((rnd.nextGaussian() * 0.5).toFloat))
      .toDF("vec_id", "embedding")
    val (kc, rounds, sb, nprobe, k, queryMod) = (4, 2, 1, 2, 3, 3)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ivf-serve").resolve("index")
    val cb = SimilarityOps.ivfServeIndexWrite(corpus, "vec_id",
      "embedding", kc, rounds, sb, dir.toString)
    val requests = corpus.filter(pmod(conv(substring(
      md5(col("vec_id").cast("string")), 1, 8), 16, 10).cast("long"),
      lit(queryMod)) === 0)
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = rows(SimilarityOps.ivfServeBatchPruned(requests,
      "vec_id", "embedding", spark.read.parquet(dir.toString), cb, sb,
      nprobe, k))
    val served = rows(SimilarityOps.ivfServeSharded(corpus, "vec_id",
      "embedding", k, kc, nprobe, rounds, sb, queryMod))
    assert(served.nonEmpty && pruned == served)
  }

  test("ivfTrain: kCent larger than the corpus keeps every vector a " +
    "surviving singleton cell with zero shift") {
    val out = SimilarityOps.ivfTrain(df, "vec_id", "embedding",
      kCent = 10).collect()
    assert(out.length == 6)
    assert(out.forall(r => r.getAs[Long]("n_members") == 1L &&
      r.getAs[Long]("shift_l1") == 0L))
  }
}

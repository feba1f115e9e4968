package graft

import graft.operators.{DedupOps, SimilarityOps}

/** Dedup + similarity semantics on tiny literal frames. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different words entirely here now ok fine"),
    (4L, "the quick brown fox jumps over the lazy dog"))   // exact dup of 1
    .toDF("doc_id", "text")

  test("exact dedup keeps the min id as canonical") {
    val out = DedupOps.exactDedup(docs, "doc_id", "text")
      .orderBy("canonical_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("shingles: docs shorter than w yield none; shingles are distinct") {
    val short = Seq((9L, "just two")).toDF("doc_id", "text")
    assert(DedupOps.shingles(short, "doc_id", "text").count() == 0)
    val sh = DedupOps.shingles(docs.filter($"doc_id" === 1L), "doc_id", "text")
      .as[(Long, String)].collect()
    assert(sh.length == 7)   // 9 tokens → 7 shingles, all distinct
    assert(sh.map(_._2).contains("the quick brown"))
  }

  test("minhash LSH surfaces exact and near dups, not the unrelated doc") {
    val sh = DedupOps.shingles(docs, "doc_id", "text")
    val sig = DedupOps.minhashSignature(sh, "doc_id", 4, 2)
    val pairs = DedupOps.minhashCandidates(sig, "doc_id", 4, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))          // identical docs always collide
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never
  }

  test("lshJaccard: identical docs score 1.0, near-dups in (0,1)") {
    val sh = DedupOps.shingles(docs, "doc_id", "text")
    val out = DedupOps.lshJaccard(sh, "doc_id")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 4L)) == 1.0)
    out.get((1L, 2L)).foreach(j => assert(j > 0.5 && j < 1.0))
  }

  test("setSimJoin: prefix filtering finds EXACTLY the brute-force pairs") {
    val rand = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"e$i")
    val sets = (0L until 25L).flatMap { id =>
      // overlapping random sets: offset windows + jitter force near-dups
      val base = rand.nextInt(12)
      val elems = (0 until 8 + rand.nextInt(8))
        .map(j => vocab((base + j + rand.nextInt(2)) % vocab.size)).distinct
      elems.map(e => (id, e))
    }
    val df = sets.toDF("id", "elem")
    val got = DedupOps.setSimJoin(df, "id", "elem", 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    val byId = sets.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      a <- byId.keys; b <- byId.keys if a < b
      j = byId(a).intersect(byId(b)).size.toDouble / byId(a).union(byId(b)).size
      if math.rint(j * 1e6) / 1e6 >= 0.5
    } yield (a, b)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("simhash: identical docs get identical signatures; signature is 32-bit") {
    val out = DedupOps.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(4L))
    assert(out.values.forall(v => v >= 0 && v < (1L << 32)))
    assert(out(1L) != out(3L))   // overwhelmingly likely for disjoint vocab
  }

  test("cosineTopK: orthogonal vectors rank below parallel ones") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top1 = SimilarityOps.cosineTopK(vecs, "vec_id", "embedding", 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(top1(1L) == 2L && top1(2L) == 1L)
  }

  test("annTopK never pairs vectors from different sign buckets") {
    val vecs = Seq(
      (1L, Seq(1.0f, 1.0f, 1.0f, 1.0f)), (2L, Seq(0.9f, 1.0f, 1.0f, 1.0f)),
      (3L, Seq(-1.0f, -1.0f, -1.0f, -1.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.annTopK(vecs, "vec_id", "embedding", 5, 4)
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("multi-probe ANN recall ≥ single-probe recall, both vs exact top-1") {
    val r = new scala.util.Random(3)
    val vecs = (0L until 200L)
      .map(i => (i, Seq.fill(8)(r.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def top1(df: org.apache.spark.sql.DataFrame) =
      df.filter($"vec_id" < 50).groupBy("vec_id")
        .agg(org.apache.spark.sql.functions.max_by($"neighbor_id", $"sim").as("n"))
        .as[(Long, Long)].collect().toMap
    val exact = top1(SimilarityOps.cosineTopK(vecs, "vec_id", "embedding", 1))
    val single = top1(SimilarityOps.annTopK(vecs, "vec_id", "embedding", 1, 4))
    val multi = top1(SimilarityOps.annTopKMultiProbe(vecs, "vec_id", "embedding", 1, 4))
    def recall(m: Map[Long, Long]) = exact.count { case (k, v) => m.get(k).contains(v) }
    assert(recall(multi) >= recall(single))
    assert(recall(multi) > 25, s"multi-probe recall too low: ${recall(multi)}/50")
  }

  test("graft_dot yields NULL on length mismatch or null elements (never a partial dot)") {
    import graft.functions.PairSum
    import org.apache.spark.sql.functions.expr
    val r = spark.range(1).select(
      PairSum.dot(expr("array(1.0d, 2.0d)"), expr("array(3.0d, 4.0d)")).as("ok"),
      PairSum.dot(expr("array(1.0d, 2.0d)"), expr("array(3.0d)")).as("mismatch"),
      PairSum.dot(expr("array(1.0d, CAST(NULL AS DOUBLE))"),
        expr("array(3.0d, 4.0d)")).as("withnull")).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("cosineTopK tolerates a null embedding row (dropped, not a crash)") {
    val vecs = Seq(
      (1L, Some(Seq(1.0f, 0.0f))), (2L, Some(Seq(0.9f, 0.1f))), (3L, None))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.cosineTopK(vecs, "vec_id", "embedding", 2)
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("embeddingNearDup is symmetric-free (id_a < id_b) and thresholded") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.14f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.embeddingNearDup(vecs, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)))
  }
}

package graft

import graft.operators.{DedupOps, RetrievalOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Round-35 specs: the round-8 ADVICE hardening — cross-snapshot id
  * collisions in reciprocalBestMatch, positionCoec's clamp-not-wrap
  * bucketing, graft_dot_range's window validation before any plan exists,
  * and matryoshkaFidelity's short-embedding null discipline.
  */
class Round35OpsSpec extends SparkSpec {
  import spark.implicits._

  test("reciprocalBestMatch: a page keeping its id across crawls does " +
    "not collapse the two snapshots' shingle spines") {
    // Same doc_id=1 in both snapshots with DIFFERENT text: without the
    // snapshot tag the two shingle sets merge under one key and the
    // jaccard/fan-out corrupts. With the tag, old-1 best-matches new-2
    // (its exact copy) and the identical-id pair plays no special role.
    val old = Seq((1L, "s", "a b c d e")).toDF("doc_id", "source", "text")
    val nw = Seq((1L, "s", "p q r s t"), (2L, "s", "a b c d e"))
      .toDF("doc_id", "source", "text")
    val r = DedupOps.reciprocalBestMatch(old, nw, "doc_id", "source",
      "text").collect()(0)
    assert(r.getAs[Long]("n_old") == 1L)
    assert(r.getAs[Long]("n_matched") == 1L)
    assert(r.getAs[Long]("mean_match_jaccard_ppm") == 1000000L)
  }

  test("positionCoec: off-slate positions clamp into the edge buckets, " +
    "never wrap") {
    // pos 105 must land in the DEEP bucket (9) with the pos-95 row, not
    // alias into bucket 0; pos -7 lands in bucket 0 with the pos-5 row.
    val df = Seq(
      ("deep", 105L, 150.0), ("deep", 95L, 50.0),
      ("top", -7L, 150.0), ("top", 5L, 50.0)
    ).toDF("event_type", "k", "value")
    val out = RetrievalOps.positionCoec(df, "event_type", col("k"),
        col("value") > 100)
      .orderBy("segment").collect()
    assert(out.length == 2)
    // each segment: 2 events in ONE bucket whose curve rate is 1/2
    out.foreach { r =>
      assert(r.getAs[Long]("n_events") == 2L)
      assert(r.getAs[Long]("n_pos") == 1L)
      assert(r.getAs[Long]("expected_ppm_sum") == 1000000L)
      assert(r.getAs[Long]("coec_ppm") == 1000000L)
    }
  }

  test("graft_dot_range: invalid windows fail at analysis, not eval") {
    // The window is two Ints checked when the column is built, so a
    // bad one fails before any plan exists (and a NULL one cannot be
    // written).
    import graft.functions.PairSum
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    def fails(start: Int, len: Int): Unit = {
      val e = intercept[IllegalArgumentException](
        PairSum.dot(col("a"), col("b"), start, len))
      assert(e.getMessage.contains("graft_dot_range"), s"($start, $len)")
    }
    fails(0, 2)
    fails(-1, 2)
    fails(1, -1)
    fails(2, Int.MaxValue)
    // the valid window still computes
    assert(df.select(PairSum.dot(col("a"), col("b"), 1, 2))
      .collect()(0).getDouble(0) == 11.0)
  }

  test("matryoshkaFidelity: embeddings shorter than a requested dim " +
    "drop from that dim's pairs instead of deflating mae") {
    // Two len-16 vectors share a sign bucket; dim 32's prefix sim is
    // null for their pair, so dim 32 must count 0 pairs while dims
    // 8/16 count the pair — not count it with a skipped error term.
    val emb = (1 to 16).map(_.toDouble / 16)
    val df = Seq((1L, emb), (2L, emb.map(_ * 2)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.matryoshkaFidelity(df, "vec_id", "embedding",
        dims = Seq(8, 16, 32))
      .orderBy("dim").collect()
    val byDim = out.map(r => r.getAs[Long]("dim") ->
      r.getAs[Long]("n_pairs")).toMap
    assert(byDim.getOrElse(8L, 0L) == 1L)
    assert(byDim.getOrElse(16L, 0L) == 1L)
    assert(byDim.getOrElse(32L, 0L) == 0L)
  }
}

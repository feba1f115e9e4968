package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps, TextOps}

/** Round-29 specs: Matryoshka prefix-cosine arithmetic on a
  * hand-placed divergent pair, split leakage with an in-test md5
  * replica of the membership draw, trigram accretion totals,
  * filter-bias JS on identical-vs-mixed corpora, quantization
  * fidelity on exactly-representable vectors, and the cluster-size
  * octave rollup.
  */
class Round29OpsSpec extends SparkSpec {
  import spark.implicits._

  /** The repo-wide membership draw, replicated from scratch. */
  private def membership(id: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
  }

  test("matryoshkaFidelity: a pair whose tail carries half the mass " +
    "reads cosine 1.0 at d=2 vs 1/sqrt(2) full") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.matryoshkaFidelity(emb, "vec_id",
        "embedding", dims = Seq(2, 4))
      .orderBy("dim").collect()
    assert(out.length == 2)
    val d2 = out(0)
    assert(d2.getAs[Long]("dim") == 2L)
    assert(d2.getAs[Long]("n_pairs") == 1L)
    // 1 − 1/√2 = 0.292893…
    assert(d2.getAs[Double]("mae") == 0.292893)
    assert(d2.getAs[Double]("bias") == 0.292893)
    val d4 = out(1)
    assert(d4.getAs[Double]("mae") == 0.0)
    assert(d4.getAs[Double]("bias") == 0.0)
  }

  test("splitLeakage: an eval doc with a train twin leaks; an eval " +
    "doc with unique text does not") {
    val ids = (1L to 200L)
    val evalId = ids.find(membership(_) >= 0.9).get
    val trainId = ids.find(membership(_) < 0.9).get
    val evalId2 = ids.find(i => membership(i) >= 0.9 && i != evalId).get
    val dup = "alpha beta gamma delta epsilon"
    val df = Seq(
      (evalId, "A", dup), (trainId, "A", dup),
      (evalId2, "A", "zeta eta theta iota kappa")
    ).toDF("doc_id", "source", "text")
    val r = DedupOps.splitLeakage(df, "doc_id", "source", "text", 0.5)
      .collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_eval") == 2L)
    assert(r(0).getAs[Long]("n_leaked") == 1L)
    assert(r(0).getAs[Long]("leak_ppm") == 500000L)
  }

  test("trigramAccretion: new-trigram counts attribute to the first " +
    "slice and cumulate to the distinct total") {
    val df = Seq(
      (1L, "a b c d"),   // trigrams {a b c, b c d}
      (2L, "a b c"),     // trigram  {a b c}
      (3L, "x y")        // too short — docs counted, no trigrams
    ).toDF("doc_id", "text")
    val out = DedupOps.trigramAccretion(df, "doc_id", "text", 10)
      .orderBy("decile").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == 3L)
    assert(out.map(_.getAs[Long]("n_new_trigrams")).sum == 2L)
    assert(out.last.getAs[Long]("cum_trigrams") == 2L)
    // attribution: both of doc1's trigrams land in ITS slice iff its
    // membership decile is ≤ doc2's; either way "a b c" counts once
    val d1 = (membership(1L) * 10).toInt
    val d2 = (membership(2L) * 10).toInt
    val byDec = out.map(r => r.getAs[Long]("decile") ->
      r.getAs[Long]("n_new_trigrams")).toMap
    assert(byDec(math.min(d1, d2).toLong) >= 1L)
  }

  test("filterBiasAudit: identical passing docs give JS 0 for every " +
    "rule; adding an all-fail doc shifts every rule equally") {
    val passDoc = (1 to 39).map(i => f"alp$i%02d").mkString(" ") + " the"
    val clean = Seq((1L, passDoc), (2L, passDoc))
      .toDF("doc_id", "text")
    val out0 = TextOps.filterBiasAudit(clean, "doc_id", "text",
      Seq("the", "a")).collect()
    assert(out0.length == 6)
    assert(out0.forall(_.getAs[Double]("js_nats") == 0.0))
    val mixed = Seq((1L, passDoc), (2L, "x x x"))
      .toDF("doc_id", "text")
    val out1 = TextOps.filterBiasAudit(mixed, "doc_id", "text",
      Seq("the", "a")).collect()
    assert(out1.length == 6)
    val js = out1.map(_.getAs[Double]("js_nats")).distinct
    // "x x x" fails all five rules, so every subset = the pass doc
    assert(js.length == 1 && js.head > 0.0)
    assert(out1.forall(_.getAs[Long]("n_tokens") == 40L))
  }

  test("quantFidelity: axis-aligned ± vectors reconstruct their " +
    "cosine exactly at both levels") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.quantFidelity(emb, "vec_id", "embedding",
        levels = Seq(15, 255))
      .orderBy("level").collect()
    assert(out.length == 2)
    for (r <- out) {
      assert(r.getAs[Long]("n_pairs") == 3L)
      assert(r.getAs[Double]("mae") == 0.0)
      assert(r.getAs[Double]("bias") == 0.0)
    }
  }

  test("graft_dot_range: prefix dot ≡ sliced graft_dot; window past " +
    "the end is NULL") {
    import graft.functions.PairSum
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val (a, b) = (col("a"), col("b"))
    val r = df.select(
      PairSum.dot(a, b, 1, 2).as("p2"),
      PairSum.dot(slice(a, 1, 2), slice(b, 1, 2)).as("s2"),
      PairSum.dot(a, b, 2, 2).as("m2"),
      PairSum.dot(a, b, 1, 4).as("over")).collect()(0)
    assert(r.getAs[Double]("p2") == 14.0)
    assert(r.getAs[Double]("p2") == r.getAs[Double]("s2"))
    assert(r.getAs[Double]("m2") == 2.0 * 5 + 3 * 6)
    assert(r.isNullAt(r.fieldIndex("over")))
  }

  test("clusterSizeSpectrum: a 3-family and a 2-family land in " +
    "octave 1; singletons are dropped") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "a b c d"),
      (4L, "x y z"), (5L, "x y z"),
      (6L, "p q r")
    ).toDF("doc_id", "text")
    val out = DedupOps.clusterSizeSpectrum(df, "doc_id", "text")
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Int]("octave") == 1)
    assert(out(0).getAs[Long]("n_clusters") == 2L)
    assert(out(0).getAs[Long]("n_docs") == 5L)
    assert(out(0).getAs[Long]("max_cluster") == 3L)
  }
}

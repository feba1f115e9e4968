package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The shared candidate-pair cores of GraphOps, DedupOps,
  * SimilarityOps and MetricOps, tested directly: one section per core.
  * Each operator built on a core keeps its own tests in the suite that
  * introduced it.
  */
class PairFamiliesSpec extends SparkSpec {
  import spark.implicits._

  // -- Canonical undirected edges (triangleCount, localClustering,
  //    adamicAdar, modularity, assortativity, transitivity)

  test("canonicalEdges: reversed and duplicate edges fold to one (a < b) " +
    "row; self-loops drop") {
    val edges = Seq((2L, 1L), (1L, 2L), (1L, 2L), (3L, 3L), (4L, 1L), (1L, 4L))
      .toDF("s", "d")
    val got = GraphOps.canonicalEdges(edges, "s", "d").as[(Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 2L), (1L, 4L)))
  }

  // -- Degree-ordered wedges and the triangle census (triangleCount,
  //    localClustering, transitivity)

  test("triangleCensus: each triangle counted once on a hub-plus-clique " +
    "graph, equal to a brute-force count") {
    val hub = (1L to 20L).map(v => (0L, v))
    val clique = for (a <- 1L to 6L; b <- a + 1 to 6L) yield (b, a)
    val r = new scala.util.Random(5)
    val extra = Seq.fill(25)((r.nextInt(21).toLong, r.nextInt(21).toLong))
    val raw = hub ++ clique ++ extra ++ hub.map(_.swap)
    val und = raw.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = und.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val brute = (for {
      a <- nodes; b <- nodes if b > a; c <- nodes if c > b
      if und((a, b)) && und((b, c)) && und((a, c))
    } yield 1L).sum
    val row = GraphOps.triangleCensus(
        GraphOps.canonicalEdges(raw.toDF("s", "d"), "s", "d"))
      .select("n_nodes", "n_edges", "n_triangles")
      .as[(Long, Long, Long)].head()
    assert(brute >= 20 + 20) // K6 alone holds 20, the hub closes more
    assert(row == ((nodes.size.toLong, und.size.toLong, brute)))
  }

  test("orientedWedges: edges point from the lower-(degree, id) end, so " +
    "the hub sources no wedges") {
    val edges = (1L to 30L).map(v => (0L, v)) ++ Seq((1L, 2L), (2L, 3L))
    val (deg, oriented, wedges) = GraphOps.orientedWedges(
      GraphOps.canonicalEdges(edges.toDF("s", "d"), "s", "d"))
    assert(deg.filter(col("node") === 0).select("degree").as[Long].head() == 30L)
    assert(oriented.filter(col("src") === 0).count() == 0L)
    assert(oriented.count() == 32L)
    assert(wedges.filter(col("src") === 0).count() == 0L)
  }

  // -- Shingle-set arrays and the exact overlap verify (setSimJoin,
  //    lshJaccard, pairQaReport, minhashFidelity, candidatePrecision,
  //    dedupMethodCensus)

  test("overlapVerify: __c equals the driver-side set intersection; " +
    "sizes are the distinct set sizes") {
    val r = new scala.util.Random(17)
    val sets = (0L until 12L).map(id =>
      id -> Seq.fill(4 + r.nextInt(8))(s"e${r.nextInt(15)}"))
    val elems = sets.flatMap { case (id, es) => es.map(id -> _) }
      .toDF("id", "shingle")
    val arr = DedupOps.setArrays(elems, "id", "shingle")
    val pairs = (for (a <- 0L until 12L; b <- a + 1 until 12L) yield (a, b))
      .toDF("doc_a", "doc_b")
    val got = DedupOps.overlapVerify(pairs, arr, "id")
      .select("doc_a", "doc_b", "__na", "__nb", "__c")
      .as[(Long, Long, Long, Long, Long)].collect()
    val m = sets.toMap.map { case (id, es) => id -> es.toSet }
    assert(got.length == 66)
    got.foreach { case (a, b, na, nb, c) =>
      assert(na == m(a).size && nb == m(b).size)
      assert(c == (m(a) intersect m(b)).size.toLong, s"pair ($a, $b)")
    }
  }

  // -- Sign-probe cells and probe pairs (hardNegatives, srpFidelity,
  //    matryoshkaFidelity, quantFidelity, maxsimRetrieval, quantRecall)

  test("probeCells(b, 1) holds the same cells as the old inline " +
    "array(bucket, bucket ^ 1, …) list") {
    for (b <- Seq(1, 3, 4)) {
      val old = expr(s"array(bucket, ${(0 until b).map(j =>
        s"CAST(bucket AS INT) ^ ${1 << j}").mkString(", ")})")
      val rows = (0 until (1 << b)).toDF("bucket")
        .select(SimilarityOps.probeCells(b, 1).as("p"), old.as("o"))
        .as[(Seq[Int], Seq[Int])].collect()
      rows.foreach { case (p, o) => assert(p == o) }
    }
  }

  test("probePairs: side a probes every Hamming-1 cell, each pair meets " +
    "on one cell, extras ride along as <c>_a/<c>_b") {
    val n = Seq((1L, 0), (2L, 1), (3L, 3), (4L, 0)).toDF("id", "bucket")
      .withColumn("emb", array(lit(1.0)))
      .withColumn("nrm", lit(1.0))
      .withColumn("x", col("id") * 10)
    val got = SimilarityOps.probePairs(n, 2, Seq("x"))
      .select("id_a", "id_b", "x_a", "x_b").as[(Long, Long, Long, Long)]
      .collect()
    assert(got.length == got.distinct.length)
    val cells = Map(1L -> 0, 2L -> 1, 3L -> 3, 4L -> 0)
    val want = for {
      a <- cells.keys; b <- cells.keys
      if Integer.bitCount(cells(a) ^ cells(b)) <= 1
    } yield (a, b, a * 10, b * 10)
    assert(got.toSet == want.toSet)
  }

  // -- The SRP sign and mask (randomProjection, srpFidelity,
  //    srpMaskTable)

  /** The reference SRP mask in 8-dp DECIMAL plane sums: Σ round(x·s, 8)
    * as DECIMAL per plane, bit j set iff > 0. */
  private def decimalMasks(vecs: DataFrame, planes: Int,
                           inDim: Int): DataFrame = {
    val signDf = (0 until inDim).map(i =>
      (i, (0 until planes).map(j => SimilarityOps.srpSign(i, j).toDouble)))
      .toDF("__i", "__ss")
    val sums = (0 until planes).map(j =>
      sum(round(col("__x") * element_at(col("__ss"), j + 1), 8)
        .cast("decimal(20,8)")).as(s"__p$j"))
    vecs.select(col("id"), posexplode(col("emb")).as(Seq("__i", "__x")))
      .join(signDf, "__i")
      .groupBy(col("id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("id"), (0 until planes).map(j =>
        when(col(s"__p$j") > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).cast("int").as("m"))
  }

  test("srpMasks: the scaled-long mask equals the DECIMAL round(x·s, 8) " +
    "mask on exact 8-dp half ties and negative components") {
    val t = 0.000000005 // a half tie at the 9th decimal
    val tied = Seq(
      Seq(t, t, t, t), Seq(-t, -t, -t, -t), Seq(t, -t, 0.0, 0.0),
      Seq(0.123456785, -0.123456785, 0.5, -0.5),
      Seq(-0.000000015, 0.000000025, -0.000000035, 0.000000045),
      Seq(0.0, 0.0, 0.0, 0.0), Seq(-1.25, 0.75, -0.000000005, 2.0))
    val r = new scala.util.Random(3)
    val random = Seq.fill(40)(Seq.fill(4)(
      (r.nextInt(2000001) - 1000000) / 1e8 + (if (r.nextBoolean()) t else -t)))
    val vecs = (tied ++ random).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "emb")
    val planes = 8
    val got = SimilarityOps.srpMasks(vecs, planes, 4, "m")
      .as[(Long, Int)].collect().toMap
    val want = decimalMasks(vecs, planes, 4).as[(Long, Int)].collect().toMap
    assert(got.size == tied.size + random.size)
    assert(got == want)
    assert(got(5L) == 0) // an all-zero vector is on no plane's + side
  }

  // -- The fidelity summary (srpFidelity, matryoshkaFidelity,
  //    quantFidelity, minhashFidelity)

  test("fidelitySummary: hand-computed mae and bias per key; a bias that " +
    "rounds to zero from below is +0.0") {
    val df = Seq((1, 0.5, 0.25), (1, 0.0, 0.5), (2, 1.0 / 3, 0.0),
        (3, 0.3, 0.3000001), (3, 0.7, 0.7000002))
      .toDF("k", "est", "exact")
    val rows = MetricOps.fidelitySummary(df, "k", "key", col("est"),
        col("exact"))
      .orderBy("key").as[(Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L), (3L, 2L)))
    assert(rows(0)._3 == 0.375 && rows(0)._4 == -0.125)
    assert(rows(1)._3 == 0.333333 && rows(1)._4 == 0.333333)
    assert(rows(2)._3 == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(rows(2)._4) == 0L)
  }
}

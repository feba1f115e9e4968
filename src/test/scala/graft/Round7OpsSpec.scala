package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{EncodeOps, GraphOps, MetricOps, SimilarityOps, TextOps}

/** Round-7 operator specs: RAG chunking coverage invariants, the
  * duplicated-span (substring-dedup) signal, JL random projection
  * determinism + distance preservation, KS vs the single-window oracle
  * form, decile-lift tiling invariants, and Cohen's kappa against
  * hand-computed contingency tables.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ chunkDocuments

  test("chunkDocuments: full coverage, stride offsets, short tail") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // 40 toks → 3 chunks
      (2L, (1 to 16).map(i => s"t$i").mkString(" ")), // exactly one window
      (3L, "a b c"),                                  // short doc → 1 chunk
      (4L, (1 to 28).map(i => s"t$i").mkString(" "))  // (n−16) % 12 == 0
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, "doc_id", "text", 16, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq

    // chunk counts: 1 + ceil((n-16)/12)
    val counts = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
    // starts advance by stride; every token position is covered
    for ((id, n) <- Seq(1L -> 40, 2L -> 16, 3L -> 3, 4L -> 28)) {
      val chunks = out.filter(_._1 == id).sortBy(_._2)
      assert(chunks.map(_._3) == chunks.indices.map(_.toLong * 12 + 1))
      val covered = chunks.flatMap(c => c._3 until (c._3 + c._4)).toSet
      assert(covered == (1L to n).toSet, s"doc $id coverage")
    }
    // tail chunk of doc 1 runs short: positions 25..40 = 16, but doc 3 = 3
    assert(out.filter(_._1 == 3L).head._4 == 3L)
  }

  test("chunkDocuments md5 matches the joined slice") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, "doc_id", "text", 4, 2).collect()
    assert(out.length == 2)
    val expected = Seq("a b c d", "c d e f").map(s =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(out.map(_.getString(4)).toSeq == expected)
  }

  // -------------------------------------------------------- dupSpanStats

  test("dupSpanStats: cross-doc 5-gram coverage, union of overlaps") {
    val shared = "one two three four five six" // two 5-gram windows
    val docs = Seq(
      (1L, s"$shared alpha beta gamma"),  // 9 toks, grams at 1,2 dup
      (2L, s"intro $shared tail"),        // 8 toks, grams at 2,3 dup
      (3L, "no duplicated content here at all")
    ).toDF("doc_id", "text")
    val out = TextOps.dupSpanStats(docs, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: dup grams start at 1,2 → covered 1..6 = 6 of 9
    assert(out(1L) == ((9L, 6L, 0.6667)))
    // doc 2: dup grams start at 2,3 → covered 2..7 = 6 of 8
    assert(out(2L) == ((8L, 6L, 0.75)))
    // doc 3: nothing shared
    assert(out(3L) == ((6L, 0L, 0.0)))
  }

  test("dupSpanStats: repeats WITHIN one doc do not count as duplicated") {
    val docs = Seq(
      (1L, "x y z w v x y z w v"),     // the 5-gram repeats, same doc only
      (2L, "totally different words here now")
    ).toDF("doc_id", "text")
    val out = TextOps.dupSpanStats(docs, "doc_id", "text", 5)
      .filter(col("doc_id") === 1).head()
    assert(out.getLong(2) == 0L)
  }

  // --------------------------------------------------- randomProjection

  test("randomProjection: deterministic, scaled dot against direct math") {
    val vecs = Seq(
      (1L, Array.tabulate(64)(i => (i % 7 - 3).toFloat / 3f)),
      (2L, Array.tabulate(64)(i => math.sin(i.toDouble).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = SimilarityOps.randomProjection(df, "vec_id", "embedding", 64, 8)
    val rows = out.collect().map(r =>
      r.getLong(0) -> (1 to 8).map(j => r.getDouble(j))).toMap

    // independent reference computation with the same md5 sign rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double =
      if ((md.digest(s"$i:$j".getBytes("UTF-8"))(0) & 0x80) == 0) 1.0 else -1.0
    for ((id, emb) <- vecs; j <- 0 until 8) {
      val exact = (0 until 64).map(i =>
        BigDecimal(emb(i).toDouble * sign(i, j))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
      // mirror the engine: decimal sum → DOUBLE cast → double divide → round
      val expected = BigDecimal(exact.toDouble / math.sqrt(8))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rows(id)(j) - expected) < 1e-9,
        s"vec $id dim $j: ${rows(id)(j)} vs $expected")
    }
    // rerun is bit-identical (the sign matrix is config, not RNG state)
    assert(SimilarityOps.randomProjection(df, "vec_id", "embedding", 64, 8)
      .collect().toSeq == out.collect().toSeq)
  }

  test("randomProjection approximately preserves pairwise distance") {
    val r = new scala.util.Random(7)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)((r.nextGaussian()).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val proj = SimilarityOps.randomProjection(df, "vec_id", "embedding", 64, 8)
      .collect().map(row => row.getLong(0) ->
        (1 to 8).map(j => row.getDouble(j)).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 0 until 30; k <- (i + 1) until 30
    } yield {
      val orig = vecs(i)._2.zip(vecs(k)._2)
        .map { case (x, y) => (x - y).toDouble * (x - y) }.sum
      d2(proj(i.toLong), proj(k.toLong)) / orig
    }
    // JL with 8 dims is coarse — assert the MEDIAN ratio is near 1, the
    // unbiasedness of the sign projection, not per-pair tight bounds.
    val med = ratios.sorted.apply(ratios.size / 2)
    assert(med > 0.6 && med < 1.6, s"median distance ratio $med")
  }

  // -------------------------------------------------------- ksStatistic

  test("ksStatistic: separable classes → 1.0; equal distributions → 0.0") {
    val sep = Seq((1, 1.0), (1, 2.0), (1, 3.0), (0, 4.0), (0, 5.0))
      .toDF("label", "score")
    assert(MetricOps.ksStatistic(sep, "label", "score")
      .head().getDouble(0) == 1.0)
    val same = Seq((1, 1.0), (0, 1.0), (1, 2.0), (0, 2.0))
      .toDF("label", "score")
    assert(MetricOps.ksStatistic(same, "label", "score")
      .head().getDouble(0) == 0.0)
  }

  test("ksStatistic equals the single-window oracle on random data") {
    val r = new scala.util.Random(13)
    val df = (1 to 400).map { i =>
      (if (r.nextDouble() < 0.4) 1 else 0, r.nextInt(30).toDouble / 7.0)
    }.toDF("label", "score").repartition(7)
    val got = MetricOps.ksStatistic(df, "label", "score").head()
    // oracle: cumulative CDF gap over one global window
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = df.groupBy("score")
      .agg(sum("label").cast("long").as("np"),
        (count(lit(1)) - sum("label")).cast("long").as("nn"))
    val tot = df.agg(sum("label").cast("double").as("p"),
      (count(lit(1)) - sum("label")).cast("double").as("n")).head()
    val (p, n) = (tot.getDouble(0), tot.getDouble(1))
    val expected = h
      .withColumn("cp", sum("np").over(w)).withColumn("cn", sum("nn").over(w))
      .select(max(abs(col("cp") / p - col("cn") / n))).head().getDouble(0)
    assert(math.abs(got.getDouble(0) - expected) < 1e-6)
    assert(got.getLong(1) + got.getLong(2) == 400L)
  }

  // --------------------------------------------------------- decileLift

  test("decileLift: buckets tile the population; cumulative capture ends at 1") {
    val r = new scala.util.Random(17)
    // score correlates with label → top deciles must show lift > 1
    val df = (1 to 1000).map { i =>
      val s = r.nextDouble()
      (if (r.nextDouble() < s) 1 else 0, s)
    }.toDF("label", "score").repartition(5)
    val out = MetricOps.decileLift(df, "label", "score")
      .orderBy("decile").collect()
    assert(out.map(_.getInt(0)).toSeq == (0 until 10))
    assert(out.map(_.getLong(1)).sum == 1000L)
    // each bucket holds ~n/k rows (score-atomic: continuous scores ⇒ exact
    // boundaries land between distinct values, so sizes are 100 ± ties)
    assert(out.map(_.getLong(1)).forall(c => c >= 80 && c <= 120))
    val last = out.last
    assert(last.getLong(3) == 1000L)             // cum_n
    assert(last.getDouble(6) == 1.0)             // capture
    assert(math.abs(last.getDouble(5) - 1.0) < 1e-9) // full-pop lift = 1
    // top decile captures high-score rows → lift well above 1
    assert(out.head.getDouble(5) > 1.3)
    // cumulative columns are consistent with per-bucket ones
    assert(out.map(_.getLong(2)).sum == last.getLong(4))
  }

  test("decileLift: ties collapse into the first row's bucket") {
    val df = (1 to 100).map(i => (i % 2, 1.0)).toDF("label", "score")
    val out = MetricOps.decileLift(df, "label", "score").collect()
    assert(out.length == 1 && out.head.getInt(0) == 0)
    assert(out.head.getLong(1) == 100L && out.head.getDouble(5) == 1.0)
  }

  // ------------------------------------------------------------- abTest

  test("abTest: hand-computed two-proportion z; null-guarded degenerates") {
    // control 200 units / 40 conv, treatment 200 / 60:
    // pa=0.2 pb=0.3 pp=0.25, se=sqrt(.25*.75*(1/200+1/200))=0.0433...
    val rows = Seq.fill(40)((0, 1)) ++ Seq.fill(160)((0, 0)) ++
      Seq.fill(60)((1, 1)) ++ Seq.fill(140)((1, 0))
    val out = MetricOps.abTest(rows.toDF("arm", "conv"), "arm", "conv").head()
    assert(out.getLong(0) == 200L && out.getLong(1) == 200L)
    assert(out.getDouble(4) == 0.2 && out.getDouble(5) == 0.3)
    assert(out.getDouble(6) == 0.1)
    // mirror the engine's double ops exactly (0.3−0.2 ≠ the 0.1 literal)
    val se = math.sqrt(0.25 * 0.75 * (1.0 / 200 + 1.0 / 200))
    val z = BigDecimal((60.0 / 200 - 40.0 / 200) / se)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(out.getDouble(7) == z.toDouble)
    assert(out.getInt(8) == 1, "z ≈ 2.31 exceeds 1.96")

    // all-converted pool → pp = 1 → z null, not a divide-by-zero
    val degen = Seq((0, 1), (1, 1)).toDF("arm", "conv")
    val d = MetricOps.abTest(degen, "arm", "conv").head()
    assert(d.isNullAt(7) && d.getInt(8) == 0)
    // one empty arm → z null
    val oneArm = Seq((1, 0), (1, 1)).toDF("arm", "conv")
    assert(MetricOps.abTest(oneArm, "arm", "conv").head().isNullAt(7))
  }

  test("abTest: A/A split keeps z inside the noise band") {
    val r = new scala.util.Random(29)
    val rows = (1 to 2000).map(_ => (r.nextInt(2), if (r.nextDouble() < 0.3) 1 else 0))
    val out = MetricOps.abTest(rows.toDF("arm", "conv"), "arm", "conv").head()
    assert(math.abs(out.getDouble(7)) < 3.0, s"A/A z-score ${out.getDouble(7)}")
  }

  // ------------------------------------------------------ vocabCoverage

  test("vocabCoverage: ranks by frequency, cumulative coverage monotone to ≤1") {
    val docs = Seq(
      (1L, "a a a a b b b c c d"),
      (2L, "a a b c e")
    ).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(docs, "text", 3).orderBy("rnk").collect()
    // counts: a=6 b=4 c=3 d=1 e=1, total 15
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq(("a", 6L, 1L, 6L), ("b", 4L, 2L, 10L), ("c", 3L, 3L, 13L)))
    assert(out.map(_.getDouble(4)).toSeq ==
      Seq(0.4, round6(10.0 / 15), round6(13.0 / 15)))
  }

  test("vocabCoverage: frequency ties break by token (deterministic rank)") {
    val docs = Seq((1L, "z y z y x")).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(docs, "text", 2).orderBy("rnk").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("y", "z"),
      "equal-frequency tokens must rank alphabetically")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // --------------------------------------------------------------- kCore

  test("kCore: clique survives, pendant/chain structure peels") {
    // K4 on 1..4, plus a pendant 5-1 and a chain 5-6-7
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (5, 1), (5, 6), (6, 7)).toDF("src", "dst")
    val core3 = GraphOps.kCore(edges, "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3),
      "3-core is exactly the K4; every survivor keeps degree 3")
    val core2 = GraphOps.kCore(edges, "src", "dst", 2)
      .collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L), "chain+pendant peel out of the 2-core")
  }

  test("kCore: cascade peeling (removing one node drops the next below k)") {
    // path 1-2-3-4-5: 2-core is empty, peeling cascades from both ends
    val path = Seq((1, 2), (2, 3), (3, 4), (4, 5)).toDF("src", "dst")
    assert(GraphOps.kCore(path, "src", "dst", 2).count() == 0L)
    // a cycle is its own 2-core
    val cycle = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 1)).toDF("src", "dst")
    assert(GraphOps.kCore(cycle, "src", "dst", 2).count() == 5L)
  }

  test("kCore equals brute-force peel on random graphs; dirty input normalized") {
    val r = new scala.util.Random(31)
    val edges = (1 to 120).map(_ => (r.nextInt(25).toLong, r.nextInt(25).toLong))
    // brute force on the canonical simple graph
    val simple = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    def peel(k: Int): Set[Long] = {
      var adj = simple
      var nodes = (simple.map(_._1) ++ simple.map(_._2)).toSet
      var changed = true
      while (changed) {
        val deg = nodes.map(n =>
          n -> adj.count(e => e._1 == n || e._2 == n)).toMap
        val keep = nodes.filter(deg(_) >= k)
        changed = keep != nodes
        nodes = keep
        adj = adj.filter(e => nodes(e._1) && nodes(e._2))
      }
      nodes
    }
    // duplicate + self-loop + reversed noise exercises normalization
    val dirty = (edges ++ edges.map(_.swap) ++ Seq((3L, 3L))).toDF("src", "dst")
    for (k <- Seq(2, 3, 4)) {
      val got = GraphOps.kCore(dirty, "src", "dst", k)
        .collect().map(_.getLong(0)).toSet
      assert(got == peel(k), s"k=$k")
    }
  }

  // -------------------------------------------------------- cohensKappa

  test("cohensKappa: perfect agreement → 1; textbook 2×2 table matches") {
    val perfect = (1 to 60).map(i => (i % 3, i % 3)).toDF("r1", "r2")
    assert(MetricOps.cohensKappa(perfect, "r1", "r2")
      .head().getDouble(3) == 1.0)

    // classic example: 50 items, agree on 20 yes + 15 no; r1 says yes 25,
    // r2 says yes 30 → po=0.7, pe=(25·30+25·20)/2500=0.5, κ=0.4
    val rows =
      Seq.fill(20)((1, 1)) ++ Seq.fill(15)((0, 0)) ++
        Seq.fill(5)((1, 0)) ++ Seq.fill(10)((0, 1))
    val out = MetricOps.cohensKappa(rows.toDF("r1", "r2"), "r1", "r2").head()
    assert(out.getLong(0) == 50L)
    assert(out.getDouble(1) == 0.7)
    assert(out.getDouble(2) == 0.5)
    assert(out.getDouble(3) == 0.4)
  }

  test("cohensKappa: independent raters ≈ 0; disjoint categories defined") {
    val r = new scala.util.Random(23)
    val ind = (1 to 4000).map(_ => (r.nextInt(2), r.nextInt(2))).toDF("r1", "r2")
    val k = MetricOps.cohensKappa(ind, "r1", "r2").head().getDouble(3)
    assert(math.abs(k) < 0.08, s"independent raters kappa $k")
    // raters that never overlap in categories: agree=0, pe=0 → κ computed
    val disj = (1 to 40).map(i => (0, 1)).toDF("r1", "r2")
    val out = MetricOps.cohensKappa(disj, "r1", "r2").head()
    assert(out.getDouble(1) == 0.0 && out.getDouble(3) == 0.0)
  }

  // ------------------------------------------------------- hllDistinct

  test("hllDistinct: accuracy band on both estimation paths; partition-invariant") {
    import graft.operators.SketchOps
    // big group → raw-estimate path (n >> 2.5m at p=8 needs n>640);
    // tiny group → linear-counting path
    val rows = (1 to 2000).map(i => ("big", s"v$i")) ++
      (1 to 30).map(i => ("small", s"w$i")) ++
      (1 to 2000).map(i => ("big", s"v$i")) // duplicates must not count
    val df = rows.toDF("g", "v")
    val out = SketchOps.hllDistinct(df, "g", "v", p = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out("big")._1 == 2000 && out("small")._1 == 30)
    // HLL standard error at m=256 is ~6.5%; allow 4 sigma
    assert(math.abs(out("big")._2 - 2000) / 2000.0 < 0.26, out("big"))
    assert(math.abs(out("small")._2 - 30) / 30.0 < 0.26, out("small"))
    // estimate is a pure function of the SET: partitioning must not matter
    val re = SketchOps.hllDistinct(df.repartition(17), "g", "v", p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(re("big") == out("big")._2 && re("small") == out("small")._2)
  }

  test("hllDistinct: register build is union-mergeable (split = whole)") {
    import graft.operators.SketchOps
    // Sketch determinism implies union-mergeability here: estimating the
    // UNION of two halves must equal estimating the whole, because the
    // registers are max-merged inside the same aggregation.
    val half1 = (1 to 500).map(i => ("g", s"x$i"))
    val half2 = (300 to 800).map(i => ("g", s"x$i")) // overlap 300..500
    val whole = (1 to 800).map(i => ("g", s"x$i"))
    val a = SketchOps.hllDistinct(
      (half1 ++ half2).toDF("g", "v"), "g", "v").head()
    val b = SketchOps.hllDistinct(whole.toDF("g", "v"), "g", "v").head()
    assert(a.getDouble(2) == b.getDouble(2) && a.getLong(1) == 800)
  }

  // -------------------------------------------------------------- scd2

  test("scd2: collapses consecutive duplicates, chains valid_to, flags current") {
    import graft.operators.RelationalOps
    val log = Seq(
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"), // dup collapses
      (1L, 30L, 102L, "B"), (1L, 40L, 103L, "A"), // A again = NEW version
      (2L, 10L, 200L, "X")
    ).toDF("k", "ts", "id", "v")
    val out = RelationalOps.scd2(log, "k", "v", "ts", "id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4))).toSet
    assert(out == Set(
      (1L, "A", 10L, 30L, 0), (1L, "B", 30L, 40L, 0),
      (1L, "A", 40L, -1L, 1), (2L, "X", 10L, -1L, 1)))
  }

  test("scd2: transitions INTO null are versions, not silently dropped") {
    import graft.operators.RelationalOps
    val log = Seq(
      (1L, 10L, 1L, Some("A")), (1L, 20L, 2L, None), // field cleared
      (1L, 30L, 3L, None),                           // still null: collapse
      (1L, 40L, 4L, Some("B"))
    ).toDF("k", "ts", "id", "v")
    val out = RelationalOps.scd2(log, "k", "v", "ts", "id")
      .orderBy("valid_from").collect()
      .map(r => (Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getInt(4))).toSeq
    assert(out == Seq(
      (Some("A"), 10L, 20L, 0), (None, 20L, 40L, 0),
      (Some("B"), 40L, -1L, 1)), out)
  }

  test("scd2: same-ts rows order by the tie column") {
    import graft.operators.RelationalOps
    val log = Seq((1L, 10L, 2L, "B"), (1L, 10L, 1L, "A"))
      .toDF("k", "ts", "id", "v")
    val out = RelationalOps.scd2(log, "k", "v", "ts", "id")
      .orderBy("valid_from", "v").collect()
    // id=1 (A) precedes id=2 (B): A's valid_to = B's valid_from = 10
    assert(out.map(r => (r.getString(1), r.getInt(4))).toSeq ==
      Seq(("A", 0), ("B", 1)))
  }

  // ------------------------------------------------------- attribution

  test("attribution: first/last credit before the FIRST conversion only") {
    import graft.operators.MetricOps
    val log = Seq(
      // u1: ad → email → buy → ad → buy : credits ad(first) email(last)
      (1L, 10L, 1L, "ad"), (1L, 20L, 2L, "email"), (1L, 30L, 3L, "buy"),
      (1L, 40L, 4L, "ad"), (1L, 50L, 5L, "buy"),
      // u2: single touch then buy: ad gets both credits
      (2L, 10L, 6L, "ad"), (2L, 20L, 7L, "buy"),
      // u3: buy is the first event → no touches, no credit
      (3L, 10L, 8L, "buy"), (3L, 20L, 9L, "ad"),
      // u4: never converts → no credit
      (4L, 10L, 10L, "email")
    ).toDF("u", "ts", "id", "ch")
    val out = MetricOps.attribution(log, "u", "ts", "id", "ch", "buy")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map("ad" -> ((2L, 1L)), "email" -> ((0L, 1L))))
  }

  test("attribution: a null (untagged) channel merges into one row") {
    import graft.operators.MetricOps
    val log = Seq(
      // u1: first touch untagged, last touch email → null gets first
      (1L, 10L, 1L, null.asInstanceOf[String]), (1L, 20L, 2L, "email"),
      (1L, 30L, 3L, "buy"),
      // u2: only touch untagged → null gets first AND last
      (2L, 10L, 4L, null.asInstanceOf[String]), (2L, 20L, 5L, "buy")
    ).toDF("u", "ts", "id", "ch")
    val rows = MetricOps.attribution(log, "u", "ts", "id", "ch", "buy")
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(rows == Map(
      Option.empty[String] -> ((2L, 1L)),
      Some("email") -> ((0L, 1L))), rows)
    assert(rows.size == 2, "null channel must not split into two rows")
  }

  // ------------------------------------------- giniConcentration

  test("giniConcentration: uniform → 0; hand case; ties in the histogram") {
    import graft.operators.MetricOps
    val uniform = (1 to 6).flatMap(k => (1 to 4).map(_ => ("g", s"k$k")))
      .toDF("g", "k")
    val u = MetricOps.giniConcentration(uniform, "g", "k").head()
    assert(u.getLong(1) == 6 && u.getLong(2) == 24 && u.getDouble(3) == 0.0)

    // counts [1, 9]: S = 1·1 + 2·9 = 19, G = 2·19/(2·10) − 3/2 = 0.4
    val skewed = ((1 to 1).map(_ => ("g", "a")) ++ (1 to 9).map(_ => ("g", "b")))
      .toDF("g", "k")
    assert(MetricOps.giniConcentration(skewed, "g", "k")
      .head().getDouble(3) == 0.4)

    // tied counts [2,2,4]: ranks of the ties are interchangeable —
    // S = (1+2)·2 + 3·4 = 18, G = 2·18/(3·8) − 4/3 = 1.5 − 4/3 = 1/6
    val tied = (Seq("a", "a", "b", "b") ++ Seq.fill(4)("c"))
      .map(("g", _)).toDF("g", "k")
    assert(math.abs(MetricOps.giniConcentration(tied, "g", "k")
      .head().getDouble(3) - 1.0 / 6) < 1e-6)
  }

  // --------------------------------------------------------- ecdfTable

  test("ecdfTable: inclusive counts, monotone to 1.0, partition-invariant") {
    import graft.operators.EncodeOps
    val vals = Seq(1.0, 1.0, 2.0, 3.0, 3.0, 3.0, 7.0)
    val df = vals.toDF("x").repartition(5)
    val out = EncodeOps.ecdfTable(df, "x").orderBy("v")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1.0, 2L, 2L), (2.0, 1L, 3L), (3.0, 3L, 6L), (7.0, 1L, 7L)))
    assert(out.last._4 == 1.0)
    assert(out.map(_._4).toSeq == out.map(_._4).sorted.toSeq)
    val re = EncodeOps.ecdfTable(df.repartition(2), "x").orderBy("v")
      .collect().map(_.getDouble(3)).toSeq
    assert(re == out.map(_._4).toSeq)
  }

  // ----------------------------------------------------- kFoldBalance

  test("kFoldBalance: folds partition keys; all rows of a key share a fold") {
    import graft.operators.SamplingOps
    val rows = (1 to 200).flatMap(u =>
      (1 to (u % 4) + 1).map(i => (u.toLong, if (i % 2 == 0) 1 else 0)))
    val df = rows.toDF("k", "y")
    val out = SamplingOps.kFoldBalance(df, "k", "y", 5).collect()
    assert(out.map(_.getLong(1)).sum == rows.size)
    assert(out.map(_.getLong(2)).sum == 200) // distinct keys partition
    assert(out.map(_.getLong(3)).sum == rows.count(_._2 == 1))
    // leakage-safety: a key's rows land in exactly one fold
    val foldOf = df.withColumn("f",
        SamplingOps.featureHash(col("k"), 5))
      .groupBy("k").agg(countDistinct("f").as("nf"))
      .agg(max("nf")).head().getLong(0)
    assert(foldOf == 1L)
  }

  // -------------------------------------------------- productQuantize

  test("productQuantize: codebook members reconstruct exactly; argmin is true min") {
    import graft.operators.SimilarityOps
    val r = new scala.util.Random(7)
    val vecs: IndexedSeq[(Long, Array[Float])] = (0L until 40L).map(i =>
      (i, Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("id", "emb")
    val cents = df.filter(col("id") < 4)
    val out = SimilarityOps.productQuantize(df, cents, "id", "emb",
        m = 4, subDim = 4)
      .collect().map(r => r.getLong(0) ->
        ((0 until 4).map(j => r.getLong(1 + j)), r.getDouble(5))).toMap
    // codebook members are their own nearest codeword at distance 0
    for (i <- 0L until 4L)
      assert(out(i)._1 == Seq(i, i, i, i) && out(i)._2 == 0.0, s"vec $i")
    // spot-check the argmin against direct math for one vector/subspace
    val emb = vecs.find(_._1 == 17L).get._2.map(_.toDouble)
    val sub = emb.slice(4, 8)
    val dists = (0 until 4).map { c =>
      val cv = vecs(c)._2.map(_.toDouble).slice(4, 8)
      c.toLong -> sub.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
    }
    assert(out(17L)._1(1) == dists.minBy(d => (d._2, d._1))._1)
  }

  // ------------------------------------------------------ bipartiteWalk

  test("bipartiteWalk: every step follows an edge; deterministic; complete") {
    import graft.operators.GraphOps
    val r = new scala.util.Random(11)
    val edges = (1 to 120).map(_ => (r.nextInt(10).toLong, (100 + r.nextInt(12)).toLong))
      .distinct.toDF("l", "rr")
    val edgeSet = edges.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val out = GraphOps.bipartiteWalk(edges, "l", "rr", edges, 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val nStarts = edgeSet.map(_._1).size
    assert(out.length == nStarts * 3, "every start emits walksPerStart walks")
    for ((s, _, via, e) <- out) {
      assert(edgeSet.contains((s, via)), s"step1 $s->$via is an edge")
      assert(edgeSet.contains((e, via)), s"step2 $via->$e follows an edge")
    }
    val re = GraphOps.bipartiteWalk(edges.repartition(7), "l", "rr",
        edges.repartition(3), 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(re.sorted.toSeq == out.sorted.toSeq, "partition-invariant")
  }

  // --------------------------------------------------- joinSizeEstimate

  test("joinSizeEstimate: exact from count tables; CMS min only over-counts") {
    import graft.operators.SketchOps
    val a = Seq("k1", "k1", "k2", "k4").toDF("ka")
    val b = Seq("k1", "k3", "k2", "k2").toDF("kb")
    // exact = 2·1 (k1) + 1·2 (k2) = 4
    val row = SketchOps.joinSizeEstimate(a, "ka", b, "kb").head()
    assert(row.getLong(0) == 4L, "exact_size")
    assert(row.getLong(1) >= 4L, "CMS estimate can only over-count")
    assert(row.getLong(2) == row.getLong(1) - 4L)
    // disjoint keys: exact 0, estimate still >= 0
    val dj = SketchOps.joinSizeEstimate(
      Seq("x").toDF("ka"), "ka", Seq("y").toDF("kb"), "kb").head()
    assert(dj.getLong(0) == 0L && dj.getLong(1) >= 0L)
  }

  // --------------------------------------------------------------- hits

  test("hits: hand-computed 2-iteration authorities on a 3-edge graph") {
    import graft.operators.GraphOps
    // s1→{p1,p2}, s2→{p2}: a1 = (0.5, 1); h = (1, 2/3); a2 = (0.6, 1)
    val e = Seq((1L, 10L), (1L, 20L), (2L, 20L)).toDF("s", "p")
    val out = GraphOps.hits(e, "s", "p", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(20L) == 1.0)
    assert(math.abs(out(10L) - 0.6) < 1e-9, out(10L))
  }

  test("hits: partition-invariant and bounded by 1 on a random graph") {
    import graft.operators.GraphOps
    val r = new scala.util.Random(5)
    val e = (1 to 200).map(_ => (r.nextInt(15).toLong, r.nextInt(25).toLong))
      .toDF("s", "p")
    val a = GraphOps.hits(e, "s", "p").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toSeq
    val b = GraphOps.hits(e.repartition(9), "s", "p").collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toSeq
    assert(a == b)
    assert(a.forall(x => x._2 > 0.0 && x._2 <= 1.0))
    assert(a.map(_._2).max == 1.0, "max-normalized")
  }

  // -------------------------------------------------- isotonicCalibrate

  test("isotonicCalibrate: PAV pooling matches the hand-computed blocks") {
    import graft.ml.RecsysModels
    // y = 1,0,1,1,0,1 over increasing scores pools to
    // [.5, .5, 2/3, 2/3, 2/3, 1]
    val train = Seq((1.0, 1), (2.0, 0), (3.0, 1), (4.0, 1), (5.0, 0),
      (6.0, 1)).toDF("score", "label")
    val out = RecsysModels.isotonicCalibrate(train, "score", "label", train)
      .orderBy("score").collect().map(_.getAs[Double]("calibrated"))
    val exp = Seq(0.5, 0.5, 2.0 / 3, 2.0 / 3, 2.0 / 3, 1.0)
    assert(out.zip(exp).forall { case (x, y) => math.abs(x - y) < 1e-9 },
      out.toSeq)
    // calibrated scores are monotone in the raw score
    assert(out.toSeq == out.sorted.toSeq)
  }

  // ------------------------------------------------- boilerplateGrams

  test("boilerplateGrams: source-scoped flagging; cross-source grams don't count") {
    import graft.operators.TextOps
    val docs = Seq(
      // srcA: "terms of service" in 2 of 3 docs → boilerplate there
      (1L, "terms of service alpha beta gamma", "A"),
      (2L, "terms of service delta epsilon", "A"),
      (3L, "zeta eta theta iota", "A"),
      // srcB has the same gram ONCE → not boilerplate in B
      (4L, "terms of service kappa lambda", "B"),
      (5L, "mu nu", "B") // < 3 tokens → no grams, absent from output
    ).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateGrams(docs, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // doc1: grams = 4 ("terms of service" + 3 tail grams), boiler = 1
    assert(out(1L) == ((4L, 1L)))
    assert(out(2L) == ((3L, 1L)))
    assert(out(3L) == ((2L, 0L)))
    assert(out(4L) == ((3L, 0L)), "same gram in B only once: not boiler")
  }

  // ------------------------------------------------------------ zipfFit

  test("zipfFit: exact power law recovers slope -1 and intercept ln(C)") {
    import graft.operators.TextOps
    // freq = 12/r for ranks 1..4: ln f = ln 12 - 1·ln r
    val words = Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")
    val df = Seq(words.mkString(" ")).toDF("text")
    val row = TextOps.zipfFit(df, "text").head()
    assert(row.getLong(0) == 4)
    assert(math.abs(row.getDouble(1) - (-1.0)) < 1e-6, row.getDouble(1))
    assert(math.abs(row.getDouble(2) - math.log(12.0)) < 1e-6)
  }

  // ------------------------------------- partitionChecksumDiff

  test("partitionChecksumDiff: order-independent checksums; only drift emits") {
    import graft.operators.RelationalOps
    val old = Seq(
      ("p1", 1L, "a"), ("p1", 2L, "b"),
      ("p2", 3L, "c"), ("p3", 4L, "d")
    ).toDF("part", "id", "v")
    // p1 identical but ROW ORDER flipped; p2 value changed; p3 removed;
    // p4 added
    val neu = Seq(
      ("p1", 2L, "b"), ("p1", 1L, "a"),
      ("p2", 3L, "X"), ("p4", 5L, "e")
    ).toDF("part", "id", "v").repartition(3)
    val out = RelationalOps.partitionChecksumDiff(old, neu, "part",
        Seq("id", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      "p2" -> (("changed", 1L, 1L)),
      "p3" -> (("removed", 1L, 0L)),
      "p4" -> (("added", 0L, 1L))), out)
    // same count but different content still flags (checksum, not count)
    assert(out("p2")._1 == "changed")
  }

  // ------------------------------------------------------- benfordAudit

  test("benfordAudit: digit extraction and expected counts; non-positive dropped") {
    import graft.operators.QualityChecks
    val vals = Seq(123.45, 1.02, 19.99, 234.50, 2.00, 0.37, -5.0, 0.0, 91.0)
    val out = QualityChecks.benfordAudit(vals.toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // digits: 1 (123.45), 1 (1.02), 1 (19.99), 2 (234.50), 2 (2.00),
    // 3 (0.37 → 37), 9 (91.0); -5 and 0 filtered
    assert(out.view.mapValues(_._1).toMap ==
      Map(1 -> 3L, 2 -> 2L, 3 -> 1L, 9 -> 1L))
    val n = 7.0
    assert(math.abs(out(1)._2 - n * math.log10(2.0)) < 1e-3)
  }

  // ---------------------------------------------------------- typoPairs

  test("typoPairs: insert/delete/substitute neighbors found, ed-2 collisions pruned") {
    import graft.operators.TextOps
    val words = Seq("cat", "cut", "cats", "ct", "dog", "ab", "ba")
      .toDF("w")
    val out = TextOps.typoPairs(words, "w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("cat", "cats"), ("cat", "ct"), ("cat", "cut"), ("ct", "cut")),
      out)
    // "ab"/"ba" share deletion variant "a"/"b" but are ed 2 → pruned
    assert(!out.contains(("ab", "ba")))
  }

  // ------------------------------------------------------------ riAudit

  test("riAudit: orphans counted per relationship; null FK is an orphan") {
    import graft.operators.QualityChecks
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(4L), None)
      .toDF("fk")
    val out = QualityChecks.riAudit(Seq(
        ("child->parent", child, "fk", parent, "pk")))
      .head()
    assert(out.getString(0) == "child->parent")
    assert(out.getLong(1) == 4L && out.getLong(2) == 2L)
  }

  // ----------------------------------------------------------- theilSen

  test("theilSen: median pairwise slope; robust to one wild outlier") {
    // y = 2x exactly except one corrupted point — OLS would tilt, the
    // pairwise-slope median must stay 2.
    val series = ((0 to 8).map(x => ("g", x, 2.0 * x)) :+ ("g", 9, 500.0))
      .toDF("grp", "x", "y")
    val out = MetricOps.theilSen(series, "grp", "x", "y")
      .as[(String, Double, Long)].head()
    assert(out._2 == 2.0, s"not robust: ${out._2}")
    assert(out._3 == 45L) // 10·9/2 ordered pairs
  }

  test("theilSen: exact line recovers the slope regardless of partitioning") {
    val series = (0 to 20).map(x => ("a", x, 7.0 - 3.0 * x))
      .toDF("grp", "x", "y").repartition(7)
    val out = MetricOps.theilSen(series, "grp", "x", "y")
      .as[(String, Double, Long)].head()
    assert(out._2 == -3.0 && out._3 == 210L)
  }

  // ----------------------------------------------------------- olsTrend

  test("olsTrend: exact line gives slope/intercept/r2=1; flat line r2 guard") {
    val df = (1 to 50).map(x => ("a", x.toDouble, 3.0 + 0.5 * x))
      .toDF("grp", "x", "y")
    val out = MetricOps.olsTrend(df, "grp", "x", "y")
      .as[(String, Double, Double, Double, Long)].head()
    assert(out._2 == 0.5 && out._3 == 3.0 && out._4 == 1.0 && out._5 == 50L)
  }

  // -------------------------------------------------- markovTransitions

  test("markovTransitions: hand-built chain; rows normalize to 1") {
    // user 1: a b a b a   user 2: a a b
    val ev = Seq(
      (1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"), (1L, 4L, "b"),
      (1L, 5L, "a"), (2L, 1L, "a"), (2L, 2L, "a"), (2L, 3L, "b"))
      .toDF("u", "ts", "st")
    val out = GraphOps.markovTransitions(ev, "u", "ts", "ts", "st")
      .as[(String, String, Long, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    // from a: a→b 3 (u1 twice, u2 once), a→a 1  → p = .75/.25
    assert(out(("a", "b")) == ((3L, 0.75)) && out(("a", "a")) == ((1L, 0.25)))
    // from b: b→a 2, and the final b of u2 has no successor
    assert(out(("b", "a")) == ((2L, 1.0)))
    assert(out.keys.map(_._1).toSet.forall(s =>
      math.abs(out.filter(_._1._1 == s).values.map(_._2).sum - 1.0) < 1e-9))
  }

  test("markovTransitions: timestamp ties broken by tie column") {
    val ev = Seq((1L, 1L, 10L, "x"), (1L, 1L, 11L, "y"), (1L, 2L, 12L, "z"))
      .toDF("u", "ts", "id", "st")
    val out = GraphOps.markovTransitions(ev, "u", "ts", "id", "st")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(out == Set(("x", "y"), ("y", "z"))) // never x→z
  }

  // ------------------------------------------------------ tukeyOutliers

  test("tukeyOutliers: known quartiles flag exactly the planted outliers") {
    // 13 sorted points → q1 = index 3 = 3.0, q3 = index 9 = 9.0,
    // iqr = 6 → fences [−6, 18]; the planted ±100 sit outside
    val vals = (1 to 11).map(_.toDouble) ++ Seq(100.0, -100.0)
    val out = MetricOps.tukeyOutliers(
        vals.map(("g", _)).toDF("grp", "v"), "grp", "v")
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(out._2 == 13L && out._3 == 2L)
    assert(out._5 == -6.0 && out._6 == 18.0)
    assert(math.abs(out._4 - 2.0 / 13.0) < 1e-6)
  }

  test("tukeyOutliers: constant column yields zero outliers, zero-width fence") {
    val out = MetricOps.tukeyOutliers(
        Seq.fill(20)(("g", 5.0)).toDF("grp", "v"), "grp", "v")
      .as[(String, Long, Long, Double, Double, Double)].head()
    assert(out._3 == 0L && out._5 == 5.0 && out._6 == 5.0)
  }

  // ----------------------------------------------------- changePointCusum

  test("changePointCusum: closed form equals the reset-at-zero recursion") {
    val r = new scala.util.Random(11)
    val ys = (0 until 60).map(i =>
      if (i < 40) r.nextGaussian() else 3.0 + r.nextGaussian())
    val df = ys.zipWithIndex.map { case (y, i) => ("g", i.toLong, y) }
      .toDF("grp", "x", "y")
    val out = MetricOps.changePointCusum(df, "grp", "x", "y")
      .as[(String, Long, Double, Double, Long, Option[Long])].head()
    // direct recursion with the same 6-dp-snapped baseline
    val mu = BigDecimal(ys.sum / ys.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sd0 = math.sqrt(ys.map(y => (y - ys.sum / ys.size) *
      (y - ys.sum / ys.size)).sum / (ys.size - 1))
    val sd = BigDecimal(sd0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    var shi = 0.0; var slo = 0.0; var maxHi = 0.0; var maxLo = 0.0
    var firstAlarm = Option.empty[Long]; var nAlarm = 0L
    ys.zipWithIndex.foreach { case (y, i) =>
      val z = (y - mu) / sd
      shi = math.max(0.0, shi + z - 0.5)
      slo = math.max(0.0, slo - z - 0.5)
      maxHi = math.max(maxHi, shi); maxLo = math.max(maxLo, slo)
      if (shi > 4.0 || slo > 4.0) {
        nAlarm += 1; if (firstAlarm.isEmpty) firstAlarm = Some(i.toLong)
      }
    }
    assert(math.abs(out._3 - BigDecimal(maxHi).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"$out vs $maxHi")
    assert(math.abs(out._4 - BigDecimal(maxLo).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out._5 == nAlarm && out._6 == firstAlarm)
    assert(nAlarm > 0, "the planted level shift must alarm")
  }

  test("changePointCusum: stationary series stays quiet") {
    val ys = (0 until 50).map(i => math.sin(i * 0.7)) // bounded, no drift
    val df = ys.zipWithIndex.map { case (y, i) => ("g", i.toLong, y) }
      .toDF("grp", "x", "y")
    val out = MetricOps.changePointCusum(df, "grp", "x", "y")
      .as[(String, Long, Double, Double, Long, Option[Long])].head()
    assert(out._5 == 0L && out._6.isEmpty)
  }

  // ------------------------------------------------------------ skyline2D

  test("skyline2D: hand case — dominated and tied points drop") {
    import graft.operators.RelationalOps
    val pts = Seq((5, 1), (4, 4), (4, 2), (2, 4), (1, 6), (3, 3), (5, 1))
      .toDF("x", "y")
    val out = RelationalOps.skyline2D(pts, "x", "y")
      .as[(Int, Int)].collect().toSet
    // (4,2) dominated by (4,4); (2,4) by (4,4); (3,3) by (4,4)
    assert(out == Set((5, 1), (4, 4), (1, 6)))
  }

  test("skyline2D: equals brute force on random points; partition-invariant") {
    val r = new scala.util.Random(7)
    val pts = (0 until 400).map(_ => (r.nextInt(50), r.nextInt(50)))
    def dominated(p: (Int, Int)) = pts.exists(q =>
      q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2))
    val expect = pts.distinct.filterNot(dominated).toSet
    import graft.operators.RelationalOps
    for (parts <- Seq(1, 3, 32)) {
      val out = RelationalOps.skyline2D(
          pts.toDF("x", "y").repartition(parts), "x", "y")
        .as[(Int, Int)].collect().toSet
      assert(out == expect, s"parts=$parts")
    }
  }

  // ---------------------------------------------------------- JaroWinkler

  test("JaroWinkler: canonical Winkler-paper and edge values") {
    import graft.functions.JaroWinkler
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String) =
      JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    // odd mismatch count → INTEGER half-transpositions (DuckDB parity)
    assert(math.abs(jw("abcdef", "bcadef") - 0.9444444444444445) < 1e-15)
    // DuckDB empty-side convention: 0.0, even for two empties
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0 && jw("", "a") == 0.0)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("a", "b") == 0.0) // window 0, no matches
  }

  test("JaroWinkler: codegen path (expr) agrees with static compute") {
    val pairs = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"),
      ("small ring", "small bolt"), ("", "x"), ("same", "same"))
    val out = pairs.toDF("a", "b")
      .withColumn("jw", graft.functions.JaroWinkler(col("a"), col("b")))
      .as[(String, String, Double)].collect()
    import org.apache.spark.unsafe.types.UTF8String
    out.foreach { case (a, b, v) =>
      val e = graft.functions.JaroWinkler.compute(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(v == e, s"($a,$b): $v vs $e")
    }
  }

  test("fuzzyBlockJoin: pairs stay inside blocks, threshold applies") {
    val df = Seq(
      ("B1", "small ring"), ("B1", "small bolt"), ("B1", "zzz"),
      ("B2", "small ring") // same name, other block — must not pair
    ).toDF("blk", "name")
    val out = TextOps.fuzzyBlockJoin(df, Seq("blk"), "name", 0.8)
      .select("blk", "name_a", "name_b")
      .as[(String, String, String)].collect().toSet
    assert(out == Set(("B1", "small bolt", "small ring")))
  }

  // ---------------------------------------------------------- interArrival

  test("interArrival: hand gaps; min-events filter; rounded-snap ratios") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: events at 0,10,30,60,100 → gaps 10,20,30,40
    val rows = Seq(0L, 10L, 30L, 60L, 100L).map(s => (1L, ts(s))) ++
      Seq((2L, ts(0L)), (2L, ts(5L))) // 2 events → filtered (min 5)
    val out = MetricOps.interArrival(rows.toDF("user_id", "ts"),
        "user_id", "ts", minEvents = 5)
      .as[(Long, Long, Double, Double, Option[Double], Option[Double])]
      .collect()
    assert(out.length == 1 && out.head._1 == 1L)
    val (_, n, mean, sd, cv, b) = out.head
    assert(n == 4 && mean == 25.0)
    // sd_samp of 10,20,30,40 s (in µs → s) = 12.9099 (4 dp)
    assert(sd == 12.9099)
    assert(cv.contains(BigDecimal(12.9099 / 25.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(b.contains(BigDecimal((12.9099 - 25.0) / (12.9099 + 25.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  // -------------------------------------------------------- rollingAnomaly

  test("rollingAnomaly: planted spike flags, cold-start and flat guards") {
    val series = (0L until 20L).map(d =>
      ("g", d, if (d == 15L) 100.0 else 10.0 + (d % 3))) // spike at d=15
    val out = MetricOps.rollingAnomaly(series.toDF("grp", "x", "y"),
        "grp", "x", "y", win = 7, minBase = 4, zThresh = 2.0)
      .select("x").as[Long].collect().toSet
    assert(out == Set(15L), s"flags: $out")
    // constant series: σ=0 everywhere → no flags, no div-by-zero
    val flat = (0L until 20L).map(d => ("g", d, 5.0))
    assert(MetricOps.rollingAnomaly(flat.toDF("grp", "x", "y"),
      "grp", "x", "y").count() == 0L)
  }

  // -------------------------------------------------------------- autocorr

  test("autocorr: alternating series → −1; calendar join skips gaps") {
    val alt = (0L until 20L).map(d => ("g", d, if (d % 2 == 0) 1.0 else 0.0))
    val out = MetricOps.autocorr(alt.toDF("grp", "x", "y"),
        "grp", "x", "y", lagK = 1)
      .as[(String, Long, Double)].head()
    assert(out._2 == 19 && out._3 == -1.0)
    // drop bucket 10: pairs (10,9) and (11,10) must disappear
    val gappy = alt.filterNot(_._2 == 10L)
    val out2 = MetricOps.autocorr(gappy.toDF("grp", "x", "y"),
      "grp", "x", "y", lagK = 1).as[(String, Long, Double)].head()
    assert(out2._2 == 17)
  }

  // ------------------------------------------------------------------ rbo

  test("rbo: identical lists → 1−p^k; shifted overlap matches closed form") {
    val a = (1 to 10).map(r => ("g", s"i$r", r.toLong)).toDF("g", "i", "r")
    val out = MetricOps.rbo(a, a, "g", "i", "r", k = 10, p = 0.9)
      .as[(String, Double)].head()
    val expect = BigDecimal(1.0 - math.pow(0.9, 10))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out._2 == expect, s"${out._2} vs $expect")
    // disjoint lists: no overlap row at all (inner-join contract)
    val b = (1 to 10).map(r => ("g", s"j$r", r.toLong)).toDF("g", "i", "r")
    assert(MetricOps.rbo(a, b, "g", "i", "r", 10).count() == 0L)
    // same set, reversed order: overlap at depth d is max(d, k−d)… spot-
    // check against a direct computation of the truncated formula
    val rev = (1 to 10).map(r => ("g", s"i${11 - r}", r.toLong))
      .toDF("g", "i", "r")
    val got = MetricOps.rbo(a, rev, "g", "i", "r", 10).as[(String, Double)]
      .head()._2
    val direct = (1 to 10).map { d =>
      val ov = (1 to 10).count(r => r <= d && (11 - r) <= d)
      ov.toDouble / d * math.pow(0.9, d - 1)
    }.sum * (1 - 0.9)
    assert(got == BigDecimal(direct)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // ----------------------------------------------------------- kaplanMeier

  test("kaplanMeier: textbook product-limit curve with censoring") {
    val subj = Seq((1L, 1), (2L, 1), (3L, 0), (4L, 1), (5L, 0))
      .toDF("dur", "ev")
    val out = MetricOps.kaplanMeier(subj, "dur", "ev")
      .orderBy("t").as[(Long, Long, Long, Long, Double)].collect()
    // (t, n_risk, d, c, S): S steps only at event times
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
      Seq((1L, 5L, 1L, 0L), (2L, 4L, 1L, 0L), (3L, 3L, 0L, 1L),
        (4L, 2L, 1L, 0L), (5L, 1L, 0L, 1L)))
    val s = out.map(_._5)
    assert(s(0) == 0.8 && s(1) == 0.6 && s(2) == 0.6)
    assert(s(3) == 0.3 && s(4) == 0.3)
  }

  test("kaplanMeier: saturated step pins survival to exact 0 afterward") {
    val subj = Seq((1L, 1), (2L, 1), (2L, 1)).toDF("dur", "ev")
    val out = MetricOps.kaplanMeier(subj, "dur", "ev")
      .orderBy("t").as[(Long, Long, Long, Long, Double)].collect()
    assert(out(0)._5 == BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1)._5 == 0.0) // d = n_risk → ln(0) path never taken
  }

  // --------------------------------------------------------- wasserstein1D

  test("wasserstein1D: unit shift of a two-point distribution → W₁ = 1") {
    val df = (Seq(0.0, 1.0).map(("a", _)) ++ Seq(1.0, 2.0).map(("b", _)))
      .toDF("side", "v")
    val out = MetricOps.wasserstein1D(df, "v", "side", "a", "b")
      .as[(Double, Long, Long)].head()
    assert(out == ((1.0, 2L, 2L)))
    // symmetry
    val rev = MetricOps.wasserstein1D(df, "v", "side", "b", "a")
      .as[(Double, Long, Long)].head()
    assert(rev._1 == 1.0)
    // identical distributions → 0
    val same = (Seq(1.0, 5.0, 9.0).map(("a", _)) ++
      Seq(1.0, 5.0, 9.0).map(("b", _))).toDF("side", "v")
    assert(MetricOps.wasserstein1D(same, "v", "side", "a", "b")
      .as[(Double, Long, Long)].head()._1 == 0.0)
  }

  // ------------------------------------------------------------- chiSquare

  test("chiSquare: independence → 0; perfect association → V = 1") {
    val indep = Seq.fill(5)(("a", "c")) ++ Seq.fill(5)(("a", "d")) ++
      Seq.fill(5)(("b", "c")) ++ Seq.fill(5)(("b", "d"))
    val o1 = MetricOps.chiSquare(indep.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Double, Double)].head()
    assert(o1 == ((20L, 1L, 0.0, 0.0)))
    val assoc = Seq.fill(10)(("a", "c")) ++ Seq.fill(10)(("b", "d"))
    val o2 = MetricOps.chiSquare(assoc.toDF("x", "y"), "x", "y")
      .as[(Long, Long, Double, Double)].head()
    assert(o2._1 == 20L && o2._3 == 20.0 && o2._4 == 1.0)
  }

  // -------------------------------------------------- degreeAssortativity

  test("degreeAssortativity: hand case −0.5; duplicate edges collapse") {
    import graft.operators.GraphOps
    val edges = Seq(("A", "X"), ("A", "Y"), ("B", "X"), ("B", "X"))
      .toDF("l", "r") // dup (B,X) must not change degrees
    val out = GraphOps.degreeAssortativity(edges, "l", "r")
      .as[(Long, Option[Double])].head()
    assert(out._1 == 3L && out._2.contains(-0.5))
  }

  // ------------------------------------------------- bloom hash families

  test("bloomPrefilterJoin: xx and md5 hash families join identically") {
    import graft.operators.JoinOps
    val probe = (1L to 500L).map(k => (k, s"p$k")).toDF("k", "pv")
    val build = (1L to 500L by 7).map(k => (k, s"b$k")).toDF("k", "bv")
    val md5Out = JoinOps.bloomPrefilterJoin(probe, build, "k", 64, "md5")
      .select("k").as[Long].collect().sorted.toSeq
    val xxOut = JoinOps.bloomPrefilterJoin(probe, build, "k", 64, "xx")
      .select("k").as[Long].collect().sorted.toSeq
    val expect = (1L to 500L by 7).toSeq
    // both families must be supersets-free: the final equi-join removes
    // false positives, so the OUTPUT is exact either way
    assert(md5Out == expect && xxOut == expect)
  }

  // ------------------------------------------------------- mannWhitney

  test("mannWhitney: hand sample — tie-averaged ranks, tie-corrected z") {
    // A={1,2,3}, B={2,4,5,6}: ranks 1, {2.5,2.5}, 4, 5, 6, 7
    // R_A = 1+2.5+4 = 7.5, U_A = 7.5 − 6 = 1.5; one tie block t=2
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 2.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("side", "v")
    val r = MetricOps.mannWhitney(df, "v", "side", "a", "b").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 1.5)
    val varU = 3.0 * 4 / 12.0 * ((7 + 1) - 6.0 / (7 * 6))
    val expZ = math.rint((1.5 - 6.0) / math.sqrt(varU) * 1e6) / 1e6
    assert(math.abs(r.getDouble(3) - expZ) < 1e-9, s"z=${r.getDouble(3)}")
  }

  test("mannWhitney: all values tied → null z, exact U") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("b", 5.0)).toDF("side", "v")
    val r = MetricOps.mannWhitney(df, "v", "side", "a", "b").collect().head
    // both A rows take the average rank 2 → R_A = 4, U = 4 − 3 = 1
    assert(r.getDouble(2) == 1.0 && r.isNullAt(3))
  }

  // --------------------------------------------------- winsorizedStats

  test("winsorizedStats: fences, clip counts, clipped moments") {
    // 1..10 plus outlier 100: p05 = 1.5, p95 = 55 (interpolated)
    val df = ((1 to 10).map(_.toDouble) :+ 100.0).map(("g", _))
      .toDF("g", "v")
    val r = EncodeOps.winsorizedStats(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 11L)
    assert(r.getAs[Long]("n_clip_lo") == 1L &&
      r.getAs[Long]("n_clip_hi") == 1L)
    assert(r.getAs[Double]("lo_fence") == 1.5 &&
      r.getAs[Double]("hi_fence") == 55.0)
    val w = Seq(1.5) ++ (2 to 10).map(_.toDouble) ++ Seq(55.0)
    val expMean = math.rint(w.sum / 11 * 1e6) / 1e6
    assert(r.getAs[Double]("win_mean") == expMean)
    assert(r.getAs[Double]("raw_mean") ==
      math.rint((55.0 + 100.0) / 11 * 1e6) / 1e6)
    val expStd = math.sqrt((w.map(x => x * x).sum -
      w.sum * w.sum / 11) / 10)
    assert(math.abs(r.getAs[Double]("win_std") - expStd) < 1e-6)
  }

  // -------------------------------------------------------------- bhFdr

  test("bhFdr: textbook step-up — k* past a local violation") {
    // crit = r·0.05/5 = .01 .02 .03 .04 .05: ranks 1,2 pass, 3,4,5 fail
    val tests = Seq(("t1", 0.001), ("t2", 0.008), ("t3", 0.039),
      ("t4", 0.041), ("t5", 0.2)).toDF("id", "p")
    val out = MetricOps.bhFdr(tests, "id", "p", alpha = 0.05)
      .select("id", "r", "is_reject").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(out == Seq(("t1", 1L, 1), ("t2", 2L, 1), ("t3", 3L, 0),
      ("t4", 4L, 0), ("t5", 5L, 0)))
  }

  test("bhFdr: step-up rejects BELOW a passing rank; null p ranks last") {
    // p = .01 .04 .03(×wait sorted) — use p where rank 3 passes but
    // rank 2 alone fails: p=(.005,.02,.021): crit=(.0166,.033,.05):
    // r1 pass, r2 pass, r3 pass → all rejected; add null p → never
    val tests = Seq(("a", Some(0.005)), ("b", Some(0.02)),
      ("c", Some(0.021)), ("d", None))
      .toDF("id", "p")
    val out = MetricOps.bhFdr(tests, "id", "p", alpha = 0.05)
      .select("id", "r", "is_reject").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(out == Seq(("a", 1L, 1), ("b", 2L, 1), ("c", 3L, 1),
      ("d", 4L, 0)))
  }

  // -------------------------------------------------------- mannKendall

  test("mannKendall: monotone, tied, and constant series") {
    val series = (
      (1 to 5).map(i => ("up", i.toDouble, i.toDouble)) ++
      Seq(("tie", 1.0, 1.0), ("tie", 2.0, 2.0), ("tie", 3.0, 2.0),
        ("tie", 4.0, 3.0)) ++
      (1 to 4).map(i => ("const", i.toDouble, 7.0))
    ).toDF("g", "x", "y")
    val out = MetricOps.mannKendall(series, "g", "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    // up: S = 10, var = 5·4·15/18; z = 9/sqrt(var)
    assert(out("up").getLong(2) == 10L)
    val zUp = math.rint(9.0 / math.sqrt(5.0 * 4 * 15 / 18) * 1e6) / 1e6
    assert(math.abs(out("up").getDouble(3) - zUp) < 1e-9)
    // tie: S = 5, var = (4·3·13 − 2·1·9)/18; z = 4/sqrt(var)
    assert(out("tie").getLong(2) == 5L)
    val zTie = math.rint(4.0 / math.sqrt((156.0 - 18) / 18) * 1e6) / 1e6
    assert(math.abs(out("tie").getDouble(3) - zTie) < 1e-9)
    // const: S = 0 and zero variance → null z
    assert(out("const").getLong(2) == 0L && out("const").isNullAt(3))
  }

  // ---------------------------------------------------------- mutualKnn

  test("mutualKnn: reciprocal pairs only") {
    import graft.operators.SimilarityOps
    // a↔b are each other's top-1; c's top-1 is b, but b prefers a —
    // so (b,c) must NOT survive the mutual filter
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.95, 0.3)), (3L, Seq(0.6, 0.8))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.mutualKnn(vecs, "vec_id", "embedding", 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
    // with k=2 every neighborhood contains every other vector → all 3
    val all = SimilarityOps.mutualKnn(vecs, "vec_id", "embedding", 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(all == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  // -------------------------------------------------------- ngramNovelty

  test("ngramNovelty: df=1 grams per doc; short docs drop out") {
    val docs = Seq(
      (1L, "a b c d"),   // grams: "a b c"(df2), "b c d"(df1)
      (2L, "a b c x"),   // grams: "a b c"(df2), "b c x"(df1)
      (3L, "z z z z z"), // one distinct gram "z z z", df1
      (4L, "q w")        // shorter than n → no rows
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(out == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 1L, 1L, 1.0)))
  }

  // ------------------------------------------------------ seasonalEffect

  test("seasonalEffect: spike series — partial edge frames, residual means") {
    // one spike of 7 at day 4; trend = centered 7-pt MA with partial
    // frames: [1.75, 1.4, 7/6, 1, 7/6, 1.4, 1.75]; each day its own
    // season so effect = value − trend exactly
    val series = (1 to 7).map(day =>
      ("g", day.toLong, s"s$day", if (day == 4) 7.0 else 0.0))
      .toDF("g", "day", "season", "v")
    val out = MetricOps.seasonalEffect(series, "g", "day", "season", "v")
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(out("s1") == -1.75 && out("s7") == -1.75)
    assert(out("s4") == 6.0)
    assert(math.abs(out("s3") - (-math.rint(7.0 / 6 * 1e6) / 1e6)) < 1e-9)
    // constant series → zero effect everywhere
    val const = (1 to 7).map(day => ("c", day.toLong, s"s$day", 10.0))
      .toDF("g", "day", "season", "v")
    val zero = MetricOps.seasonalEffect(const, "g", "day", "season", "v")
      .collect().map(_.getDouble(3)).toSeq
    assert(zero.forall(_ == 0.0))
  }

  // ------------------------------------------------------ labelPropagate

  test("labelPropagate: chain spread, majority tie → smallest label") {
    // 1(seed 7)—2—3—4(seed 9), 5(seed 3)—6, and 10 with two equal-vote
    // seed neighbors 11(5)/12(2) → tie breaks to 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
      (10L, 11L), (10L, 12L)).toDF("a", "b")
    val seeds = Seq((1L, 7), (4L, 9), (5L, 3), (11L, 5), (12L, 2))
      .toDF("id", "lbl")
    val out = GraphOps.labelPropagate(edges, "a", "b", seeds, "id", "lbl")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(out(1L) == (7L, 0) && out(4L) == (9L, 0) && out(5L) == (3L, 0))
    // node 2 sees only seed 1 in round 1 (3 is unlabeled yet)
    assert(out(2L) == (7L, 1))
    // node 3 sees only seed 4 in round 1
    assert(out(3L) == (9L, 1))
    assert(out(6L) == (3L, 1))
    assert(out(10L) == (2L, 1), "equal votes must take the smaller label")
    // seeds 11/12 keep their own labels
    assert(out(11L) == (5L, 0) && out(12L) == (2L, 0))
  }

  // --------------------------------------------------------- kmvJaccard

  test("kmvJaccard: below capacity everything is exact") {
    import graft.operators.SketchOps
    val rows = (1 to 30).map(u => ("a", u.toLong)) ++
      (16 to 45).map(u => ("b", u.toLong))
    val df = rows.toDF("side", "user")
    val r = SketchOps.kmvJaccard(df, "side", "a", "b", "user", 64)
      .collect().head
    assert(r.getAs[Long]("k_used") == 45L)
    assert(r.getAs[Double]("union_est") == 45.0)
    assert(r.getAs[Long]("exact_union") == 45L &&
      r.getAs[Long]("exact_inter") == 15L)
    assert(r.getAs[Double]("jaccard_est") ==
      r.getAs[Double]("exact_jaccard"))
    assert(r.getAs[Double]("inter_est") == 15.0)
  }

  test("kmvJaccard: sketch path bounds at capacity") {
    import graft.operators.SketchOps
    val rows = (1 to 400).map(u => ("a", u.toLong)) ++
      (201 to 600).map(u => ("b", u.toLong))
    val df = rows.toDF("side", "user")
    val r = SketchOps.kmvJaccard(df, "side", "a", "b", "user", 16)
      .collect().head
    assert(r.getAs[Long]("k_used") == 16L)
    val j = r.getAs[Double]("jaccard_est")
    assert(j >= 0.0 && j <= 1.0)
    // true J = 200/600 = 1/3; a k=16 sketch is within ±4σ ≈ ±0.5 —
    // this is a smoke bound, the determinism is pinned by the oracle
    assert(math.abs(j - 1.0 / 3) < 0.5)
    assert(r.getAs[Long]("exact_inter") == 200L)
  }

  // --------------------------------------------------------- saxSymbols

  test("saxSymbols: step series → quartile symbols in segment order") {
    // 8 days at 1 then 8 days at 100, 4 segments of 4 days:
    // means [1,1,100,100]; quartiles q1=1, q2=50.5, q3=100 → "bbdd"
    val series = (1 to 16).map(dy =>
      ("g", dy.toLong, if (dy <= 8) 1.0 else 100.0)).toDF("g", "day", "v")
    val out = MetricOps.saxSymbols(series, "g", "day", "v", 4)
      .collect().head
    assert(out.getAs[Long]("n_segments") == 4L)
    assert(out.getAs[String]("sax") == "bbdd")
  }

  // ------------------------------------------------------------ assocRules

  test("assocRules: hand baskets — apriori prune, support/conf/lift") {
    val baskets = Seq(
      (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "B"), (3L, "D"),
      (4L, "C"), (4L, "D"), (4L, "D") // dup item in basket: counted once
    ).toDF("b", "i")
    val out = MetricOps.assocRules(baskets, "b", "i", minCo = 2)
      .as[(String, String, Long, Double, Double, Double, Double)].collect()
    assert(out.length == 1)
    val (ant, cons, co, sup, cab, cba, lift) = out.head
    assert(ant == "A" && cons == "B" && co == 3)
    assert(sup == 0.75 && cab == 1.0 && cba == 1.0)
    assert(lift == BigDecimal(3.0 * 4 / (3 * 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // --------------------------------------------------------------- anovaF

  test("anovaF: hand-computed three-group F, eta²; degenerate guards") {
    // a=(1,2,3) b=(4,5,6) c=(7,8,9): SSB=54, SSW=6, F=(54/2)/(6/6)=27
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0),
      ("b", 5.0), ("b", 6.0), ("c", 7.0), ("c", 8.0), ("c", 9.0))
      .toDF("g", "v")
    val r = MetricOps.anovaF(df, "g", "v").collect().head
    assert(r.getAs[Long]("k") == 3 && r.getAs[Long]("n") == 9)
    assert(r.getAs[Double]("ss_between") == 54.0)
    assert(r.getAs[Double]("ss_within") == 6.0)
    assert(r.getAs[Double]("f_stat") == 27.0)
    assert(r.getAs[Double]("eta_sq") == 0.9)
    // constant groups → SSW = 0 → null F, eta² = 1
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    val rc = MetricOps.anovaF(const, "g", "v").collect().head
    assert(rc.isNullAt(rc.fieldIndex("f_stat")))
    assert(rc.getAs[Double]("eta_sq") == 1.0)
    // single group → null F AND null eta² (SST = SSW > 0, SSB = 0 ok)
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val ro = MetricOps.anovaF(one, "g", "v").collect().head
    assert(ro.isNullAt(ro.fieldIndex("f_stat")))
  }

  // ------------------------------------------------------- kruskalWallis

  test("kruskalWallis: tie-free hand H; tie correction direction") {
    // ranks 1..9 by group thirds: H = 12/90·(12²+15²·…)… = 7.2 exactly
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0),
      ("b", 5.0), ("b", 6.0), ("c", 7.0), ("c", 8.0), ("c", 9.0))
      .toDF("g", "v")
    val r = MetricOps.kruskalWallis(df, "g", "v").collect().head
    assert(r.getAs[Long]("n") == 9 && r.getAs[Long]("k") == 3)
    assert(r.getAs[Double]("h") == 7.2)
    assert(r.getAs[Double]("h_adj") == 7.2) // no ties → same
    // with ties h_adj > h (correction divisor < 1); all-tied → null
    val tied = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "v")
    val rt = MetricOps.kruskalWallis(tied, "g", "v").collect().head
    assert(rt.getAs[Double]("h_adj") > rt.getAs[Double]("h"))
    val allTied = Seq(("a", 5.0), ("b", 5.0)).toDF("g", "v")
    val ra = MetricOps.kruskalWallis(allTied, "g", "v").collect().head
    assert(ra.isNullAt(ra.fieldIndex("h_adj")))
  }

  // ------------------------------------------------------ brownForsythe

  test("brownForsythe: equal spreads → F 0; hand-computed unequal") {
    val same = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 11.0),
      ("b", 12.0), ("b", 13.0)).toDF("g", "v")
    val rs = MetricOps.brownForsythe(same, "g", "v").collect().head
    assert(rs.getAs[Double]("f_stat") == 0.0)
    // a=(0,5,10) dev(5,0,5), b=(4,5,6) dev(1,0,1):
    // SSB=32/3, SSW=52/3, F=(32/3)/(52/3/4)=32/13
    val diff = Seq(("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 4.0),
      ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val rd = MetricOps.brownForsythe(diff, "g", "v").collect().head
    assert(math.abs(rd.getAs[Double]("f_stat") - 32.0 / 13) < 1e-5)
  }

  // --------------------------------------------------------- jarqueBera

  test("jarqueBera: symmetric skew 0, hand kurtosis/JB; constant null") {
    // (1,2,3): m2=2/3, skew 0, kurt=(2/3)/(4/9)=1.5,
    // JB = 3/6·(0+(1.5−3)²/4) = 0.28125
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("c", 9.0), ("c", 9.0)).toDF("g", "v")
    val out = MetricOps.jarqueBera(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    val ra = out("a")
    assert(ra.getAs[Double]("skewness") == 0.0)
    assert(ra.getAs[Double]("kurtosis") == 1.5)
    assert(ra.getAs[Double]("jb") == 0.28125)
    val rc = out("c") // constant group → null moments
    assert(rc.isNullAt(rc.fieldIndex("skewness")) &&
      rc.isNullAt(rc.fieldIndex("jb")))
    // right-skewed sample skews positive
    val sk = Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 10.0))
      .toDF("g", "v")
    assert(MetricOps.jarqueBera(sk, "g", "v").collect()
      .head.getAs[Double]("skewness") > 1.0)
  }

  // ------------------------------------------------------------- logRank

  test("logRank: hand-computed two-group O/E/V; chi2 = 49/17") {
    // A events at t=1,2; B at t=3,4 (all observed):
    // E_A = 1/2 + 1/3 = 5/6, V = 1/4 + 2/9 = 17/36, chi2 = 49/17
    val subj = Seq((1L, 1, "A"), (2L, 1, "A"), (3L, 1, "B"),
      (4L, 1, "B")).toDF("dur", "ev", "side")
    val r = MetricOps.logRank(subj, "dur", "ev", "side", "A", "B")
      .collect().head
    assert(r.getAs[Long]("n_a") == 2 && r.getAs[Long]("n_b") == 2)
    assert(r.getAs[Long]("obs_a") == 2)
    assert(r.getAs[Double]("exp_a") == 0.8333)
    assert(r.getAs[Double]("chi2") ==
      BigDecimal(49.0 / 17).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("z") > 0) // A dies earlier → positive O−E
    // one side empty → zero variance → null z
    val solo = Seq((1L, 1, "A"), (2L, 1, "A")).toDF("dur", "ev", "side")
    val rs = MetricOps.logRank(solo, "dur", "ev", "side", "A", "B")
      .collect().head
    assert(rs.isNullAt(rs.fieldIndex("z")))
  }

  // ------------------------------------------------------------- pettitt

  test("pettitt: hand U-series, earliest-t tiebreak, midrank ties") {
    // y=[1,2,10,11]: U = [-3,-4,-3] → K=4 at t=2, p=2e^{-1.2}
    val s1 = Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 10.0),
      ("g", 4L, 11.0)).toDF("g", "x", "y")
    val r = MetricOps.pettitt(s1, "g", "x", "y").collect().head
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Long]("t_star") == 2L)
    assert(r.getAs[Long]("k_stat") == 4L)
    assert(r.getAs[Long]("u_star") == -4L)
    assert(r.getAs[Double]("p_approx") ==
      BigDecimal(2.0 * math.exp(-1.2)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // tied values use midranks: y=[5,5,1] → R2=[5,5,2], U=[1,2]
    val s2 = Seq(("g", 1L, 5.0), ("g", 2L, 5.0), ("g", 3L, 1.0))
      .toDF("g", "x", "y")
    val r2 = MetricOps.pettitt(s2, "g", "x", "y").collect().head
    assert(r2.getAs[Long]("k_stat") == 2L &&
      r2.getAs[Long]("t_star") == 2L)
    // single-point series → no row
    val s3 = Seq(("g", 1L, 5.0)).toDF("g", "x", "y")
    assert(MetricOps.pettitt(s3, "g", "x", "y").count() == 0)
  }

  // ----------------------------------------------------------- diversity

  test("diversity: hand Simpson/Shannon/Hill; single-unit group") {
    // counts a×4, b×1: λ=17/25, N₂=25/17, H=ln5−(4ln4)/5
    val df = Seq.fill(4)(("g", "a")) ++ Seq(("g", "b")) ++
      Seq(("solo", "z"), ("solo", "z"))
    val out = MetricOps.diversity(df.toDF("g", "u"), "g", "u")
      .collect().map(r => r.getString(0) -> r).toMap
    val rg = out("g")
    assert(rg.getAs[Long]("n") == 5 && rg.getAs[Long]("richness") == 2)
    assert(rg.getAs[Double]("simpson") == 0.68)
    assert(rg.getAs[Double]("inv_simpson") ==
      BigDecimal(25.0 / 17).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(rg.getAs[Double]("shannon") - 0.500402) < 1e-6)
    assert(math.abs(rg.getAs[Double]("hill1") -
      math.exp(0.500402)) < 1e-4)
    val rs = out("solo") // one unit: λ=1, H=0, both Hills 1
    assert(rs.getAs[Double]("simpson") == 1.0 &&
      rs.getAs[Double]("shannon") == 0.0 &&
      rs.getAs[Double]("hill1") == 1.0)
  }

  // -------------------------------------------------------------- grubbs

  test("grubbs: hand G; constant group null; tie → larger value") {
    // [1,2,3,10]: mean 4, sd √(50/3), G = 6/sd
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 10.0),
      ("c", 7.0), ("c", 7.0)).toDF("g", "v")
    val out = MetricOps.grubbs(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    val rg = out("g")
    assert(rg.getAs[Double]("mean") == 4.0)
    assert(math.abs(rg.getAs[Double]("g_stat") - 1.469694) < 1e-6)
    assert(rg.getAs[Double]("outlier_value") == 10.0)
    val rc = out("c")
    assert(rc.isNullAt(rc.fieldIndex("g_stat")))
    // symmetric deviations tie → the larger VALUE wins
    val sym = Seq(("s", -5.0), ("s", 0.0), ("s", 5.0)).toDF("g", "v")
    assert(MetricOps.grubbs(sym, "g", "v").collect()
      .head.getAs[Double]("outlier_value") == 5.0)
  }
}

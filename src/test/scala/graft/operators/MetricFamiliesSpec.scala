package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The shared cores of the MetricOps statistic families, tested
  * directly: one section per core. Each statistic built on a core keeps
  * its own hand-computed tests in the suite that introduced it.
  */
class MetricFamiliesSpec extends SparkSpec {
  import spark.implicits._
  import MetricOps._

  // -- Survival risk table (kaplanMeier, kaplanMeierCi, rmst, nelsonAalen)

  test("riskTable: per-duration events, censorings and risk sets") {
    val df = Seq((1, 1), (1, 0), (2, 1), (3, 1), (3, 0)).toDF("dur", "ev")
    val rows = riskTable(df, "dur", "ev").orderBy("t")
      .select("t", "d", "c", "n_risk").as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows == Seq((1L, 1L, 1L, 5L), (2L, 1L, 0L, 3L), (3L, 1L, 1L, 2L)))
  }

  test("riskTable: n_risk equals the brute-force count of dur >= t, " +
    "for any partitioning") {
    val r = new scala.util.Random(11)
    val subj = (0 until 400).map(_ => (r.nextInt(30), r.nextInt(2)))
    val df = subj.toDF("dur", "ev").repartition(7)
    val got = riskTable(df, "dur", "ev").select("t", "n_risk")
      .as[(Long, Long)].collect().toMap
    val want = subj.map(_._1).distinct.map(t =>
      t.toLong -> subj.count(_._1 >= t).toLong).toMap
    assert(got == want)
  }

  test("productLimitFactors + plSurvival: ln factors cumulate to the " +
    "product limit; a saturated step pins survival to exact 0") {
    val df = Seq((1, 1), (2, 1), (2, 1)).toDF("dur", "ev")
    val rows = rangeCumSum(productLimitFactors(riskTable(df, "dur", "ev")),
        "t", Seq("__lnf", "__zero"))
      .select(col("t"), col("__zero"),
        plSurvival(col("__cum___lnf"), col("__cum___zero")).as("s"))
      .orderBy("t").as[(Long, Long, Double)].collect().toSeq
    assert(rows.map(_._2) == Seq(0L, 1L))
    assert(math.abs(rows(0)._3 - 2.0 / 3) < 1e-9)
    assert(rows(1)._3 == 0.0)
  }

  // -- Two-sample value histogram (wasserstein1D, mannWhitney, effectSizes,
  //    energyDistance, cvmTwoSample, andersonDarlingTwoSample,
  //    hellingerDrift, kuiperTwoSample)

  test("twoSampleHist: counts each side per quantized value; other and " +
    "null sides drop out") {
    val df = Seq(("a", 1.04), ("a", 1.01), ("b", 1.0), ("b", 2.0),
        ("c", 1.0), (null, 2.0)).toDF("side", "x")
    val rows = twoSampleHist(df, "side", "a", "b",
        round(col("x"), 1))
      .orderBy("__v").as[(Double, Long, Long)].collect().toSeq
    assert(rows == Seq((1.0, 2L, 1L), (2.0, 0L, 1L)))
  }

  test("twoSampleHist: the value column passes through as given " +
    "(DECIMAL quantization keeps its type)") {
    val df = Seq((0, 0.123), (1, 0.127)).toDF("side", "x")
    val h = twoSampleHist(df, "side", 0, 1,
      round(col("x") * 100, 0).cast("decimal(38,0)"))
    assert(h.schema("__v").dataType.simpleString == "decimal(38,0)")
    assert(h.orderBy("__v").select("__na", "__nb").as[(Long, Long)]
      .collect().toSeq == Seq((1L, 0L), (0L, 1L)))
  }

  test("midrank2: doubled average rank of a tie block") {
    val df = Seq((0L, 1L), (3L, 2L), (5L, 4L)).toDF("before", "t")
    val r2 = df.select(midrank2(col("before"), col("t")))
      .as[Long].collect().toSeq
    // ranks 1; 4..5 (avg 4.5); 6..9 (avg 7.5), doubled
    assert(r2 == Seq(2L, 9L, 15L))
  }

  // -- Autocorrelation (ljungBox, pacf)

  test("lagProducts: hand lag sums; the calendar join skips gaps") {
    val series = Seq(("g", 1, 1), ("g", 2, 3), ("g", 3, 1), ("g", 4, 3),
        ("h", 1, 0), ("h", 2, 2), ("h", 4, 4)).toDF("grp", "x", "y")
    val rows = lagProducts(series, "grp", "x", "y", 3)
      .select(col("__g"), col("lag"), col("__num").cast("double"),
        col("__ss").cast("double"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // g: deviations -1, 1, -1, 1
    assert(rows(("g", 1L)) == ((-3.0, 4.0)))
    assert(rows(("g", 2L)) == ((2.0, 4.0)))
    assert(rows(("g", 3L)) == ((-1.0, 4.0)))
    // h: deviations -2, 0, (gap), 2 — only pairs whose x differ by lag
    assert(rows(("h", 1L)) == ((0.0, 8.0)))
    assert(rows(("h", 2L)) == ((0.0, 8.0)))
    assert(rows(("h", 3L)) == ((-4.0, 8.0)))
  }

  // -- Complete-block ranks (friedman, pageTrend, kendallW)

  test("completeBlocks: only blocks holding every treatment exactly " +
    "once survive") {
    val df = Seq(
      ("ok", "t1", 1.0), ("ok", "t2", 2.0), ("ok", "t3", 3.0),
      ("missing", "t1", 1.0), ("missing", "t2", 2.0),
      ("dup", "t1", 1.0), ("dup", "t1", 2.0), ("dup", "t2", 3.0))
      .toDF("blk", "trt", "v")
    val kept = completeBlocks(df, "blk", col("trt"), "v")
      .select("__b").distinct().as[String].collect().toSeq
    assert(kept == Seq("ok"))
  }

  test("blockRanks2: doubled tie-averaged ranks within each block; the " +
    "treatment column is the caller's") {
    val df = Seq(
      (1, "2", 5.0), (1, "1", 5.0), (1, "3", 7.0),
      (2, "1", 9.0), (2, "2", 8.0), (2, "3", 7.0)).toDF("blk", "trt", "v")
    val ranked = blockRanks2(
        completeBlocks(df, "blk", col("trt").cast("long"), "v"))
    assert(ranked.schema("__t").dataType.simpleString == "bigint")
    val r2 = ranked.select("__b", "__t", "__r2")
      .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(r2 == Map((1, 1L) -> 3L, (1, 2L) -> 3L, (1, 3L) -> 6L,
      (2, 1L) -> 6L, (2, 2L) -> 4L, (2, 3L) -> 2L))
  }
}

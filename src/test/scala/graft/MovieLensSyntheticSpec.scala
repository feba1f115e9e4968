package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps

/** ml-1m parity stand-in on DETERMINISTIC synthetic data at the real
  * dataset's shape — 6,040 users, per-user time-ordered impressions,
  * ≥ 20 ratings per user — exercising the invariants behind the
  * reference's published counts (readme.md:35-37) while `ratings.dat`
  * itself is a missing large blob (MovieLensGoldenSpec guards the real
  * numbers and cancels until the file appears):
  *
  *  - the 3-way split TILES every user's rows: exactly 10 holdout
  *    (the reference's 60,400 = 6,040 × 10), train = ⌈0.8·(n−10)⌉,
  *    test = the remainder — per user, not just in aggregate;
  *  - label totals equal an independent recount of rating > 3;
  *  - the W2 (before-append) / W3 (after-append flush) off-by-one:
  *    at each user's last row, snapshot = PIT + the current row.
  *
  * A 200-user slice then drives Pipeline.run END-TO-END (preprocess →
  * ALS recall → FM ranker → hybrid recall → scoring → top-k) from a
  * parquet events table of the same synthetic rows, so the full
  * pipeline executes deterministically in CI at ml-1m shape.
  */
class MovieLensSyntheticSpec extends SparkSpec {
  import spark.implicits._

  private val N_USERS = 6040
  private val HOLD = 10

  /** Deterministic generator: user u gets 20 + (u·7919 mod 15) rows,
    * strictly time-ordered; rating cycles pseudo-randomly over 1..5.
    */
  private def nRows(u: Int): Int = 20 + (u * 7919) % 15
  private def rating(u: Int, i: Int): Int = 1 + ((u * 13 + i * 7) % 5)

  private lazy val ratings = {
    val rows = for {
      u <- 1 to N_USERS
      i <- 0 until nRows(u)
    } yield (u.toLong, ((u * 31 + i * 17) % 3952 + 1).toLong,
      rating(u, i), 978300000L + i)
    rows.toDF("userid", "itemid", "rating", "ts")
  }

  private lazy val split = {
    val labeled = RelationalOps.labelEncode(ratings, "rating", 3)
    val rn = RelationalOps.rowNumber(labeled, "userid",
        Seq(col("ts"), col("itemid")))
      .withColumn("u_cnt", count(lit(1)).over(Window.partitionBy("userid")))
    RelationalOps.threeWaySplit(rn, "rn", "u_cnt", HOLD, 0.2)
  }

  test("label totals equal an independent rating>3 recount at 6040-user scale") {
    val expectedPos = (1 to N_USERS).map(u =>
      (0 until nRows(u)).count(i => rating(u, i) > 3)).map(_.toLong).sum
    val total = (1 to N_USERS).map(nRows(_).toLong).sum
    val counts = split.groupBy("label").count().as[(Int, Long)].collect().toMap
    assert(counts(1) == expectedPos)
    assert(counts(0) == total - expectedPos)
  }

  test("3-way split tiles every user: 10 holdout, ceil-80% train, rest test") {
    val expected = (1 to N_USERS).map { u =>
      val n = nRows(u)
      val train = (0 until n - HOLD).count(_ < 0.8 * (n - HOLD))
      (train.toLong, (n - HOLD - train).toLong, HOLD.toLong)
    }
    val (eTrain, eTest, eHold) =
      (expected.map(_._1).sum, expected.map(_._2).sum, expected.map(_._3).sum)
    val agg = split.groupBy("istest").count().as[(Int, Long)].collect().toMap
    assert(agg == Map(0 -> eTrain, 1 -> eTest, 2 -> eHold))
    assert(eHold == N_USERS * 10L, "the published-shape invariant: 10 holdout/user")
    // tiling is PER USER, not only in aggregate
    val offUsers = split.groupBy("userid")
      .agg(sum(when(col("istest") === 2, 1).otherwise(0)).as("h"))
      .filter(col("h") =!= HOLD).count()
    assert(offUsers == 0, s"$offUsers users lack exactly $HOLD holdout rows")
  }

  test("W2/W3 off-by-one: at each user's last row, snapshot = PIT + current row") {
    val labeled = RelationalOps.labelEncode(ratings, "rating", 3)
    val pit = RelationalOps.pitWindow(labeled, "userid",
      Seq(col("ts"), col("itemid")), "label", HOLD)
    val lastPit = pit.withColumn("__rd", row_number().over(
        Window.partitionBy("userid").orderBy(col("ts").desc, col("itemid").desc)))
      .filter(col("__rd") === 1)
      .select(col("userid"), col("pit_imp"), col("pit_clk"), col("label"))
    val snap = RelationalOps.userSnapshot(labeled, "userid",
        Seq(col("ts"), col("itemid")), "label", HOLD)
      .select(col("userid"), col("snap_imp"), col("snap_clk"))
    val off = lastPit.join(snap, "userid")
      .filter(col("snap_imp") =!= col("pit_imp") + 1 ||
        col("snap_clk") =!= col("pit_clk") + col("label"))
      .count()
    assert(off == 0, s"$off users break the flush-after-append off-by-one")
  }

  /** The 200-user slice as a parquet events table, for Pipeline.run. */
  private lazy val sliceDir = {
    val dir = Files.createTempDirectory(Paths.get("target"), "ml-synth").toString
    val types = Seq("click", "error", "purchase", "signup", "view")
    // event_type is decoupled from the rating-derived label: a perfect
    // item↔label correlation makes the ALS normal equations singular
    val events = (for {
      u <- 1 to 200
      i <- 0 until nRows(u)
    } yield (u * 1000L + i, (978300000L + i) * 1000000000L, u.toLong,
      types((u * 3 + i * 11) % 5), rating(u, i) * 30.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Pipeline.run end-to-end on a 200-user ml-1m-shaped slice") {
    val res = Pipeline.run(spark, sliceDir)
    val nTrain = res.train.count()
    val expTrain = (1 to 200).map { u =>
      val n = nRows(u)
      (0 until n - HOLD).count(_ < 0.8 * (n - HOLD)).toLong
    }.sum
    assert(nTrain == expTrain,
      s"pipeline train rows $nTrain != preprocess-invariant $expTrain")
    assert(res.auc > 0.5, s"ranker AUC ${res.auc} no better than chance")
    assert(res.userVectors.count() > 0 && res.itemVectors.count() > 0)
    assert(res.recommendations.count() > 0)
  }

  test("Pipeline.run materializes the PIT frame once and repeats its outputs") {
    val a = Pipeline.run(spark, sliceDir)
    // train reads the checkpointed frame: no window is re-derived
    val plan = a.train.queryExecution.analyzed
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, s"train re-derives a window:\n$plan")
    assert(plan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }.nonEmpty, s"train does not read a materialized frame:\n$plan")

    // concurrent fits are still deterministic: a second run agrees
    val b = Pipeline.run(spark, sliceDir)
    assert(a.auc == b.auc)
    def recs(r: Pipeline.Result) = r.recommendations
      .select("user_id", "item", "score").as[(Long, Long, Double)].collect().toSet
    val recsA = recs(a)
    assert(recsA.nonEmpty && recsA == recs(b))
    def vecs(df: DataFrame) =
      df.as[(Int, Array[Float])].collect().map { case (id, v) => id -> v.toSeq }.toMap
    for ((va, vb) <- Seq(a.userVectors -> b.userVectors,
                         a.itemVectors -> b.itemVectors)) {
      val (ma, mb) = (vecs(va), vecs(vb))
      assert(ma.nonEmpty && ma.keySet == mb.keySet)
      for ((id, v) <- ma; (x, y) <- v.zip(mb(id)))
        assert(math.abs(x - y) <= 1e-6, s"vector $id: $x vs $y")
    }
  }
}

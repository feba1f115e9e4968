package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{FeatMeta, RecsysModels}
import graft.operators.{Concurrent, RelationalOps, RetrievalOps}
import graft.tables.Tables

/** The reference's full offline→online pipeline (readme.md:14 three
  * phases), end-to-end on the testdata events table:
  *
  *   preprocess (label + split W1/W4) → PIT features (W2) →
  *   recall model (M1 ALS, vector export) → ranker (M2 FMClassifier on
  *   FeatMeta-assembled features) → hybrid recall (R1+R2+R3) →
  *   in-engine scoring (M3) → per-user top-k (O3).
  *
  * One driver program, artifacts as keyed DataFrames — the Spark-native
  * shape of offline/preprocess → offline/recall → offline/rank →
  * online/main. The PIT feature frame is materialized once and shared
  * by every later stage; the recall branch (ALS → vector export) and
  * the rank branch (constant prune → FeatMeta → FM ranker) are
  * independent and fitted concurrently (`Concurrent.run`). Serving,
  * scoring and top-k stay one lazy DAG over their outputs.
  *
  * `main` runs it at sf0.001 and prints stage row counts — the
  * runnable end-to-end sample for the library surface.
  */
object Pipeline {

  case class Result(train: DataFrame, userVectors: DataFrame,
                    itemVectors: DataFrame, auc: Double,
                    recommendations: DataFrame)

  /** P8 wiring — candidate features that survive the constant prune, in
    * the caller's positional order. One O(#features) driver collect of
    * the report (the sanctioned meta collect).
    */
  def pruneConstant(train: DataFrame, candidates: Seq[String]): Seq[String] = {
    val kept = RelationalOps.constPruneReport(train, candidates)
      .filter(col("keep") === 1)
      .select("col_name").collect().map(_.getString(0)).toSet
    candidates.filter(kept)
  }

  def run(spark: SparkSession, dir: String): Result = {
    // --- offline/preprocess: label (P1), order (W1), split (W4)
    val ev = Tables.events(spark, dir)
      .withColumn("label", when(col("value") > 100, 1).otherwise(0))
      .withColumn("item",
        when(col("event_type") === "click", 0L)
          .when(col("event_type") === "error", 1L)
          .when(col("event_type") === "purchase", 2L)
          .when(col("event_type") === "signup", 3L).otherwise(4L))
    val rn = RelationalOps.rowNumber(ev, "user_id", Seq(col("ts"), col("event_id")))
      .withColumn("u_cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
    val split = RelationalOps.threeWaySplit(rn, "rn", "u_cnt", 10, 0.2)

    // --- offline/preprocess s2: PIT behavior features (W2), materialized
    // once: both model fits, both AUC evaluations and the serving-state
    // read below would each re-run the events scan and both windows.
    // A local checkpoint, not cache(): `recommendations` reads the frame
    // lazily after run returns, so there is no point at which to unpersist.
    val feat = RelationalOps.pitWindow(split, "user_id",
        Seq(col("ts"), col("event_id")), "label", 10)
      .select(col("user_id"), col("item"), col("event_id"), col("istest"),
        col("label").cast("double").as("label"),
        col("pit_imp").cast("double").as("pit_imp"),
        col("pit_clk").cast("double").as("pit_clk"))
      .localCheckpoint()

    val train = feat.filter(col("istest") === 0)
    val test = feat.filter(col("istest") === 1)

    // --- offline/recall: M1 ALS → vector export (S6 artifact shape)
    lazy val vectors = RecsysModels.exportVectors(
      RecsysModels.trainRecall(train, "user_id", "item", "label"))

    // --- offline/rank: P8 constant-feature prune (the reference drops
    // dead features before training, s1_feature_engi.py:25-27,37-39,50-52),
    // then FeatMeta (A6) + M6 assemble + M2/M4 train
    lazy val rank = {
      val denseKept = pruneConstant(train, Seq("pit_imp", "pit_clk"))
      val meta = FeatMeta.derive(train, Seq("user_id", "item"), Nil, denseKept)
      (meta, RecsysModels.trainRanker(
        RecsysModels.assemble(train, meta), RecsysModels.assemble(test, meta),
        "label", maxRounds = 2, itersPerRound = 10))
    }

    // The reference trains recall and rank as two programs over the same
    // samples; here they are two independent branches whose driver-bound
    // fit loops overlap on one pool, which forces both lazy vals.
    Concurrent.run(Seq(() => vectors, () => rank))
    val (userVec, itemVec) = vectors
    val (meta, (ranker, auc)) = rank

    // --- online: hybrid recall (R1 term + R2 kNN + R3 union) over the
    // serving snapshot, then M3 in-engine scoring and O3 top-k.
    val seen = RelationalOps.orderedCollectList(ev.filter(col("label") === 1),
        "user_id", "item", Seq("ts", "event_id"), "seen")
      .select(col("user_id"), col("seen"))
    val userTerms = ev.filter(col("label") === 1)
      .groupBy("user_id", "item").agg(count(lit(1)).as("c")).filter(col("c") >= 3)
      .groupBy("user_id")
      .agg(sort_array(collect_set(concat(lit("g"), col("item")))).as("terms"))
    // Serving hop with full fidelity: state round-trips through the
    // string-encoded snapshot (S7) and the defaulted point lookup (S8),
    // exactly like the reference's Redis leg.
    val snapshot = operators.ServingOps.buildSnapshot(
      userTerms, seen, userVec.select(col("id").as("user_id"), col("vector")),
      "user_id")
    val users = operators.ServingOps.pointLookup(
      userVec.select(col("id").as("user_id")), snapshot, "user_id",
      RecsysModels.VECTOR_DIM)
    val items = itemVec.select(col("id").as("item"), col("vector"))
      .withColumn("terms", array(concat(lit("g"), col("item"))))

    val term = RetrievalOps.termRecall(users, items, "user_id", "terms", "seen",
      "item", "terms", 0.1, 200)
    val knn = RetrievalOps.knnRecall(users, items, "user_id", "vector", "seen",
      "item", "vector", 0.9, 200)
    val recall = RetrievalOps.hybridRecall(Seq(term, knn), "user_id", "item", 50)

    val lastState = feat
      .withColumn("__r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "item").orderBy(col("event_id").desc)))
      .filter(col("__r") === 1)
      .select("user_id", "item", "pit_imp", "pit_clk")
    val candidates = RecsysModels.assemble(
      recall.join(lastState, Seq("user_id", "item"), "left")
        .na.fill(0.0, Seq("pit_imp", "pit_clk")), meta)
    val scored = RecsysModels.score(ranker, candidates)
    val recs = RelationalOps.topKPerGroup(scored, "user_id",
      Seq(col("score").desc, col("item")), 3)
      .select("user_id", "item", "score")

    Result(train, userVec, itemVec, auc, recs)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, dir)
    println(s"[pipeline] train rows: ${r.train.count()}")
    println(s"[pipeline] user vectors: ${r.userVectors.count()}, item vectors: ${r.itemVectors.count()}")
    println(f"[pipeline] ranker AUC: ${r.auc}%.4f")
    println(s"[pipeline] recommendations: ${r.recommendations.count()}")
    r.recommendations.orderBy("user_id", "score").show(9, truncate = false)
    spark.stop()
  }
}

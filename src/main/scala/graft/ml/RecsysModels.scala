package graft.ml

import org.apache.spark.ml.classification.{FMClassificationModel, FMClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML surface (SURVEY §2.8): the reference's two models re-expressed on
  * MLlib estimators, scored in-engine (no RPC hop — the Triton call of
  * online/utils/triton_caller.py:56-70 becomes `model.transform`).
  *
  *  M1 — recall: logistic matrix factorization
  *       (offline/recall/s2_vector_recall.py:19-34) → ALS with
  *       implicitPrefs, dim-16 factors exported as user/item vectors;
  *  M2 — rank: FM-family CTR model (offline/torchfm/model.py:109-157)
  *       → FMClassifier on the assembled sparse+dense vector;
  *  M3 — batched inference → transform (executors batch internally);
  *  M4/M5 — early-stopped train/eval loop (offline/torchfm/train.py:6-24):
  *       driver loop over epochs, keep best AUC, stop after `patience`
  *       non-improving rounds;
  *  M6 — dataset adapter → VectorAssembler with FeatMeta column order;
  *  M7 — saved-model score parity → save/reload + transform equality.
  *
  * Training is iterative and seed-sensitive — exercised in tests and
  * bench, deliberately NOT in the DuckDB oracle set (SURVEY §7.5.5).
  */
object RecsysModels {

  val VECTOR_DIM = 16
  val SEED = 123L

  /** M1: implicit-feedback ALS; returns the model whose
    * userFactors/itemFactors are the exported dim-16 vectors
    * (s2_vector_recall.py:87-91 analogue).
    */
  def trainRecall(train: DataFrame, userCol: String, itemCol: String,
                  labelCol: String, dim: Int = VECTOR_DIM): ALSModel =
    new ALS()
      .setUserCol(userCol).setItemCol(itemCol).setRatingCol(labelCol)
      .setRank(dim).setImplicitPrefs(true).setSeed(SEED)
      .setColdStartStrategy("drop")
      .setMaxIter(10).setRegParam(0.01)
      .fit(train)

  /** Exported vector tables: (id, vector array<float>) — the Redis/ES
    * export analogue (offline_to_online/recall/s1_user_to_redis.py:30,
    * s2_item_to_es.py:50-58), as keyed parquet-ready DataFrames.
    */
  def exportVectors(model: ALSModel): (DataFrame, DataFrame) =
    (model.userFactors.select(col("id"), col("features").as("vector")),
     model.itemFactors.select(col("id"), col("features").as("vector")))

  /** M1 batch recall: top-k candidate items per user straight from the
    * factor model (the offline variant of the kNN recall channel —
    * s2_vector_recall.py scores sigmoid(P·Q); ALS ranks by the same
    * dot product, and sigmoid is monotonic so the top-k agree).
    */
  def recallTopK(model: ALSModel, k: Int): DataFrame = {
    val recs = model.recommendForAllUsers(k)
    recs.select(col(model.getUserCol).as("user_id"),
      explode(col("recommendations")).as("r"))
      .select(col("user_id"), col(s"r.${model.getItemCol}").as("item_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("r.rating")))).as("score"))
  }

  /** M6: assemble features in FeatMeta positional order. */
  def assemble(df: DataFrame, meta: FeatMeta,
               outputCol: String = "features"): DataFrame =
    new VectorAssembler()
      .setInputCols(meta.inputCols.toArray)
      .setOutputCol(outputCol)
      .transform(df)

  /** M2 + M4/M5: FMClassifier ranker with an early-stopped train/eval
    * loop. Trains with increasing iteration budgets; keeps the model
    * with the best held-out AUC; stops after `patience` rounds without
    * improvement.
    */
  def trainRanker(train: DataFrame, test: DataFrame, labelCol: String,
                  maxRounds: Int = 5, itersPerRound: Int = 10,
                  patience: Int = 2): (FMClassificationModel, Double) = {
    var best: (FMClassificationModel, Double) = (null, Double.NegativeInfinity)
    var bad = 0
    var round = 1
    while (round <= maxRounds && bad < patience) {
      // Serve a summary-free copy: the fitted model's trainingSummary
      // pins the SparkSession, and a session where observe() has ever
      // run holds a non-serializable ObservationManager (Spark 4.1) —
      // shipping the summary-bearing model in a task closure then
      // throws. copy() carries params + coefficients, not the summary.
      val m = new FMClassifier()
        .setLabelCol(labelCol).setFeaturesCol("features")
        .setFactorSize(4).setSeed(SEED)
        .setMaxIter(round * itersPerRound).setStepSize(0.1).setRegParam(1e-5)
        .fit(train)
        .copy(org.apache.spark.ml.param.ParamMap.empty)
        .asInstanceOf[FMClassificationModel]
      val roundAuc = auc(m, test, labelCol)
      if (roundAuc > best._2) { best = (m, roundAuc); bad = 0 } else bad += 1
      round += 1
    }
    best
  }

  /** M3: in-engine batch scoring — probability of the positive class,
    * extracted with the Catalyst-native vector_to_array (stays inside
    * codegen; no black-box UDF in the scoring path).
    */
  def score(model: FMClassificationModel, df: DataFrame,
            outCol: String = "score"): DataFrame = {
    val p1 = org.apache.spark.ml.functions.vector_to_array(col("probability"))(1)
    model.transform(df).withColumn(outCol, p1)
      .drop("rawPrediction", "probability", "prediction")
  }

  /** A9: held-out ROC-AUC. */
  def auc(model: FMClassificationModel, test: DataFrame, labelCol: String): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(test))

  /** M7: saved-model score parity — write, reload, and require
    * identical scores on the probe frame (the reference's
    * torch-vs-Triton check, s3_check_offline_and_online.py:19-41).
    */
  def scoreParity(model: FMClassificationModel, probe: DataFrame,
                  path: String): Boolean = {
    model.write.overwrite().save(path)
    val reloaded = FMClassificationModel.load(path)
    val a = score(model, probe).select("score").collect().map(_.getDouble(0))
    val b = score(reloaded, probe).select("score").collect().map(_.getDouble(0))
    a.sameElements(b)
  }

  /** Isotonic (PAV) score calibration — the monotone-regression
    * complement of the binned calibration table (MetricOps.calibration
    * / q105): fit a non-decreasing map score → P(label=1) and return
    * the calibrated frame. MLlib's IsotonicRegression distributes the
    * pool-adjacent-violators pass (per-partition PAV + boundary merge),
    * so calibration fits without collecting scores to the driver —
    * at 100 TB the input to PAV is the (score, label) pair stream,
    * never a driver-side sort. The fitted model is a bounded piecewise
    * function (breakpoint/prediction arrays), broadcast by transform.
    */
  def isotonicCalibrate(train: DataFrame, scoreCol: String,
                        labelCol: String,
                        toCalibrate: DataFrame): DataFrame = {
    val m = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol(scoreCol).setLabelCol(labelCol)
      .setPredictionCol("calibrated")
      .fit(train.select(col(scoreCol).cast("double"),
        col(labelCol).cast("double")))
    // the model requires a DoubleType feature column — cast here too so
    // a float/decimal score frame calibrates the same as it trained
    m.transform(toCalibrate.withColumn(scoreCol, col(scoreCol).cast("double")))
  }
}

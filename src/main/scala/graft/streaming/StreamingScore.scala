package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SamplingOps

/** Streaming twin of the DSIR importance scorer
  * ([[graft.operators.SamplingOps.importanceWeights]]): score a
  * document STREAM against a FROZEN importance model built batch-side.
  *
  * The model is the bounded (bucket → log-ratio) table from the batch
  * op's model stage — ≤ `buckets` entries by construction (the hashing
  * trick caps it regardless of corpus size), so it folds into a
  * literal MAP expression at plan build, exactly like
  * [[graft.operators.SimilarityOps.randomProjection]] folds its sign
  * matrix. Scoring is then MAP-ONLY: bigrams, buckets, and the
  * snapped-term sum all evaluate inside one projection per row — no
  * state store, no stream-static join, no shuffle, no watermark. The
  * stream scales to any rate the source sustains and a model refresh
  * is a query restart with a new literal (the standard frozen-model
  * serving pattern).
  *
  * Determinism contract (StreamingScoreSpec proves stream ≡ batch):
  * per-bucket c·lr terms snap to 12 dp and accumulate in a
  * DECIMAL(38,12) aggregate fold — bit-identical to the batch op's
  * DECIMAL sum for the same document, regardless of bigram order.
  * Buckets unseen by the model (possible on a live stream, never in
  * the batch op's self-scoring) fall back to the add-one-smoothed
  * empty-bucket ratio ln((R+B)/(T+B)) via `defaultLr`.
  */
object StreamingScore {

  /** Score each streamed document: output (idCol, n_bigrams, iw).
    * Documents with fewer than two tokens carry no bigram evidence and
    * are dropped, matching the batch op.
    *
    * @param model bucket → 12-dp-snapped log-ratio (collect the batch
    *              model table driver-side; it is ≤ `buckets` rows)
    */
  def importanceScore(stream: DataFrame, idCol: String, textCol: String,
                      model: Map[Long, Double], defaultLr: Double,
                      buckets: Int): DataFrame = {
    val m = typedLit(model)
    stream
      .withColumn("__t", split(col(textCol), " "))
      .filter(size(col("__t")) >= 2)
      // array-valued (the row-local fold below reads it), so it stays a
      // lambda over the bigram starts; the bucket is the batch op's
      // featureHash of "w1 w2"
      .withColumn("__ks", transform(sequence(lit(0), size(col("__t")) - 2),
        i => SamplingOps.featureHash(
          concat(col("__t")(i), lit(" "), col("__t")(i + 1)), buckets)))
      .withColumn("n_bigrams", size(col("__ks")).cast("long"))
      // group within the row by bucket (array_distinct), snap each
      // c·lr term to 12 dp, fold into a DECIMAL(38,12) accumulator —
      // the exact arithmetic of the batch op's groupBy+DECIMAL sum
      .withColumn("__s", aggregate(
        transform(array_distinct(col("__ks")), k =>
          round(
            size(filter(col("__ks"), x => x === k)).cast("double") *
              coalesce(element_at(m, k), lit(defaultLr)), 12)
            .cast("decimal(38,12)")),
        lit(0).cast("decimal(38,12)"),
        (acc, x) => (acc + x).cast("decimal(38,12)")))
      .withColumn("iw", when(
        round(col("__s").cast("double") / col("n_bigrams"), 6) === 0.0,
        lit(0.0)).otherwise(
        round(col("__s").cast("double") / col("n_bigrams"), 6)))
      .select(col(idCol), col("n_bigrams"), col("iw"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PairSum
import graft.operators.{RelationalOps, RetrievalOps}
import graft.tables.Tables

/** Flagship end-to-end recommend (SURVEY §7.1): the reference's full
  * online path — recall → rank → respond — collapsed into ONE lazy
  * Spark plan, with candidates RECALL-BOUNDED exactly like the
  * reference's ES queries (online/utils/es_caller.py:42 `size=200`):
  *
  *   1. TERM channel (boost 0.1, es_caller.py:56): user term list ×
  *      item terms via the posting-list equi-join ([[RetrievalOps
  *      .termRecall]]), seen items anti-filtered IN the recall
  *      (es_caller.py:25-36 `must_not terms`), capped per user.
  *   2. kNN channel (boost 0.9, es_caller.py:57): user embedding ×
  *      item click-profile cosine over the sign-bucket MULTI-PROBE
  *      equi-join (the q35/q60 ANN path — never a user×catalog grid),
  *      seen-filtered, capped per user.
  *   3. Hybrid union (es_caller.py:56-58): Σ of boosted channel
  *      scores per (user, item).
  *   4. Rank: the candidate's point-in-time CTR from the user's last
  *      ≤10 events — the serving-snapshot state (S7/S8, the W2 frame
  *      family evaluated at request time) as the ranking model's
  *      score, exact half-up ppm.
  *   5. Respond: top-[[Flagship.RESPONSE_K]] per user
  *      (online/main/s1_server.py:35 sort + cut).
  *
  * Declared as oracle query `q432_flagship_recommend`, so every stage
  * is hash-checked against the DuckDB twin.
  *
  * Scale: the term channel shuffles on the term (posting-list shape,
  * bounded by list sizes); the kNN channel is an equi-join on the
  * sign-bucket cell id with the tiny item-profile side broadcast; all
  * window work (per-channel caps, snapshot frame, final top-k) is
  * hash-partitioned by user with bounded frames. NO stage materializes
  * users × catalog — the executed plan is swept cartesian-free like
  * every other declared query (PlanAuditSpec).
  */
object Flagship {

  /** Per-channel recall cap — es_caller.py:42 `size=200`. */
  val CANDIDATES_PER_CHANNEL = 200

  /** Response size — s1_server.py:35 sort + cut. */
  val RESPONSE_K = 3

  /** Serving-snapshot frame: candidate CTR over the user's last ≤N
    * events (the request-time state the W2 PIT family maintains).
    */
  val SNAPSHOT_FRAME = 10

  private def bucketExpr(c: String) = expr(
    s"CAST($c[0] > 0 AS INT) + CAST($c[1] > 0 AS INT) * 2 + " +
      s"CAST($c[2] > 0 AS INT) * 4 + CAST($c[3] > 0 AS INT) * 8")

  def recommend(spark: SparkSession, dir: String): DataFrame =
    recommendFrom(spark, Tables.events(spark, dir),
      Tables.embeddings(spark, dir))

  /** The recommend pipeline over caller-supplied event/embedding
    * tables — the offline-eval surface (q435 drives it on
    * last-event-held-out history).
    *
    * `snapshot`: optionally the RANK state maintained ONLINE
    * ([[graft.streaming.StreamingServingSnapshot]]'s latest version
    * per user — the Redis-hash-updated-offline, read-online shape of
    * the reference: offline_to_online/recall/s1_user_to_redis.py:24-36
    * → online/utils/redis_caller.py:12-37) as a (user_id, item,
    * rank_ppm) table; None derives the identical state from the event
    * log in-plan (the batch twin). FlagshipStreamRoundTripSpec proves
    * the stream-fed response ≡ the batch response on the same prefix.
    */
  def recommendFrom(spark: SparkSession, events: DataFrame,
                    embeddings: DataFrame,
                    snapshot: Option[DataFrame] = None): DataFrame = {
    val ev = events
      .withColumn("label", when(col("value") > 100, 1).otherwise(0))
      // LAZY localCheckpoint: terms, seen, click pairs, and the
      // snapshot frame all read the labeled log — one scan, 4 readers.
      .localCheckpoint(false)

    // --- user profile: term list (≥3 interactions) + seen set (the
    // strong-interaction items the must_not filter excludes).
    val terms = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 3)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("terms"))
    val seen = ev.filter(col("value") > 150)
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("seen"))

    // --- channel 1: term recall (posting-list equi-join, boost 0.1).
    val users = terms.join(seen, Seq("user_id"), "left")
      .withColumn("seen", coalesce(col("seen"), array()))
    // Item catalog DERIVED from the event log (distinct event_type),
    // mirroring the reference's table-driven item universe
    // (offline_to_online/recall/s2_item_to_es.py:28-44 indexes the
    // item TABLE) — no literal vocabulary, so the term channel can
    // recall whatever items the log actually contains. Tiny (one row
    // per item type) and broadcast into the posting-list join.
    val items = ev.select(col("event_type").as("item")).distinct()
      .withColumn("terms", array(col("item")))
    // Channel scores live in exact integer PPM from here on: summing
    // 0.1/0.9-boosted doubles pinned at 6 dp puts every odd 6th digit
    // on a 7th-digit midpoint, exactly where engine round rules
    // (decimal-repr half-up vs binary round) disagree. Integer
    // arithmetic has no midpoints.
    val chanTerm = RetrievalOps.termRecall(users, items,
        "user_id", "terms", "seen", "item", "terms",
        0.1, CANDIDATES_PER_CHANNEL)
      .select(col("user_id"), col("item"),
        expr("CAST(round(score * 1000000) AS BIGINT)").as("score"))

    // --- channel 2: kNN recall over the sign-bucket multi-probe
    // equi-join. Item side = per-item click profile (mean embedding
    // component of the item's clickers, 6 dp-pinned like
    // SimilarityOps.ivfCentroids); user side probes its own cell plus
    // the 4 Hamming-1 cells.
    val uvec = embeddings
      .select(col("vec_id").as("user_id"),
        col("embedding").cast("array<double>").as("uemb"))
    val clicks = ev.filter(col("label") === 1)
      .select(col("user_id"), col("event_type").as("item")).distinct()
    val prof = clicks.join(uvec, "user_id")
      .select(col("item"), posexplode(col("uemb")).as(Seq("dim", "v")))
      .groupBy("item", "dim")
      // DECIMAL-exact mean: double avg() sums in partition order, so
      // the two engines can land a half-ulp apart and round(…, 6)
      // splits at a midpoint (bit us on sf0.01). 12 dp decimal sums
      // are order-free and exact; the divide is then one double op on
      // identical operands in both engines.
      .agg(round(sum(expr("CAST(round(v, 12) AS DECIMAL(38,12))"))
        .cast("double") / count(lit(1)), 6).as("c"))
      .groupBy("item")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), " +
        "s -> s.c)").as("pemb"))
      .withColumn("pnrm", sqrt(PairSum.dot(col("pemb"), col("pemb"))))
      .withColumn("bucket", bucketExpr("pemb"))
    val uside = uvec
      .join(ev.select("user_id").distinct(), "user_id")
      .join(seen, Seq("user_id"), "left")
      .withColumn("seen", coalesce(col("seen"), array()))
      .withColumn("unrm", sqrt(PairSum.dot(col("uemb"), col("uemb"))))
      .withColumn("__b", bucketExpr("uemb"))
      .select(col("user_id"), col("uemb"), col("unrm"), col("seen"),
        explode(expr("array(__b, __b ^ 1, __b ^ 2, __b ^ 4, __b ^ 8)"))
          .as("bucket"))
    val chanKnn = RelationalOps.topKPerGroup(
      uside.join(broadcast(prof), "bucket")
        .filter(col("unrm") > 0 && col("pnrm") > 0)
        .filter(!coalesce(array_contains(col("seen"), col("item")),
          lit(false)))
        .withColumn("sim",
          round(PairSum.dot(col("uemb"), col("pemb")) /
            (col("unrm") * col("pnrm")), 6))
        // recall keeps positively-similar candidates only — also what
        // keeps the ppm arithmetic on nonnegative ints, where Spark's
        // truncating `div` and DuckDB's flooring `//` agree.
        .filter(col("sim") > 0)
        .withColumn("score", expr(
          "(CAST(round(sim * 1000000) AS BIGINT) * 9 + 5) div 10"))
        .select(col("user_id"), col("item"), col("score")),
      "user_id", Seq(col("score").desc, col("item")),
      CANDIDATES_PER_CHANNEL)

    // --- hybrid union: Σ boosted channel scores per (user, item).
    val merged = RelationalOps.hybridUnion(Seq(chanTerm, chanKnn),
      Seq("user_id", "item"), "score")

    // --- rank: serving-snapshot CTR (the user's last ≤10 events) as
    // the model score, exact half-up ppm; recall score tiebreaks.
    // An online-maintained state table slots in unchanged.
    val snap = snapshot.getOrElse {
      val rn = RelationalOps.rowNumber(ev, "user_id",
        Seq(col("ts"), col("event_id")))
      rn
        .withColumn("__mx",
          max(col("rn")).over(Window.partitionBy("user_id")))
        .filter(col("rn") > col("__mx") - SNAPSHOT_FRAME)
        .groupBy(col("user_id"), col("event_type").as("item"))
        .agg(count(lit(1)).as("imp"), sum(col("label")).as("clk"))
        .select(col("user_id"), col("item"),
          expr("CAST((clk * 2000000 + imp) div (2 * imp) AS BIGINT)")
            .as("rank_ppm"))
    }

    // --- respond: top-k per user, deterministic tiebreak.
    val ranked = merged.join(snap, Seq("user_id", "item"), "left")
      .withColumn("rank_ppm", coalesce(col("rank_ppm"), lit(0L)))
    RelationalOps.topKPerGroup(ranked, "user_id",
        Seq(col("rank_ppm").desc, col("score").desc, col("item")),
        RESPONSE_K)
      .select(col("user_id"), col("item"), col("rank_ppm"),
        col("score").as("recall_ppm"))
      .orderBy("user_id", "item")
  }
}

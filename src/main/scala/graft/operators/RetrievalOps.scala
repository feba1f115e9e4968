package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Online-recall retrieval operators (SURVEY §2.6), the relational
  * rewrite of the reference's Elasticsearch queries
  * (online/utils/es_caller.py:17-58):
  *
  *  R1 term recall  — item qualifies if its term array intersects the
  *                    user's term list (`terms` query → arrays_overlap
  *                    semi-join), scored `boost × |overlap|`;
  *  R2 kNN recall   — cosine top-k over item vectors (SimilarityOps);
  *  R3 hybrid union — Σ of boosted channel scores per (user, item)
  *                    (RelationalOps.hybridUnion).
  *
  * Both channels apply the seen-item anti-filter (`must_not terms`,
  * es_caller.py:25-36) BEFORE top-k — filtering during recall, exactly
  * like the reference pushes the filter into the ES query.
  *
  * Scale: users×items term matching explodes both term arrays and joins
  * on the term — a shuffled equi-join proportional to the posting lists
  * (the inverted-index shape), never a cross join. The per-user seen
  * list rides along as an array column (bounded — last-N items), so the
  * anti-filter is a scan-local `array_contains`, no extra shuffle.
  */
object RetrievalOps {

  /** R1: users(userCol, termsCol: array, seenCol: array) ×
    * items(itemCol, termsCol: array) → (user, item, score).
    * Score = boost × |term overlap| (ES-style constant-score terms sum).
    */
  def termRecall(users: DataFrame, items: DataFrame,
                 userCol: String, userTerms: String, seenCol: String,
                 itemCol: String, itemTerms: String,
                 boost: Double, topK: Int): DataFrame = {
    // array_distinct: ES terms queries score SET overlap — duplicate
    // terms in either array must not inflate the score. The seen filter
    // treats a null seen array as "nothing seen" (array_contains(null)
    // is null, and a bare ! would drop every candidate for that user).
    val ut = users.select(col(userCol), col(seenCol),
      explode(array_distinct(col(userTerms))).as("__term"))
    val it = items.select(col(itemCol),
      explode(array_distinct(col(itemTerms))).as("__term"))
    val matched = ut.join(it, "__term")
      .filter(!coalesce(array_contains(col(seenCol), col(itemCol)), lit(false)))
      .groupBy(col(userCol), col(itemCol))
      .agg((count(lit(1)) * boost).as("score"))
    RelationalOps.topKPerGroup(matched, userCol,
      Seq(col("score").desc, col(itemCol)), topK)
  }

  /** R2: kNN recall — cosine of user vector × item vector, seen items
    * filtered, top-k per user. Brute force here (exact); at scale the
    * item side is bucketed (SimilarityOps.annTopK) or LSH-indexed.
    */
  def knnRecall(users: DataFrame, items: DataFrame,
                userCol: String, userVec: String, seenCol: String,
                itemCol: String, itemVec: String,
                boost: Double, topK: Int): DataFrame = {
    graft.plans.GraftExtensions.register(users.sparkSession)
    val u = users.select(col(userCol), col(seenCol),
        col(userVec).cast("array<double>").as("__uv"))
      .withColumn("__un", sqrt(SimilarityOps.dot("__uv", "__uv")))
    val i = items.select(col(itemCol),
        col(itemVec).cast("array<double>").as("__iv"))
      .withColumn("__in", sqrt(SimilarityOps.dot("__iv", "__iv")))
    // zero-norm vectors (untrained/cold embeddings) are excluded up
    // front: cosine is undefined for them, and the bare divide would be
    // null scores (non-ANSI) or a job-aborting DIVIDE_BY_ZERO (ANSI).
    // Null seen arrays mean "nothing seen", not "drop the user".
    val scored = u.filter(col("__un") > 0)
      .crossJoin(broadcast(i.filter(col("__in") > 0)))
      .filter(!coalesce(array_contains(col(seenCol), col(itemCol)), lit(false)))
      .withColumn("score",
        (SimilarityOps.dot("__uv", "__iv") / (col("__un") * col("__in"))) * boost)
      .select(col(userCol), col(itemCol), col("score"))
    RelationalOps.topKPerGroup(scored, userCol,
      Seq(col("score").desc, col(itemCol)), topK)
  }

  /** BM25 document ranking for a term query — the actual scoring
    * function behind the reference's ES `terms` retrieval (the engine's
    * constant-score `termRecall` is the cheap form; this is the
    * full-text-relevance one):
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Relational shape at 100 TB: token explode filtered to the query
    * terms (posting-list scan), one (doc, term) hash aggregation; the
    * per-term df table (|query| rows) and the corpus scalars (N, avgdl)
    * broadcast back — the corpus itself shuffles once on the doc key.
    *
    * Determinism: avgdl is an exact integer-sum divide rounded to 6 dp
    * BEFORE use; per-term contributions round to 10 dp and sum as
    * DECIMAL (term order inside a doc must not change the hash); the
    * final score rounds to 6 dp, with doc id as the total-order
    * tiebreak.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val toks = docs.select(col(idCol),
      explode(split(col(textCol), " ")).as("__tok"))
    val dl = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("__dl"))
    val corpus = dl.agg(count(lit(1)).as("__n"),
      round(sum(col("__dl")).cast("double") / count(lit(1)), 6).as("__avgdl"))
    val tf = toks.filter(col("__tok").isin(terms: _*))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dft = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val contrib = tf
      .join(broadcast(dft), Seq("__tok"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(corpus))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5))))
      .withColumn("__c",
        // (k1 + 1) summed IN the plan, not in Scala: double(1.2)+1.0
        // must be the same bits in every engine running this formula
        round(col("__idf") * col("__tf") * (lit(k1) + lit(1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))),
          10).cast("decimal(28,12)"))
    val scored = contrib.groupBy(col(idCol))
      .agg(round(sum(col("__c")).cast("double"), 6).as("score"))
    scored.orderBy(col("score").desc, col(idCol)).limit(topK)
  }

  /** Item-to-item co-occurrence recall with PMI scoring — the classic
    * "users who engaged with X also engaged with Y" channel that
    * complements model-based recall (the reference's ALS channel).
    *
    *   pmi(a,b) = ln( c_ab · n_users / (c_a · c_b) )
    *
    * Scale contract: pair generation is a per-user self-join, so the
    * per-user item list MUST be bounded — `maxPerUser` keeps the most
    * recent items per user (the standard cap), making pair volume
    * ≤ users · cap² regardless of corpus size. Co-occurrence and margin
    * counts are integer aggregations; PMI derives from them identically
    * in any engine (ln is libm-stable).
    *
    * @param tsCol   recency order for the per-user cap
    * @param minPair drop pairs seen fewer than this many times
    */
  /** Per-user recent-item lists, capped at `maxPerUser` by latest
    * engagement — the bounding step that makes every co-engagement
    * derivation (PMI, item graph, PageRank) ≤ users · cap² pairs
    * regardless of corpus size.
    */
  def recentItems(events: DataFrame, userCol: String, itemCol: String,
                  tsCol: String, maxPerUser: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events.select(col(userCol), col(itemCol), col(tsCol))
      .groupBy(col(userCol), col(itemCol)).agg(max(col(tsCol)).as("__ts"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col(userCol))
        .orderBy(col("__ts").desc, col(itemCol))))
      .filter(col("__rn") <= maxPerUser)
      .select(col(userCol), col(itemCol))
  }

  /** Co-engagement pair counts (item_a < item_b) over capped per-user
    * item lists — the shared edge-builder for i2i PMI and the item
    * graph. One self-equi-join on the user key + one hash aggregation.
    */
  def coEngagementPairs(recent: DataFrame, userCol: String,
                        itemCol: String, minPair: Long): DataFrame =
    recent.select(col(userCol), col(itemCol).as("item_a"))
      .join(recent.select(col(userCol), col(itemCol).as("item_b")),
        Seq(userCol))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPair)

  def i2iPmi(events: DataFrame, userCol: String, itemCol: String,
             tsCol: String, maxPerUser: Int, minPair: Long,
             topK: Int): DataFrame = {
    val recent = recentItems(events, userCol, itemCol, tsCol, maxPerUser)
    val nUsers = recent.agg(countDistinct(col(userCol)).as("__nu"))
    val margin = recent.groupBy(col(itemCol)).agg(count(lit(1)).as("__c"))
    val pairs = coEngagementPairs(recent, userCol, itemCol, minPair)
    val scored = pairs
      .join(broadcast(margin.select(col(itemCol).as("item_a"),
        col("__c").as("__ca"))), "item_a")
      .join(broadcast(margin.select(col(itemCol).as("item_b"),
        col("__c").as("__cb"))), "item_b")
      .crossJoin(broadcast(nUsers))
      .select(col("item_a"), col("item_b"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("__nu")
          / (col("__ca") * col("__cb"))), 6).as("pmi"))
    RelationalOps.topKPerGroup(scored, "item_a",
      Seq(col("pmi").desc, col("item_b")), topK)
  }

  /** Deterministic negative sampling for implicit feedback: for each
    * user, `n` items drawn md5-uniformly from the catalog MINUS the
    * user's seen set. The draw order is a per-(user, item) hash, so the
    * sample is stable under re-runs and re-partitioning — resuming a
    * training job regenerates the same negatives.
    *
    * Scale: the grid STREAMS map-side (broadcast catalog, never
    * materialized), and the per-user selection is a bounded
    * [[graft.functions.TopKAggregator]] hash aggregation — ≤ n
    * candidates per user survive each partition, so nothing ever sorts
    * or shuffles ~|catalog| rows per user (the window form did). The
    * aggregator's (score desc, id asc) contract ordered by the NEGATED
    * hash reproduces the original (hash asc, item asc) draw
    * bit-for-bit: the 32-bit hash is exact in a double.
    *
    * Scale boundary: the top-n-by-pair-hash semantic requires the
    * catalog to be broadcastable (the grid streams |U|·|C| hash
    * evaluations map-side — inherent to a per-user MIN over the item
    * set, see [[negativeSampleRejection]]'s doc for why no plan can
    * avoid it). Faithful to the reference's bounded item universe
    * (ml-1m's 3,883-movie catalog, offline/recall/s2_vector_recall.py);
    * at an unbounded catalog use [[negativeSampleRejection]] (q451),
    * whose cost is |U|·slots regardless of |C|.
    */
  def negativeSample(seen: DataFrame, items: DataFrame, userCol: String,
                     itemCol: String, n: Int): DataFrame = {
    // integral item ids only: the bounded aggregator carries Long ids,
    // and a silent string cast would null the draw.
    val itemType = items.schema(itemCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(itemType),
      s"negativeSample needs an integral $itemCol (got $itemType)")
    val users = seen.select(col(userCol)).distinct()
    // distinct catalog: duplicate item rows would emit duplicate
    // (user, item) negatives AND burn sample slots
    val grid = users.crossJoin(broadcast(items.select(col(itemCol)).distinct()))
      .join(seen.select(col(userCol), col(itemCol)),
        Seq(userCol, itemCol), "left_anti")
      .withColumn("__u", Md5Int(concat_ws("|",
        col(userCol).cast("string"), col(itemCol).cast("string")), 1, 8))
    grid.groupBy(col(userCol))
      .agg(graft.functions.TopKAggregator.topK(n,
        -col("__u").cast("double"), col(itemCol).cast("long")).as("__top"))
      .select(col(userCol), explode(col("__top")).as("__t"))
      .select(col(userCol), col("__t.id").cast(itemType).as(itemCol))
  }

  /** Deterministic negative sampling WITHOUT the broadcastable-catalog
    * assumption — [[negativeSample]]'s 100 TB form (q451): a bounded
    * per-user md5 SLOT draw with hash rejection instead of a per-user
    * minimum over the whole catalog.
    *
    * Why a new semantic rather than a faster plan for the old one:
    * [[negativeSample]]'s "n smallest md5(user, item) over the unseen
    * catalog" is a per-user MIN over the full item set, so ANY exact
    * implementation must evaluate all |U|·|C| pair hashes (md5 cannot
    * be inverted to enumerate its k smallest preimages) — at a
    * non-broadcastable catalog the semantic itself is the scale hole,
    * not the plan. The rejection draw replaces it: `slotFactor·n`
    * slots per user; slot j proposes item id md5(user|j) mod
    * (max id + 1); a slot is REJECTED when it misses the catalog (id
    * gaps), hits a seen item, or repeats an earlier proposal;
    * survivors keep slot order and the first n win. Each user gets ≤ n
    * negatives — the underfill probability decays geometrically in
    * slotFactor (≲ (seen_frac + gap_frac)^(slotFactor·n − n) per user;
    * < 1e-6 at n = 5, slotFactor = 8, half the catalog seen) and an
    * underfilled user is VISIBLE (fewer rows), never silently wrong.
    *
    * Scale: |U|·slotFactor·n generated rows map-side, ONE equi-join on
    * the item id (hash-partitioned — works at any catalog size, no
    * broadcast), one anti-join on (user, item), one min-slot dedupe
    * and the bounded per-user TopK. Nothing anywhere materializes or
    * streams |U|·|C| rows; PlanAuditSpec asserts the executed plan is
    * BNLJ- and cartesian-free. The max-id read is ONE driver-side
    * scalar (the planner-statistic class, like [[SimilarityOps
    * .adaptiveSignBits]]'s count), mirrored by the oracle.
    */
  def negativeSampleRejection(seen: DataFrame, items: DataFrame,
                              userCol: String, itemCol: String, n: Int,
                              slotFactor: Int = 8): DataFrame = {
    val itemType = items.schema(itemCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(itemType),
      s"negativeSampleRejection needs an integral $itemCol (got $itemType)")
    val maxRow = items.agg(max(col(itemCol)).cast("long")).head
    // empty catalog (max over zero rows is NULL): nothing to draw from
    // — emit the empty (user, item) frame instead of dividing by zero
    if (maxRow.isNullAt(0))
      return seen.select(col(userCol), col(itemCol)).limit(0)
    val maxId = maxRow.getLong(0)
    val m = slotFactor * n
    val cand = seen.select(col(userCol)).distinct()
      .select(col(userCol), explode(expr(s"sequence(0, ${m - 1})"))
        .as("__slot"))
      .withColumn("__v", pmod(Md5Int(concat_ws("|",
        col(userCol).cast("string"), col("__slot").cast("string")), 1, 8),
        lit(maxId + 1)))
    // duplicate catalog rows must not duplicate draws (the
    // negativeSample contract): distinct before the id join
    val hits = cand.join(items.select(col(itemCol)).distinct(),
      cand("__v") === col(itemCol).cast("long"))
    val ded = hits
      .join(seen.select(col(userCol), col(itemCol)),
        Seq(userCol, itemCol), "left_anti")
      .groupBy(col(userCol), col(itemCol))
      .agg(min(col("__slot")).as("__slot"))
    ded.groupBy(col(userCol))
      .agg(graft.functions.TopKAggregator.topK(n,
        -col("__slot").cast("double"), col(itemCol).cast("long"))
        .as("__top"))
      .select(col(userCol), explode(col("__top")).as("__t"))
      .select(col(userCol), col("__t.id").cast(itemType).as(itemCol))
  }

  /** R3: hybrid recall — union channels, sum boosted scores, top-k.
    * Ref: es_caller.py:56-58 (term boost 0.1 + vector boost 0.9).
    */
  def hybridRecall(channels: Seq[DataFrame], userCol: String,
                   itemCol: String, topK: Int): DataFrame = {
    val merged = RelationalOps.hybridUnion(
      channels.map(_.select(col(userCol), col(itemCol), col("score"))),
      Seq(userCol, itemCol), "score")
    RelationalOps.topKPerGroup(merged, userCol,
      Seq(col("score").desc, col(itemCol)), topK)
  }

  /** Reciprocal-rank fusion of two per-group rankings: each channel
    * contributes 1/(k + rank); items missing from a channel contribute
    * 0. The score-scale-free alternative to [[hybridRecall]]'s boosted
    * score sum — RRF needs no calibration between channels whose scores
    * live on different scales (BM25 vs cosine), which is why it's the
    * standard hybrid-search merge.
    *
    * Ranks are per group (row_number windows partitioned by the group
    * key — never a global sort), tie-broken by item id; the fused score
    * is ONE fixed-shape expression (coalesce(a,0)+coalesce(b,0)), so
    * the double addition has a deterministic evaluation order in any
    * engine — no aggregation-order nondeterminism.
    *
    * Scale: two window shuffles on the group key + one full-outer
    * equi-join on (group, item) + the bounded top-N window. All
    * hash-partitioned on the same key; at 100 TB the channels arrive
    * already bounded (recall top-k), so per-group state is O(k).
    */
  def rrfFuse(chanA: DataFrame, chanB: DataFrame, groupCol: String,
              itemCol: String, scoreCol: String, k: Int = 60,
              topN: Int = 10): DataFrame = {
    def ranked(df: DataFrame, rankName: String) =
      df.select(col(groupCol), col(itemCol),
        row_number().over(Window.partitionBy(col(groupCol))
          .orderBy(col(scoreCol).desc, col(itemCol))).as(rankName))
    val fused = ranked(chanA, "__ra")
      .join(ranked(chanB, "__rb"), Seq(groupCol, itemCol), "full_outer")
      .select(col(groupCol), col(itemCol),
        round(
          coalesce(lit(1.0) / (lit(k) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("__rb")), lit(0.0)), 6).as("rrf"))
    fused.withColumn("rank", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("rrf").desc, col(itemCol))).cast("long"))
      .filter(col("rank") <= topN)
  }

  /** Time-decayed engagement score with EXACT half-life arithmetic:
    * each event weighs 2^(−⌊age/halflife⌋) — the decay exponent is an
    * integer, so every weight is a dyadic rational (1, 1/2, 1/4, …,
    * down to 2^−`capHalvings`) and the per-key double sum is EXACT and
    * order-independent (all partial sums stay representable: ≤ 2^53
    * significand window for counts < 2^(53−cap)). That makes the score
    * reproducible across engines, partitionings and re-runs WITHOUT any
    * rounding — the property `pow(0.5, age/halflife)` (libm-divergent,
    * order-dependent sum) can never give. The reference epoch is
    * max(ts) over the input, computed in-plan (broadcast scalar).
    * One aggregation; decays merge associatively at any scale.
    */
  def decayedPopularity(events: DataFrame, keyCol: String, tsCol: String,
                        halflifeDays: Int, capHalvings: Int = 20,
                        topN: Int = 100): DataFrame = {
    // cap < 63: shiftleft(1, 63) is Long.MinValue — negative weights.
    // Null timestamps are dropped, not silently scored at the capped
    // weight ((__ref − null) is null and least() skips nulls).
    require(capHalvings >= 0 && capHalvings < 63,
      s"capHalvings must be in [0, 62], got $capHalvings")
    val ref = events.agg(max(unix_micros(col(tsCol))).as("__ref"))
    events.select(col(keyCol), unix_micros(col(tsCol)).as("__tsu"))
      .filter(col("__tsu").isNotNull)
      .crossJoin(broadcast(ref))
      // `div` (integer floor division) — a double `/` then cast would
      // drift from DuckDB's `//` at quotient boundaries.
      .withColumn("__k", least(
        expr(s"(__ref - __tsu) div ${86400000000L * halflifeDays.toLong}"),
        lit(capHalvings.toLong)))
      .withColumn("__w",
        lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(__k AS INT)) AS DOUBLE)"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum("__w").as("decayed_score"))
      .orderBy(col("decayed_score").desc, col(keyCol))
      .limit(topN)
  }

  /** COEC position-bias correction (clicks over expected clicks,
    * Chapelle & Zhang 2009 style): build the position→positive-rate
    * curve from the whole log (position = `posCol` bucketed by 10,
    * clamped to buckets 0–9: off-slate positions ≥100 fall into the
    * deepest bucket, negatives into bucket 0 — never wrapped),
    * then score each segment by observed positives over the Σ of its
    * events' position-curve rates. COEC ≈ 1 means the segment
    * converts exactly as its slate positions predict; above/below is
    * real quality signal with presentation bias divided out — the
    * number a ranker should train on instead of raw CTR.
    *
    * Scale: the curve is a ≤10-row agg broadcast back onto the log;
    * the per-segment reduce is one hash agg. Expected clicks stay in
    * exact integer ppm-sums; the final ratio is an exact half-up
    * integer division in DECIMAL(38,0) (the ppm·count product
    * overflows BIGINT at ~1e13 positives).
    */
  def positionCoec(events: DataFrame, segCol: String, posCol: Column,
                   positive: Column): DataFrame = {
    val base = events.select(col(segCol).as("segment"),
        posCol.cast("long").as("__p"),
        positive.cast("long").as("__y"))
      // CLAMP, never wrap: positions ≥ 100 land in the deepest bucket
      // (9) and negatives in bucket 0 — a mod-100 wrap would alias
      // position 105 into the TOP slate bucket, poisoning the curve
      // with off-slate events that convert like the fold.
      .withColumn("__bucket",
        least(greatest(expr("__p div 10"), lit(0L)), lit(9L)))
      // LAZY localCheckpoint: the curve and the segment reduce both
      // read the bucketed log.
      .localCheckpoint(false)
    val curve = base.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__np"))
      .select(col("__bucket"),
        expr("CAST((__np * 2000000 + __n) div (2 * __n) AS BIGINT)")
          .as("__rate_ppm"))
    base.join(broadcast(curve), Seq("__bucket"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"), sum(col("__y")).as("n_pos"),
        sum(col("__rate_ppm")).as("expected_ppm_sum"))
      .select(col("segment"), col("n_events"), col("n_pos"),
        col("expected_ppm_sum"),
        when(col("expected_ppm_sum") > 0, expr(
          "CAST((CAST(n_pos AS DECIMAL(38,0)) * 1000000 * 2000000 " +
            "+ expected_ppm_sum) div (2 * CAST(expected_ppm_sum " +
            "AS DECIMAL(38,0))) AS BIGINT)")).as("coec_ppm"))
  }
}

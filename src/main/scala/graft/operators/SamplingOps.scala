package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Deterministic sampling and feature-hashing operators for the
  * training-data pipeline.
  *
  * Both are built on md5 slices (engine-portable, reproducible across
  * runs, engines, and partitionings — no RNG, no seed state): the same
  * row always lands in the same sample / bucket, which is what makes
  * incremental re-runs and cross-engine verification possible at
  * 100 TB. Pure column expressions — no shuffle beyond what the caller
  * composes.
  */
object SamplingOps {

  /** Uniform hash of a key into [0, 65536): the first 4 hex chars of
    * md5 of the key's canonical string rendering.
    */
  def hashUnit(key: Column): Column =
    Md5Int(key.cast("string"), 1, 4)

  /** Deterministic stratified sampling: keep a row iff its key hash
    * falls below the row's rate threshold (`rateCol` in [0,1], usually
    * a CASE over the stratum column — e.g. keep all positives, 20% of
    * negatives for label balancing). Selection is per-key stable: the
    * same key survives at rate r no matter how the data is partitioned
    * or how often the job re-runs.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, rateCol: Column): DataFrame =
    df.filter(hashUnit(col(keyCol)) < rateCol * 65536.0)

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each
    * row draws the deterministic uniform u(id) ∈ (0,1] from md5 and
    * scores key = ln(u)/w; the global top-N keys are exactly an
    * N-element weighted sample without replacement (ln keeps the
    * classic u^(1/w) order while avoiding `pow`, whose libm rounding
    * differs across engines — ln and divide reproduce bit-identically).
    * Distributed: the top-N selection is the only global object; Spark
    * executes `ORDER BY ... LIMIT N` as per-partition partial top-N +
    * a driver-side merge of N·partitions candidates — no full sort, no
    * single-partition shuffle of the data. Keys are rounded to 9 dp
    * with the id as total-order tiebreak so the selected SET is
    * engine-stable.
    *
    * @param weightCol positive sampling weight (clamp upstream — a zero
    *                  weight would yield ln(u)/0)
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     n: Int): DataFrame = {
    val u = (Md5Int(col(idCol).cast("string"), 1, 8)
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    df.withColumn("__skey", round(log(u) / col(weightCol), 9))
      .orderBy(col("__skey").desc, col(idCol))
      .limit(n)
      .drop("__skey")
  }

  /** Hashing-trick feature encode: bucket = first 8 hex chars of
    * md5(value), base-16, mod `buckets` — the fixed-width sparse encode
    * for unbounded-cardinality categoricals (no vocabulary build, no
    * extra pass, collision rate 1/buckets).
    */
  def featureHash(value: Column, buckets: Int): Column =
    // cast("string") first: md5 wants binary/string, and numeric ids
    // (the common categorical key) have no implicit cast — also keeps
    // the hash consistent with hashUnit/domainQuota for the same key
    Md5Int(value.cast("string"), 1, 8) % buckets

  /** Deterministic k-fold assignment + per-fold balance audit: fold =
    * [[featureHash]] of the GROUPING key (all rows of a key land in one
    * fold — the leakage-safe grouped CV split), reported with row
    * count, distinct keys, positives, and positive rate per fold so
    * skewed folds are visible before training. One hash aggregation;
    * the assignment is partition- and run-invariant, so folds computed
    * today reproduce next month's backfill exactly.
    */
  def kFoldBalance(df: DataFrame, keyCol: String, labelCol: String,
                   k: Int): DataFrame =
    df.withColumn("__fold", featureHash(col(keyCol), k))
      .groupBy(col("__fold").as("fold"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col(keyCol)).as("n_keys"),
        sum(col(labelCol)).cast("long").as("n_pos"),
        round(sum(col(labelCol)).cast("double") / count(lit(1)), 6)
          .as("pos_rate"))

  /** Per-domain quota: keep at most `quota` rows per `domainCol` value,
    * selected by md5(id) order — the corpus-balancing cap that stops a
    * single crawled domain from dominating a training mixture. The
    * hash order makes the kept set a deterministic uniform sample of
    * each domain (not "whatever sorted first"), stable across re-runs
    * and partitionings.
    *
    * Scale: one hash-partition window on the domain key. A pathological
    * mega-domain makes that one partition hot; since only `quota` rows
    * survive, pre-thin with a TopKAggregator-style bounded selection or
    * a two-level (salted rank → re-rank) pass — the selection semantics
    * are unchanged.
    */
  def domainQuota(df: DataFrame, domainCol: String, idCol: String,
                  quota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quota)
      .drop("__rn")
  }

  /** Deterministic 1-in-`every` systematic sample: rows get a stable
    * pseudo-random total order (md5 [[hashUnit]] of the key, key as
    * tiebreak) and every `every`-th rank starting at `offset` + 1
    * survives. Systematic sampling's guarantee over Bernoulli is the
    * EXACT sample size (⌈n/every⌉ per offset) with per-key stability
    * across reruns — the audit-sample / golden-set construction.
    *
    * The global rank rides [[MetricOps.globalRank]] (range-partitioned
    * histogram cumsum — no single-partition window at any scale); the
    * output keeps the rank as `sample_rank` so a reader can verify the
    * stride.
    */
  def systematicSample(df: DataFrame, keyCol: String, every: Int,
                       offset: Int = 0): DataFrame = {
    require(every > 0 && offset >= 0 && offset < every,
      "need 0 <= offset < every")
    MetricOps.globalRank(
        df.withColumn("__h", hashUnit(col(keyCol)).cast("double")),
        "__h", keyCol)
      .filter((col("r") - 1 - offset) % every === 0)
      .withColumnRenamed("r", "sample_rank")
      .drop("__h")
  }

  /** Neyman (optimal) stratified-sample allocation: given a total
    * budget of `totalN` rows, allocate n_h ∝ N_h·σ_h — strata that are
    * big AND internally variable get more of the budget than
    * proportional allocation would give (the design that minimizes
    * the variance of the stratified mean). Reports both allocations
    * side by side so the caller sees where they diverge.
    *
    * One hash aggregation to per-stratum (N_h, Σv, Σv²) with values
    * quantized to 4 dp (exact decimal moments — the [[ExperimentOps]]
    * discipline), σ_h the population sd snapped to 6 dp, and the
    * allocation shares are double arithmetic over the k-row stratum
    * table. Fractional allocations report at 2 dp — integer rounding
    * is the caller's (half-up boundary behavior differs per engine).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valCol: String,
                       totalN: Long): DataFrame = {
    val strata = df.select(col(stratumCol).as("stratum"),
        round(col(valCol).cast("double"), 4).cast("decimal(28,4)")
          .as("__v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_h"), sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__q"))
      .withColumn("sd_h", round(sqrt(greatest(
        col("__q").cast("double") / col("n_h") -
          (col("__s").cast("double") / col("n_h")) *
          (col("__s").cast("double") / col("n_h")), lit(0.0))), 6))
    val tot = strata.agg(sum(col("n_h")).as("__N"),
      sum(round(col("n_h") * col("sd_h"), 6).cast("decimal(38,6)"))
        .as("__W"))
    strata.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_h"), col("sd_h"),
        round(lit(totalN.toDouble) * col("n_h") / col("__N"), 2)
          .as("prop_alloc"),
        when(col("__W") > 0,
          round(lit(totalN.toDouble) * col("n_h") * col("sd_h") /
            col("__W").cast("double"), 2)).as("neyman_alloc"))
  }

  /** DSIR-style importance weight per document (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * each document by the AVERAGE log-likelihood ratio of its hashed
    * bigram features under a target-domain bag-of-bigrams model vs the
    * raw-corpus model, add-one smoothed over the hashed vocabulary:
    * iw(d) = (1/|d|) Σ_b c_db · ln[(ct_b+1)(R+B) / (cr_b+1)(T+B)].
    * Selecting on the weight (e.g. [[MixtureOps.quantileGate]] or
    * [[weightedSample]] downstream) IS importance resampling — this op
    * produces the weights. Documents with fewer than two tokens carry
    * no bigram evidence and are dropped.
    *
    * Scale: the corpus shuffles ONCE, as (doc, bucket) bigram counts —
    * a lazy localCheckpoint cuts the lineage there, so the model
    * histogram, its total, and the final per-doc join all re-read the
    * materialized counts instead of re-running the corpus scan.
    * Both model histograms live on the fixed `buckets`-row grid (the
    * hashing trick caps vocabulary state regardless of corpus size),
    * the log-ratio table BROADCASTS back onto the per-doc counts, and
    * the per-doc reduce is one hash agg. Determinism: buckets come
    * from [[featureHash]] (md5 — engine/partition-invariant), each
    * c·lr term snaps to 12 dp and accumulates as DECIMAL(38,12), so
    * the weights reproduce across engines, re-runs, and local[N].
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetCol: Column, buckets: Int = 256): DataFrame = {
    val bg = bigramBuckets(df, textCol, targetCol, buckets, Seq(idCol))
    val db = bg.groupBy(col(idCol), col("__tgt"), col("__k"))
      .agg(count(lit(1)).as("__c"))
      // LAZY localCheckpoint (house pattern, see DedupOps): three
      // subplans read db — the bucket histogram, the histogram total
      // inside logRatio, and the final per-doc join. Without the cut
      // the full corpus tokenize+shuffle would run once per subplan.
      .localCheckpoint(false)
    val hist = db.groupBy(col("__k")).agg(
      sum(when(col("__tgt") === 1, col("__c")).otherwise(lit(0L))).as("__ct"),
      sum(col("__c")).as("__cr"))
      // ≤ `buckets` rows, read twice inside logRatio (total + join).
      .localCheckpoint(false)
    val lr = logRatio(hist, buckets)
    db.join(broadcast(lr), Seq("__k"))
      .withColumn("__term",
        round(col("__c") * col("__lr"), 12).cast("decimal(38,12)"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_bigrams"), sum(col("__term")).as("__s"))
      // iw is a rounded difference metric — pin zero to +0.0 (the
      // −0.0 hash class; see MetricOps.normZero)
      .withColumn("iw", MetricOps.normZero(
        round(col("__s").cast("double") / col("n_bigrams"), 6)))
      .select(col(idCol), col("n_bigrams"), col("iw"))
  }

  /** The frozen DSIR model as an exportable table: one (bucket, lr)
    * row per observed hash bucket (≤ `buckets` rows by construction)
    * plus a sentinel bucket = −1 row carrying the add-one-smoothed
    * EMPTY-bucket ratio ln((R+B)/(T+B)) — the fallback a live scorer
    * applies to buckets the training corpus never produced. Identical
    * arithmetic to [[importanceWeights]]' internal model stage (shared
    * [[logRatio]]); collect it driver-side to fold into a literal map
    * for map-only stream scoring
    * ([[graft.streaming.StreamingScore.importanceScore]]).
    */
  def importanceModel(df: DataFrame, textCol: String, targetCol: Column,
                      buckets: Int = 256): DataFrame = {
    val bg = bigramBuckets(df, textCol, targetCol, buckets, Nil)
    val hist = bg.groupBy(col("__k")).agg(
      sum(when(col("__tgt") === 1, lit(1L)).otherwise(lit(0L))).as("__ct"),
      count(lit(1)).as("__cr"))
      // LAZY localCheckpoint: the corpus-wide bigram scan collapses to
      // this ≤ `buckets`-row table, which three subplans read (model
      // total, sentinel row, logRatio). Cut here so the corpus
      // tokenizes ONCE.
      .localCheckpoint(false)
    val tot = hist.agg(sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    val default = tot.select(lit(-1L).as("__k"), round(log(
      (col("__tr") + buckets).cast("double") /
        (col("__tt") + buckets).cast("double")), 12).as("__lr"))
    logRatio(hist, buckets).unionByName(default)
      .select(col("__k").as("bucket"), col("__lr").as("lr"))
  }

  /** (carry…, __tgt, __k) bigram-occurrence table: the shared front of
    * the DSIR family — whitespace bigrams hashed by [[featureHash]].
    */
  private def bigramBuckets(df: DataFrame, textCol: String,
                            targetCol: Column, buckets: Int,
                            carry: Seq[String]): DataFrame =
    TextOps.windows(df.withColumn("__tgt", targetCol.cast("int"))
        .withColumn("__t", split(col(textCol), " "))
        .filter(size(col("__t")) >= 2), lit(0), size(col("__t")) - 2) { i =>
        val t = col("__t")
        carry.map(col) ++ Seq(col("__tgt"),
          concat(t.getItem(i), lit(" "), t.getItem(i + 1)).as("__b"))
      }
      .withColumn("__k", featureHash(col("__b"), buckets))

  /** Add-one-smoothed log-likelihood ratio per bucket, identical
    * double-arithmetic order to the oracle:
    * ln[(ct+1)·(R+B) / ((cr+1)·(T+B))], snapped to 12 dp.
    */
  private def logRatio(hist: DataFrame, buckets: Int): DataFrame = {
    val tot = hist.agg(sum(col("__ct")).as("__tt"), sum(col("__cr")).as("__tr"))
    hist.crossJoin(broadcast(tot))
      .withColumn("__lr", round(log(
        (col("__ct") + 1).cast("double") * (col("__tr") + buckets) /
          ((col("__cr") + 1).cast("double") * (col("__tt") + buckets))), 12))
      .select(col("__k"), col("__lr"))
  }
}

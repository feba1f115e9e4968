package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Data-mixture construction for training corpora: given target source
  * proportions, compute the largest feasible sample and draw it
  * deterministically.
  *
  * The reference's pipelines fix their train/test mix by explicit
  * row-count splits (s1_data_split.py); at pre-training scale the same
  * need appears as "30% web, 20% code, …" source weighting. The whole
  * computation is relational:
  *
  *  1. per-source counts n_s — one hash aggregation;
  *  2. the largest total T such that every source can supply its share:
  *     T = min_s(n_s / p_s) — an aggregate over |sources| rows;
  *  3. per-source keep rate p_s·T / n_s — broadcast back (|sources|
  *     rows, so the join with the corpus is a broadcast hash join, no
  *     shuffle of the data);
  *  4. membership: keep row iff u(id) < rate, where u(id) is the first
  *     8 hex chars of md5(id) scaled to [0,1) — deterministic,
  *     engine-portable, and stable under re-partitioning (no RNG, no
  *     row order dependence).
  *
  * Rates are rounded to 6 dp BEFORE the membership guard so the same
  * rows are selected in any IEEE-double engine.
  */
object MixtureOps {

  /** The deterministic membership draw shared by every sampler here:
    * first 8 hex chars of md5(id) scaled to [0,1). Stable under
    * re-runs, re-partitioning, and engines (the DuckDB twin is
    * `('0x' || substr(md5(id::VARCHAR), 1, 8))::BIGINT / 2^32`).
    */
  def membership(idCol: String): org.apache.spark.sql.Column =
    Md5Int(col(idCol).cast("string"), 1, 8)
      .cast("double") / lit(4294967296.0)

  /** Per-source sampling summary: n_docs, keep rate, kept count, and a
    * kept-id checksum (order-independent). Sources absent from
    * `weights` are excluded from the mixture.
    */
  def mixtureSample(df: DataFrame, srcCol: String, idCol: String,
                    weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "no mixture weights given")
    val p = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (s, w)) => when(col(srcCol) === s, lit(w)).otherwise(acc)
    }
    val weighted = df.withColumn("__p", p).filter(col("__p").isNotNull)
    val counts = weighted.groupBy(col(srcCol), col("__p"))
      .agg(count(lit(1)).as("n_docs"))
    val feasible = counts.agg(
      min(col("n_docs").cast("double") / col("__p")).as("__t"))
    val rates = counts.crossJoin(broadcast(feasible))
      .select(col(srcCol), col("n_docs"),
        round(col("__p") * col("__t") / col("n_docs"), 6).as("rate"))
    val u = membership(idCol)
    val kept = weighted.join(broadcast(rates.select(col(srcCol), col("rate"))),
        Seq(srcCol))
      .filter(u < col("rate"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_keep"),
        sum(col(idCol)).cast("long").as("id_sum"))
    rates.join(kept, Seq(srcCol), "left")
      .select(col(srcCol), col("n_docs"), col("rate"),
        coalesce(col("n_keep"), lit(0L)).as("n_keep"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
  }

  /** Per-group quantile quality gate (the CCNet-style prune): keep rows
    * whose score is at or above their OWN group's `q`-quantile, so a
    * strict source never starves a permissive one. One tiny per-group
    * aggregation (exact interpolated percentile), broadcast back onto
    * the corpus — the data itself never shuffles. Thresholds are
    * rounded to 6 dp BEFORE the guard (cross-engine reproducibility).
    */
  def quantileGate(df: DataFrame, grpCol: String, idCol: String,
                   scoreCol: String, q: Double): DataFrame = {
    val thr = df.groupBy(col(grpCol)).agg(
      count(lit(1)).as("n_docs"),
      round(expr(s"percentile($scoreCol, $q)"), 6).as("thr"))
    val kept = df.join(broadcast(thr.select(col(grpCol), col("thr"))),
        Seq(grpCol))
      .filter(col(scoreCol) >= col("thr"))
      .groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_keep"),
        sum(col(idCol)).cast("long").as("id_sum"))
    thr.join(kept, Seq(grpCol), "left")
      .select(col(grpCol), col("n_docs"), col("thr"),
        coalesce(col("n_keep"), lit(0L)).as("n_keep"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
  }

  /** Epoch-capped mixture allocation — the LLaMA-style budget split:
    * per-source token counts Tₛ get temperature weights Tₛ^α
    * (α = 0.5 up-weights small sources), a total budget of
    * B = (12·ΣT) div 10 tokens (1.2 epochs corpus-wide) is split
    * proportionally to the weights, and no source may be up-sampled
    * past `epochs` passes over its own data (alloc ≤ epochs·Tₛ — the
    * repetition cap that keeps rare domains from memorization-grade
    * duplication). Budget freed by capped sources is redistributed in
    * ONE round, proportionally to the uncapped sources' weights, and
    * re-capped — the documented fixed-point approximation (full
    * water-filling iterates to convergence; one round is within a cap
    * of it and stays a closed-form plan).
    *
    * Scale: everything after the one per-source hash agg happens on a
    * |sources|-row table (eager-checkpointed; scalars broadcast). The
    * weight snaps to 6 dp pre-sum (DECIMAL(28,6) normalizers), the
    * allocation is pinned at whole "cents" (round(x·100)), and
    * epochs_used is an exact half-up division — engine-identical.
    */
  def epochCappedMix(df: DataFrame, srcCol: String, textCol: String,
                     epochs: Double = 1.25,
                     alpha: Double = 0.5): DataFrame = {
    val t = df.select(col(srcCol).as("source"),
        ceil(length(col(textCol)) / 4.0).cast("long").as("__tok"))
      .groupBy("source").agg(sum(col("__tok")).as("tokens"))
      .localCheckpoint(true) // the total and the rows both read it
    val tot = t.agg(sum(col("tokens")).as("__tt"))
    val base = t.crossJoin(broadcast(tot))
      .withColumn("__budget", expr("CAST((12 * __tt) div 10 AS LONG)"))
      .withColumn("__w",
        round(pow(col("tokens").cast("double"), lit(alpha)), 6)
          .cast("decimal(28,6)"))
      .localCheckpoint(true) // weight normalizer + rows
    val sw = base.agg(sum(col("__w")).as("__sw"))
    val g1 = base.crossJoin(broadcast(sw))
      .withColumn("__want", col("__budget").cast("double") *
        (col("__w").cast("double") / col("__sw").cast("double")))
      .withColumn("__cap", lit(epochs) * col("tokens").cast("double"))
      .withColumn("__capped", col("__want") > col("__cap"))
      .withColumn("__g1",
        when(col("__capped"), col("__cap")).otherwise(col("__want")))
      .localCheckpoint(true) // leftover/uncapped sums + rows
    val agg2 = g1.agg(
      sum(round(col("__g1"), 6).cast("decimal(38,6)")).as("__sg"),
      sum(when(!col("__capped"), col("__w"))
        .otherwise(lit(0).cast("decimal(28,6)"))).as("__swu"))
    g1.crossJoin(broadcast(agg2))
      .withColumn("__l", greatest(
        col("__budget").cast("double") - col("__sg").cast("double"),
        lit(0.0)))
      .withColumn("__fin", when(col("__capped"), col("__cap"))
        .otherwise(when(col("__swu") > 0, least(col("__cap"),
          col("__want") + (col("__w").cast("double") /
            col("__swu").cast("double")) * col("__l")))
          .otherwise(col("__g1"))))
      .withColumn("__cents", round(col("__fin") * 100)
        .cast("decimal(38,0)"))
      .select(col("source"), col("tokens"),
        col("__w").cast("double").as("weight"),
        (col("__cents").cast("double") / 100).as("alloc_tokens"),
        expr("CAST((__cents * 200 + tokens) div (2 * tokens) AS DOUBLE)" +
          " / 10000").as("epochs_used"),
        col("__capped").cast("long").as("capped"))
  }

  /** Post-dedup mixture correction: the raw corpus sets the TARGET mix
    * (temperature weights w_s = T_s^α over raw token counts), but
    * dedup removes tokens unevenly — a mirror-heavy source loses most
    * of its mass — so sampling the SURVIVORS at the raw proportions is
    * wrong. This computes, per source, the survivor token count D_s
    * (exact keep-first dedup), the largest total budget B = min_s
    * (D_s/w_s) every source can still supply, and the corrective
    * sampling rate w_s·B/D_s over the survivors. The post-dedup twin
    * of [[mixtureSample]]'s row-count logic, in token units.
    *
    * Scale: one (source, text-hash) aggregation for survivors, then
    * |sources|-row arithmetic (checkpointed; scalar broadcast). The
    * weight and rate snap to 6 dp (DECIMAL normalizers), alloc pins at
    * whole tokens — engine-identical.
    */
  def mixtureCorrection(df: DataFrame, srcCol: String,
                        textCol: String,
                        alpha: Double = 0.5): DataFrame = {
    // keep-first exact dedup per (source, text-hash): duplicates share
    // the text, hence the token count — min(tok) IS the survivor's.
    // (within-source dedup; the cross-source view is dupFlowMatrix)
    val t = df.select(col(srcCol).as("source"),
        md5(col(textCol)).as("__h"),
        size(split(col(textCol), " ")).cast("long").as("__tok"))
      .groupBy(col("source"), col("__h"))
      .agg(count(lit(1)).as("__c"), min(col("__tok")).as("__tg"))
      .groupBy(col("source"))
      .agg(sum(col("__tg") * col("__c")).as("tokens_raw"),
        sum(col("__tg")).as("tokens_dedup"))
      .withColumn("weight",
        round(pow(col("tokens_raw").cast("double"), lit(alpha)), 6)
          .cast("decimal(28,6)"))
      .localCheckpoint(true) // the feasibility scalar + rows read it
    val feasible = t.agg(min(col("tokens_dedup").cast("double") /
      col("weight").cast("double")).as("__b"))
    t.crossJoin(broadcast(feasible))
      .select(col("source"), col("tokens_raw"), col("tokens_dedup"),
        col("weight").cast("double").as("weight"),
        round(col("weight").cast("double") * col("__b") /
          col("tokens_dedup"), 6).as("rate"),
        floor(col("weight").cast("double") * col("__b"))
          .cast("long").as("alloc_tokens"))
  }

  /** Output-shard plan for writing a curated corpus: documents are
    * ranked by token count (descending, doc-id tie-break) and dealt to
    * `nShards` shards in BOUSTROPHEDON (snake) order — shard 0..S−1
    * left-to-right, then S−1..0, … — the classic LPT-style greedy that
    * keeps every shard within one max-document of perfectly even when
    * sizes are sorted. The report is the shard manifest a 100 TB write
    * job is planned from: per shard the doc count, token total, and
    * exact ppm share of the corpus.
    *
    * Scale: the global order comes from [[MetricOps.globalRank]] — a
    * bounded token-count histogram broadcast back, NEVER a
    * single-partition window — then one hash aggregation per shard.
    * share_ppm is an exact half-up integer division.
    */
  def shardPlan(df: DataFrame, idCol: String, textCol: String,
                nShards: Int): DataFrame = {
    val toks = df.select(col(idCol),
      ceil(length(col(textCol)) / 4.0).cast("long").as("tokens"))
      .withColumn("__neg", -col("tokens"))
    val ranked = MetricOps.globalRank(toks, "__neg", idCol)
      .withColumn("__idx", col("r") - 1)
      .withColumn("__pos", col("__idx") % nShards)
      .withColumn("shard",
        when(expr(s"__idx div $nShards") % 2 === 0, col("__pos"))
          .otherwise(lit(nShards - 1) - col("__pos"))
          .cast("int"))
    val agg = ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"))
    val tot = agg.agg(sum(col("tokens")).as("__tt"))
    agg.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("tokens"),
        expr("CAST((tokens * 2000000 + __tt) div (2 * __tt) AS BIGINT)")
          .as("share_ppm"))
  }

  /** Training-order interleave audit: documents are dealt to
    * `nShards` shards by id hash and ordered inside each shard by an
    * independent hash (the deterministic global shuffle a 100 TB
    * write actually performs), then each shard's SOURCE sequence is
    * scored for clumping — observed same-source runs against the
    * expected run count 1 + (n−1)(1 − Σ(c_s/n)²) of a random
    * interleave (the k-category Wald–Wolfowitz mean). A ratio well
    * under 1, or a max run of hundreds, means consecutive batches
    * train on one source — the gradient-staleness failure a shuffled
    * mixture is supposed to prevent.
    *
    * Scale: the shard is the parallel unit — every window is keyed by
    * it (never a global order), the run scan is one lag pass, and the
    * run lengths re-aggregate from the change-flag cumulative sum.
    * The hashed pass is checkpointed once for its three consumers.
    */
  def interleaveAudit(df: DataFrame, idCol: String, srcCol: String,
                      nShards: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("__id"),
        col(srcCol).as("__s"))
      .withColumn("__shard",
        (Md5Int(col("__id").cast("string"), 1, 8) % nShards).cast("int"))
      .withColumn("__ord",
        md5(concat(lit("o:"), col("__id").cast("string"))))
      // LAZY localCheckpoint: the run scan and the per-(shard, source)
      // census both read the hashed pass.
      .localCheckpoint(false)
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__ord"), col("__id"))
    val runs = base
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(w).isNull ||
          lag(col("__s"), 1).over(w) =!= col("__s"), 1L)
          .otherwise(0L))
      .withColumn("__rid", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val byRun = runs.groupBy(col("__shard"), col("__rid"))
      .agg(count(lit(1)).as("__rl"))
      .groupBy(col("__shard"))
      .agg(sum(lit(1L)).as("runs"), max(col("__rl")).as("max_run"))
    val census = base.groupBy(col("__shard"), col("__s"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__shard"))
      .agg(sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("__c") * col("__c")).as("__c2"))
    census.join(byRun, Seq("__shard"))
      .withColumn("__n", col("n_docs").cast("double"))
      .withColumn("expected_runs", round(lit(1.0) +
        (col("__n") - 1) * (col("__n") * col("__n") -
          col("__c2")) / (col("__n") * col("__n")), 6))
      .select(col("__shard").cast("int").as("shard"), col("n_docs"),
        col("n_sources"), col("runs"), col("max_run"),
        col("expected_runs"),
        when(col("expected_runs") > 0,
          round(col("runs").cast("double") / col("expected_runs"), 6))
          .as("interleave_ratio"))
  }

  /** Per-shard token-distribution homogeneity: Jensen–Shannon
    * divergence (nats) between each hash-shard's unigram distribution
    * and the full corpus — the write-validation twin of the interleave
    * audit (that one checks ORDER inside a shard; this one checks that
    * every shard CONTAINS the same corpus). A healthy hash shard sits
    * within sampling noise of 0; a shard writer that accidentally
    * routes by source or time shows up as an outlier row.
    *
    * Scale: one token explode into a (shard, token) hash aggregation
    * (checkpointed once), corpus marginals by re-aggregation, and the
    * JS sum runs over PRESENT (shard, token) pairs only — the entire
    * absent-token tail collapses to the closed form (ln2/2)·(N−C_s)/N
    * where C_s is the corpus mass of the shard's present tokens, so no
    * vocab×shards grid is ever materialized. Terms snap to 12 dp and
    * sum as DECIMAL(38,12).
    */
  def shardJsAudit(df: DataFrame, idCol: String, textCol: String,
                   nShards: Int = 8): DataFrame =
    jsVsCorpus(df.select(
      (Md5Int(col(idCol).cast("string"), 1, 8) % nShards).cast("int").as("shard"),
      explode(split(col(textCol), " ")).as("__tok")), "shard")

  /** Per-SOURCE token-distribution divergence vs the corpus: the same
    * JS machinery as [[shardJsAudit]], keyed by the source column —
    * the mixture diagnostic that says WHICH source the corpus
    * distribution is being pulled away from (or which source is an
    * outlier register needing its own quality thresholds). Hash
    * shards should sit at 0; sources are EXPECTED to diverge — the
    * ranking, not the level, is the signal.
    */
  def sourceJsAudit(df: DataFrame, srcCol: String,
                    textCol: String): DataFrame =
    jsVsCorpus(df.select(col(srcCol).as("source"),
      explode(split(col(textCol), " ")).as("__tok")), "source")

  /** Shared JS-vs-corpus core over a (group, token) occurrence frame:
    * one (group, token) hash aggregation (checkpointed once for its
    * three consumers), corpus marginals by re-aggregation, terms over
    * PRESENT pairs only — the absent-token tail collapses to the
    * closed form (ln2/2)·(N−C_g)/N, so no vocab×groups grid ever
    * materializes. Terms snap to 12 dp and sum as DECIMAL(38,12).
    */
  private def jsVsCorpus(units: DataFrame, grpCol: String): DataFrame = {
    val st = units.groupBy(col(grpCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      // LAZY localCheckpoint: corpus marginals, group totals, and the
      // JS join all read the (group, token) counts.
      .localCheckpoint(false)
    val ct = st.groupBy(col("__tok")).agg(sum(col("__c")).as("__ct"))
    val ns = st.groupBy(col(grpCol)).agg(sum(col("__c")).as("__ns"))
    val nn = ct.agg(sum(col("__ct")).as("__tn"))
    st.join(ct, Seq("__tok"))
      .join(broadcast(ns), Seq(grpCol))
      .crossJoin(broadcast(nn))
      .withColumn("__p", col("__c").cast("double") / col("__ns"))
      .withColumn("__q", col("__ct").cast("double") / col("__tn"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .withColumn("__term", round(
        (col("__p") * log(col("__p") / col("__m")) +
          col("__q") * log(col("__q") / col("__m"))) / 2, 12)
        .cast("decimal(38,12)"))
      .groupBy(col(grpCol))
      .agg(max(col("__ns")).as("n_tokens"), sum(col("__term")).as("__s"),
        sum(col("__ct")).as("__cp"), max(col("__tn")).as("__nn2"))
      .withColumn("__corr", round(
        (col("__nn2") - col("__cp")).cast("double") / col("__nn2") *
          log(lit(2.0)) / 2, 12).cast("decimal(38,12)"))
      .select(col(grpCol), col("n_tokens"),
        MetricOps.normZero(round(
          (col("__s") + col("__corr")).cast("double"), 6)).as("js_nats"))
  }

  /** Crawl-to-crawl corpus delta datasheet: per source, the documents
    * and tokens ADDED (present only in the new snapshot), REMOVED
    * (only in the old), and COMMON — the first table a recurring
    * 100 TB ingestion run reads before reprocessing anything (a source
    * whose delta is ~0 can skip its whole downstream pipeline; one
    * that churns 50% of its tokens cannot reuse yesterday's dedup
    * state).
    *
    * Scale: one full-outer equi-join on the document id (id-keyed
    * shuffle, the natural partitioning of both snapshots), flags are
    * row-local, and the report is one hash aggregation per source.
    */
  def corpusDelta(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                  srcCol: String, textCol: String): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol).as("__id"), col(srcCol).as(s"__s$tag"),
        size(split(col(textCol), " ")).cast("long").as(s"__n$tag"))
    side(oldDf, "o").join(side(newDf, "n"), Seq("__id"), "full_outer")
      .withColumn("source", coalesce(col("__sn"), col("__so")))
      .groupBy(col("source"))
      .agg(
        sum(when(col("__so").isNull, 1L).otherwise(0L)).as("docs_added"),
        sum(when(col("__sn").isNull, 1L).otherwise(0L))
          .as("docs_removed"),
        sum(when(col("__so").isNotNull && col("__sn").isNotNull, 1L)
          .otherwise(0L)).as("docs_common"),
        sum(when(col("__so").isNull, col("__nn")).otherwise(0L))
          .as("tokens_added"),
        sum(when(col("__sn").isNull, col("__no")).otherwise(0L))
          .as("tokens_removed"))
  }

  /** Salted membership draw: [[membership]] keyed by md5(salt|id) —
    * the second (third, …) independent deterministic sampler over the
    * same id space. DuckDB twin:
    * `('0x' || substr(md5(salt || '|' || id::VARCHAR), 1, 8))::BIGINT
    * / 2^32`.
    */
  def saltedMembership(salt: String,
                       idCol: String): org.apache.spark.sql.Column =
    Md5Int(concat_ws("|", lit(salt),
      col(idCol).cast("string")), 1, 8)
      .cast("double") / lit(4294967296.0)

  /** Sampler-independence audit: two salted deterministic samplers
    * ('a' and 'b') over the same ids, swept across `ratesPct`
    * keep-rates. Per rate: each sampler's kept count, the joint count,
    * and the observed vs expected (n_a·n_b/N²) joint rate in exact
    * half-up ppm. If md5-salted draws were correlated, every
    * downstream "independent" holdout built this way would leak —
    * this is the table that proves they are not (obs ≈ exp).
    *
    * Scale: both draws are row-local; the sweep is a constant-array
    * explode; ONE hash agg produces the whole table. Expected-joint
    * arithmetic runs in DECIMAL(38,0) — n_a·n_b·2e6 overflows BIGINT
    * already at ~10⁹ kept rows, which 100 TB reaches trivially.
    */
  def sampleOverlap(df: DataFrame, idCol: String,
                    ratesPct: Seq[Int] = Seq(1, 5, 10, 25)): DataFrame =
    df.select(saltedMembership("a", idCol).as("__ma"),
        saltedMembership("b", idCol).as("__mb"))
      .select(col("__ma"), col("__mb"),
        explode(typedLit(ratesPct.map(_.toLong))).as("rate_pct"))
      .groupBy(col("rate_pct"))
      .agg(count(lit(1)).as("__N"),
        sum((col("__ma") < col("rate_pct") / 100.0).cast("long"))
          .as("n_a"),
        sum((col("__mb") < col("rate_pct") / 100.0).cast("long"))
          .as("n_b"),
        sum((col("__ma") < col("rate_pct") / 100.0 &&
          col("__mb") < col("rate_pct") / 100.0).cast("long"))
          .as("n_both"))
      .select(col("rate_pct"), col("n_a"), col("n_b"), col("n_both"),
        expr("CAST((n_both * 2000000 + __N) div (2 * __N) AS BIGINT)")
          .as("obs_joint_ppm"),
        expr("CAST((CAST(n_a AS DECIMAL(38,0)) * n_b * 2000000 + " +
          "CAST(__N AS DECIMAL(38,0)) * __N) div " +
          "(2 * CAST(__N AS DECIMAL(38,0)) * __N) AS BIGINT)")
          .as("exp_joint_ppm"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Metric + skew-handling operators.
  *
  * A9 distributed ROC-AUC: the rank-formula AUC
  * (Σ rank⁺ − P(P+1)/2) / (P·N) needs a GLOBAL rank, but a global
  * `row_number()` window is a single-partition bottleneck. Here the
  * rank decomposes into
  *   rank(x) = (# rows with smaller score)  [broadcast join on the
  *             tiny per-score histogram]
  *           + (row_number within this score's partition, tie-broken
  *             by id)  [a window partitioned BY SCORE — fully parallel]
  * which is exactly the tie-broken global rank, with no single-reducer
  * stage. The per-score histogram is |distinct scores| rows — the only
  * "global" object, and it broadcasts.
  */
object MetricOps {

  /** Pin the sign of zero to +0.0 — a no-op for every nonzero value.
    * A rounded DIFFERENCE (slope, delta, WOE/IV term) that lands on
    * zero is -0.0 under a sign-preserving FP round (DuckDB) but +0.0
    * under BigDecimal HALF_UP (Spark); the driver's hash is bit-level
    * and distinguishes them (the r6 q210 red row). Apply to any
    * rounded output that can be a rounded difference, and mirror with
    * `+ 0.0` in the oracle SQL.
    */
  private[operators] def normZero(c: Column): Column =
    when(c === 0.0, lit(0.0)).otherwise(c)

  /** Fidelity summary of an estimate against its exact value, per
    * `keyCol` (cast to long, output as `keyName`): n_pairs, the mean
    * absolute error `mae` and the signed mean error `bias`, both at
    * 6 dp. Per-row error terms snap to 12 dp and sum as DECIMAL(38,12),
    * so the means reproduce across engines and partitionings; `bias`
    * is [[normZero]]'d.
    */
  private[operators] def fidelitySummary(df: DataFrame, keyCol: String,
                                         keyName: String, est: Column,
                                         exact: Column): DataFrame =
    df.withColumn("__err", round(est - exact, 12).cast("decimal(38,12)"))
      .withColumn("__abs", round(abs(est - exact), 12).cast("decimal(38,12)"))
      .groupBy(col(keyCol).cast("long").as(keyName))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__abs")).as("__sa"),
        sum(col("__err")).as("__se"))
      .select(col(keyName), col("n_pairs"),
        round(col("__sa").cast("double") / col("n_pairs"), 6).as("mae"),
        normZero(round(col("__se").cast("double") / col("n_pairs"), 6))
          .as("bias"))

  /** Global tie-broken rank per row, distributed (see object doc).
    * Output adds `r` = 1-based rank by (score, tiebreak).
    *
    * The score is QUANTIZED to 6 dp before the histogram: without it, a
    * continuous score (raw model probabilities) makes the "tiny
    * per-score histogram" n rows — a single-partition window over the
    * whole dataset, the exact bottleneck this decomposition exists to
    * avoid. 6 dp bounds the histogram at ~10⁶ rows (broadcastable
    * forever) and is affine-consistent with the 6 dp the AUC itself
    * rounds to; integer and already-quantized scores pass through
    * bit-unchanged. Rows that tie only after quantization are ordered
    * by `tieCol` — the same deterministic tie-broken-rank semantics.
    */
  def globalRank(df: DataFrame, scoreCol: String, tieCol: String): DataFrame = {
    // Null scores: rank LAST (ANSI ORDER BY default, matching the
    // DuckDB oracle), and join null-safely — a bare equi-join would
    // silently drop null-score rows from the metric.
    val q = df.withColumn("__qs", round(col(scoreCol).cast("double"), 6))
    val hist = q.groupBy(col("__qs")).agg(count(lit(1)).as("__n"))
    val below = rangeCumSum(hist, "__qs", Seq("__n"))
      .select(col("__qs").as("__score"),
        (col("__cum___n") - col("__n")).as("__below"))
    val within = Window.partitionBy(col("__qs")).orderBy(col(tieCol))
    q.join(broadcast(below), col("__qs") <=> col("__score"))
      .withColumn("r", col("__below") + row_number().over(within))
      .drop("__below", "__score", "__qs")
  }

  /** Cumulative (inclusive) sums of `valCols` over `df` ordered by
    * `orderCol` asc-nulls-last, WITHOUT a global single-partition
    * window: range-partition on the order column (order-preserving),
    * cumulate within each range partition, and add the totals of all
    * earlier partitions via a broadcast triangular self-join on the
    * partition id — |cluster partitions|² pairs, bounded by config,
    * never by data. The result is independent of where the range
    * boundaries land.
    *
    * localCheckpoint PINS the partition ids: __pid feeds both the
    * per-partition cumsum and the partition-total join, and without
    * materialization those are two separate exchanges whose sampled
    * range boundaries (and thus pids) are only identical while exchange
    * reuse happens to dedup them — a silent-wrong-ranks hazard, not a
    * perf choice. Input is expected to be a pre-aggregated histogram
    * (the only "global" object — bounded, e.g. ≤ ~1e6 quantized
    * scores). Adds `__cum_<col>` per value column; broadcastable.
    */
  private[operators] def rangeCumSum(df: DataFrame, orderCol: String,
                                     valCols: Seq[String]): DataFrame = {
    val parts = df.repartitionByRange(col(orderCol).asc_nulls_last)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col(orderCol).asc_nulls_last)
    val withCum = valCols.foldLeft(parts)((d, c) =>
      d.withColumn(s"__in_$c", sum(col(c)).over(w)))
    val ptot = parts.groupBy(col("__pid"))
      .agg(sum(col(valCols.head)).as(s"__pn_${valCols.head}"),
        valCols.tail.map(c => sum(col(c)).as(s"__pn_$c")): _*)
    val pbelow = ptot.as("pa")
      .join(broadcast(ptot.as("pb")), col("pb.__pid") < col("pa.__pid"), "left")
      .groupBy(col("pa.__pid").as("__pid"))
      .agg(coalesce(sum(col(s"pb.__pn_${valCols.head}")), lit(0))
          .as(s"__pb_${valCols.head}"),
        valCols.tail.map(c =>
          coalesce(sum(col(s"pb.__pn_$c")), lit(0)).as(s"__pb_$c")): _*)
    val joined = withCum.join(broadcast(pbelow), "__pid")
    valCols.foldLeft(joined)((d, c) =>
        d.withColumn(s"__cum_$c", col(s"__pb_$c") + col(s"__in_$c")))
      .drop("__pid")
      .drop(valCols.flatMap(c => Seq(s"__in_$c", s"__pb_$c")): _*)
  }

  /** Risk table of a right-censored cohort — the shared core of
    * [[kaplanMeier]], [[kaplanMeierCi]], [[rmst]] and [[nelsonAalen]].
    * Input is one row per subject (`durCol` integer time bucket,
    * `eventCol` 1 event / 0 censored); output is one row per distinct
    * duration `t` with events `d`, censorings `c` and the risk set
    * `n_risk` = N − (subjects gone before t). It computes on the
    * DURATION HISTOGRAM (calendar-bounded, never subject-count sized)
    * with one [[rangeCumSum]].
    */
  private[operators] def riskTable(df: DataFrame, durCol: String,
                                   eventCol: String): DataFrame = {
    val hist = df.groupBy(col(durCol).cast("long").as("t"))
      .agg(sum(when(col(eventCol) === 1, 1L).otherwise(0L)).as("d"),
        sum(when(col(eventCol) === 1, 0L).otherwise(1L)).as("c"))
      .withColumn("__all", col("d") + col("c"))
    val tot = hist.agg(sum(col("__all")).as("__N"))
    rangeCumSum(hist, "t", Seq("__all")).crossJoin(broadcast(tot))
      .withColumn("n_risk", col("__N") - (col("__cum___all") - col("__all")))
      .select(col("t"), col("d"), col("c"), col("n_risk"))
  }

  /** Product-limit factors of a [[riskTable]] row: `__lnf` = ln(1 − d/n)
    * snapped to 12 dp as DECIMAL(28,14), so its cumulative sum is
    * partition-order-independent (the [[graft.operators.TextOps.zipfFit]]
    * moment discipline), and `__zero` = 1 on a saturated step (d = n).
    * A saturated step would make ln(0) = −∞ poison the decimal sum, so
    * its factor is 0 and the zero-crossing rides `__zero` instead.
    */
  private[operators] def productLimitFactors(risk: DataFrame): DataFrame =
    risk.withColumn("__lnf", when(col("d") > 0 && col("d") < col("n_risk"),
        round(log(lit(1.0) - col("d") / col("n_risk")), 12))
      .otherwise(lit(0.0)).cast("decimal(28,14)"))
      .withColumn("__zero", when(col("d") === col("n_risk"), 1L)
        .otherwise(0L))

  /** Ŝ from cumulated [[productLimitFactors]]: exp(Σ ln factors), or
    * exact 0 once any step has saturated.
    */
  private[operators] def plSurvival(cumLnf: Column, cumZero: Column): Column =
    when(cumZero > 0, lit(0.0)).otherwise(exp(cumLnf.cast("double")))

  /** Two-sample value histogram — the shared core of the two-sample
    * family ([[wasserstein1D]], [[mannWhitney]], [[effectSizes]],
    * [[energyDistance]], [[cvmTwoSample]], [[andersonDarlingTwoSample]],
    * [[hellingerDrift]], [[kuiperTwoSample]]). Keeps the rows of
    * `sideA` and `sideB`, groups them by the caller's quantized value
    * `v` (bounded vocabulary, the [[globalRank]] discipline) into
    * `__v`, and counts each side per value into `__na` and `__nb`.
    */
  private[operators] def twoSampleHist(df: DataFrame, sideCol: String,
                                       sideA: Any, sideB: Any,
                                       v: Column): DataFrame =
    df.filter(col(sideCol).isin(sideA, sideB))
      .select(v.as("__v"),
        when(col(sideCol) === lit(sideA), 1L).otherwise(0L).as("__ia"))
      .groupBy(col("__v"))
      .agg(sum(col("__ia")).as("__na"),
        sum(lit(1L) - col("__ia")).as("__nb"))

  /** Doubled average rank of a tie block of `t` rows that follows
    * `before` rows: 2·before + t + 1. Integral, so rank sums accumulate
    * exactly as DECIMAL(38,0).
    */
  private[operators] def midrank2(before: Column, t: Column): Column =
    lit(2) * before + t + 1

  /** Lag-product sums of a bucketed series — the shared core of
    * [[ljungBox]] and [[pacf]]. Deviations from the per-group mean snap
    * to 6 dp off exact integer moments; the per-lag products come from
    * ONE calendar join of the deviation table against itself under an
    * exploded 1..`maxLag` lag spine (maxLag·|buckets| rows, the
    * [[crossCorrelation]] shape). The numerator products and the
    * denominator squares accumulate as 12-dp-snapped exact decimals.
    * Output: (`__g`, `lag`, `__num`, `__ss`); each caller forms
    * ρ̂_k = __num/__ss with its own rounding.
    */
  private[operators] def lagProducts(series: DataFrame, groupCol: String,
                                     xCol: String, yCol: String,
                                     maxLag: Int): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val mom = base.groupBy("__g").agg(
      count(lit(1)).as("__n"),
      sum(col("__y")).cast("decimal(38,0)").as("__sy"))
    val dev = base.join(broadcast(mom), "__g")
      .withColumn("__d", round(col("__y").cast("double") -
        col("__sy").cast("double") / col("__n"), 6))
      .select(col("__g"), col("__x"), col("__d"))
      .localCheckpoint(true) // current + lagged + denominator read it
    val den = dev.groupBy("__g")
      .agg(sum(round(col("__d") * col("__d"), 12).cast("decimal(38,12)"))
        .as("__ss"))
    val spine = series.sparkSession.range(1).select(
      explode(sequence(lit(1L), lit(maxLag.toLong))).as("lag"))
    val lagged = dev.select(col("__g"), col("__x").as("__lx"),
        col("__d").as("__dl"))
      .crossJoin(broadcast(spine))
      .withColumn("__x", col("__lx") + col("lag"))
    dev.join(lagged, Seq("__g", "__x"))
      .groupBy("__g", "lag")
      .agg(sum(round(col("__d") * col("__dl"), 12).cast("decimal(38,12)"))
        .as("__num"))
      .join(den, "__g")
  }

  /** Complete blocks of a (block, treatment, value) table — the shared
    * filter of [[friedman]], [[pageTrend]] and [[kendallW]]. Output
    * columns are `__b`, `__t` (the caller's `treat` column) and `__v`
    * (the value at 4 dp). A block is complete when it holds every
    * treatment EXACTLY once: its distinct treatment count AND its row
    * count both equal k. A row count alone lets a block with a
    * duplicate treatment plus a missing one slip through. The
    * collect_set over the block window is bounded by the k-treatment
    * vocabulary, never by row count.
    */
  private[operators] def completeBlocks(df: DataFrame, blockCol: String,
                                        treat: Column,
                                        valCol: String): DataFrame = {
    val base = df.select(col(blockCol).as("__b"), treat.as("__t"),
      round(col(valCol).cast("double"), 4).as("__v"))
    val k = base.agg(countDistinct(col("__t")).as("__k"))
    base
      .withColumn("__bn", count(lit(1))
        .over(Window.partitionBy(col("__b"))))
      .withColumn("__bd", size(collect_set(col("__t"))
        .over(Window.partitionBy(col("__b")))))
      .crossJoin(broadcast(k))
      .filter(col("__bn") === col("__k") && col("__bd") === col("__k"))
  }

  /** Within-block ranks of [[completeBlocks]] rows as `__r2`, the
    * DOUBLED tie-averaged rank 2·rank() + ties − 1. The doubling keeps
    * the .5 granularity integral. Every window is bounded by the k rows
    * of one block.
    */
  private[operators] def blockRanks2(complete: DataFrame): DataFrame =
    complete
      .withColumn("__rnk",
        rank().over(Window.partitionBy(col("__b")).orderBy(col("__v"))))
      .withColumn("__tie", count(lit(1))
        .over(Window.partitionBy(col("__b"), col("__v"))))
      .withColumn("__r2", col("__rnk") * 2 + col("__tie") - 1)

  /** A9: rank-formula ROC-AUC with deterministic tiebreak — one
    * aggregate over the distributed ranks.
    */
  def auc(df: DataFrame, labelCol: String, scoreCol: String,
          tieCol: String, roundTo: Int = 6): DataFrame =
    globalRank(df, scoreCol, tieCol).agg(
      round(
        (sum(when(col(labelCol) === 1, col("r")).otherwise(0L)).cast("double")
          - sum(col(labelCol)).cast("double") * (sum(col(labelCol)) + 1) / 2)
          / (sum(col(labelCol)).cast("double")
            * (count(lit(1)) - sum(col(labelCol)))), roundTo).as("auc"))

  /** Two-phase salted aggregation for skewed keys: phase 1 aggregates
    * on (key, salt) — spreading a hot key over `saltBuckets` reducers —
    * phase 2 merges the partials per key. (Spark's partial aggregation
    * already does this when the map side sees the hot key, but a skewed
    * SHUFFLE key after a join does not benefit — this does.)
    *
    * Exactness: counts and integral/decimal sums decompose exactly, so
    * the result equals a direct groupBy bit-for-bit. Floating-point
    * sums would depend on the (salt-induced) grouping order — pass a
    * DECIMAL-cast value column when reproducibility matters (q42 does).
    */
  def saltedCountSum(df: DataFrame, keyCol: String, valueCol: String,
                     saltBuckets: Int): DataFrame =
    // Salt mixes in the source partition id: a hot key spreads even when
    // its values are all identical (a value-only hash would put them in
    // one salt bucket). Assignment needs to spread, not be stable.
    df.withColumn("__salt",
        pmod(hash(col(valueCol), spark_partition_id()), lit(saltBuckets)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__c"), sum(col(valueCol)).as("__s"))
      .groupBy(col(keyCol))
      .agg(sum(col("__c")).as("cnt"), sum(col("__s")).as("sum"))

  /** Skew-safe equi-join: the large side gets a per-row salt (from
    * `saltExpr` — any deterministic expression over its columns, e.g. a
    * row-id hash), the SMALL side is replicated once per salt value,
    * and the join key becomes (key, salt) — a hot key's rows spread
    * over `salts` reducers instead of funneling into one. Result is
    * identical to the plain join (every (key, salt) pair carries a full
    * copy of the small side's rows for that key); cost is |small| ×
    * `salts` extra build rows — the standard trade when one key owns a
    * double-digit share of the fact table and AQE's skew split can't
    * apply (e.g. the skew is born in the shuffle, not read from files).
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keyCol: String,
                 saltExpr: Column, salts: Int): DataFrame = {
    val l = large.withColumn("__salt", pmod(saltExpr, lit(salts)).cast("int"))
    val s = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("__salt", col("__salt").cast("int"))
    l.join(s, Seq(keyCol, "__salt")).drop("__salt")
  }

  /** A7 at scale: HLL-based distinct counts for the constant-prune
    * check — at 100 TB the exact `countDistinct` shuffle is unnecessary
    * when the question is only "is cardinality 1?" (rsd 5% cannot
    * confuse 1 with 2).
    */
  /** Per-user ranking metrics — NDCG@k, MRR@k, recall@k — for a scored
    * (user, item, score, label∈{0,1}) table. The eval surface behind any
    * retrieval/recall stage (A9's AUC grades the ranker pointwise; these
    * grade the ranked LIST).
    *
    * Distributed shape: one window partitioned by user (rank within
    * user — never a global sort), then hash aggregation on the user key.
    * The 1/log2(rank+1) discount weights live in a k-row table built
    * with `sequence` and broadcast to both the DCG and the ideal-DCG
    * sides, so both engines discount with bit-identical constants; DCG
    * sums are DECIMAL-exact (partial-aggregation order can't flip the
    * hash). Users with no positive labels are excluded (IDCG = 0 is
    * undefined, matching standard eval practice).
    */
  def rankingMetrics(df: DataFrame, userCol: String, itemCol: String,
                     scoreCol: String, labelCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val weights = (1 to k).toDF("__rnk")
      .select(col("__rnk"),
        round(lit(1.0) / log2(col("__rnk") + lit(1.0)), 10)
          .cast("decimal(28,12)").as("__w"))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(scoreCol).desc, col(itemCol))
    val pos = df.groupBy(col(userCol))
      .agg(sum(col(labelCol)).cast("long").as("__npos"))
      .filter(col("__npos") > 0)
    val top = df.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
    val dcg = top.join(broadcast(weights), Seq("__rnk"))
      .groupBy(col(userCol))
      .agg(sum(when(col(labelCol) === 1, col("__w"))
          .otherwise(lit(0).cast("decimal(28,12)"))).as("__dcg"),
        sum(col(labelCol)).cast("long").as("__hits"),
        min(when(col(labelCol) === 1, col("__rnk"))).as("__first"))
    val idcg = pos.crossJoin(broadcast(weights))
      .filter(col("__rnk") <= least(col("__npos"), lit(k)))
      .groupBy(col(userCol), col("__npos"))
      .agg(sum(col("__w")).as("__idcg"))
    dcg.join(idcg, Seq(userCol))
      .select(col(userCol),
        round(col("__dcg").cast("double") / col("__idcg").cast("double"), 6)
          .as("ndcg"),
        coalesce(round(lit(1.0) / col("__first"), 6), lit(0.0)).as("mrr"),
        round(col("__hits").cast("double") / col("__npos"), 6).as("recall"))
  }

  /** Calibration curve (reliability diagram): bucket predictions into
    * `nBins` equal-width score bins; per bin report count, mean
    * predicted score, and observed positive rate. One hash aggregation;
    * per-bin score sums are DECIMAL-exact so partial-agg order cannot
    * perturb the mean. Scores are expected in [0, 1] (the top bin
    * absorbs score = 1.0).
    */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  nBins: Int = 10): DataFrame =
    df.withColumn("__bin",
        least(floor(col(scoreCol) * nBins), lit(nBins - 1)).cast("int"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col(scoreCol), 6).cast("decimal(18,8)")).cast("double")
          / count(lit(1)), 6).as("mean_score"),
        round(sum(col(labelCol)).cast("double") / count(lit(1)), 6)
          .as("pos_rate"))

  /** Population stability index between an `expected` and an `actual`
    * slice — the standard feature-drift alarm. Equal-width bins (last
    * bin open-ended), Laplace smoothing (n+1)/(N+bins) so empty bins
    * never produce ln(0), per-bin contributions rounded then summed as
    * DECIMAL, total repeated on every row. Everything derives from
    * integer counts → bit-identical across engines. PSI < 0.1 is
    * conventionally stable, > 0.25 action-worthy.
    */
  def psi(df: DataFrame, valueCol: String, sideCol: String,
          expectedValue: String, binWidth: Double, nBins: Int): DataFrame = {
    val binned = df.withColumn("__bin",
      least(floor(col(valueCol) / binWidth), lit(nBins - 1)).cast("int"))
    val counts = binned.groupBy(col("__bin"))
      .agg(sum(when(col(sideCol) === expectedValue, 1).otherwise(0))
          .cast("long").as("n_exp"),
        sum(when(col(sideCol) =!= expectedValue, 1).otherwise(0))
          .cast("long").as("n_act"))
    val tot = counts.agg(sum("n_exp").as("__te"), sum("n_act").as("__ta"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("__p",
        (col("n_exp") + lit(1)).cast("double") / (col("__te") + lit(nBins)))
      .withColumn("__q",
        (col("n_act") + lit(1)).cast("double") / (col("__ta") + lit(nBins)))
      .withColumn("__term",
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 10)
          .cast("decimal(28,12)"))
    // total repeated per row via a broadcast 1-row cross join — the same
    // trick as `mutualInfo`, instead of an empty-partition window (which
    // plans a single-partition exchange and WARNs)
    val total = terms.agg(
      round(sum(col("__term")).cast("double"), 6).as("psi_total"))
    terms.crossJoin(broadcast(total))
      .select(col("__bin").as("bin"), col("n_exp"), col("n_act"),
        col("__term").cast("double").as("term"), col("psi_total"))
  }

  /** Mutual information I(X;Y) between two categorical columns, in nats —
    * the model-free feature-relevance score used to rank candidate
    * features against the label before training.
    *
    * I = Σ_{x,y} p(x,y) · ln( p(x,y) / (p(x)·p(y)) ), cells with zero
    * joint count contribute nothing. All probabilities derive from exact
    * BIGINT counts; each cell term is rounded to 12 dp and summed as
    * DECIMAL so the total is independent of cell visit order (the same
    * exact-regroup trick as `psi`). Scale: one hash aggregation over
    * (x, y) — |X|·|Y| cells — then two broadcast marginal joins; no
    * all-pairs anything.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // materialize the contingency table once: the marginals and the
    // total each re-derive from it, and without the checkpoint every
    // branch would re-scan the raw input (4 scans for 1)
    val joint = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__nxy"))
      .localCheckpoint(true)
    val mx = joint.groupBy("__x").agg(sum("__nxy").cast("long").as("__nx"))
    val my = joint.groupBy("__y").agg(sum("__nxy").cast("long").as("__ny"))
    val n = joint.agg(sum("__nxy").cast("long").as("__n"))
    joint
      .join(broadcast(mx), "__x").join(broadcast(my), "__y")
      .crossJoin(broadcast(n))
      .withColumn("__term",
        round((col("__nxy").cast("double") / col("__n")) *
          log(col("__nxy").cast("double") * col("__n") /
            (col("__nx").cast("double") * col("__ny"))), 12)
          .cast("decimal(28,14)"))
      .agg(round(sum(col("__term")).cast("double"), 6).as("mi_nats"),
        count(lit(1)).as("n_cells"),
        max("__n").as("n_rows"))
  }

  /** Spearman rank correlation per group: Pearson correlation of
    * average-tie ranks, computed entirely over the joint (x, y) value
    * histogram. The raw rows are exchanged ONCE (the joint hash agg);
    * both doubled average-tie ranks (2·cum − tie + 1 ≡ 2·below + n + 1
    * — integral at tie midpoints; correlation is affine-invariant)
    * come from windows DIRECTLY over the histogram rows: the cumulative
    * weight (default RANGE frame includes ties) minus the tie weight
    * (unordered (group, value) partition window). No self-joins, no
    * materialization — one linear plan: raw agg → one group exchange →
    * two in-partition sorts → moment agg. (The previous form derived
    * two marginal histograms and joined them back; the joins and the
    * eager checkpoint cost ~1.7× this plan at sf0.1 and re-scanned the
    * raw table three times.)
    *
    * Determinism: the doubled ranks are CENTERED by their exact mean
    * (tot+1 — an integer, so Σw·rc ≡ 0 and the Pearson form collapses
    * to Σw·rc·rc' / √(Σw·rc²)·√(Σw·rc'²)), every moment is an exact
    * integer summed as DECIMAL(38,0) — order-independent — and the
    * final corr is a few double ops on those exact moments, rounded to
    * 6 dp. try_divide returns null on zero rank variance (all-tied
    * input) instead of ANSI's divide-by-zero error.
    *
    * Validity bound: |centered doubled rank| < N, so the Σw·rc·rc'
    * moments are bounded by N³ and DECIMAL(38,0) holds exactly for
    * groups up to ~4.6·10¹² rows; beyond that the sum overflows to
    * null under non-ANSI Spark (DuckDB's HUGEINT has nearly the same
    * ceiling). The uncentered form's real ceiling was ~2·10⁹ — its
    * n·Σw·r·r' − Σw·r·Σw·r' correction multiplied two 38-precision
    * decimals (~4N⁴) BEFORE the double cast; centering removes those
    * products entirely. Per-GROUP rows, not total — far above any
    * per-key group a 100 TB corpus produces.
    */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val joint = df.groupBy(col(groupCol), col(xCol), col(yCol))
      .agg(count(lit(1)).as("__w"))
    val wg = Window.partitionBy(col(groupCol))
    val wgx = Window.partitionBy(col(groupCol)).orderBy(col(xCol))
    val wgy = Window.partitionBy(col(groupCol)).orderBy(col(yCol))
    val tx = Window.partitionBy(col(groupCol), col(xCol))
    val ty = Window.partitionBy(col(groupCol), col(yCol))
    // all five windows cluster by subsets of (group, value) — Catalyst
    // satisfies them with ONE hash exchange on the group key plus the
    // two per-axis in-partition sorts. Centered doubled rank =
    // 2·cum − tie + 1 − (tot+1) = 2·cum − tie − tot.
    val j = joint
      .withColumn("__tot", sum("__w").over(wg))
      .withColumn("__rx",
        lit(2) * sum("__w").over(wgx) - sum("__w").over(tx) - col("__tot"))
      .withColumn("__ry",
        lit(2) * sum("__w").over(wgy) - sum("__w").over(ty) - col("__tot"))
    j.groupBy(col(groupCol))
      .agg(sum(col("__w")).cast("decimal(38,0)").as("__n"),
        sum(expr("CAST(__w AS DECIMAL(38,0)) * __rx * __ry")).as("__sxy"),
        sum(expr("CAST(__w AS DECIMAL(38,0)) * __rx * __rx")).as("__sxx"),
        sum(expr("CAST(__w AS DECIMAL(38,0)) * __ry * __ry")).as("__syy"))
      .select(col(groupCol),
        round(expr(
          "try_divide(CAST(__sxy AS DOUBLE), " +
            "sqrt(CAST(__sxx AS DOUBLE)) * " +
            "sqrt(CAST(__syy AS DOUBLE)))"), 6)
          .as("spearman"),
        col("__n").cast("long").as("n"))
  }

  /** Kolmogorov–Smirnov statistic between the score distributions of
    * the positive and negative class: max over thresholds of
    * |F⁺(t) − F⁻(t)|. The standard two-sample separation test next to
    * AUC/calibration/PSI in a model-eval suite.
    *
    * Distributed shape: scores quantize to 6 dp (the [[globalRank]]
    * argument — bounds the histogram at ~1e6 rows on continuous
    * inputs), one hash agg builds the per-score (n⁺, n⁻) histogram,
    * and the CDFs cumulate via [[rangeCumSum]] — never a
    * single-partition window. Exactness: the per-threshold gap is
    * compared in cross-multiplied integer form |c⁺·N − c⁻·P| (DECIMAL-
    * exact, order-independent max); only the final max divides, so
    * both engines see one double division of exact integers. Validity
    * bound: the products need P·N < 10³⁸ — holds to ~10¹⁹ rows per
    * class. Null scores count into neither CDF step but keep their
    * class totals (they sort last, where the gap is 0 anyway).
    */
  def ksStatistic(df: DataFrame, labelCol: String, scoreCol: String,
                  roundTo: Int = 6): DataFrame = {
    val s = df.select(round(col(scoreCol).cast("double"), 6).as("__sc"),
      when(col(labelCol) === 1, 1L).otherwise(0L).as("__y"))
    val hist = s.groupBy(col("__sc")).agg(
      sum(col("__y")).cast("decimal(38,0)").as("__np"),
      (count(lit(1)) - sum(col("__y"))).cast("decimal(38,0)").as("__nn"))
    val cum = rangeCumSum(hist, "__sc", Seq("__np", "__nn"))
    val tot = broadcast(s.agg(
      sum(col("__y")).cast("decimal(38,0)").as("__p"),
      (count(lit(1)) - sum(col("__y"))).cast("decimal(38,0)").as("__n")))
    cum.crossJoin(tot)
      .agg(
        round(max(abs(col("__cum___np") * col("__n")
            - col("__cum___nn") * col("__p"))).cast("double")
          / (max(col("__p")) * max(col("__n"))).cast("double"), roundTo)
          .as("ks"),
        max(col("__p")).cast("long").as("n_pos"),
        max(col("__n")).cast("long").as("n_neg"))
  }

  /** Decile lift/gain table — the campaign-targeting eval: rank by
    * score descending, split into `buckets` equal-population bins,
    * report per-bin and cumulative positives, lift over the base rate,
    * and capture (share of all positives reached).
    *
    * Bucket semantics are SCORE-ATOMIC: all rows tying on the
    * (6 dp-quantized) score land in the bucket of the tie group's
    * first row — decile = ⌊rowsBefore·k / n⌋ — so the assignment is a
    * pure function of the score histogram, never of row order. That
    * histogram cumulates via [[rangeCumSum]] on the DESCENDING score
    * (no global window); the final cumulative pass runs on ≤ k+1 bucket
    * rows via a broadcast triangular join. Lift divides in
    * cross-multiplied form (cum⁺·n)/(cum·P) — one double division of
    * DECIMAL-exact integers, engine-stable.
    */
  def decileLift(df: DataFrame, labelCol: String, scoreCol: String,
                 buckets: Int = 10): DataFrame = {
    val s = df.select(round(col(scoreCol).cast("double"), 6).as("__sc"),
      when(col(labelCol) === 1, 1L).otherwise(0L).as("__y"))
    val hist = s.groupBy(col("__sc"))
      .agg(count(lit(1)).as("__hn"), sum(col("__y")).as("__hp"))
      // negate: rangeCumSum cumulates ascending; deciles count from the
      // TOP score down. Nulls stay last under asc_nulls_last.
      .withColumn("__key", -col("__sc"))
    val cum = rangeCumSum(hist, "__key", Seq("__hn"))
    val tot = broadcast(s.agg(count(lit(1)).as("__tn"),
      sum(col("__y")).as("__tp")))
    val bucketed = cum.crossJoin(tot)
      .withColumn("__b",
        expr(s"CAST((__cum___hn - __hn) * $buckets DIV __tn AS INT)"))
      .groupBy(col("__b"))
      .agg(sum(col("__hn")).as("__n"), sum(col("__hp")).as("__p"))
    // cumulative over ≤ `buckets` rows (rowsBefore·k DIV n ≤ k−1 always)
    // — triangular broadcast join, the psi/mutualInfo small-side idiom.
    bucketed.as("a")
      .join(broadcast(bucketed.as("b")), col("b.__b") <= col("a.__b"))
      .groupBy(col("a.__b").as("decile"))
      .agg(max(col("a.__n")).as("n"), max(col("a.__p")).as("n_pos"),
        sum(col("b.__n")).as("cum_n"), sum(col("b.__p")).as("cum_pos"))
      .crossJoin(tot)
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        round((col("cum_pos").cast("decimal(38,0)")
            * col("__tn").cast("decimal(38,0)")).cast("double")
          / (col("cum_n").cast("decimal(38,0)")
            * col("__tp").cast("decimal(38,0)")).cast("double"), 4)
          .as("lift"),
        round(col("cum_pos").cast("double") / col("__tp"), 4).as("capture"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * labelings of the same rows (annotator QA for labeled training
    * data). Multi-class: pₑ = Σ_c p₁(c)·p₂(c) over the shared category
    * space.
    *
    * One (r1, r2) contingency hash agg is the only data-sized pass;
    * marginals derive from it (≤ |categories|² rows) and their product
    * term broadcasts. κ = (n·agree − Σ m₁·m₂) / (n² − Σ m₁·m₂): every
    * moment is a DECIMAL-exact integer, one double division at the end
    * — engine-stable, order-independent.
    */
  def cohensKappa(df: DataFrame, r1Col: String, r2Col: String,
                  roundTo: Int = 6): DataFrame = {
    val cell = df.groupBy(col(r1Col).as("__r1"), col(r2Col).as("__r2"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__c"))
      .localCheckpoint(false)
    val m1 = cell.groupBy(col("__r1").as("__cat")).agg(sum("__c").as("__c1"))
    val m2 = cell.groupBy(col("__r2").as("__cat")).agg(sum("__c").as("__c2"))
    // inner join: a category one rater never uses has m·0 = 0 expected
    // agreement — dropping it is exact.
    val e = broadcast(m1.join(m2, "__cat")
      .agg(coalesce(sum(col("__c1") * col("__c2")),
        lit(0).cast("decimal(38,0)")).as("__e")))
    cell.agg(
        sum(when(col("__r1") === col("__r2"), col("__c"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__a"),
        sum(col("__c")).as("__n"))
      .crossJoin(e)
      .select(col("__n").cast("long").as("n"),
        round(col("__a").cast("double") / col("__n").cast("double"), roundTo)
          .as("po"),
        round(col("__e").cast("double")
          / (col("__n") * col("__n")).cast("double"), roundTo).as("pe"),
        round((col("__n") * col("__a") - col("__e")).cast("double")
          / (col("__n") * col("__n") - col("__e")).cast("double"), roundTo)
          .as("kappa"))
  }

  /** Two-proportion A/B test: given one row per experimental unit with
    * `armCol` ∈ {0 = control, else treatment} and `convCol` ∈ {0,1},
    * report per-arm sizes/conversions/rates, the rate difference, the
    * pooled two-proportion z-score, and a 5%-level significance flag
    * (|z| > 1.96). Pair with [[graft.operators.SamplingOps.featureHash]]
    * for the deterministic md5 arm assignment.
    *
    * One scalar aggregation over the units — four exact counts — then
    * fixed double arithmetic on them: no order dependence anywhere, so
    * both engines agree to the last bit before rounding. z is guarded
    * (null) when either arm is empty or the pooled rate is degenerate
    * (0 or 1) — the cases where the denominator is 0 and engines
    * diverge on 0/0.
    */
  def abTest(df: DataFrame, armCol: String, convCol: String): DataFrame = {
    val isB = col(armCol) =!= 0
    df.agg(
        sum(when(!isB, 1L).otherwise(0L)).as("__na"),
        sum(when(isB, 1L).otherwise(0L)).as("__nb"),
        sum(when(!isB && col(convCol) === 1, 1L).otherwise(0L)).as("__ca"),
        sum(when(isB && col(convCol) === 1, 1L).otherwise(0L)).as("__cb"))
      // try_divide: an empty arm (or empty input) must yield null rates,
      // not an ANSI divide-by-zero error
      .withColumn("__pa", expr("try_divide(CAST(__ca AS DOUBLE), __na)"))
      .withColumn("__pb", expr("try_divide(CAST(__cb AS DOUBLE), __nb)"))
      .withColumn("__pp",
        expr("try_divide(CAST(__ca + __cb AS DOUBLE), __na + __nb)"))
      .withColumn("__z",
        when(col("__na") > 0 && col("__nb") > 0 &&
            col("__pp") > 0.0 && col("__pp") < 1.0,
          (col("__pb") - col("__pa")) /
            sqrt(col("__pp") * (lit(1.0) - col("__pp")) *
              (lit(1.0) / col("__na") + lit(1.0) / col("__nb")))))
      .select(
        col("__na").as("n_a"), col("__nb").as("n_b"),
        col("__ca").as("conv_a"), col("__cb").as("conv_b"),
        round(col("__pa"), 6).as("rate_a"),
        round(col("__pb"), 6).as("rate_b"),
        round(col("__pb") - col("__pa"), 6).as("diff"),
        round(col("__z"), 4).as("z"),
        when(abs(col("__z")) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** First/last-touch attribution: for every user whose log contains a
    * conversion (`channelCol === convValue`), credit the FIRST and the
    * LAST touch strictly before that user's first conversion, then
    * count credits per channel.
    *
    * One row_number window finds the first conversion; the touch
    * first/last selection is a single map-side-combinable aggregate —
    * min/max over struct(ts, tie, channel), whose lexicographic order
    * is total because `tieCol` is unique per user — NOT two more
    * windows, so converting users cost one grouped agg regardless of
    * history length. Users whose first event IS the conversion have no
    * touches and contribute nothing.
    */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
                  tieCol: String, channelCol: String,
                  convValue: String): DataFrame = {
    val wAsc = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val fc = df.filter(col(channelCol) === convValue)
      .withColumn("__rn", row_number().over(wAsc))
      .filter(col("__rn") === 1)
      .select(col(userCol), col(tsCol).as("__cts"), col(tieCol).as("__cid"))
    val firstLast = df.join(fc, Seq(userCol))
      .filter(col(tsCol) < col("__cts") ||
        (col(tsCol) === col("__cts") && col(tieCol) < col("__cid")))
      .groupBy(col(userCol))
      .agg(
        min(struct(col(tsCol), col(tieCol), col(channelCol).as("__ch")))
          .as("__f"),
        max(struct(col(tsCol), col(tieCol), col(channelCol).as("__ch")))
          .as("__l"))
    val ft = firstLast.groupBy(col("__f.__ch").as("channel"))
      .agg(count(lit(1)).as("first_touch"))
    val lt = firstLast.groupBy(col("__l.__ch").as("channel"))
      .agg(count(lit(1)).as("last_touch"))
    // null-safe join: an untagged (null) channel must merge into ONE
    // row, not split its first/last credits across two
    ft.join(lt, ft("channel") <=> lt("channel"), "full_outer")
      .select(coalesce(ft("channel"), lt("channel")).as("channel"),
        coalesce(col("first_touch"), lit(0L)).as("first_touch"),
        coalesce(col("last_touch"), lit(0L)).as("last_touch"))
  }

  /** Gini coefficient of per-key activity concentration within each
    * group — the standard popularity-inequality readout (0 = uniform,
    * → 1 = one key dominates) for training-mix and recsys audits.
    *
    * Never sorts raw keys: per-key counts collapse to a (count,
    * frequency) HISTOGRAM, and the Lorenz rank sum over ties is closed
    * form — keys sharing count c occupy consecutive ranks, so their
    * Σ rank·x is c·(f·below + f(f+1)/2). The only window runs over
    * histogram rows (≤ |distinct count values| per group, thousands at
    * most even at 100 TB — counts are integers bounded by the hottest
    * key). Rank-sum terms accumulate as DECIMAL(38,0): exact and
    * order-independent, same discipline as the other moment ops.
    */
  def giniConcentration(df: DataFrame, groupCol: String,
                        keyCol: String): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol), col("__c"))
      .agg(count(lit(1)).as("__f"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist.withColumn("__below", coalesce(sum(col("__f")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__f")).cast("long").as("n_keys"),
        sum(col("__c") * col("__f")).cast("long").as("n_total"),
        sum((col("__c") * (col("__f") * col("__below") +
          expr("__f * (__f + 1) DIV 2"))).cast("decimal(38,0)")).as("__s"))
      .select(col(groupCol), col("n_keys"), col("n_total"),
        round(lit(2.0) * col("__s").cast("double") /
          (col("n_keys").cast("double") * col("n_total")) -
          (col("n_keys") + lit(1.0)) / col("n_keys"), 6).as("gini"))
  }

  def approxConstPruneReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    val sorted = cols.sorted
    val aggs = sorted.map(c => approx_count_distinct(col(c)).as(s"__nd_$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${sorted.length}, " +
        sorted.map(c => s"'$c', __nd_$c").mkString(", ") +
        ") AS (col_name, n_distinct_approx)")
      .withColumn("keep", (col("n_distinct_approx") > 1).cast("int"))
  }

  /** Theil–Sen slope estimator per group: the median of all pairwise
    * slopes (y_j − y_i)/(x_j − x_i) over x_j > x_i — the classic
    * outlier-robust trend fit (breakdown point ~29%, vs 0 for OLS).
    *
    * The input contract is the scale contract: `series` must be an
    * ALREADY-AGGREGATED series (one row per (group, time-bucket), e.g.
    * monthly counts), so the O(T²) pairwise self-join is bounded by the
    * calendar — T months of history is T(T−1)/2 pairs per group
    * regardless of raw-event volume, and the raw table never enters the
    * quadratic stage. The join is an equi-join on the group key (the
    * x < x' predicate stays a post-join filter), so it hash-partitions;
    * the median is Spark's exact `percentile` over the tiny pair set.
    * Slope arithmetic is two exact double ops on per-bucket aggregates,
    * so both engines agree bit-exactly before the final rounding.
    */
  def theilSen(series: DataFrame, groupCol: String, xCol: String,
               yCol: String, roundTo: Int = 6): DataFrame = {
    val a = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xa"), col(yCol).cast("double").as("__ya"))
    val b = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xb"), col(yCol).cast("double").as("__yb"))
    a.join(b, "__g").filter(col("__xb") > col("__xa"))
      .withColumn("__slope",
        (col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
      .groupBy(col("__g").as(groupCol))
      .agg(normZero(round(expr("percentile(__slope, 0.5)"), roundTo))
        .as("ts_slope"),
        count(lit(1)).as("n_pairs"))
  }

  /** Per-group OLS trend via the built-in `regr_*` aggregates
    * (slope, intercept, R², point count) of `yCol` against `xCol` —
    * the one-pass co-moment form, distributed by Spark's partial
    * aggregation (map-side partials merge associatively; no second
    * pass over the data, unlike the textbook mean-then-residual
    * formulation). Rounding absorbs the partial-merge-order float
    * noise between engines.
    */
  def olsTrend(df: DataFrame, groupCol: String, xCol: String,
               yCol: String, roundTo: Int = 6): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        round(expr(s"regr_slope($yCol, $xCol)"), roundTo).as("slope"),
        round(expr(s"regr_intercept($yCol, $xCol)"), roundTo).as("icept"),
        round(expr(s"regr_r2($yCol, $xCol)"), roundTo).as("r2"),
        expr(s"regr_count($yCol, $xCol)").cast("long").as("n"))

  /** One-sided CUSUM change-point audit per group (Page's test, both
    * directions) over an ordered series.
    *
    * The reset-at-zero recursion S_t = max(0, S_{t−1} + z_t − k) is not
    * a plain prefix sum, but it has the closed form
    * S_t = C_t − min(0, min_{j≤t} C_j) with C the cumulative sum of
    * (z − k) — so the whole statistic is two per-group running windows
    * (cumsum + running min), no recursion, no UDAF, no driver loop.
    * The input contract matches [[theilSen]]: `series` is an
    * ALREADY-AGGREGATED (group, bucket, value) table, so every window
    * is bounded by the calendar. Baseline μ/σ are the group's own
    * mean/stddev snapped to 6 dp (and z with them), which makes the
    * sequential window accumulation bit-identical across engines.
    * Alarms fire where either direction exceeds `h` (in σ units).
    */
  def changePointCusum(series: DataFrame, groupCol: String, xCol: String,
                       yCol: String, k: Double = 0.5,
                       h: Double = 4.0): DataFrame = {
    val st = series.groupBy(col(groupCol))
      .agg(round(avg(col(yCol)), 6).as("__mu"),
        round(stddev_samp(col(yCol)), 6).as("__sd"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = series.join(broadcast(st), groupCol)
      .withColumn("__z", (col(yCol) - col("__mu")) / col("__sd"))
      .withColumn("__ch", sum(col("__z") - lit(k)).over(w))
      .withColumn("__cl", sum(col("__z") + lit(k)).over(w))
      .withColumn("__shi", col("__ch") - least(min(col("__ch")).over(w), lit(0.0)))
      .withColumn("__slo", greatest(max(col("__cl")).over(w), lit(0.0)) - col("__cl"))
    val alarm = col("__shi") > h || col("__slo") > h
    s.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets"),
        round(max(col("__shi")), 4).as("max_hi"),
        round(max(col("__slo")), 4).as("max_lo"),
        sum(when(alarm, 1L).otherwise(0L)).as("n_alarm"),
        min(when(alarm, col(xCol))).as("first_alarm"))
  }

  /** Tukey-fence outlier audit per group: rows outside
    * [Q1 − k·IQR, Q3 + k·IQR] with exact quartiles.
    *
    * Quartiles are rounded to 6 dp BEFORE the fences are computed —
    * exact-percentile interpolation ((1−f)·a + f·b vs a + f·(b−a)) can
    * differ between engines in the last ulp, and an unrounded fence
    * would let a borderline row flip the count; after the 6 dp snap,
    * fence arithmetic and every comparison are bit-identical. The
    * per-group stats frame is a handful of rows and broadcasts back
    * onto the data — one full scan, one tiny agg, no global sort.
    */
  /** Per-user inter-arrival burstiness audit: gap statistics (mean,
    * stddev, coefficient of variation, Goh–Barabási burstiness
    * (σ−μ)/(σ+μ)) over consecutive event gaps.
    *
    * Gaps come from one per-user `lag` window over integer
    * MICROSECONDS (exact long arithmetic until the final rounded
    * stats). Ties in `tsCol` are benign: any ordering of equal
    * timestamps yields the same gap multiset, so no tiebreaker column
    * is needed for determinism. CV and burstiness are computed from
    * the ALREADY-ROUNDED mean/σ (the engine-parity snap used across
    * this file) so the derived ratios are bit-identical vs the oracle.
    * Users with fewer than `minEvents` events are dropped — below
    * that, σ over ≤1 gap is undefined (and Spark would emit NaN where
    * SQL engines emit NULL).
    */
  def interArrival(df: DataFrame, userCol: String, tsCol: String,
                   minEvents: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col("__us"))
    val g = df.select(col(userCol), unix_micros(col(tsCol)).as("__us"))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__gap").isNotNull)
    g.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("__gap")) / 1e6, 4).as("mean_gap_s"),
        round(stddev_samp(col("__gap")) / 1e6, 4).as("sd_gap_s"))
      .filter(col("n_gaps") >= minEvents - 1)
      .withColumn("cv", when(col("mean_gap_s") > 0,
        round(col("sd_gap_s") / col("mean_gap_s"), 4)))
      .withColumn("burstiness", when(col("sd_gap_s") + col("mean_gap_s") > 0,
        round((col("sd_gap_s") - col("mean_gap_s")) /
          (col("sd_gap_s") + col("mean_gap_s")), 4)))
  }

  /** Rolling-baseline anomaly flags over an ordered per-group series:
    * z-score of each bucket against the TRAILING `win` buckets
    * (ROWS win PRECEDING .. 1 PRECEDING — the current point never
    * contaminates its own baseline). Emits only the flagged rows.
    *
    * Input contract matches [[changePointCusum]]: `series` is an
    * already-aggregated (group, bucket, value) table, so the windows
    * are calendar-bounded (≤ ~buckets rows per group) regardless of
    * raw-data scale. Baseline mean/σ are snapped to 6 dp before the
    * z-score so the flag comparison is bit-identical across engines;
    * buckets with fewer than `minBase` baseline points or σ=0 are
    * never flagged (cold-start and constant-series guards).
    */
  def rollingAnomaly(series: DataFrame, groupCol: String, xCol: String,
                     yCol: String, win: Int = 7, minBase: Int = 4,
                     zThresh: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(xCol))
      .rowsBetween(-win, -1)
    series
      .withColumn("__n", count(col(yCol)).over(w))
      .withColumn("__mu", round(avg(col(yCol)).over(w), 6))
      .withColumn("__sd", round(stddev_samp(col(yCol)).over(w), 6))
      .filter(col("__n") >= minBase && col("__sd") > 0)
      .withColumn("z", round((col(yCol) - col("__mu")) / col("__sd"), 4))
      .filter(abs(col("z")) > zThresh)
      .select(col(groupCol), col(xCol), col(yCol),
        col("__mu").as("baseline_mu"), col("z"))
  }

  /** Per-group lag-k autocorrelation of a bucketed series, via a
    * CALENDAR self-join (bucket = bucket+k on the same group) + the
    * built-in `corr` aggregate — robust to gaps in the bucket sequence
    * (a row-offset `lag` window would silently pair across holes).
    * Both sides come from the same already-aggregated series table, so
    * the join is bucket-count sized, never raw-data sized.
    */
  def autocorr(series: DataFrame, groupCol: String, xCol: String,
               yCol: String, lagK: Int = 1, roundTo: Int = 6): DataFrame = {
    val cur = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("double").as("__y"))
    val prev = series.select(col(groupCol).as("__g"),
      (col(xCol).cast("long") + lagK).as("__x"),
      col(yCol).cast("double").as("__yl"))
    cur.join(prev, Seq("__g", "__x"))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("__y"), col("__yl")), roundTo).as(s"acf_$lagK"))
  }

  /** Rank-biased overlap (Webber et al. 2010, truncated form) between
    * two top-`k` rankings:
    *   RBO@k = (1−p) · Σ_{d=1..k} (|A₁..d ∩ B₁..d| / d) · p^(d−1).
    *
    * An item present in both lists at ranks (ra, rb) contributes to
    * every depth d ≥ max(ra, rb), so the overlap-at-depth table is an
    * inner join of the two rankings + an exploded `sequence(1,k)` depth
    * spine — k² pair-depth rows per group at most, never data-sized.
    * The per-depth weight p^(d−1) is a literal power of the depth
    * column; rounding absorbs the float-sum ordering.
    *
    * Inputs are (group, item, rank) tables with rank 1..k; `a` and `b`
    * must cover the same group universe (missing groups yield no row).
    */
  def rbo(a: DataFrame, b: DataFrame, groupCol: String, itemCol: String,
          rankCol: String, k: Int, p: Double = 0.9,
          roundTo: Int = 6): DataFrame = {
    val ra = a.select(col(groupCol).as("__g"), col(itemCol).as("__i"),
      col(rankCol).cast("long").as("__ra"))
    val rb = b.select(col(groupCol).as("__g"), col(itemCol).as("__i"),
      col(rankCol).cast("long").as("__rb"))
    val joined = ra.join(rb, Seq("__g", "__i"))
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
    val depths = joined.select(col("__g"), col("__m"),
      explode(sequence(col("__m"), lit(k.toLong))).as("__d"))
    depths.groupBy(col("__g"), col("__d"))
      .agg(count(lit(1)).cast("double").as("__ov"))
      .withColumn("__term",
        col("__ov") / col("__d") * pow(lit(p), col("__d") - 1))
      .groupBy(col("__g").as(groupCol))
      .agg(round(lit(1 - p) * sum(col("__term")), roundTo).as("rbo"))
  }

  /** Pairwise association rules over baskets (market-basket form):
    * support, directional confidences, and lift for item pairs
    * co-occurring in at least `minCo` baskets.
    *
    * The candidate space is pruned by the apriori property BEFORE the
    * per-basket pair explosion: a pair in ≥ minCo baskets forces each
    * item into ≥ minCo baskets, so rare items are dropped first
    * (output-neutral, and it bounds the O(Σ basket²) self-join by the
    * surviving-item basket sizes). Item and pair counts are exact;
    * all ratios derive from exact longs + one rounded division.
    */
  def assocRules(baskets: DataFrame, basketCol: String, itemCol: String,
                 minCo: Int = 3, roundTo: Int = 6): DataFrame = {
    val items = baskets.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val itemCnt = items.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
      .filter(col("__ci") >= minCo)
    // Keep only baskets' occurrences of frequent items (apriori prune).
    val freq = items.join(itemCnt, "__i")
    val co = freq.select(col("__b"), col("__i").as("ant"), col("__ci").as("__ca"))
      .join(freq.select(col("__b"), col("__i").as("cons"), col("__ci").as("__cc")),
        "__b")
      .filter(col("ant") < col("cons"))
      .groupBy(col("ant"), col("cons"))
      .agg(count(lit(1)).as("co"), first(col("__ca")).as("__ca"),
        first(col("__cc")).as("__cc"))
      .filter(col("co") >= minCo)
    // Basket universe size as a broadcast 1-row frame, not a driver
    // count() — the whole rule table stays one lazy plan.
    val total = baskets.select(col(basketCol).as("__b")).distinct()
      .agg(count(lit(1)).cast("double").as("__nb"))
    co.crossJoin(broadcast(total))
      .select(col("ant"), col("cons"), col("co"),
        round(col("co") / col("__nb"), roundTo).as("support"),
        round(col("co") / col("__ca"), roundTo).as("conf_ac"),
        round(col("co") / col("__cc"), roundTo).as("conf_ca"),
        round(col("co") * col("__nb") / (col("__ca") * col("__cc")),
          roundTo).as("lift"))
  }

  /** Kaplan–Meier survival curve with right censoring, fully
    * distributed: one row per distinct duration with the risk set,
    * event/censor counts, and the product-limit estimate Ŝ(t).
    *
    * Input is one row per subject: (`durCol` — integer time bucket,
    * `eventCol` — 1 event observed, 0 censored). The curve computes on
    * the DURATION HISTOGRAM (bounded by the calendar, never
    * subject-count sized): risk sets come from [[riskTable]], and the
    * product limit Π(1 − d/n) is a SECOND [[rangeCumSum]] of the
    * [[productLimitFactors]] ln factors, then one exp at the end; Ŝ is
    * forced to 0 from a saturated step on.
    */
  def kaplanMeier(df: DataFrame, durCol: String, eventCol: String,
                  roundTo: Int = 6): DataFrame =
    rangeCumSum(productLimitFactors(riskTable(df, durCol, eventCol)),
        "t", Seq("__lnf", "__zero"))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        round(plSurvival(col("__cum___lnf"), col("__cum___zero")), roundTo)
          .as("survival"))

  /** Two-group log-rank test — the inferential companion to
    * [[kaplanMeier]]: are the two sides' survival curves the same?
    * At each event time the observed events in side A are compared to
    * the hypergeometric expectation d·n_A/n given the pooled risk
    * set; Z = Σ(O−E)/√ΣV, χ² = Z².
    *
    * Same machinery as the curve itself: everything computes on the
    * per-side DURATION HISTOGRAM (calendar-bounded, never
    * subject-count sized), risk sets come from ONE [[rangeCumSum]],
    * and the per-time E and V terms snap to 12 dp and accumulate as
    * DECIMAL(38,12) (the [[chiSquare]] term discipline). Times with
    * no events contribute nothing; a single-subject risk set (n ≤ 1)
    * has zero variance and is skipped. Zero total variance (e.g. one
    * side empty) yields null z/chi2.
    */
  def logRank(df: DataFrame, durCol: String, eventCol: String,
              sideCol: String, sideA: Any, sideB: Any,
              roundTo: Int = 6): DataFrame = {
    val hist = df.filter(col(sideCol).isin(sideA, sideB))
      .groupBy(col(durCol).cast("long").as("t"))
      .agg(sum(when(col(sideCol) === sideA && col(eventCol) === 1, 1L)
          .otherwise(0L)).as("__da"),
        sum(when(col(sideCol) === sideB && col(eventCol) === 1, 1L)
          .otherwise(0L)).as("__db"),
        sum(when(col(sideCol) === sideA, 1L).otherwise(0L)).as("__aa"),
        sum(when(col(sideCol) === sideB, 1L).otherwise(0L)).as("__ab"))
    val cum = rangeCumSum(hist, "t", Seq("__aa", "__ab"))
    val tot = hist.agg(sum(col("__aa")).as("__Na"),
      sum(col("__ab")).as("__Nb"))
    val risk = cum.crossJoin(broadcast(tot))
      .withColumn("__nra",
        col("__Na") - (col("__cum___aa") - col("__aa")))
      .withColumn("__nrb",
        col("__Nb") - (col("__cum___ab") - col("__ab")))
      .withColumn("__d", col("__da") + col("__db"))
      .withColumn("__n", (col("__nra") + col("__nrb")).cast("double"))
      .filter(col("__d") > 0)
      .withColumn("__ra", col("__nra").cast("double") / col("__n"))
      .withColumn("__e", round(col("__d").cast("double") * col("__ra"),
        12).cast("decimal(38,12)"))
      .withColumn("__v", when(col("__n") > 1,
          round(col("__d").cast("double") * col("__ra") *
            (lit(1.0) - col("__ra")) *
            (col("__n") - col("__d")) / (col("__n") - 1), 12))
        .otherwise(lit(0.0)).cast("decimal(38,12)"))
    risk.agg(sum(col("__da")).as("__Oa"),
        sum(col("__e")).cast("double").as("__Ea"),
        sum(col("__v")).cast("double").as("__V"))
      .crossJoin(broadcast(tot))
      .select(col("__Na").as("n_a"), col("__Nb").as("n_b"),
        col("__Oa").as("obs_a"),
        round(col("__Ea"), 4).as("exp_a"),
        when(col("__V") > 0, round((col("__Oa") - col("__Ea")) /
          sqrt(col("__V")), roundTo)).as("z"),
        when(col("__V") > 0, round(
          pow(col("__Oa") - col("__Ea"), 2) / col("__V"), roundTo))
          .as("chi2"))
  }

  /** Pettitt change-point test per group — the rank-based (abrupt
    * mean-shift) companion to [[cusum]]: U_t = 2W_t − t(n+1) where
    * W_t is the running sum of midranks, K = max|U_t|, t* the
    * earliest argmax, with the standard significance approximation
    * p ≈ 2·exp(−6K²/(n³+n²)).
    *
    * Bounded-series contract ([[theilSen]]): the input is an
    * ALREADY-AGGREGATED (group, x, y) daily series, so every window
    * here is per-group over calendar-bounded rows. DOUBLED midranks
    * R2 = rank + count(≤) keep W exact-integral under ties (the
    * spearman discipline — U_t = ΣR2 − t(n+1) directly); ties break
    * to the EARLIEST t. Output: (group, n, t_star x-value, k_stat,
    * u_star, p_approx); a 1-point series produces no row (it has no
    * interior split).
    */
  def pettitt(series: DataFrame, groupCol: String, xCol: String,
              yCol: String, roundTo: Int = 6): DataFrame = {
    val wv = Window.partitionBy(col("__g")).orderBy(col("__y"))
    val wt = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val u = series.select(col(groupCol).as("__g"),
        col(xCol).cast("long").as("__x"),
        col(yCol).cast("double").as("__y"))
      // doubled midrank = rank + |{≤ y}| (RANGE frame counts peers)
      .withColumn("__r2", rank().over(wv) + count(lit(1)).over(wv))
      .withColumn("__t", row_number().over(wt))
      .withColumn("__w2", sum(col("__r2")).over(wt))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__t") < col("__n")) // U_n ≡ 0 by construction
      .withColumn("__u", col("__w2") - col("__t") * (col("__n") + 1))
    u.groupBy(col("__g"))
      .agg(max(col("__n")).as("__nn"),
        max(struct(abs(col("__u")).as("k"), (-col("__t")).as("nt"),
          col("__x").as("x"), col("__u").as("u"))).as("__m"))
      .select(col("__g").as(groupCol), col("__nn").as("n"),
        col("__m.x").as("t_star"), col("__m.k").as("k_stat"),
        col("__m.u").as("u_star"),
        round(lit(2.0) * exp(lit(-6.0) *
          col("__m.k").cast("double") * col("__m.k") /
          (pow(col("__nn").cast("double"), 3) +
            col("__nn") * col("__nn"))), roundTo).as("p_approx"))
  }

  /** Ecological diversity profile per group over a unit histogram:
    * richness (distinct units), Simpson concentration λ = Σp², its
    * inverse (Hill N₂ — "effective number of units"), Shannon entropy
    * H, and Hill N₁ = e^H — the abundance-weighted companions to
    * [[graft.operators.TextOps.tokenEntropy]]'s token view and the
    * concentration dual of gini.
    *
    * One (group, unit) hash agg then a per-group reduce over unit
    * counts: λ computes EXACTLY as Σc²/N² with Σc² in DECIMAL(38,0);
    * H = ln N − (Σ c·ln c)/N with each c·ln c term snapped to 8 dp
    * and summed as DECIMAL(38,8) (order-independent; c = 1 terms are
    * exactly 0). Single-unit groups: λ = 1, H = 0, hills = 1.
    */
  def diversity(df: DataFrame, groupCol: String, unitCol: String,
                roundTo: Int = 6): DataFrame = {
    val c = df.groupBy(col(groupCol).as("__g"), col(unitCol).as("__u"))
      .agg(count(lit(1)).as("__c"))
    c.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        count(lit(1)).as("richness"),
        sum(col("__c").cast("decimal(38,0)") * col("__c")).as("__s2"),
        sum(round(col("__c").cast("double") *
            log(col("__c").cast("double")), 8).cast("decimal(38,8)"))
          .cast("double").as("__cl"))
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("__simp", col("__s2").cast("double") /
        (col("__nd") * col("__nd")))
      .withColumn("__h", log(col("__nd")) - col("__cl") / col("__nd"))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        col("richness"),
        round(col("__simp"), roundTo).as("simpson"),
        round(lit(1.0) / col("__simp"), roundTo).as("inv_simpson"),
        round(col("__h"), roundTo).as("shannon"),
        round(exp(col("__h")), roundTo).as("hill1"))
      .orderBy(groupCol)
  }

  /** Grubbs outlier statistic per group: G = max|v − mean|/sd — the
    * PARAMETRIC (normal-theory) companion to [[tukeyOutliers]]' IQR
    * fences, flagging the single most extreme value. Two passes like
    * [[jarqueBera]]: exact-decimal moment sums give mean/sd (one
    * double division each), broadcast back; the argmax is ONE
    * max(struct) aggregate — deviation ties break to the LARGER
    * value, deterministically. Degenerate groups (n ≤ 1 or sd = 0)
    * yield null G.
    */
  def grubbs(df: DataFrame, groupCol: String, valCol: String,
             roundTo: Int = 6): DataFrame = {
    val v = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 4).cast("decimal(18,4)")
        .as("__v"))
    val st = v.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__q"))
      .withColumn("__mean", col("__s").cast("double") / col("__n"))
      .withColumn("__var", when(col("__n") > 1,
        (col("__q").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") /
            col("__n")) / (col("__n") - 1)))
      .withColumn("__sd", when(col("__var") > 0, sqrt(col("__var"))))
    v.join(broadcast(st), "__g")
      .withColumn("__dev", abs(col("__v").cast("double") - col("__mean")))
      .groupBy(col("__g"))
      .agg(first(col("__n")).as("__nn"), first(col("__mean")).as("__m"),
        first(col("__sd")).as("__stdev"),
        max(struct(col("__dev").as("d"),
          col("__v").cast("double").as("v"))).as("__mx"))
      .select(col("__g").as(groupCol), col("__nn").as("n"),
        round(col("__m"), roundTo).as("mean"),
        round(col("__stdev"), roundTo).as("sd"),
        when(col("__stdev").isNotNull,
          round(col("__mx.d") / col("__stdev"), roundTo)).as("g_stat"),
        round(col("__mx.v"), 4).as("outlier_value"))
      .orderBy(groupCol)
  }

  /** 1-D Wasserstein (earth-mover) distance between the value
    * distributions of two sides — the drift metric that, unlike
    * KS/PSI/JS, weighs HOW FAR mass moved, not just whether it did:
    * W₁ = ∫ |F_a(x) − F_b(x)| dx over the merged support.
    *
    * Values are quantized to 4 dp so the support histogram is bounded
    * (the [[globalRank]] discipline — ~10⁶ rows max, broadcastable)
    * regardless of raw-row scale; both ECDFs then come from ONE
    * [[rangeCumSum]] pass (two value columns + a ones column whose
    * cumsum is the rank), and consecutive support points pair by an
    * equi-join on rank+1. |F_a−F_b| is computed EXACTLY as
    * |cum_a·N_b − cum_b·N_a| in DECIMAL(38,0) (long·long overflows
    * past ~3·10⁹ rows/side) over the common denominator N_a·N_b;
    * per-segment terms snap to 12 dp and sum as DECIMAL so the
    * integral is partition-order-independent.
    */
  def wasserstein1D(df: DataFrame, valueCol: String, sideCol: String,
                    sideA: Any, sideB: Any, roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
        round(col(valueCol).cast("double"), 4))
      .withColumn("__one", lit(1L))
    val cum = rangeCumSum(hist, "__v", Seq("__na", "__nb", "__one"))
      .select(col("__v"), col("__cum___na").as("__ca"),
        col("__cum___nb").as("__cb"), col("__cum___one").as("__r"))
    val tot = hist.agg(sum(col("__na")).cast("decimal(38,0)").as("__Na"),
      sum(col("__nb")).cast("decimal(38,0)").as("__Nb"))
    val nxt = cum.select((col("__r") - 1).as("__r"), col("__v").as("__vn"))
    cum.join(nxt, "__r")
      .crossJoin(broadcast(tot))
      .withColumn("__num",
        abs(col("__ca").cast("decimal(38,0)") * col("__Nb") -
          col("__cb").cast("decimal(38,0)") * col("__Na")).cast("double"))
      .withColumn("__term", round(col("__num") /
          (col("__Na") * col("__Nb")).cast("double") *
          (col("__vn") - col("__v")), 12).cast("decimal(28,14)"))
      .agg(round(sum(col("__term")).cast("double"), roundTo)
          .as("wasserstein"),
        first(col("__Na")).cast("long").as("n_a"),
        first(col("__Nb")).cast("long").as("n_b"))
  }

  /** Chi-square test of independence over a two-column contingency
    * table, plus Cramér's V (the [0,1] effect size) — the categorical
    * companion to the numeric drift family (KS/PSI/W₁).
    *
    * Margins are two tiny aggregates broadcast back onto the r·c cell
    * table; the Σ(o−e)²/e accumulation snaps each cell term to 12 dp
    * and sums as DECIMAL (partition-order-independent, same discipline
    * as the other moment sums). Output: one row (n, dof, chi2,
    * cramers_v).
    */
  def chiSquare(df: DataFrame, xCol: String, yCol: String,
                roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__o"))
    val rm = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__rx"))
    val cm = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__cy"))
    val tot = cells.agg(sum(col("__o")).cast("double").as("__N"),
      countDistinct(col("__x")).as("__r"), countDistinct(col("__y")).as("__c"))
    // The FULL r·c grid (margins cross-joined), not just observed cells:
    // an empty cell still contributes (0−e)²/e, and dropping it
    // understates χ² exactly when the association is strongest.
    rm.crossJoin(broadcast(cm))
      .join(broadcast(cells), Seq("__x", "__y"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
      // rx·cy as DOUBLE: a long·long product overflows past ~3·10⁹-row
      // margins; doubles are exact to 2^53 and match the oracle's cast.
      .withColumn("__e", col("__rx").cast("double") * col("__cy") / col("__N"))
      .withColumn("__term", round(pow(col("__o") - col("__e"), 2)
          / col("__e"), 12)
        .cast("decimal(28,14)"))
      .agg(first(col("__N")).cast("long").as("n"),
        ((first(col("__r")) - 1) * (first(col("__c")) - 1)).as("dof"),
        round(sum(col("__term")).cast("double"), roundTo).as("chi2"),
        round(sqrt(sum(col("__term")).cast("double") /
          (first(col("__N")) *
            least(first(col("__r")) - 1, first(col("__c")) - 1))),
          roundTo).as("cramers_v"))
  }

  /** Mann–Whitney U rank-sum test between two sides — the
    * NONPARAMETRIC companion to the Welch/t family: does one side's
    * value distribution stochastically dominate the other, with no
    * normality assumption (pairs with [[wasserstein1D]], which weighs
    * the same shift in value units instead of rank units).
    *
    * Distributed by the [[globalRank]] discipline: values quantize to
    * 4 dp so the joint histogram is bounded (~10⁶ rows) regardless of
    * raw-row scale, ranks come from ONE [[rangeCumSum]] over it, and
    * each tie block contributes its average rank in closed form
    * (rows-before + (t+1)/2). Ranks are DOUBLED so the rank sum
    * accumulates EXACTLY as DECIMAL(38,0) (the spearman doubled-rank
    * discipline — no float-order noise between engines); the final
    * z uses the tie-corrected variance
    * nₐn_b/12 · (N+1 − Σ(t³−t)/(N(N−1))), no continuity correction.
    * A degenerate pool (all values tied → zero variance) yields null
    * z rather than ±∞.
    */
  def mannWhitney(df: DataFrame, valueCol: String, sideCol: String,
                  sideA: Any, sideB: Any, roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
        round(col(valueCol).cast("double"), 4))
      .withColumn("__t", col("__na") + col("__nb"))
    val cum = rangeCumSum(hist, "__v", Seq("__na", "__nb"))
    val s = cum
      .withColumn("__ar2", midrank2(
        col("__cum___na") + col("__cum___nb") - col("__t"), col("__t")))
      .agg(sum(col("__na").cast("decimal(38,0)") *
          col("__ar2").cast("decimal(38,0)")).as("__ra2"),
        sum(col("__na")).cast("decimal(38,0)").as("__qa"),
        sum(col("__nb")).cast("decimal(38,0)").as("__qb"),
        sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
          - col("__t")).as("__ties"))
    s.withColumn("__u",
        (col("__ra2") - col("__qa") * (col("__qa") + 1)).cast("double") / 2)
      .withColumn("__nn", (col("__qa") + col("__qb")).cast("double"))
      .withColumn("__var",
        col("__qa").cast("double") * col("__qb").cast("double") / 12.0 *
          (col("__nn") + 1 - col("__ties").cast("double") /
            (col("__nn") * (col("__nn") - 1))))
      .select(col("__qa").cast("long").as("n_a"),
        col("__qb").cast("long").as("n_b"),
        round(col("__u"), 4).as("u_a"),
        when(col("__var") > 0, round(
          (col("__u") - col("__qa").cast("double") *
            col("__qb").cast("double") / 2) / sqrt(col("__var")), roundTo))
          .as("z"))
  }

  /** Mann–Kendall trend test per group — the nonparametric twin of
    * [[theilSen]] (same input contract: an ALREADY-AGGREGATED
    * (group, x, y) series with distinct x per group, bounded by the
    * calendar, so the within-group pair join is |group|·n² over a
    * SMALL n — never raw-row-sized). S = Σ sign(y_j − y_i) over
    * x_j > x_i pairs; z uses the tie-corrected variance
    * [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 and the ±1 continuity
    * correction (z = (S − sign(S))/σ). Degenerate groups (constant
    * series → zero variance, or a single point) yield null z.
    */
  def mannKendall(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String, roundTo: Int = 6): DataFrame = {
    val a = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xa"), col(yCol).cast("double").as("__ya"))
    val b = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xb"), col(yCol).cast("double").as("__yb"))
    val sTab = a.join(b, "__g").filter(col("__xb") > col("__xa"))
      .groupBy(col("__g"))
      .agg(sum(signum(col("__yb") - col("__ya")).cast("long")).as("__s"))
    val base = series.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val ties = series.groupBy(col(groupCol).as("__g"),
        col(yCol).cast("double").as("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2) * col("__t") + 5))
        .as("__tt"))
    base.join(sTab, Seq("__g"), "left").join(ties, Seq("__g"))
      .withColumn("__var",
        (col("__n") * (col("__n") - 1) * (lit(2) * col("__n") + 5) -
          col("__tt")).cast("double") / 18.0)
      .select(col("__g").as(groupCol), col("__n").as("n"),
        coalesce(col("__s"), lit(0L)).as("s_stat"),
        when(col("__var") > 0,
          round((coalesce(col("__s"), lit(0L)) -
              signum(coalesce(col("__s"), lit(0L)))).cast("double") /
            sqrt(col("__var")), roundTo)).as("z"))
  }

  /** One-way ANOVA over k groups: F statistic + η² effect size from
    * ONE pass of per-group moment sums — the k-sample parametric
    * completion of the two-sample Welch family. Values quantize to
    * 4 dp decimals so Σv and Σv² accumulate EXACTLY (the spearman
    * moment discipline); the per-group s²/n terms snap to 12 dp and
    * sum as DECIMAL(38,12) (partition-order-independent, the
    * [[chiSquare]] term discipline — valid while each group's
    * (Σv)²/n < 10²⁶, far past any real fact table). Degenerate
    * inputs (k < 2, N ≤ k, zero within-variance) yield null F.
    * Output: one row (k, n, ss_between, ss_within, f_stat, eta_sq).
    */
  def anovaF(df: DataFrame, groupCol: String, valCol: String,
             roundTo: Int = 6): DataFrame = {
    val g = df
      .select(col(groupCol).as("__g"),
        round(col(valCol).cast("double"), 4).cast("decimal(18,4)")
          .as("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__q"))
      .withColumn("__sb", round(pow(col("__s").cast("double"), 2) /
          col("__n"), 12).cast("decimal(38,12)"))
    val tot = g.agg(count(lit(1)).as("__k"), sum(col("__n")).as("__N"),
      sum(col("__s")).cast("double").as("__S"),
      sum(col("__q")).cast("double").as("__Q"),
      sum(col("__sb")).cast("double").as("__SB"))
    tot
      .withColumn("__cf", col("__S") * col("__S") / col("__N"))
      .withColumn("__ssb", col("__SB") - col("__cf"))
      .withColumn("__ssw", col("__Q") - col("__SB"))
      .withColumn("__sst", col("__Q") - col("__cf"))
      .select(col("__k").as("k"), col("__N").as("n"),
        round(col("__ssb"), roundTo).as("ss_between"),
        round(col("__ssw"), roundTo).as("ss_within"),
        when(col("__k") > 1 && col("__N") > col("__k") &&
            col("__ssw") > 0,
          round((col("__ssb") / (col("__k") - 1)) /
            (col("__ssw") / (col("__N") - col("__k"))), roundTo))
          .as("f_stat"),
        when(col("__sst") > 0,
          round(col("__ssb") / col("__sst"), roundTo)).as("eta_sq"))
  }

  /** Kruskal–Wallis H over k groups — the rank-based (nonparametric)
    * twin of [[anovaF]], distributed by the [[mannWhitney]] histogram
    * discipline: values quantize to 4 dp so the joint histogram is
    * bounded regardless of raw-row scale, DOUBLED tie-averaged ranks
    * come from ONE [[rangeCumSum]] over it (exact integers), and each
    * group's rank-sum moment accumulates as DECIMAL(38,0). The
    * per-group R²/n terms snap to 12 dp and sum as DECIMAL(38,12)
    * (the [[chiSquare]] discipline — valid while R2² /4n < 10²⁶,
    * i.e. group sizes below ~10⁸ rows at N ~ 10⁹; document-scale
    * safe, and the bound is per GROUP, not per table). `h_adj`
    * divides by the tie correction 1 − Σ(t³−t)/(N³−N); an all-tied
    * pool (correction 0) yields null. Output: one row (n, k, h,
    * h_adj).
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valCol: String,
                    roundTo: Int = 6): DataFrame = {
    val obs = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 4).as("__v"))
    val cells = obs.groupBy(col("__v"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // feeds the value histogram + the rank join
    val histv = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
    val ranked = rangeCumSum(histv, "__v", Seq("__t"))
      // doubled tie-averaged rank of the block — integral
      .withColumn("__ar2", midrank2(col("__cum___t") - col("__t"), col("__t")))
    val grp = cells.join(ranked.select(col("__v"), col("__ar2")), "__v")
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("decimal(38,0)") *
          col("__ar2").cast("decimal(38,0)")).as("__r2"))
      .withColumn("__term",
        round(pow(col("__r2").cast("double"), 2) /
          (lit(4.0) * col("__n")), 12).cast("decimal(38,12)"))
    val ties = histv.agg(sum(col("__t").cast("decimal(38,0)") *
      col("__t") * col("__t") - col("__t")).as("__ties"))
    grp.agg(sum(col("__n")).as("__N"), count(lit(1)).as("__k"),
        sum(col("__term")).cast("double").as("__S4"))
      .crossJoin(broadcast(ties))
      .withColumn("__Nd", col("__N").cast("double"))
      .withColumn("__h", lit(12.0) * col("__S4") /
        (col("__Nd") * (col("__Nd") + 1)) - lit(3) * (col("__Nd") + 1))
      .withColumn("__corr", lit(1.0) - col("__ties").cast("double") /
        (col("__Nd") * col("__Nd") * col("__Nd") - col("__Nd")))
      .select(col("__N").as("n"), col("__k").as("k"),
        when(col("__N") > 1, round(col("__h"), roundTo)).as("h"),
        when(col("__N") > 1 && col("__corr") > 0,
          round(col("__h") / col("__corr"), roundTo)).as("h_adj"))
  }

  /** Brown–Forsythe homogeneity-of-variance test: [[anovaF]] on the
    * absolute deviations |v − median(group)| — the robust (median-
    * centered) Levene form. Medians are one percentile aggregate
    * (rounded to 6 dp, the shared-constant rule) broadcast back onto
    * the facts; everything after is the ANOVA machinery, so the same
    * moment/term disciplines and degenerate-input guards apply.
    * A significant F means the groups' SPREADS differ — the
    * precondition check for pooled-variance tests upstream.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valCol: String,
                    roundTo: Int = 6): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(round(percentile(col(valCol).cast("double"), lit(0.5)), 6)
        .as("__med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("__dev",
        abs(col(valCol).cast("double") - col("__med")))
    anovaF(dev, groupCol, "__dev", roundTo)
  }

  /** Per-group Jarque–Bera normality screen: skewness, excess-free
    * kurtosis, and JB = n/6·(S² + (K−3)²/4) from central-moment sums.
    * Two passes: group means broadcast back (exact-decimal Σv / n as
    * ONE double division), then each row's d², d³, d⁴ snap to 8 dp
    * and sum as DECIMAL(38,8) — per-ROW term snapping (bounded |d| ≤
    * value range keeps d⁴ < 10¹² per row; the decimal sum is
    * partition-order-independent at any row count). A constant group
    * (m₂ = 0) yields null skew/kurtosis/JB.
    */
  def jarqueBera(df: DataFrame, groupCol: String, valCol: String,
                 roundTo: Int = 6): DataFrame = {
    val v = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 4).cast("decimal(18,4)")
        .as("__v"))
    val means = v.groupBy(col("__g"))
      .agg((sum(col("__v")).cast("double") / count(lit(1)))
        .as("__mean"))
    val d = v.join(broadcast(means), "__g")
      .withColumn("__d", col("__v").cast("double") - col("__mean"))
    d.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(round(col("__d") * col("__d"), 8).cast("decimal(38,8)"))
          .cast("double").as("__s2"),
        sum(round(col("__d") * col("__d") * col("__d"), 8)
          .cast("decimal(38,8)")).cast("double").as("__s3"),
        sum(round(col("__d") * col("__d") * col("__d") * col("__d"), 8)
          .cast("decimal(38,8)")).cast("double").as("__s4"))
      .withColumn("__m2", col("__s2") / col("__n"))
      .withColumn("__sk", when(col("__m2") > 0,
        col("__s3") / col("__n") / pow(col("__m2"), 1.5)))
      .withColumn("__ku", when(col("__m2") > 0,
        col("__s4") / col("__n") / (col("__m2") * col("__m2"))))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        round(col("__sk"), roundTo).as("skewness"),
        round(col("__ku"), roundTo).as("kurtosis"),
        round(col("__n").cast("double") / 6 *
          (col("__sk") * col("__sk") +
            pow(col("__ku") - 3, 2) / 4), roundTo).as("jb"))
      .orderBy(groupCol)
  }

  /** Benjamini–Hochberg FDR control over a table of (test id,
    * p-value) rows: rank tests by p ascending, find the largest k with
    * p₍k₎ ≤ k·α/m, reject ranks 1..k. The one "global" object is the
    * rank — computed by [[globalRank]] (histogram + partitioned
    * window, no single-reducer stage), so the operator holds at
    * millions of simultaneous tests. k* itself is a 1-row aggregate
    * broadcast back.
    *
    * CONTRACT: `pCol` must be pre-rounded to ≤6 dp (globalRank
    * quantizes scores to 6 dp; a p-value distinguished only past the
    * 6th decimal would tie-break by id instead of by p). Null
    * p-values rank last and are never rejected.
    */
  def bhFdr(tests: DataFrame, idCol: String, pCol: String,
            alpha: Double = 0.05): DataFrame = {
    val m = tests.agg(count(col(pCol)).as("__m"))
    val ranked = globalRank(tests, pCol, idCol)
      .crossJoin(broadcast(m))
      .withColumn("crit", round(col("r") * lit(alpha) / col("__m"), 12))
    val kStar = ranked.agg(
      max(when(col(pCol) <= col("crit"), col("r"))).as("__k"))
    ranked.crossJoin(broadcast(kStar))
      .withColumn("is_reject",
        when(col("r") <= coalesce(col("__k"), lit(0L)), 1).otherwise(0))
      .drop("__m", "__k")
  }

  /** Trend/seasonality split of a per-group daily series: trend is
    * the centered (2·halfWin+1)-point moving average (partial frames
    * at the series edges), the seasonal effect is the mean residual
    * per (group, `seasonCol`) — STL-lite, the audit an ops dashboard
    * reads before calling a weekday dip "drift". Input contract
    * matches [[theilSen]]/[[cusum]]: an ALREADY-AGGREGATED
    * (group, day, season, value) series bounded by the calendar, so
    * the moving-average window partitions BY GROUP — never a
    * single-partition funnel — and the frame is rows-based (gap days
    * simply don't contribute). Values enter as 6-dp DECIMAL and every
    * sum stays DECIMAL-EXACT end to end: per-day trends are carried
    * as frame-sum · (LCM/frameCount) — integral, because any window
    * of h+1 consecutive integers contains a multiple of every
    * possible frame count — so no per-day quotient is ever rounded
    * (a 6-dp round of sum/count lands on half-boundaries where
    * Spark's BigDecimal and DuckDB's FP round disagree by 1 ulp).
    * Each output column divides exactly once, in double, at the end.
    */
  def seasonalEffect(series: DataFrame, groupCol: String, dayCol: String,
                     seasonCol: String, valCol: String,
                     halfWin: Int = 3): DataFrame = {
    require(halfWin >= 1 && halfWin <= 12,
      "halfWin outside the exact-LCM range")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (halfWin + 1 to 2 * halfWin + 1)
      .foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val mulType = s"decimal(${lcm.toString.length},0)"
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__d")).rowsBetween(-halfWin, halfWin)
    series.select(col(groupCol), col(dayCol).cast("long").as("__d"),
        col(seasonCol).as("__season"),
        round(col(valCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"))
      // trend numerator: frame sum scaled to the common denominator
      // LCM — exact decimal, no per-day division
      .withColumn("__tn", sum(col("__v")).over(w).cast("decimal(24,6)") *
        (lit(lcm) / count(lit(1)).over(w)).cast(mulType))
      .groupBy(col(groupCol), col("__season").as(seasonCol))
      .agg(count(lit(1)).as("n_days"),
        round((sum(col("__v")).cast("double") -
          sum(col("__tn")).cast("double") / lcm) / count(lit(1)), 6)
          .as("effect"),
        round(sum(col("__tn")).cast("double") / lcm / count(lit(1)), 6)
          .as("trend_mean"))
  }

  /** SAX symbolization of a per-group series: PAA-compress the
    * ordered series into `segments` equal-count segments (by rank, so
    * calendar gaps don't skew segment sizes), then map each segment
    * mean to a 4-letter alphabet by the GROUP'S OWN quartiles — the
    * symbolic form that makes shape queries (motifs, anomaly grammar)
    * string problems. Same bounded-series contract as [[theilSen]] /
    * [[seasonalEffect]].
    *
    * Determinism: segment ids are integer math ((rank−1)·S div n);
    * segment means are one exact-decimal sum divided once into a
    * double (never round-then-compare — the q193 1-ulp lesson);
    * quartile breakpoints round to 6 dp (shared-constant rule) before
    * the `<` comparisons. Windows partition by group; the quartile agg
    * broadcasts.
    */
  def saxSymbols(series: DataFrame, groupCol: String, dayCol: String,
                 valCol: String, segments: Int = 8): DataFrame = {
    require(segments >= 1 && segments <= 64)
    val wr = Window.partitionBy(col(groupCol)).orderBy(col("__d"))
    val base = series.select(col(groupCol),
        col(dayCol).cast("long").as("__d"),
        round(col(valCol).cast("double"), 6).cast("decimal(18,6)")
          .as("__v"))
      .withColumn("__rn", row_number().over(wr))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("__seg",
        expr(s"CAST((( __rn - 1) * $segments) DIV __n AS INT)"))
    val segMeans = base.groupBy(col(groupCol), col("__seg"))
      .agg((sum(col("__v")).cast("double") / count(lit(1))).as("__m"))
    val breaks = base.groupBy(col(groupCol)).agg(
      round(percentile(col("__v").cast("double"), lit(0.25)), 6)
        .as("__q1"),
      round(percentile(col("__v").cast("double"), lit(0.5)), 6)
        .as("__q2"),
      round(percentile(col("__v").cast("double"), lit(0.75)), 6)
        .as("__q3"))
    segMeans.join(broadcast(breaks), groupCol)
      .withColumn("__sym", when(col("__m") < col("__q1"), "a")
        .when(col("__m") < col("__q2"), "b")
        .when(col("__m") < col("__q3"), "c").otherwise("d"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_segments"),
        concat_ws("", transform(array_sort(collect_list(
            struct(col("__seg").as("s"), col("__sym").as("y")))),
          x => x.getField("y"))).as("sax"))
  }

  def tukeyOutliers(df: DataFrame, groupCol: String, valCol: String,
                    k: Double = 1.5): DataFrame = {
    val st = df.groupBy(col(groupCol))
      .agg(round(expr(s"percentile($valCol, 0.25)"), 6).as("__q1"),
        round(expr(s"percentile($valCol, 0.75)"), 6).as("__q3"))
      .withColumn("__lo", col("__q1") - lit(k) * (col("__q3") - col("__q1")))
      .withColumn("__hi", col("__q3") + lit(k) * (col("__q3") - col("__q1")))
    val out = col(valCol) < col("__lo") || col(valCol) > col("__hi")
    df.join(broadcast(st), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(out, 1L).otherwise(0L)).as("n_out"),
        round(sum(when(out, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("out_frac"),
        round(first(col("__lo")), 6).as("lo_fence"),
        round(first(col("__hi")), 6).as("hi_fence"))
  }

  /** Weight-of-evidence / information-value encoding of a categorical
    * feature against a binary label (the credit-scoring staple for
    * feature screening): per level,
    * WOE = ln(((pos+0.5)/posTot) / ((neg+0.5)/negTot)) — the 0.5
    * Laplace shift keeps one-sided levels finite — and
    * IV_i = (pos/posTot − neg/negTot)·WOE, with the feature's total IV
    * repeated per row.
    *
    * Scale shape: ONE hash agg to the |levels|-row table; class totals
    * are a 1-row broadcast. Per-level IV terms snap to 12 dp and sum as
    * DECIMAL(38,12) (the chiSquare discipline) so the total is
    * order-independent — a raw double Σ over levels would tie the last
    * ulp to partial-agg order.
    */
  def woeIv(df: DataFrame, featureCol: String, labelCol: String,
            roundTo: Int = 6): DataFrame = {
    val lv = df.groupBy(col(featureCol).as("__f"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("__p"))
      .withColumn("__ng", col("n") - col("__p"))
    val tot = lv.agg(sum(col("__p")).as("__pt"), sum(col("__ng")).as("__nt"))
    // one-class degenerate input (a class total of 0) nulls the scores
    // instead of dividing by zero under ANSI
    val scored = lv.crossJoin(broadcast(tot))
      .withColumn("__pr",
        when(col("__pt") > 0, col("__p").cast("double") / col("__pt")))
      .withColumn("__nr",
        when(col("__nt") > 0, col("__ng").cast("double") / col("__nt")))
      .withColumn("__woe", when(col("__pt") > 0 && col("__nt") > 0,
        log(((col("__p") + 0.5) / col("__pt")) /
          ((col("__ng") + 0.5) / col("__nt")))))
      .withColumn("__iv12",
        round((col("__pr") - col("__nr")) * col("__woe"), 12)
          .cast("decimal(38,12)"))
      .localCheckpoint(false) // feeds the IV total AND the output rows
    val ivTot = scored.agg(sum(col("__iv12")).as("__ivt"))
    // rounded differences can land on zero — pin to +0.0 (see [[normZero]];
    // the r6 q210 hash mismatch)
    scored.crossJoin(broadcast(ivTot))
      .select(col("__f").as(featureCol), col("n"), col("__p").as("pos"),
        col("__ng").as("neg"), normZero(round(col("__woe"), roundTo)).as("woe"),
        normZero(round(col("__iv12").cast("double"), roundTo)).as("iv"),
        normZero(round(col("__ivt").cast("double"), roundTo)).as("iv_total"))
      .orderBy(featureCol)
  }

  /** Average precision (area under the precision–recall step curve,
    * sklearn's `average_precision_score` definition) per group:
    * AP = Σ_s (ΔR_s)·P_s over DISTINCT scores s descending, where
    * ΔR_s = pos_s/P and P_s = cumPos_s/cumTot_s. Tie-robust by
    * construction — ties share one step, no within-tie order enters.
    *
    * Scale shape: the [[globalRank]] discipline — scores quantize to
    * 6 dp, so the per-(group, score) histogram is the only object the
    * cumulative window sees (≤10⁶ rows per group, partitioned BY
    * GROUP — never a raw-row or single-partition window). Step terms
    * snap to 12 dp and sum as DECIMAL(38,12), keeping AP independent
    * of partial-agg order.
    */
  def averagePrecision(df: DataFrame, groupCol: String, scoreCol: String,
                       labelCol: String, roundTo: Int = 6): DataFrame = {
    val hist = df
      .select(col(groupCol).as("__g"),
        round(col(scoreCol).cast("double"), 6).as("__s"),
        col(labelCol).cast("long").as("__l"))
      .groupBy(col("__g"), col("__s"))
      .agg(sum(col("__l")).as("__ps"), count(lit(1)).as("__ts"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__s").desc)
    val wAll = Window.partitionBy(col("__g"))
    hist
      .withColumn("__cp", sum(col("__ps")).over(w))
      .withColumn("__ct", sum(col("__ts")).over(w))
      .withColumn("__np", sum(col("__ps")).over(wAll))
      .groupBy(col("__g"))
      .agg(sum(col("__ts")).as("n"), max(col("__np")).as("npos"),
        sum(round(when(col("__np") > 0,
            (col("__ps").cast("double") / col("__np")) *
              (col("__cp").cast("double") / col("__ct"))), 12)
          .cast("decimal(38,12)")).as("__ap"))
      .select(col("__g").as(groupCol), col("n"), col("npos"),
        when(col("npos") > 0,
          round(col("__ap").cast("double"), roundTo)).as("ap"))
      .orderBy(groupCol)
  }

  /** Wilcoxon signed-rank test over PAIRED samples (one row per
    * subject, columns a and b) — the paired companion to
    * [[mannWhitney]]: does the within-subject difference distribution
    * center on zero? Differences quantize to 4 dp; exact zeros drop
    * (the standard treatment); |d| ranks come from ONE [[rangeCumSum]]
    * over the bounded |d| histogram with tie-block average ranks in
    * closed form, DOUBLED so the W⁺ moment accumulates exactly as
    * DECIMAL(38,0). z uses the tie-corrected normal approximation
    * var = n(n+1)(2n+1)/24 − Σ(t³−t)/48; an all-tied pool (zero
    * variance) yields null z.
    */
  def wilcoxonSignedRank(df: DataFrame, aCol: String, bCol: String,
                         roundTo: Int = 6): DataFrame = {
    val d = df.select(round(col(aCol).cast("double") -
        col(bCol).cast("double"), 4).as("__d"))
      .filter(col("__d") =!= 0.0 && col("__d").isNotNull)
    val hist = d.groupBy(abs(col("__d")).as("__ad"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__pos"))
    val cum = rangeCumSum(hist, "__ad", Seq("__t"))
    val s = cum
      .withColumn("__ar2", midrank2(col("__cum___t") - col("__t"), col("__t")))
      .agg(sum(col("__pos").cast("decimal(38,0)") *
          col("__ar2").cast("decimal(38,0)")).as("__wp2"),
        sum(col("__t")).cast("decimal(38,0)").as("__n"),
        sum(col("__t").cast("decimal(38,0)") * col("__t") * col("__t")
          - col("__t")).as("__ties"))
    s.withColumn("__nn", col("__n").cast("double"))
      .withColumn("__wp", col("__wp2").cast("double") / 2)
      .withColumn("__var",
        col("__nn") * (col("__nn") + 1) * (col("__nn") * 2 + 1) / 24.0 -
          col("__ties").cast("double") / 48.0)
      .select(col("__n").cast("long").as("n"),
        round(col("__wp"), 4).as("w_plus"),
        when(col("__var") > 0, round(
          (col("__wp") - col("__nn") * (col("__nn") + 1) / 4) /
            sqrt(col("__var")), roundTo)).as("z"))
  }

  /** Leave-one-group-out jackknife for a ratio-of-sums estimator
    * θ = Σnum/Σden (CTR, conversion, revenue-per-event …): the
    * standard-error machinery that needs NO resampling randomness —
    * deterministic, partition-independent, and exactly mirrorable in
    * SQL. Per group g, θ₋g = (C−c_g)/(N−n_g); the jackknife SE is
    * √((G−1)/G · Σ(θ₋g − θ̄)²) and the bias-corrected point estimate
    * is G·θ − (G−1)·θ̄.
    *
    * Scale shape: ONE hash agg to the G-row group table; totals are a
    * 1-row broadcast. θ₋g values and squared deviations snap to 12 dp
    * and sum as DECIMAL(38,12) so both reductions are order-exact.
    */
  def jackknifeRatio(df: DataFrame, groupCol: String, numCol: String,
                     denCol: String, roundTo: Int = 6): DataFrame = {
    val g = df.groupBy(col(groupCol).as("__g"))
      .agg(sum(col(numCol).cast("long")).as("__c"),
        sum(col(denCol).cast("long")).as("__n"))
    val tot = g.agg(sum(col("__c")).as("__ct"), sum(col("__n")).as("__nt"),
      count(lit(1)).as("__gc"))
    // a single-group input leaves θ₋g with an empty complement — null
    // it (and everything downstream) instead of dividing by zero
    val loo = g.crossJoin(broadcast(tot))
      .withColumn("__th", when(col("__nt") > col("__n"),
        round((col("__ct") - col("__c")).cast("double") /
          (col("__nt") - col("__n")), 12)).cast("decimal(38,12)"))
      .localCheckpoint(false) // feeds the mean AND the deviation pass
    val mean = loo.agg((sum(col("__th")) / first(col("__gc")))
      .cast("decimal(38,12)").as("__thbar"))
    loo.crossJoin(broadcast(mean))
      .agg(first(col("__gc")).as("__gcnt"),
        first(col("__ct")).as("__ctt"), first(col("__nt")).as("__ntt"),
        first(col("__thbar")).as("__tb"),
        sum(round(
            (col("__th") - col("__thbar")).cast("double") *
              (col("__th") - col("__thbar")).cast("double"), 12)
          .cast("decimal(38,12)")).as("__ss"))
      .select(col("__gcnt").as("n_groups"),
        round(col("__ctt").cast("double") / col("__ntt"), roundTo)
          .as("theta"),
        round((col("__gcnt") * (col("__ctt").cast("double") /
            col("__ntt")) - (col("__gcnt") - 1) *
          col("__tb").cast("double")), roundTo).as("theta_jack"),
        when(col("__gcnt") > 1, round(
          sqrt(col("__ss").cast("double") *
            (col("__gcnt") - 1) / col("__gcnt")), roundTo)).as("jk_se"))
  }

  /** Per-key cardinality-skew profile — the shuffle-planning advisor a
    * 100 TB join runs BEFORE picking a strategy (plain hash join vs
    * salting vs AQE skew hints): exact max/percentile per-key counts,
    * the heavy-key share, and the max/mean ratio that decides whether
    * a key needs salting.
    *
    * Two bounded reductions: keys collapse to a per-key count (the
    * only raw-row shuffle), counts collapse to a count-of-counts
    * histogram (≤ |distinct count values| rows — the [[rangeCumSum]]
    * discipline keeps its cumulation partitioned). Percentiles are
    * inverse-CDF lower values at ⌈q·K⌉, computed with integer
    * arithmetic — no float quantile estimation anywhere.
    */
  def keySkewProfile(df: DataFrame, keyCol: String,
                     roundTo: Int = 6): DataFrame = {
    val perKey = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val hist = perKey.groupBy(col("__c")).agg(count(lit(1)).as("__f"))
    val cum = rangeCumSum(hist, "__c", Seq("__f"))
    val tot = hist.agg(sum(col("__f")).as("__kk"),
      sum(col("__c") * col("__f")).as("__rows"), max(col("__c")).as("__mx"))
    cum.crossJoin(broadcast(tot))
      .agg(first(col("__rows")).as("n_rows"),
        first(col("__kk")).as("n_keys"),
        first(col("__mx")).as("max_count"),
        min(when(col("__cum___f") * 2 >= col("__kk") + 1, col("__c")))
          .as("p50_count"),
        min(when(col("__cum___f") * 10 >= col("__kk") * 9, col("__c")))
          .as("p90_count"),
        min(when(col("__cum___f") * 100 >= col("__kk") * 99, col("__c")))
          .as("p99_count"))
      .select(col("n_rows"), col("n_keys"), col("max_count"),
        col("p50_count"), col("p90_count"), col("p99_count"),
        round(col("n_rows").cast("double") / col("n_keys"), roundTo)
          .as("avg_count"),
        round(col("max_count").cast("double") * col("n_keys") /
          col("n_rows"), roundTo).as("skew_ratio"),
        round(col("max_count").cast("double") / col("n_rows"), roundTo)
          .as("top1_share"))
  }

  /** Two-sample effect sizes between sides A and B: Cliff's delta
    * δ = (#(a>b) − #(a<b)) / (nₐ·n_b) — the ORDINAL effect size, exact
    * from pair counts — and Cohen's d on the pooled-SD scale — the
    * PARAMETRIC one. Reporting both is the standard practice when a
    * [[mannWhitney]] z says "significant" and the question becomes
    * "how big".
    *
    * No pair is ever materialized: values quantize to 4 dp, ONE
    * histogram carries (nₐ, n_b) per value, [[rangeCumSum]] gives each
    * value's below-count for the cross-pair sums (exact integers in
    * DECIMAL(38,0)), and the moment sums for d come off the same
    * histogram as exact decimals.
    */
  def effectSizes(df: DataFrame, valueCol: String, sideCol: String,
                  sideA: Any, sideB: Any, roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
      round(col(valueCol).cast("double"), 4))
    val cum = rangeCumSum(hist, "__v", Seq("__na", "__nb"))
    val totB = hist.agg(sum(col("__nb")).as("__nbt"))
    val vd = cum.crossJoin(broadcast(totB))
      .withColumn("__vd", col("__v").cast("decimal(18,4)"))
    vd.agg(
        sum(col("__na")).cast("decimal(38,0)").as("__qa"),
        sum(col("__nb")).cast("decimal(38,0)").as("__qb"),
        // #(a>b): each a-row beats every b strictly below its value
        sum(col("__na").cast("decimal(38,0)") *
          (col("__cum___nb") - col("__nb")).cast("decimal(38,0)"))
          .as("__gt"),
        // #(a<b): each a-row loses to every b strictly above
        sum(col("__na").cast("decimal(38,0)") *
          (col("__nbt") - col("__cum___nb")).cast("decimal(38,0)"))
          .as("__lt"),
        sum(col("__vd") * col("__na")).as("__sa"),
        sum(col("__vd") * col("__nb")).as("__sb"),
        sum(col("__vd") * col("__vd") * col("__na")).as("__ssa"),
        sum(col("__vd") * col("__vd") * col("__nb")).as("__ssb"))
      .withColumn("__ma", col("__sa").cast("double") / col("__qa"))
      .withColumn("__mb", col("__sb").cast("double") / col("__qb"))
      .withColumn("__va",
        (col("__ssa").cast("double") - col("__sa").cast("double") *
          col("__sa").cast("double") / col("__qa")))
      .withColumn("__vb",
        (col("__ssb").cast("double") - col("__sb").cast("double") *
          col("__sb").cast("double") / col("__qb")))
      .withColumn("__sp", when(col("__qa") + col("__qb") > 2,
        sqrt((col("__va") + col("__vb")) /
          (col("__qa") + col("__qb") - 2).cast("double"))))
      .select(col("__qa").cast("long").as("n_a"),
        col("__qb").cast("long").as("n_b"),
        round(col("__ma"), roundTo).as("mean_a"),
        round(col("__mb"), roundTo).as("mean_b"),
        round((col("__gt") - col("__lt")).cast("double") /
          (col("__qa") * col("__qb")).cast("double"), roundTo)
          .as("cliffs_delta"),
        when(col("__sp") > 0, round(
          (col("__ma") - col("__mb")) / col("__sp"), roundTo))
          .as("cohens_d"))
  }

  /** Day-over-day volume anomaly screen per group: each day's row
    * count against the trailing `window`-day mean/std (frame ends at
    * the PREVIOUS day, so the tested day never contaminates its own
    * baseline), z-scored and filtered to |z| ≥ `zCut` — the partition-
    * volume tripwire an ingest pipeline runs before anything
    * downstream trusts the batch.
    *
    * The raw table collapses to (group, day) counts first; the rolling
    * window runs over that calendar-bounded series (per-group
    * partitioned, ≤ window rows of state). Counts are integers, so the
    * rolling sums are exact; z is one double formula per day.
    */
  def volumeAnomaly(df: DataFrame, groupCol: String, tsCol: String,
                    window: Int, zCut: Double,
                    roundTo: Int = 6): DataFrame = {
    val daily = df.groupBy(col(groupCol).as("__g"),
        col(tsCol).cast("date").as("__d"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__d"))
      .rowsBetween(-window, -1)
    daily
      .withColumn("__n", count(col("__c")).over(w))
      .withColumn("__s", sum(col("__c")).over(w))
      .withColumn("__q", sum(col("__c") * col("__c")).over(w))
      .filter(col("__n") >= 2)
      .withColumn("__mean", col("__s").cast("double") / col("__n"))
      .withColumn("__var",
        (col("__q").cast("double") - col("__s").cast("double") *
          col("__s").cast("double") / col("__n")) / (col("__n") - 1))
      .filter(col("__var") > 0)
      .withColumn("__z",
        (col("__c") - col("__mean")) / sqrt(col("__var")))
      .filter(abs(col("__z")) >= zCut)
      // day as an ISO string: a DATE column round-trips differently
      // through parquet/pandas on each engine (date32 vs timestamp64)
      // and breaks value canonicalization even when days are equal
      .select(col("__g").as(groupCol), col("__d").cast("string").as("day"),
        col("__c").as("n_rows"), round(col("__mean"), roundTo)
          .as("baseline_mean"), round(col("__z"), roundTo).as("z"))
      .orderBy(groupCol, "day")
  }

  /** Watermark advisor: the out-of-orderness profile a Structured
    * Streaming job needs BEFORE choosing `withWatermark` — lateness of
    * each event = running max of event time in ARRIVAL order minus its
    * own event time, summarized as integer-second percentiles. Suggest
    * the p99: a tighter watermark drops >1% of events, a looser one
    * holds state longer for no coverage gain.
    *
    * The running max distributes like [[rangeCumSum]] (the skyline
    * sweep): range-repartition by arrival, in-partition running max,
    * plus each partition's prefix max via the broadcast triangular
    * partition join — no unpartitioned window at any volume. Lateness
    * seconds then collapse to a histogram and percentiles are integer
    * inverse-CDF picks (the [[keySkewProfile]] discipline).
    */
  def watermarkAdvisor(df: DataFrame, arrivalCol: String,
                       tsCol: String): DataFrame = {
    val ev = df.select(col(arrivalCol).as("__a"),
      unix_micros(col(tsCol)).as("__t"))
    val parts = ev.repartitionByRange(col("__a").asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val w = Window.partitionBy(col("__pid")).orderBy(col("__a").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ptot = parts.groupBy(col("__pid")).agg(max(col("__t")).as("__pmax"))
    val pbefore = ptot.as("pa")
      .join(broadcast(ptot.as("pb")), col("pb.__pid") < col("pa.__pid"),
        "left")
      .groupBy(col("pa.__pid").as("__pid"))
      .agg(max(col("pb.__pmax")).as("__before"))
    val late = parts.join(broadcast(pbefore), "__pid")
      .withColumn("__rm",
        greatest(max(col("__t")).over(w), col("__before")))
      .select(expr("(__rm - __t) div 1000000").as("__l"))
    val hist = late.groupBy(col("__l")).agg(count(lit(1)).as("__f"))
    val cum = rangeCumSum(hist, "__l", Seq("__f"))
    val tot = hist.agg(sum(col("__f")).as("__nn"), max(col("__l")).as("__mx"))
    cum.crossJoin(broadcast(tot))
      .agg(first(col("__nn")).as("n_events"),
        min(when(col("__cum___f") * 2 >= col("__nn") + 1, col("__l")))
          .as("p50_late_s"),
        min(when(col("__cum___f") * 20 >= col("__nn") * 19, col("__l")))
          .as("p95_late_s"),
        min(when(col("__cum___f") * 100 >= col("__nn") * 99, col("__l")))
          .as("p99_late_s"),
        first(col("__mx")).as("max_late_s"))
      .withColumn("suggested_watermark_s", col("p99_late_s"))
  }

  /** McNemar's test over PAIRED binary outcomes (one row per subject,
    * two 0/1 columns): did the marginal rate change within subjects?
    * Only the discordant cells matter — b = #(a=1,b=0), c = #(a=0,b=1);
    * χ² uses the continuity-corrected (|b−c|−1)²/(b+c) and z is the
    * matching signed normal (b−c)/√(b+c). ONE aggregate over the
    * subject table; concordant-only input (b+c = 0) yields nulls
    * rather than 0/0.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String,
              roundTo: Int = 6): DataFrame = {
    val s = df.agg(count(lit(1)).as("n_pairs"),
      sum(when(col(aCol).cast("int") === 1 && col(bCol).cast("int") === 0,
        1L).otherwise(0L)).as("b"),
      sum(when(col(aCol).cast("int") === 0 && col(bCol).cast("int") === 1,
        1L).otherwise(0L)).as("c"))
    s.select(col("n_pairs"), col("b"), col("c"),
      when(col("b") + col("c") > 0, round(
        (abs(col("b") - col("c")) - 1).cast("double") *
          (abs(col("b") - col("c")) - 1) / (col("b") + col("c")),
        roundTo)).as("chi2"),
      when(col("b") + col("c") > 0, round(
        (col("b") - col("c")).cast("double") /
          sqrt((col("b") + col("c")).cast("double")), roundTo)).as("z"))
  }

  /** Cross-correlation function (lead–lag screen) between two bucketed
    * series sharing the same bucket column: for every lag l in
    * [−maxLag, +maxLag], the Pearson correlation of (a_t, b_{t−l}).
    * Positive-lag peaks mean `a` LEADS `b` by l buckets — the
    * does-views-predict-purchases question asked symmetrically in one
    * pass.
    *
    * The lag spine is an exploded literal sequence (2·maxLag+1 rows)
    * joined against the CALENDAR (a_t pairs with b at bucket t+l, the
    * [[autocorr]] gap-robust contract), so the join is
    * |lags|·|buckets| rows — bounded by the calendar, never data
    * volume. `corr` is the built-in co-moment aggregate; rounding
    * absorbs its partial-merge float noise.
    */
  def crossCorrelation(series: DataFrame, xCol: String, aCol: String,
                       bCol: String, maxLag: Int = 3,
                       roundTo: Int = 6): DataFrame = {
    val cur = series.select(col(xCol).cast("long").as("__x"),
      col(aCol).cast("double").as("__a"))
    val lagged = series.select(col(xCol).cast("long").as("__bx"),
        col(bCol).cast("double").as("__b"))
      .crossJoin(broadcast(
        series.sparkSession.range(1).select(explode(sequence(
          lit(-maxLag.toLong), lit(maxLag.toLong))).as("lag"))))
      .withColumn("__x", col("__bx") - col("lag"))
    cur.join(lagged, Seq("__x"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("__a"), col("__b")), roundTo).as("ccf"))
  }

  /** Ljung–Box portmanteau test per group: are the first `m`
    * autocorrelations of a bucketed series jointly zero?
    * Q = n(n+2)·Σ_{k=1..m} ρ̂_k²/(n−k), χ² with m df under the null —
    * the standard "is there ANY serial structure left" gate after
    * detrending ([[durbinWatson]] asks it for lag 1 only).
    *
    * ρ̂_k uses the conventional ACF estimator (global mean and
    * variance) over the [[lagProducts]] sums. Output: per (group,
    * lag) ρ̂_k with the shared Q and n repeated (the [[woeIv]]
    * reporting shape).
    */
  def ljungBox(series: DataFrame, groupCol: String, xCol: String,
               yCol: String, m: Int = 5, roundTo: Int = 6): DataFrame = {
    val rho = lagProducts(series, groupCol, xCol, yCol, m)
      .withColumn("rho", when(col("__ss") > 0,
        col("__num").cast("double") / col("__ss").cast("double"))
        .otherwise(lit(0.0)))
    val mom = series.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val q = rho.join(broadcast(mom), "__g")
      .groupBy(col("__g"))
      .agg(first(col("__n")).as("__nn"),
        sum(round(col("rho") * col("rho") /
          (col("__n") - col("lag")).cast("double"), 12)
          .cast("decimal(38,12)")).as("__qsum"))
      .select(col("__g"),
        col("__nn").cast("long").as("n"),
        round(col("__nn").cast("double") * (col("__nn") + 2) *
          col("__qsum").cast("double"), roundTo).as("q_stat"))
    rho.join(broadcast(q), "__g")
      .select(col("__g").as(groupCol), col("lag"),
        round(col("rho"), roundTo).as("rho"), col("n"), col("q_stat"))
  }

  /** Exact percentile bands per group: the P10/P50/P90 of a quantized
    * value column by integer inverse-CDF over the per-group value
    * histogram — the weekly "candlestick" a metrics warehouse
    * publishes without ever sorting raw rows. Windows run over the
    * DISTINCT quantized values of each group only (the [[spearman]]
    * histogram-rank discipline); the picks are the smallest value
    * whose cumulative count reaches ⌈q·n⌉ (lower inverse CDF — an
    * integer comparison, no interpolation, engine-exact).
    */
  def percentileBands(df: DataFrame, groupCols: Seq[String],
                      valCol: String): DataFrame = {
    val hist = df.groupBy(
        (groupCols.map(col) :+
          round(col(valCol).cast("double"), 2).as("__v")): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(groupCols.map(col): _*)))
    cum.groupBy(groupCols.map(col): _*)
      .agg(first(col("__n")).as("n"),
        min(when(col("__cum") * 10 >= col("__n"), col("__v"))).as("p10"),
        min(when(col("__cum") * 2 >= col("__n"), col("__v"))).as("p50"),
        min(when(col("__cum") * 10 >= col("__n") * 9, col("__v")))
          .as("p90"))
  }

  /** Truncated-EWMA forecast anomaly screen per group over an
    * ALREADY-AGGREGATED (group, bucket, value) series (the
    * [[theilSen]]/CUSUM bounded-series contract): each bucket's value
    * is compared against the exponentially-weighted mean of the
    * PREVIOUS `win` buckets (α = ½, so weights are exact dyadic
    * 2^(win−1−lag) integers — no `pow`, no FP weight drift), and
    * buckets whose deviation z-scores beyond `zCut` against the
    * group's own deviation spread are reported.
    *
    * The rolling part is a bounded self-join on per-group row numbers
    * (history rn ∈ [rn−win, rn−1]) over the aggregated series — the
    * same |group|·win-bounded shape as the MK/Theil-Sen pair joins,
    * never a raw-row window. Weighted sums accumulate as exact
    * integers; the EWMA normalizes by the sum of the weights actually
    * present, so the series head (fewer than `win` predecessors) is
    * exact, not zero-padded. Deviations snap to 6 dp; spread moments
    * accumulate as exact decimals.
    */
  def ewmaAnomaly(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String, win: Int = 32, zCut: Double = 2.0,
                  roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val base = series.select(col(groupCol).as("__g"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__rn", row_number().over(w))
      .localCheckpoint(true) // current + history sides of the self-join
    val hist = base.select(col("__g").as("__hg"),
      col("__rn").as("__hrn"), col("__y").as("__hy"))
    val ew = base.join(hist,
        col("__g") === col("__hg") &&
          col("__hrn") >= col("__rn") - win &&
          col("__hrn") <= col("__rn") - 1)
      .drop("__hg")
      .withColumn("__lag", (col("__rn") - col("__hrn")).cast("int"))
      .withColumn("__wt",
        expr(s"shiftleft(CAST(1 AS BIGINT), $win - __lag)"))
      .groupBy("__g", "__rn")
      .agg(sum(col("__hy") * col("__wt")).as("__num"),
        sum(col("__wt")).as("__den"))
      .withColumn("__ewma",
        col("__num").cast("double") / col("__den").cast("double"))
      .select(col("__g"), col("__rn"), col("__ewma"))
    val dev = base.join(ew, Seq("__g", "__rn"), "left")
      .withColumn("__d", round(col("__y") - col("__ewma"), 6))
    val spread = dev.filter(col("__d").isNotNull).groupBy("__g")
      .agg(count(lit(1)).as("__nd"),
        sum(col("__d").cast("decimal(38,6)")).as("__sd"),
        sum((col("__d") * col("__d")).cast("decimal(38,12)")).as("__sdd"))
      .withColumn("__mu", col("__sd").cast("double") / col("__nd"))
      .withColumn("__sig", sqrt(greatest(
        col("__sdd").cast("double") / col("__nd") -
          col("__mu") * col("__mu"), lit(0.0))))
      .select(col("__g"), col("__mu"), col("__sig"))
    dev.join(broadcast(spread), "__g")
      .withColumn("__z", when(col("__sig") > 0,
        (col("__d") - col("__mu")) / col("__sig")))
      .filter(abs(col("__z")) >= zCut)
      .select(col("__g").as(groupCol), col("__x").as(xCol),
        col("__y").as(yCol), round(col("__ewma"), roundTo).as("ewma_prev"),
        round(col("__z"), roundTo).as("z"))
  }

  /** Friedman test: the k-treatment repeated-measures rank test over
    * (block, treatment, value) rows — "do the treatments differ, once
    * each block serves as its own control". Within each COMPLETE block
    * (all k treatments present; incomplete blocks are dropped — the
    * standard requirement) values get average ranks, the per-treatment
    * rank sums R_j accumulate, and
    * χ²_F = 12/(b·k·(k+1)) · ΣR_j² − 3·b·(k+1).
    *
    * Every window is bounded by k rows per block (the treatment
    * vocabulary, never data volume); average ranks have exact .5
    * granularity and sum as DECIMAL(38,1); the statistic is one double
    * formula. Output: one row per treatment with its rank sum and mean
    * rank, the shared (b, k, χ²_F) repeated on every row (the
    * [[woeIv]] reporting shape).
    */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
               valCol: String, roundTo: Int = 6): DataFrame = {
    val ranked = blockRanks2(
      completeBlocks(df, blockCol, col(treatCol), valCol))
    val perTreat = ranked.groupBy(col("__t"))
      .agg((sum(col("__r2")).cast("decimal(38,0)") / 2)
        .cast("decimal(38,1)").as("__rsum"),
        count(lit(1)).as("__b_count"))
      .localCheckpoint(true) // consumed by the stat and the report
    val stat = perTreat.agg(
        first(col("__b_count")).as("__bb"),
        count(lit(1)).as("__kk"),
        sum(col("__rsum") * col("__rsum")).as("__ssq"))
      .withColumn("chi2_f", round(
        lit(12.0) * col("__ssq").cast("double") /
          (col("__bb") * col("__kk") * (col("__kk") + 1)).cast("double") -
          lit(3.0) * (col("__bb") * (col("__kk") + 1)).cast("double"),
        roundTo))
    perTreat.crossJoin(broadcast(stat))
      .select(col("__t").as(treatCol), col("__b_count").as("n_blocks"),
        col("__rsum").cast("double").as("rank_sum"),
        round(col("__rsum").cast("double") / col("__b_count"), roundTo)
          .as("mean_rank"),
        col("__kk").cast("long").as("k"), col("chi2_f"))
  }

  /** Theil T inequality index with within/between decomposition: for
    * positive unit values x grouped by `groupCol`,
    * T = Σ (x/Σx)·ln(x/μ) decomposes EXACTLY into
    * T_within = Σ_g s_g·T_g (s_g = group's value share) plus
    * T_between = Σ_g s_g·ln(μ_g/μ) — the concentration audit that,
    * unlike Gini, says how much inequality lives INSIDE groups vs
    * ACROSS group means.
    *
    * One hash aggregation to per-group exact moments (values are
    * integers — counts, bytes, revenue cents), the 1-row global total
    * broadcast back, per-unit ln terms snapped to 12 dp and summed as
    * exact decimals in a second pass over the unit table (two scans,
    * zero shuffles beyond the group agg). Output: per group n, mean,
    * share, T_g, with the shared (t_within, t_between, t_total)
    * repeated per row.
    */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         valCol: String, roundTo: Int = 6): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      col(valCol).cast("long").as("__x")).filter(col("__x") > 0)
    val grp = base.groupBy("__g")
      .agg(count(lit(1)).as("__ng"),
        sum(col("__x")).cast("decimal(38,0)").as("__sg"))
      .localCheckpoint(true) // sized k rows; 3 consumers below
    val tot = grp.agg(sum(col("__ng")).as("__n"),
      sum(col("__sg")).cast("decimal(38,0)").as("__s"))
    val withMeans = base.join(grp, "__g").crossJoin(broadcast(tot))
      .withColumn("__mug", col("__sg").cast("double") / col("__ng"))
      // per-unit contribution to group Theil: (x/Sg)·ln(x/μg)
      .withColumn("__term", round(
        col("__x").cast("double") / col("__sg").cast("double") *
          log(col("__x").cast("double") / col("__mug")), 12)
        .cast("decimal(38,12)"))
    val perGroup = withMeans.groupBy("__g")
      .agg(first(col("__ng")).as("n"), first(col("__sg")).as("__sgd"),
        first(col("__mug")).as("__mug"), first(col("__n")).as("__nn"),
        first(col("__s")).as("__ss"),
        sum(col("__term")).as("__tg"))
      .withColumn("__share",
        col("__sgd").cast("double") / col("__ss").cast("double"))
      .withColumn("__mu", col("__ss").cast("double") / col("__nn"))
      .localCheckpoint(true) // stat + report both read it
    val stat = perGroup.agg(
        sum(round(col("__share") * col("__tg").cast("double"), 12)
          .cast("decimal(38,12)")).as("__tw"),
        sum(round(col("__share") * log(col("__mug") / col("__mu")), 12)
          .cast("decimal(38,12)")).as("__tb"))
      .select(round(col("__tw").cast("double"), roundTo).as("t_within"),
        round(col("__tb").cast("double"), roundTo).as("t_between"),
        round((col("__tw") + col("__tb")).cast("double"), roundTo)
          .as("t_total"))
    perGroup.crossJoin(broadcast(stat))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__mug"), roundTo).as("mean_value"),
        round(col("__share"), roundTo).as("value_share"),
        round(col("__tg").cast("double"), roundTo).as("t_group"),
        col("t_within"), col("t_between"), col("t_total"))
  }

  /** Kendall's τ-b per group — the rank correlation that [[spearman]]
    * complements: τ counts concordant vs discordant PAIRS, with the
    * `-b` tie correction  τ_b = (C−D) / √((n₀−n₁)(n₀−n₂)),
    * n₀ = n(n−1)/2, n₁/n₂ = Σ t(t−1)/2 over x/y tie groups.
    *
    * No data pair is ever materialized: the rows collapse to the
    * (x, y) JOINT HISTOGRAM (values quantized to 4 dp) in one hash
    * aggregation, and C/D come from the histogram's self-join on
    * (group, x_a < x_b) — each cross-cell product counted once, cost
    * |cells|² per group, never n². The tie terms are one aggregate
    * each over the x / y marginals of the same histogram. That makes
    * this the BOUNDED-CARDINALITY contract (the theilSen/q233 family):
    * right for ordinal scales, star ratings, bucketed quantities —
    * τ over two continuous columns should quantize coarser first.
    * All pair counts accumulate as exact DECIMAL(38,0); τ is one
    * double formula at the end.
    */
  def kendallTau(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String, roundTo: Int = 6): DataFrame = {
    val hist = df.groupBy(col(groupCol).as("grp"),
        round(col(xCol).cast("double"), 4).as("__x"),
        round(col(yCol).cast("double"), 4).as("__y"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"))
      .localCheckpoint(true) // read 4× (pair sides + two marginals)
    val a = hist.select(col("grp"), col("__x").as("__xa"),
      col("__y").as("__ya"), col("__n").as("__na"))
    val b = hist.select(col("grp"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__n").as("__nb"))
    val cd = a.join(b, Seq("grp")).filter(col("__xa") < col("__xb"))
      .groupBy("grp")
      .agg(sum(when(col("__yb") > col("__ya"), col("__na") * col("__nb"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__c"),
        sum(when(col("__yb") < col("__ya"), col("__na") * col("__nb"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__d"))
    def tiePairs(vCol: String, out: String) = hist
      .groupBy(col("grp"), col(vCol)).agg(sum(col("__n")).as("__t"))
      .groupBy("grp")
      .agg((sum(col("__t") * (col("__t") - 1)) / 2).cast("decimal(38,0)")
        .as(out))
    val nTot = hist.groupBy("grp").agg(sum(col("__n")).as("__nt"))
    nTot.join(cd, Seq("grp"), "left")
      .join(tiePairs("__x", "__n1"), "grp")
      .join(tiePairs("__y", "__n2"), "grp")
      .withColumn("__n0",
        (col("__nt") * (col("__nt") - 1) / 2).cast("decimal(38,0)"))
      .withColumn("__den",
        sqrt((col("__n0") - col("__n1")).cast("double") *
          (col("__n0") - col("__n2")).cast("double")))
      .select(col("grp").as(groupCol), col("__nt").cast("long").as("n"),
        coalesce(col("__c"), lit(0)).cast("long").as("concordant"),
        coalesce(col("__d"), lit(0)).cast("long").as("discordant"),
        when(col("__den") > 0, round(
          (coalesce(col("__c"), lit(0).cast("decimal(38,0)")) -
            coalesce(col("__d"), lit(0).cast("decimal(38,0)")))
            .cast("double") / col("__den"), roundTo)).as("tau_b"))
  }

  /** Durbin–Watson autocorrelation check on per-group OLS residuals
    * over an ALREADY-AGGREGATED (group, x, y) series (the
    * [[theilSen]]/CUSUM bounded-series contract — x a calendar bucket,
    * y its aggregate): fit y = a + b·x from EXACT integer/decimal
    * moments (one hash aggregation; no `regr_*` float partials), join
    * the k-row coefficient table back broadcast, and report
    * DW = Σ(eₜ−eₜ₋₁)² / Σeₜ² from the lag-1 window over the bounded
    * series. DW ≈ 2 means uncorrelated residuals; → 0 positive, → 4
    * negative serial correlation — the standard "is a trend line
    * even the right model" diagnostic after [[olsTrend]].
    *
    * Determinism discipline: moments accumulate as DECIMAL(38,0)
    * (order-independent), a/b are one double formula from those exact
    * sums, residuals snap to 6 dp, and the DW numerator/denominator
    * terms snap to 12 dp and sum as exact decimals.
    */
  def durbinWatson(series: DataFrame, groupCol: String, xCol: String,
                   yCol: String, roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val mom = base.groupBy("__g").agg(
      count(lit(1)).cast("decimal(38,0)").as("__n"),
      sum(col("__x")).cast("decimal(38,0)").as("__sx"),
      sum(col("__y")).cast("decimal(38,0)").as("__sy"),
      sum(col("__x") * col("__x")).cast("decimal(38,0)").as("__sxx"),
      sum(col("__x") * col("__y")).cast("decimal(38,0)").as("__sxy"))
    val coef = mom
      .withColumn("__den", (col("__n") * col("__sxx") -
        col("__sx") * col("__sx")).cast("double"))
      .withColumn("__b", when(col("__den") > 0,
        (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") / col("__den")).otherwise(lit(0.0)))
      .withColumn("__a",
        (col("__sy").cast("double") - col("__b") * col("__sx").cast("double"))
          / col("__n").cast("double"))
      .select(col("__g"), col("__n"), col("__b"), col("__a"))
    val resid = base.join(broadcast(coef), "__g")
      .withColumn("__e", round(col("__y").cast("double") - col("__a") -
        col("__b") * col("__x").cast("double"), 6))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
    resid.withColumn("__ep", lag(col("__e"), 1).over(w))
      .groupBy(col("__g").as(groupCol))
      .agg(first(col("__n")).cast("long").as("n"),
        round(first(col("__b")), roundTo).as("slope"),
        sum(round(pow(col("__e") - col("__ep"), 2), 12)
          .cast("decimal(38,12)")).as("__num"),
        sum(round(pow(col("__e"), 2), 12).cast("decimal(38,12)"))
          .as("__den2"))
      .select(col(groupCol), col("n"), col("slope"),
        when(col("__den2") > 0, round(col("__num").cast("double") /
          col("__den2").cast("double"), roundTo)).as("dw"))
  }

  /** Fisher's EXACT test (one-sided, upper tail) on a per-group 2×2
    * table of two 0/1 columns: p = P[X ≥ a₁₁] under the
    * hypergeometric null with the observed margins — the
    * small-sample independence test a χ² approximation can't cover.
    *
    * No factorial is ever formed: a LOG-FACTORIAL table
    * lf[i] = Σ_{j≤i} round(ln j, 12) is built once up to the largest
    * group size (each ln snapped to 12 dp so the cumulative sum is an
    * EXACT decimal — order-independent and engine-identical;
    * cumulation rides [[rangeCumSum]], so no single-partition window
    * even for a 10⁸-row table). Each group explodes into its
    * min(r1,c1)−a₁₁+1 tail terms, each term into 9 (idx, ±) rows
    * that hit the lf table in ONE broadcast equi-join, and
    * log p_k = Σ ± lf re-aggregates exactly; the final tail sum
    * snaps each exp(log p_k) to 12 dp and adds exact decimals.
    *
    * Scale contract: work per group is O(min(r1,c1)) tail terms —
    * exact tests are for BOUNDED group sizes by nature (at 10⁹ rows
    * per group use [[chiSquare]]; the answer is 'yes' anyway). The lf
    * table is |max n| rows and must fit a broadcast (~10⁶ rows fine).
    *
    * p reports at 6 dp while terms accumulate at 12 dp: a JVM-vs-libm
    * exp() ulp can flip one term's 12th digit (observed at sf0.001),
    * so the report keeps 6 digits of headroom above that noise floor.
    */
  def fisherExact(df: DataFrame, groupCol: String, aCol: String,
                  bCol: String, roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("__g")).agg(
        count(lit(1)).as("__n"),
        sum(col(aCol).cast("long")).as("__r1"),
        sum(col(bCol).cast("long")).as("__c1"),
        sum((col(aCol).cast("long") * col(bCol).cast("long")))
          .as("__a11"))
      .localCheckpoint(true) // sizes the lf table + feeds the terms
    // driver-side scalar for SIZING the generated ln table (the same
    // sanctioned planning read as Pipeline's constant-prune pass)
    val maxN = cells.agg(coalesce(max(col("__n")), lit(0L)))
      .first().getLong(0)
    val spark = df.sparkSession
    val lnRows = spark.range(1, maxN + 1)
      .select(col("id").as("__i"),
        round(log(col("id").cast("double")), 12).cast("decimal(38,12)")
          .as("__ln"))
    val lf = rangeCumSum(lnRows, "__i", Seq("__ln"))
      .select(col("__i"), col("__cum___ln").as("__lf"))
      .unionAll(spark.range(1).select(lit(0L).as("__i"),
        lit(0).cast("decimal(38,12)").as("__lf")))
      .localCheckpoint(true)
    val ks = cells
      .withColumn("__k",
        explode(sequence(col("__a11"), least(col("__r1"), col("__c1")))))
    // log p_k = lf(r1) − lf(k) − lf(r1−k) + lf(n−r1) − lf(c1−k)
    //         − lf(n−r1−c1+k) − lf(n) + lf(c1) + lf(n−c1)
    val idx = ks.select(col("__g"), col("__k"), explode(array(
      struct(col("__r1").as("__i"), lit(1L).as("__s")),
      struct(col("__k").as("__i"), lit(-1L).as("__s")),
      struct((col("__r1") - col("__k")).as("__i"), lit(-1L).as("__s")),
      struct((col("__n") - col("__r1")).as("__i"), lit(1L).as("__s")),
      struct((col("__c1") - col("__k")).as("__i"), lit(-1L).as("__s")),
      struct((col("__n") - col("__r1") - col("__c1") + col("__k"))
        .as("__i"), lit(-1L).as("__s")),
      struct(col("__n").cast("long").as("__i"), lit(-1L).as("__s")),
      struct(col("__c1").as("__i"), lit(1L).as("__s")),
      struct((col("__n") - col("__c1")).as("__i"), lit(1L).as("__s"))))
      .as("__t"))
      .select(col("__g"), col("__k"), col("__t.__i").as("__i"),
        col("__t.__s").as("__s"))
    // sign by conditional NEGATION, not multiply: decimal(38,12) × long
    // would overflow the 38-precision cap and silently drop the scale
    // to 6 (Spark's allowPrecisionLoss), quantizing log p
    val logp = idx.join(broadcast(lf), "__i")
      .groupBy("__g", "__k")
      .agg(sum(when(col("__s") === 1L, col("__lf"))
        .otherwise(-col("__lf"))).as("__logp"))
    val tail = logp.groupBy("__g")
      .agg(sum(round(exp(col("__logp").cast("double")), 12)
        .cast("decimal(38,12)")).as("__p"))
    cells.join(tail, "__g")
      .select(col("__g").as(groupCol), col("__n").as("n"),
        col("__r1").as("r1"), col("__c1").as("c1"), col("__a11").as("a11"),
        round(col("__r1").cast("double") * col("__c1").cast("double") /
          col("__n").cast("double"), 6).as("expected_a11"),
        // round the EXACT decimal, then go double: casting first can
        // land the double a half-ulp across a 9-dp boundary and flip
        // the last digit differently per engine
        least(round(col("__p"), roundTo).cast("double"), lit(1.0))
          .as("p_upper"))
  }

  /** Cochran's Q test: are k matched binary treatments equally
    * effective? Blocks (subjects) × treatments with a 0/1 outcome per
    * cell; Q = (k−1)(k·ΣG_j² − T²)/(kT − ΣB_i²) ~ χ²(k−1) under the
    * null — the k-treatment generalization of [[mcnemar]].
    *
    * The cell table aggregates raw rows to one 0/1 per
    * (block, treatment) (`max` — "did it happen at least once"), the
    * complete grid comes from blocks × the BROADCAST k-row treatment
    * list (missing cell = 0), and every moment (row totals B_i, column
    * totals G_j, T, ΣB², ΣG²) is an exact integer sum — the statistic
    * is one double division at the end. Work is |blocks|·k rows; no
    * windows, no raw-row re-shuffles.
    */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
               xCol: String, roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(blockCol).as("__b"), col(treatCol).as("__t"))
      .agg(max(col(xCol).cast("long")).as("__x"))
    val treats = cells.select("__t").distinct()
    val grid = cells.select("__b").distinct()
      .crossJoin(broadcast(treats))
      .join(cells, Seq("__b", "__t"), "left")
      .na.fill(0L, Seq("__x"))
    val rowStats = grid.groupBy("__b").agg(sum(col("__x")).as("__bi"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("__bi")).as("__T"),
        sum(col("__bi") * col("__bi")).as("__B2"))
    val colStats = grid.groupBy("__t").agg(sum(col("__x")).as("__gj"))
      .agg(count(lit(1)).as("__k"), sum(col("__gj") * col("__gj")).as("__G2"))
    rowStats.crossJoin(broadcast(colStats))
      .select(col("__k").cast("long").as("k"), col("n_blocks"),
        col("__T").cast("long").as("t_total"),
        (col("__k") - 1).cast("long").as("df"),
        when(col("__k") * col("__T") - col("__B2") > 0,
          round(((col("__k") - 1) * (col("__k") * col("__G2") -
            col("__T") * col("__T"))).cast("double") /
            (col("__k") * col("__T") - col("__B2")).cast("double"),
            roundTo)).as("q_stat"))
  }

  /** Cochran–Armitage trend test: is a binary rate monotone in an
    * ORDERED integer score (dose, priority tier, bucket index)?
    * T = Σ s_i r_i − R·Σ s_i n_i/N with variance
    * p̄(1−p̄)(Σ s_i²n_i − (Σ s_i n_i)²/N); reported
    * z = (N·Sr − R·S1)/√(R(N−R)(N·S2 − S1²)/N) — the χ² test ignores
    * the ordering, this is the 1-df test that uses it.
    *
    * One hash aggregation to per-score (n_i, r_i) rows, one scalar
    * merge; every moment is an exact integer, the z is one double
    * expression. Per-group form keyed by `groupCol`.
    */
  def cochranArmitage(df: DataFrame, groupCol: String, scoreCol: String,
                      yCol: String, roundTo: Int = 6): DataFrame = {
    val sc = df.groupBy(col(groupCol).as("__g"),
        col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__n"), sum(col(yCol).cast("long")).as("__r"))
    sc.groupBy("__g")
      .agg(sum(col("__n")).as("__N"), sum(col("__r")).as("__R"),
        sum(col("__s") * col("__n")).as("__S1"),
        sum(col("__s") * col("__s") * col("__n")).as("__S2"),
        sum(col("__s") * col("__r")).as("__Sr"))
      .select(col("__g").as(groupCol), col("__N").as("n"),
        col("__R").as("positives"),
        round((col("__Sr").cast("double") -
          col("__R").cast("double") * col("__S1").cast("double") /
            col("__N").cast("double")), roundTo).as("t_stat"),
        when(col("__R") > 0 && col("__R") < col("__N") &&
            col("__N") * col("__S2") - col("__S1") * col("__S1") > 0,
          round((col("__N") * col("__Sr") - col("__R") * col("__S1"))
            .cast("double") /
            sqrt((col("__R") * (col("__N") - col("__R"))).cast("double") *
              (col("__N") * col("__S2") - col("__S1") * col("__S1"))
                .cast("double") / col("__N").cast("double")),
            roundTo)).as("z"))
  }

  /** Wald–Wolfowitz runs test per group: is the sequence of
    * above/below-median signs of a bucketed series random, or does it
    * cluster (trend / regime persistence the mean-based tests miss)?
    * R = observed runs among the n₁ above + n₂ below rows (ties at
    * the median drop, the standard dichotomization);
    * z = (R − μ)/σ with μ = 2n₁n₂/n + 1,
    * σ² = 2n₁n₂(2n₁n₂ − n)/(n²(n−1)).
    *
    * The median is the lower inverse CDF picked off the per-group
    * DISTINCT-value histogram (the [[percentileBands]] discipline) —
    * never a raw-row sort; the sign-change scan is one lag window
    * over the already-bounded (group, bucket) series.
    */
  def runsTest(series: DataFrame, groupCol: String, xCol: String,
               yCol: String, roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"),
      round(col(yCol).cast("double"), 4).as("__y"))
    val hist = base.groupBy(col("__g"), col("__y"))
      .agg(count(lit(1)).as("__c"))
    val wv = Window.partitionBy(col("__g")).orderBy(col("__y"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val med = hist.withColumn("__cum", sum(col("__c")).over(wv))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col("__g"))))
      .groupBy("__g")
      .agg(min(when(col("__cum") * 2 >= col("__n"), col("__y")))
        .as("__med"))
    val signed = base.join(broadcast(med), "__g")
      .filter(col("__y") =!= col("__med"))
      .withColumn("__sgn", (col("__y") > col("__med")).cast("int"))
    val wx = Window.partitionBy(col("__g")).orderBy(col("__x"))
    signed.withColumn("__chg",
        when(lag(col("__sgn"), 1).over(wx).isNull ||
          lag(col("__sgn"), 1).over(wx) =!= col("__sgn"), 1L)
          .otherwise(0L))
      .groupBy(col("__g").as(groupCol))
      .agg(sum(col("__sgn")).as("n_above"),
        sum(lit(1L) - col("__sgn")).as("n_below"),
        sum(col("__chg")).as("runs"))
      .withColumn("__n", col("n_above") + col("n_below"))
      .withColumn("__mu", lit(2.0) * col("n_above") * col("n_below") /
        col("__n") + 1.0)
      .withColumn("__s2", when(col("__n") > 1,
        lit(2.0) * col("n_above") * col("n_below") *
          (lit(2.0) * col("n_above") * col("n_below") - col("__n")) /
          (col("__n").cast("double") * col("__n") * (col("__n") - 1))))
      .select(col(groupCol), col("n_above"), col("n_below"), col("runs"),
        round(col("__mu"), roundTo).as("expected_runs"),
        when(col("n_above") > 0 && col("n_below") > 0 && col("__s2") > 0,
          round((col("runs") - col("__mu")) / sqrt(col("__s2")), roundTo))
          .as("z"))
  }

  /** Exact 1-D energy distance between two samples:
    * D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — the distribution-drift
    * metric that, unlike KS, weights HOW FAR apart the mass sits (and
    * unlike [[wasserstein]]'s W₁, is a proper squared metric usable as
    * a two-sample statistic).
    *
    * Values quantize to 2 dp and scale to INTEGERS (×100), the two
    * samples collapse to ONE value histogram with per-side counts, and
    * each pair sum Σᵢⱼ cᵢcⱼ|vᵢ−vⱼ| comes from the cumulative
    * count/sum identity Σ_v c_v·(v·C_<v − S_<v + S_>v − v·C_>v) —
    * exact integer arithmetic end to end (≤ n²·Δmax ≈ 10¹⁶ at sf0.1,
    * inside DECIMAL(38,0)), with the cumulations riding
    * [[rangeCumSum]] so no unpartitioned window at any histogram size.
    * One double division per expectation at the very end.
    */
  def energyDistance(df: DataFrame, sideCol: String, valCol: String,
                     sideA: String, sideB: String,
                     roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
        round(col(valCol).cast("double") * 100, 0).cast("decimal(38,0)"))
      .withColumn("__sa", col("__na") * col("__v"))
      .withColumn("__sb", col("__nb") * col("__v"))
    val cum = rangeCumSum(hist, "__v",
      Seq("__na", "__nb", "__sa", "__sb"))
    val tot = hist.agg(sum(col("__na")).as("__qa"),
      sum(col("__nb")).as("__qb"),
      sum(col("__sa")).as("__ta"), sum(col("__sb")).as("__tb"))
    // below-exclusive cumulants per distinct value; above = total−cum
    val terms = cum.crossJoin(broadcast(tot))
      .withColumn("__calt", col("__cum___na") - col("__na"))
      .withColumn("__cblt", col("__cum___nb") - col("__nb"))
      .withColumn("__salt", col("__cum___sa") - col("__sa"))
      .withColumn("__sblt", col("__cum___sb") - col("__sb"))
      .withColumn("__cagt", col("__qa") - col("__cum___na"))
      .withColumn("__cbgt", col("__qb") - col("__cum___nb"))
      .withColumn("__sagt", col("__ta") - col("__cum___sa"))
      .withColumn("__sbgt", col("__tb") - col("__cum___sb"))
    val sums = terms.agg(
      sum(col("__na") * (col("__v") * col("__cblt") - col("__sblt") +
        col("__sbgt") - col("__v") * col("__cbgt"))).as("__pab"),
      sum(col("__na") * (col("__v") * col("__calt") - col("__salt") +
        col("__sagt") - col("__v") * col("__cagt"))).as("__paa"),
      sum(col("__nb") * (col("__v") * col("__cblt") - col("__sblt") +
        col("__sbgt") - col("__v") * col("__cbgt"))).as("__pbb"))
    sums.crossJoin(broadcast(tot))
      .withColumn("__exy", col("__pab").cast("double") /
        (col("__qa") * col("__qb")).cast("double") / 100.0)
      .withColumn("__exx", col("__paa").cast("double") /
        (col("__qa") * col("__qa")).cast("double") / 100.0)
      .withColumn("__eyy", col("__pbb").cast("double") /
        (col("__qb") * col("__qb")).cast("double") / 100.0)
      .select(col("__qa").cast("long").as("n_a"),
        col("__qb").cast("long").as("n_b"),
        round(col("__exy"), roundTo).as("e_xy"),
        round(col("__exx"), roundTo).as("e_xx"),
        round(col("__eyy"), roundTo).as("e_yy"),
        round(lit(2.0) * col("__exy") - col("__exx") - col("__eyy"),
          roundTo).as("energy_dist"))
  }

  /** MASE backtest of the seasonal-naive forecaster per group:
    * forecast_t = y_{t−season}, scaled by the one-step naive
    * y_{t−1} — MASE = Σ|y_t − y_{t−season}| / Σ|y_t − y_{t−1}| over
    * the buckets where BOTH references exist. < 1 means seasonality
    * carries real signal beyond persistence; the standard scale-free
    * forecast-quality gate (Hyndman & Koehler 2006).
    *
    * Two calendar self-joins on (group, bucket±lag) — the [[autocorr]]
    * gap-robust shape, |buckets|-bounded — and exact integer
    * absolute-error sums; one double division at the end.
    */
  def maseBacktest(series: DataFrame, groupCol: String, xCol: String,
                   yCol: String, season: Int = 7,
                   roundTo: Int = 6): DataFrame = {
    val cur = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val l1 = series.select(col(groupCol).as("__g"),
      (col(xCol).cast("long") + 1).as("__x"),
      col(yCol).cast("long").as("__y1"))
    val ls = series.select(col(groupCol).as("__g"),
      (col(xCol).cast("long") + season).as("__x"),
      col(yCol).cast("long").as("__ys"))
    cur.join(l1, Seq("__g", "__x")).join(ls, Seq("__g", "__x"))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("__y") - col("__ys"))).as("__ss"),
        sum(abs(col("__y") - col("__y1"))).as("__sn"))
      .select(col(groupCol), col("n_eval"),
        round(col("__ss").cast("double") / col("n_eval"), roundTo)
          .as("mae_seasonal"),
        round(col("__sn").cast("double") / col("n_eval"), roundTo)
          .as("mae_naive"),
        when(col("__sn") > 0, round(col("__ss").cast("double") /
          col("__sn").cast("double"), roundTo)).as("mase"))
  }

  /** Two-sample Cramér–von Mises statistic (discrete form):
    * T = Σ_v w_v·(F_a(v) − G_b(v))² · n_a·n_b / N² over the pooled
    * value histogram — the whole-CDF drift test that, unlike KS's
    * single supremum, integrates every gap between the two empirical
    * CDFs.
    *
    * Engine-exact: the CDF gap clears denominators —
    * (CA·n_b − CB·n_a)² stays an INTEGER (squared inside
    * DECIMAL(38,0); a 64-bit square overflows at ~3·10⁹ rows) — and
    * the final statistic is one double division by N²·n_a·n_b.
    * Cumulations ride [[rangeCumSum]]; values quantize to 4 dp.
    */
  def cvmTwoSample(df: DataFrame, sideCol: String, valCol: String,
                   sideA: String, sideB: String,
                   roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
      round(col(valCol).cast("double"), 4))
    val cum = rangeCumSum(hist, "__v", Seq("__na", "__nb"))
    val tot = hist.agg(sum(col("__na")).as("__qa"),
      sum(col("__nb")).as("__qb"))
    val terms = cum.crossJoin(broadcast(tot))
      .withColumn("__d", (col("__cum___na") * col("__qb") -
        col("__cum___nb") * col("__qa")).cast("decimal(38,0)"))
      .agg(sum(col("__d") * col("__d") * (col("__na") + col("__nb")))
        .as("__s"))
    // T = S / (N²·n_a·n_b): the CDF gaps were cleared of their
    // denominators inside S, so this restores (F−G)²·(n_a n_b/N²)·w
    terms.crossJoin(broadcast(tot))
      .select(col("__qa").cast("long").as("n_a"),
        col("__qb").cast("long").as("n_b"),
        round(col("__s").cast("double") /
          ((col("__qa") + col("__qb")) * (col("__qa") + col("__qb")))
            .cast("double") /
          col("__qa").cast("double") / col("__qb").cast("double"),
          roundTo).as("cvm_stat"))
  }

  /** Partial autocorrelation (lags 1..3) per group via the
    * Durbin–Levinson closed form over the conventional ACF estimates:
    * φ₁₁ = ρ₁, φ₂₂ = (ρ₂ − ρ₁²)/(1 − ρ₁²),
    * φ₃₃ = (ρ₃ − φ₂₁ρ₂ − φ₂₂ρ₁)/(1 − φ₂₁ρ₁ − φ₂₂ρ₂) with
    * φ₂₁ = ρ₁(1 − φ₂₂) — the AR-order fingerprint the raw ACF can't
    * show (an AR(1) has geometric ACF but a single PACF spike).
    *
    * ρ̂_k comes from the [[lagProducts]] sums shared with
    * [[ljungBox]]; ρ̂ snaps to 6 dp BEFORE the recursion so
    * both engines run the identical double arithmetic. Degenerate
    * denominators (|·| ≤ 1e-12: constant or perfectly correlated
    * series) yield null, not ±Inf.
    */
  def pacf(series: DataFrame, groupCol: String, xCol: String,
           yCol: String, roundTo: Int = 6): DataFrame = {
    val rho = lagProducts(series, groupCol, xCol, yCol, 3)
      .withColumn("rho", when(col("__ss") > 0,
        round(col("__num").cast("double") / col("__ss").cast("double"), 6))
        .otherwise(lit(0.0)))
    val piv = rho.groupBy("__g").agg(
      max(when(col("lag") === 1, col("rho"))).as("__r1"),
      max(when(col("lag") === 2, col("rho"))).as("__r2"),
      max(when(col("lag") === 3, col("rho"))).as("__r3"))
    val ph = piv
      .withColumn("__p1", col("__r1"))
      .withColumn("__den2", lit(1.0) - col("__r1") * col("__r1"))
      .withColumn("__p2", when(abs(col("__den2")) > 1e-12,
        (col("__r2") - col("__r1") * col("__r1")) / col("__den2")))
      .withColumn("__p21", col("__r1") * (lit(1.0) - col("__p2")))
      .withColumn("__den3", lit(1.0) - col("__p21") * col("__r1") -
        col("__p2") * col("__r2"))
      .withColumn("__p3", when(abs(col("__den3")) > 1e-12,
        (col("__r3") - col("__p21") * col("__r2") -
          col("__p2") * col("__r1")) / col("__den3")))
    ph.select(col("__g"), explode(array(
        struct(lit(1).as("lag"), round(col("__p1"), roundTo).as("pacf")),
        struct(lit(2).as("lag"), round(col("__p2"), roundTo).as("pacf")),
        struct(lit(3).as("lag"), round(col("__p3"), roundTo).as("pacf"))))
        .as("__t"))
      .select(col("__g").as(groupCol), col("__t.lag").as("lag"),
        col("__t.pacf").as("pacf"))
  }

  /** Jonckheere–Terpstra trend test: with groups ORDERED by an integer
    * dose/tier column, JT = Σ_{i<j} U_ij (U_ij = pairs with the
    * lower-group value below the higher-group value, ties counting
    * half) against its null mean (N² − Σnᵢ²)/4 — the k-sample test
    * that uses the group ORDERING (Kruskal–Wallis throws it away).
    *
    * Never touches raw pairs: per-group cumulative counts over the
    * POOLED quantized-value spine (k·|values| rows, windows keyed by
    * group), one value-equi-join between lower-group cumulants and
    * higher-group counts, and DOUBLED counts keep the tie half-units
    * integer. The z uses the standard no-tie variance
    * (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72, documented approximation under
    * heavy ties. Quantization (`roundVals` dp) is the histogram-size
    * dial.
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: String, valCol: String,
                         roundVals: Int = 2, roundTo: Int = 6): DataFrame = {
    val base = df.select(col(groupCol).cast("long").as("__g"),
      round(col(valCol).cast("double"), roundVals).as("__v"))
    val hist = base.groupBy("__g", "__v").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // spine + j-side + sizes read it
    val spineV = hist.select("__v").distinct()
    val full = hist.select("__g").distinct().crossJoin(spineV)
      .join(hist, Seq("__g", "__v"), "left")
      .na.fill(0L, Seq("__c"))
    val wlt = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = full.withColumn("__lt",
      coalesce(sum(col("__c")).over(wlt), lit(0L)))
    val jt2 = cum.select(col("__g").as("__gi"), col("__v"),
        col("__lt"), col("__c").as("__ci"))
      .join(hist.select(col("__g").as("__gj"), col("__v"),
        col("__c").as("__cj")), Seq("__v"))
      .filter(col("__gi") < col("__gj"))
      .agg(coalesce(sum(lit(2L) * col("__cj") * col("__lt") +
        col("__cj") * col("__ci")), lit(0L)).as("__jt2"))
    val sizes = base.groupBy("__g").agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("__k"),
        sum(col("__n")).as("__N"),
        sum(col("__n") * col("__n")).as("__s2"),
        sum((col("__n") * col("__n")).cast("decimal(38,0)") *
          (lit(2L) * col("__n") + 3)).as("__s3"))
    jt2.crossJoin(broadcast(sizes))
      .withColumn("__e2", ((col("__N") * col("__N") - col("__s2"))
        .cast("decimal(38,0)") / 2).cast("decimal(38,1)"))
      .withColumn("__var",
        ((col("__N") * col("__N")).cast("decimal(38,0)") *
          (lit(2L) * col("__N") + 3) - col("__s3")).cast("double") / 72.0)
      .select(col("__N").cast("long").as("n"),
        col("__k").cast("long").as("k"),
        (col("__jt2").cast("decimal(38,0)") / 2).cast("decimal(38,1)")
          .cast("double").as("jt_stat"),
        // __e2 is the DOUBLED null mean 2E; report E itself
        (col("__e2").cast("double") / 2).as("e_jt"),
        // jt2 and e2 are BOTH doubled → their gap is 2(JT−E)
        when(col("__var") > 0, round(
          (col("__jt2").cast("double") - col("__e2").cast("double")) /
            (lit(2.0) * sqrt(col("__var"))), roundTo)).as("z"))
  }

  /** Page's trend test: Friedman's blocked ranks scored against an
    * a-priori TREATMENT ORDER — L = Σ_j s_j·R_j (s_j the 1..k order,
    * R_j the rank sums), z = (L − b·k(k+1)²/4)/√(b·k²(k+1)²(k−1)/144).
    * Detects a monotone treatment effect Friedman's omnibus χ² dilutes
    * across all alternatives.
    *
    * Reuses the [[friedman]] rank discipline: complete blocks only,
    * per-block windows, doubled average ranks for exact integer tie
    * handling. The treatment order is the ascending ORDER of the
    * treatment column itself (pass an integer dose/position column);
    * s_j is a row_number over the k-row treatment table.
    */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
                valCol: String, roundTo: Int = 6): DataFrame = {
    val ranked = blockRanks2(
      completeBlocks(df, blockCol, col(treatCol).cast("long"), valCol))
    val perTreat0 = ranked.groupBy(col("__t"))
      .agg(sum(col("__r2")).as("__rs2"), count(lit(1)).as("__bc"))
    // order index s_j via a broadcast triangular self-join on the
    // k-row treatment table — no unpartitioned window, ever
    val perTreat = perTreat0
      .join(broadcast(perTreat0.select(col("__t").as("__t2"))),
        col("__t2") <= col("__t"))
      .groupBy(col("__t"), col("__rs2"), col("__bc"))
      .agg(count(lit(1)).as("__s"))
    val stat = perTreat.agg(
        first(col("__bc")).as("__bb"), count(lit(1)).as("__kk"),
        sum(col("__s") * col("__rs2")).as("__l2"))
      .withColumn("__e2", (col("__bb") * col("__kk") *
        (col("__kk") + 1) * (col("__kk") + 1)).cast("double") / 2)
      .withColumn("__var", (col("__bb") * col("__kk") * col("__kk") *
        (col("__kk") + 1) * (col("__kk") + 1) * (col("__kk") - 1))
        .cast("double") / 144.0)
    stat.select(col("__bb").cast("long").as("n_blocks"),
      col("__kk").cast("long").as("k"),
      (col("__l2").cast("double") / 2).as("l_stat"),
      round(col("__e2") / 2, roundTo).as("e_l"),
      when(col("__var") > 0, round(
        (col("__l2").cast("double") - col("__e2")) /
          (lit(2.0) * sqrt(col("__var"))), roundTo)).as("z"))
  }

  /** Siegel repeated-medians slope per group: median over points i of
    * (median over j≠i of the pairwise slope) — breakdown point 50%,
    * twice [[theilSen]]'s 29%: up to half the points can be arbitrary
    * outliers before the trend estimate moves.
    *
    * Same bounded-series contract as theilSen (an ALREADY-AGGREGATED
    * (group, bucket, value) series — pair joins are |buckets|²,
    * never data-sized); inner medians are exact `percentile` per
    * (group, anchor point) snapped to 6 dp, the outer median one more
    * exact percentile over |buckets| rows.
    */
  def siegelSlope(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String, roundTo: Int = 6): DataFrame = {
    val a = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xa"),
      col(yCol).cast("double").as("__ya"))
    val b = series.select(col(groupCol).as("__g"),
      col(xCol).cast("double").as("__xb"),
      col(yCol).cast("double").as("__yb"))
    val inner = a.join(b, "__g").filter(col("__xb") =!= col("__xa"))
      .withColumn("__slope",
        (col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
      .groupBy(col("__g"), col("__xa"))
      .agg(round(expr("percentile(__slope, 0.5)"), 6).as("__med_i"))
    inner.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n_points"),
        normZero(round(expr("percentile(__med_i, 0.5)"), roundTo))
          .as("siegel_slope"))
  }

  /** STL-lite seasonal anomaly screen per group over a daily series:
    * trend = centered rolling MEDIAN (±`halfWin` buckets), seasonal =
    * per-(group, bucket mod 7) median of the detrended values,
    * remainder = y − trend − seasonal, and buckets with
    * |remainder| > `k`·(median absolute remainder) are reported — the
    * robust decomposition that keeps one spike from polluting either
    * the trend (median, not mean) or its own detection (MAD, not sd).
    *
    * Medians are exact `percentile`s, every intermediate snaps to
    * 6 dp (shared-constant discipline), and all windows/groups are
    * keyed by the group (and dow) — the input is an
    * ALREADY-AGGREGATED bounded series, the [[theilSen]] contract.
    */
  def stlAnomalies(series: DataFrame, groupCol: String, xCol: String,
                   yCol: String, halfWin: Int = 3, k: Double = 3.0,
                   roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"),
      col(yCol).cast("double").as("__y"))
    val wT = Window.partitionBy(col("__g")).orderBy(col("__x"))
      .rowsBetween(-halfWin, halfWin)
    val tr = base
      .withColumn("__trend",
        round(expr("percentile(__y, 0.5)").over(wT), 6))
      .withColumn("__det", round(col("__y") - col("__trend"), 6))
      .withColumn("__dow", pmod(col("__x"), lit(7L)))
    val seas = tr.groupBy("__g", "__dow")
      .agg(round(expr("percentile(__det, 0.5)"), 6).as("__seas"))
    val resid = tr.join(seas, Seq("__g", "__dow"))
      .withColumn("__resid", round(col("__det") - col("__seas"), 6))
      .localCheckpoint(true) // spread + report read it
    val spread = resid.groupBy("__g")
      .agg(round(expr("percentile(abs(__resid), 0.5)"), 6).as("__mad"))
    resid.join(broadcast(spread), "__g")
      .filter(col("__mad") > 0 && abs(col("__resid")) > lit(k) * col("__mad"))
      .select(col("__g").as(groupCol), col("__x").as("bucket"),
        round(col("__y"), roundTo).as("y"),
        col("__trend").as("trend"), col("__seas").as("seasonal"),
        col("__resid").as("remainder"),
        round(abs(col("__resid")) / col("__mad"), roundTo).as("mad_ratio"))
  }

  /** Pinball (quantile) loss backtest — the quantile-forecast
    * companion to [[maseBacktest]]'s point-forecast eval: a seasonal
    * quantile forecast (per-season-slot train quantiles, e.g. per
    * day-of-week) is scored on the holdout with the pinball loss
    * L_τ = mean(max(τ·(y−q), (τ−1)·(y−q))) and its empirical coverage
    * P(y ≤ q) — the calibration readout (coverage ≈ τ means the
    * quantile band is honest).
    *
    * Scale contract mirrors the trend ops: `series` is an
    * ALREADY-AGGREGATED series (one row per (group, bucket)), so the
    * quantile table is |groups|·season rows — broadcast onto the test
    * slice. Exact `percentile` interpolates identically to DuckDB's
    * quantile_cont; loss terms snap to 12 dp and accumulate as
    * DECIMAL (partition-order-independent).
    */
  def pinballEval(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String, splitX: Long, season: Int,
                  taus: Seq[Double] = Seq(0.1, 0.5, 0.9),
                  roundTo: Int = 6): DataFrame = {
    require(taus.nonEmpty, "at least one quantile level required")
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__slot", pmod(col("__x"), lit(season.toLong)))
    val fc = base.filter(col("__x") < splitX)
      .groupBy(col("__g"), col("__slot"))
      .agg(taus.zipWithIndex.map { case (t, i) =>
        round(expr(s"percentile(__y, $t)"), 6).as(s"__q$i") }.head,
        taus.zipWithIndex.tail.map { case (t, i) =>
          round(expr(s"percentile(__y, $t)"), 6).as(s"__q$i") }: _*)
      // melt the per-slot quantile row to (slot, tau, q) so the eval
      // joins once and aggregates per (group, tau)
      .select(col("__g"), col("__slot"), explode(array(
        taus.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("tau"), col(s"__q$i").as("q")) }: _*)).as("__f"))
      .select(col("__g"), col("__slot"),
        col("__f.tau").as("__tau"), col("__f.q").as("__q"))
    base.filter(col("__x") >= splitX)
      .join(broadcast(fc), Seq("__g", "__slot"))
      .withColumn("__term", round(greatest(
          col("__tau") * (col("__y") - col("__q")),
          (col("__tau") - 1) * (col("__y") - col("__q"))), 12)
        .cast("decimal(28,14)"))
      .groupBy(col("__g").as(groupCol), col("__tau").as("tau"))
      .agg(count(lit(1)).as("n_test"),
        round(sum(col("__term")).cast("double") / count(lit(1)), roundTo)
          .as("pinball_loss"),
        round(sum(when(col("__y") <= col("__q"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), roundTo).as("coverage"))
  }

  /** Mood's median test — the k-sample sibling of the sign test: do
    * the groups share a common median? Counts each group's rows above
    * vs not-above the GRAND median and runs the 2×k chi-square on the
    * resulting table. Far blunter than Kruskal–Wallis but immune to
    * any tail behavior — the classic robustness cross-check when
    * [[mannWhitney]]/KW disagree with ANOVA.
    *
    * Distribution discipline: values quantize to `roundVals` dp so the
    * value histogram is bounded; the grand median comes from ONE
    * [[rangeCumSum]] over it (weighted lower median: the smallest value
    * with 2·cum ≥ N — no raw-row sort at any scale); the per-group
    * above/below counts aggregate off the same (group, value) cell
    * table the histogram folded from. Chi-square terms snap to 12 dp
    * and accumulate as DECIMAL. Degenerate pools (a side with zero
    * margin) yield null chi2 rather than a division blow-up.
    */
  def moodMedianTest(df: DataFrame, groupCol: String, valueCol: String,
                     roundVals: Int = 2, roundTo: Int = 6): DataFrame = {
    val cells = df.select(col(groupCol).as("__g"),
        round(col(valueCol).cast("double"), roundVals).as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // histogram + group counts both read it
    val hist = cells.groupBy(col("__v")).agg(sum(col("__n")).as("__hn"))
    val tot = hist.agg(sum(col("__hn")).as("__N"))
    val med = rangeCumSum(hist, "__v", Seq("__hn"))
      .crossJoin(broadcast(tot))
      .filter(lit(2) * col("__cum___hn") >= col("__N"))
      .agg(min(col("__v")).as("__med"))
    val g = cells.crossJoin(broadcast(med))
      .groupBy(col("__g"))
      .agg(sum(when(col("__v") > col("__med"), col("__n")).otherwise(0L))
          .as("__a"),
        sum(when(col("__v") <= col("__med"), col("__n")).otherwise(0L))
          .as("__b"))
    val margins = g.agg(sum(col("__a")).as("__ma"), sum(col("__b")).as("__mb"),
      count(lit(1)).as("__k"))
    g.crossJoin(broadcast(margins)).crossJoin(broadcast(med))
      .withColumn("__ni", col("__a") + col("__b"))
      .withColumn("__ea", col("__ni").cast("double") * col("__ma") /
        (col("__ma") + col("__mb")))
      .withColumn("__eb", col("__ni").cast("double") * col("__mb") /
        (col("__ma") + col("__mb")))
      .withColumn("__term", when(col("__ma") > 0 && col("__mb") > 0,
        round(pow(col("__a") - col("__ea"), 2) / col("__ea") +
          pow(col("__b") - col("__eb"), 2) / col("__eb"), 12))
        .cast("decimal(28,14)"))
      .agg((first(col("__ma")) + first(col("__mb"))).cast("long").as("n"),
        first(col("__k")).cast("long").as("k"),
        (first(col("__k")) - 1).cast("long").as("dof"),
        round(first(col("__med")), roundVals).as("grand_median"),
        round(sum(col("__term")).cast("double"), roundTo).as("chi2"))
  }

  /** Precision–recall curve table: one row per distinct (quantized)
    * score threshold, descending — TP/FP at "predict positive when
    * score ≥ t", precision, recall, and F1. The threshold-sweep
    * companion to [[auc]] (ROC ranks) and [[decileLift]] (fixed-width
    * buckets): PR is the readout that matters under class imbalance.
    *
    * Same bounded-histogram discipline as [[globalRank]]: scores
    * quantize to 6 dp, the per-score (pos, n) histogram is the only
    * shuffled object, and the descending cumulative TP/FP comes from
    * ONE [[rangeCumSum]] over the NEGATED score (no single-partition
    * window at any scale). Output rows = |distinct scores| — bounded
    * by quantization, not by data.
    */
  def prCurve(df: DataFrame, labelCol: String, scoreCol: String,
              roundTo: Int = 6): DataFrame = {
    val hist = df.select(
        round(col(scoreCol).cast("double"), 6).as("__s"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__n"))
      .withColumn("__neg", -col("__s"))
    val tot = hist.agg(sum(col("__pos")).as("__P"))
    rangeCumSum(hist, "__neg", Seq("__pos", "__n"))
      .crossJoin(broadcast(tot))
      .select(col("__s").as("threshold"),
        col("__cum___pos").cast("long").as("tp"),
        (col("__cum___n") - col("__cum___pos")).cast("long").as("fp"),
        // "prec": `precision` collides with the DOUBLE PRECISION
        // keyword in ANSI engines, so the portable name wins
        round(col("__cum___pos").cast("double") / col("__cum___n"), roundTo)
          .as("prec"),
        round(col("__cum___pos").cast("double") / col("__P"), roundTo)
          .as("recall"),
        round(lit(2.0) * col("__cum___pos") /
          (col("__cum___n") + col("__P")), roundTo).as("f1"))
  }

  /** Lorenz curve at fixed population fractions — the curve behind
    * [[giniConcentration]]'s scalar: for each d/`nPoints` of the
    * population (sorted by value ascending), the cumulative share of
    * total value held. Negative values are kept (the curve may dip
    * below zero — standard for wealth-style columns).
    *
    * Never sorts raw rows: values quantize to `roundVals` dp into a
    * histogram, ONE [[rangeCumSum]] yields cumulative units and
    * cumulative value (as DECIMAL — exact), and each of the `nPoints`
    * grid points resolves to the one histogram row containing its
    * boundary unit via a broadcast range join (grid side = `nPoints`
    * rows). Tie blocks split pro-rata in closed form: share at unit k
    * inside a block of n equal values v is cumv − (cumn−k)·v.
    */
  def lorenzCurve(df: DataFrame, valueCol: String, nPoints: Int = 10,
                  roundVals: Int = 2, roundTo: Int = 6): DataFrame = {
    val scale = math.pow(10, roundVals).toLong
    val hist = df.select(round(col(valueCol).cast("double"), roundVals)
        .as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__n"))
      // integer-scaled value → n·v sums exactly as DECIMAL(38,0)
      .withColumn("__iv", round(col("__v") * scale).cast("decimal(38,0)"))
      .withColumn("__nv", col("__iv") * col("__n"))
    val tot = hist.agg(sum(col("__n")).as("__tn"),
      sum(col("__nv")).as("__ts"))
    val cum = rangeCumSum(hist, "__v", Seq("__n", "__nv"))
    val grid = df.sparkSession.range(1, nPoints + 1)
      .select(col("id").cast("long").as("__d"))
    cum.crossJoin(broadcast(tot))
      .join(broadcast(grid),
        // row contains boundary unit k_d = floor(d·N/nPoints):
        // units before < k_d ≤ units through this row
        (col("__cum___n") - col("__n")) * nPoints < col("__d") * col("__tn")
          && col("__d") * col("__tn") <= col("__cum___n") * nPoints)
      // integer DIV: d·N may exceed 2^53, double division would wobble
      .withColumn("__k", expr(s"__d * __tn DIV $nPoints"))
      .withColumn("__shareNum",
        col("__cum___nv") - (col("__cum___n") - col("__k")) * col("__iv"))
      .select(col("__d").cast("long").as("point"),
        round(col("__d").cast("double") / nPoints, roundTo)
          .as("pop_frac"),
        col("__k").cast("long").as("units"),
        round(col("__shareNum").cast("double") /
          col("__ts").cast("double"), roundTo).as("value_share"))
  }

  /** G-test of independence (log-likelihood ratio) — [[chiSquare]]'s
    * information-theoretic twin: G = 2·Σ O·ln(O·N/(rowΣ·colΣ)),
    * asymptotically χ²(dof) but additive across table partitions and
    * exactly 2N·MI_nats (ties the testing family to [[mutualInfo]]).
    * Empty cells contribute 0 (O·ln O → 0), so unlike chi-square the
    * observed-cell table suffices — no full r·c grid.
    *
    * Margins are two tiny aggregates broadcast onto the observed-cell
    * table; terms snap to 12 dp and accumulate as DECIMAL.
    */
  def gTest(df: DataFrame, xCol: String, yCol: String,
            roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__o"))
    val rm = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__rx"))
    val cm = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__cy"))
    val tot = cells.agg(sum(col("__o")).cast("double").as("__N"),
      countDistinct(col("__x")).as("__r"),
      countDistinct(col("__y")).as("__c"))
    cells.join(broadcast(rm), "__x").join(broadcast(cm), "__y")
      .crossJoin(broadcast(tot))
      .withColumn("__term", round(col("__o") *
          log(col("__o") * col("__N") /
            (col("__rx").cast("double") * col("__cy"))), 12)
        .cast("decimal(28,14)"))
      .agg(first(col("__N")).cast("long").as("n"),
        ((first(col("__r")) - 1) * (first(col("__c")) - 1)).as("dof"),
        round(lit(2.0) * sum(col("__term")).cast("double"), roundTo)
          .as("g_stat"),
        round(sum(col("__term")).cast("double") / first(col("__N")),
          roundTo).as("mi_nats"))
  }

  /** Ordinal-association family — [[kendallTau]]'s machinery (joint-
    * histogram concordant/discordant pair counts) read out as the three
    * classical tie-handling alternatives: Goodman–Kruskal gamma
    * (C−D)/(C+D) (ignores all ties), Somers' D in both directions
    * (C−D over pairs untied on the PREDICTOR — the asymmetric "does x
    * order y" statistic behind the c-index), and Stuart's tau-c
    * 2m(C−D)/(n²(m−1)) (the rectangular-table correction).
    *
    * Same scale contract as tau-b: values quantize to 4 dp, pair
    * counts come from the |cells|² joint-histogram self-join (bounded
    * by the quantized vocabulary, never n²), and every count
    * accumulates as DECIMAL(38,0).
    */
  def ordinalAssociation(df: DataFrame, groupCol: String, xCol: String,
                         yCol: String, roundTo: Int = 6): DataFrame = {
    val hist = df.groupBy(col(groupCol).as("grp"),
        round(col(xCol).cast("double"), 4).as("__x"),
        round(col(yCol).cast("double"), 4).as("__y"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"))
      .localCheckpoint(true) // pair sides + three marginals read it
    val a = hist.select(col("grp"), col("__x").as("__xa"),
      col("__y").as("__ya"), col("__n").as("__na"))
    val b = hist.select(col("grp"), col("__x").as("__xb"),
      col("__y").as("__yb"), col("__n").as("__nb"))
    val cd = a.join(b, Seq("grp")).filter(col("__xa") < col("__xb"))
      .groupBy("grp")
      .agg(sum(when(col("__yb") > col("__ya"), col("__na") * col("__nb"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__c"),
        sum(when(col("__yb") < col("__ya"), col("__na") * col("__nb"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("__d"))
    def tiePairs(vCol: String, out: String) = hist
      .groupBy(col("grp"), col(vCol)).agg(sum(col("__n")).as("__t"))
      .groupBy("grp")
      .agg((sum(col("__t") * (col("__t") - 1)) / 2).cast("decimal(38,0)")
        .as(out))
    val marg = hist.groupBy("grp").agg(sum(col("__n")).as("__nt"),
      countDistinct(col("__x")).as("__rx"),
      countDistinct(col("__y")).as("__ry"))
    marg.join(cd, Seq("grp"), "left")
      .join(tiePairs("__x", "__n1"), "grp")
      .join(tiePairs("__y", "__n2"), "grp")
      .withColumn("__cc", coalesce(col("__c"), lit(0).cast("decimal(38,0)")))
      .withColumn("__dd", coalesce(col("__d"), lit(0).cast("decimal(38,0)")))
      .withColumn("__s", (col("__cc") - col("__dd")).cast("double"))
      .withColumn("__n0",
        (col("__nt") * (col("__nt") - 1) / 2).cast("decimal(38,0)"))
      .withColumn("__m", least(col("__rx"), col("__ry")))
      .select(col("grp").as(groupCol), col("__nt").cast("long").as("n"),
        col("__cc").cast("long").as("concordant"),
        col("__dd").cast("long").as("discordant"),
        when(col("__cc") + col("__dd") > 0, round(col("__s") /
          (col("__cc") + col("__dd")).cast("double"), roundTo)).as("gamma"),
        when(col("__n0") > col("__n1"), round(col("__s") /
          (col("__n0") - col("__n1")).cast("double"), roundTo))
          .as("somers_d_yx"),
        when(col("__n0") > col("__n2"), round(col("__s") /
          (col("__n0") - col("__n2")).cast("double"), roundTo))
          .as("somers_d_xy"),
        when(col("__m") > 1, round(lit(2.0) * col("__m") * col("__s") /
          (col("__nt").cast("double") * col("__nt").cast("double") *
            (col("__m") - 1)), roundTo)).as("tau_c"))
  }

  /** Dunn's post-hoc test — the pairwise follow-up to a significant
    * [[kruskalWallis]]: for every group pair, the standardized mean-
    * rank difference z = (R̄ᵢ−R̄ⱼ)/√(σ²·(1/nᵢ+1/nⱼ)) with the pooled
    * tie-corrected variance σ² = N(N+1)/12 − Σ(t³−t)/(12(N−1)). Which
    * event types actually differ, not just "some do".
    *
    * Identical distribution shape to KW: mid-ranks come from ONE
    * [[rangeCumSum]] over the value histogram (doubled ranks stay
    * integral), per-group rank sums are exact DECIMAL, and the
    * pairwise stage is a self-join of the k-row group table — k², not
    * n², pairs.
    */
  def dunnTest(df: DataFrame, groupCol: String, valCol: String,
               roundTo: Int = 6): DataFrame = {
    val obs = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 4).as("__v"))
    val cells = obs.groupBy(col("__v"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // value histogram + rank join both read it
    val histv = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__t"))
    val ranked = rangeCumSum(histv, "__v", Seq("__t"))
      .withColumn("__ar2", midrank2(col("__cum___t") - col("__t"), col("__t")))
    val grp = cells.join(ranked.select(col("__v"), col("__ar2")), "__v")
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("decimal(38,0)") *
          col("__ar2").cast("decimal(38,0)")).as("__r2"))
      // doubled-rank sums are integral; the mean rank is ONE division
      .withColumn("__mr", col("__r2").cast("double") /
        (lit(2.0) * col("__n")))
    val ties = histv.agg(sum(col("__t").cast("decimal(38,0)") *
      col("__t") * col("__t") - col("__t")).as("__ties"))
    val tot = grp.agg(sum(col("__n")).as("__N"))
    val ga = grp.select(col("__g").as("g1"), col("__n").as("__n1"),
      col("__mr").as("__mr1"))
    val gb = grp.select(col("__g").as("g2"), col("__n").as("__n2"),
      col("__mr").as("__mr2"))
    // inequality-only pair join of two k-row frames: broadcast one side
    // so the plan is a BroadcastNestedLoopJoin, never CartesianProduct
    ga.join(broadcast(gb), col("g1") < col("g2"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .withColumn("__Nd", col("__N").cast("double"))
      .withColumn("__s2", col("__Nd") * (col("__Nd") + 1) / 12 -
        col("__ties").cast("double") / (lit(12.0) * (col("__Nd") - 1)))
      .select(col("g1"), col("g2"),
        col("__n1").cast("long").as("n1"), col("__n2").cast("long").as("n2"),
        round(col("__mr1") - col("__mr2"), roundTo).as("mean_rank_diff"),
        when(col("__s2") > 0 && col("__n1") > 0 && col("__n2") > 0,
          round((col("__mr1") - col("__mr2")) /
            sqrt(col("__s2") * (lit(1.0) / col("__n1") +
              lit(1.0) / col("__n2"))), roundTo)).as("z"))
  }

  /** Bartlett's test of equal variances — the parametric (normal-
    * theory) sibling of [[brownForsythe]]: more powerful when the
    * groups really are normal, famously fragile otherwise (run both;
    * if they disagree, trust BF). T = ((N−k)·ln s²ₚ − Σ(nᵢ−1)·ln s²ᵢ)
    * / (1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1))), asymptotically χ²(k−1).
    *
    * One moment pass: values quantize to 4 dp DECIMAL, per-group
    * n/Σv/Σv² accumulate exactly, every variance is a single double
    * formula (n·Σv² − (Σv)²)/(n(n−1)) from those exact sums, and the
    * k-group ln/1-dof terms snap to 12 dp and sum as DECIMAL.
    * Degenerate groups (n ≤ 1 or zero variance) null the statistic —
    * ln(0) must not poison the sum.
    */
  def bartlett(df: DataFrame, groupCol: String, valCol: String,
               roundTo: Int = 6): DataFrame = {
    val v = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 4).cast("decimal(18,4)").as("__v"))
    val g = v.groupBy("__g").agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__v")).cast("decimal(38,4)").as("__sv"),
        sum(col("__v") * col("__v")).cast("decimal(38,8)").as("__svv"))
      .withColumn("__s2", (col("__n") * col("__svv") -
          col("__sv") * col("__sv")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
    g.agg(sum(col("__n")).cast("double").as("__N"),
        count(lit(1)).cast("double").as("__k"),
        min(col("__n")).cast("long").as("__minN"),
        min(col("__s2")).as("__minS2"),
        // Σ(nᵢ−1)s²ᵢ re-derived from the same exact sums so the pooled
        // variance needs no second pass
        sum(round((col("__n") * col("__svv") - col("__sv") * col("__sv"))
            .cast("double") / col("__n").cast("double"), 8)
          .cast("decimal(38,12)")).as("__ss"),
        sum(when(col("__n") > 1 && col("__s2") > 0,
            round((col("__n") - 1).cast("double") * log(col("__s2")), 12))
          .cast("decimal(38,12)")).as("__slog"),
        sum(when(col("__n") > 1,
            round(lit(1.0) / (col("__n") - 1).cast("double"), 12))
          .cast("decimal(38,12)")).as("__sinv"))
      .withColumn("__dofp", col("__N") - col("__k"))
      .withColumn("__sp2", col("__ss").cast("double") / col("__dofp"))
      .select(col("__N").cast("long").as("n"),
        col("__k").cast("long").as("k"),
        (col("__k") - 1).cast("long").as("dof"),
        when(col("__minN") > 1 && col("__minS2") > 0 && col("__k") > 1 &&
          col("__dofp") > 0 && col("__sp2") > 0,
          round((col("__dofp") * log(col("__sp2")) -
              col("__slog").cast("double")) /
            (lit(1.0) + (col("__sinv").cast("double") -
              lit(1.0) / col("__dofp")) / (lit(3.0) * (col("__k") - 1))),
            roundTo)).as("chi2"))
  }

  /** Murphy decomposition of the Brier score — the calibration triple
    * behind [[graft.operators.ExperimentOps]]'s ECE scalar:
    * Brier = reliability − resolution + uncertainty, where reliability
    * is the calibration gap Σnₖ(fₖ−ōₖ)²/N (smaller better), resolution
    * the sharpness Σnₖ(ōₖ−ō)²/N (bigger better), and uncertainty the
    * irreducible ō(1−ō). Tells you WHY a Brier score is bad — the
    * model lies (reliability) or merely hedges (no resolution).
    *
    * Forecasts quantize to 4 dp, so the decomposition identity holds
    * EXACTLY (the forecast is constant within each bin): per-bin
    * (n, Σy) is the only shuffled object, the Brier sum
    * Σ(nf² − 2f·pos + pos) accumulates as exact DECIMAL (f² at 4 dp is
    * 8-dp exact), and rel/res terms snap to 12 dp.
    */
  def brierDecomposition(df: DataFrame, predCol: String, labelCol: String,
                         roundTo: Int = 6): DataFrame = {
    val bins = df.select(
        round(col(predCol).cast("double"), 4).cast("decimal(9,4)").as("__f"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"))
    // names stay case-distinct from bins' __n — Spark resolves columns
    // case-insensitively, so "__N" would be ambiguous after the join
    val tot = bins.agg(sum(col("__n")).as("__tn"),
      sum(col("__pos")).as("__tp"))
    bins.crossJoin(broadcast(tot))
      .withColumn("__obar", col("__tp").cast("double") / col("__tn"))
      .withColumn("__ok", col("__pos").cast("double") / col("__n"))
      .withColumn("__brier", (col("__f") * col("__f") * col("__n") -
          lit(2).cast("decimal(9,4)") * col("__f") * col("__pos") +
          col("__pos")).cast("decimal(38,8)"))
      .withColumn("__rel", round(col("__n") *
        pow(col("__f").cast("double") - col("__ok"), 2), 12)
        .cast("decimal(38,12)"))
      .withColumn("__res", round(col("__n") *
        pow(col("__ok") - col("__obar"), 2), 12).cast("decimal(38,12)"))
      .agg(first(col("__tn")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_bins"),
        round(sum(col("__brier")).cast("double") /
          first(col("__tn")), roundTo).as("brier"),
        round(sum(col("__rel")).cast("double") / first(col("__tn")),
          roundTo).as("reliability"),
        round(sum(col("__res")).cast("double") / first(col("__tn")),
          roundTo).as("resolution"),
        round(first(col("__obar")) * (lit(1.0) - first(col("__obar"))),
          roundTo).as("uncertainty"))
  }

  /** Hosmer–Lemeshow goodness-of-fit — the χ² companion to
    * [[brierDecomposition]]: rank the population into `nBins` equal-
    * count risk bins and compare observed vs expected positives,
    * HL = Σ (O₁−E₁)²·n/(E₁(n−E₁)), asymptotically χ²(bins−2). The
    * standard "is this probability model calibrated enough to deploy"
    * gate.
    *
    * Deterministic decile assignment without a raw-row sort: forecasts
    * quantize to 4 dp, ONE [[rangeCumSum]] over the (f, n, Σy, Σf)
    * histogram yields cumulative population, and a distinct-forecast
    * block lands wholly in the bin containing its FIRST unit
    * (⌊before·nBins/N⌋ — ties never straddle engines). E₁ sums the
    * quantized forecasts as exact DECIMAL.
    */
  def hosmerLemeshow(df: DataFrame, predCol: String, labelCol: String,
                     nBins: Int = 10, roundTo: Int = 6): DataFrame = {
    val hist = df.select(
        round(col(predCol).cast("double"), 4).cast("decimal(9,4)").as("__f"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"))
      .withColumn("__sf", (col("__f") * col("__n")).cast("decimal(38,4)"))
    val tot = hist.agg(sum(col("__n")).as("__tn"))
    rangeCumSum(hist, "__f", Seq("__n"))
      .crossJoin(broadcast(tot))
      // block's first unit index is cum−n; integer DIV keeps bins exact
      .withColumn("__bin",
        expr(s"(__cum___n - __n) * $nBins DIV __tn"))
      .groupBy(col("__bin"))
      .agg(sum(col("__n")).as("__ng"), sum(col("__pos")).as("__o1"),
        sum(col("__sf")).as("__e1"))
      .withColumn("__e1d", col("__e1").cast("double"))
      .withColumn("__term", when(
          col("__e1d") > 0 && col("__e1d") < col("__ng"),
          round(pow(col("__o1") - col("__e1d"), 2) * col("__ng") /
            (col("__e1d") * (col("__ng") - col("__e1d"))), 12))
        .cast("decimal(38,12)"))
      .agg(sum(col("__ng")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_bins"),
        (count(lit(1)) - 2).cast("long").as("dof"),
        round(sum(col("__term")).cast("double"), roundTo).as("hl_chi2"),
        sum(when(col("__term").isNull, 1L).otherwise(0L)).cast("long")
          .as("degenerate_bins"))
  }

  /** Nelson–Aalen cumulative hazard — [[kaplanMeier]]'s additive twin:
    * Ĥ(t) = Σ_{s≤t} d_s/n_s with the Fleming–Harrington survival
    * readout Ŝ = e^{−Ĥ} (slightly biased up vs product-limit, far
    * stabler in small risk sets; also the quantity Cox models work in).
    *
    * Same duration-histogram machinery as KM: risk sets from one
    * [[rangeCumSum]], hazard increments snapped to 12 dp and cumulated
    * as DECIMAL by a second — never a subject-sized window.
    */
  def nelsonAalen(df: DataFrame, durCol: String, eventCol: String,
                  roundTo: Int = 6): DataFrame = {
    val risk = riskTable(df, durCol, eventCol)
      .withColumn("__h", when(col("n_risk") > 0,
          round(col("d").cast("double") / col("n_risk"), 12))
        .otherwise(lit(0.0)).cast("decimal(28,14)"))
    rangeCumSum(risk, "t", Seq("__h"))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        round(col("__cum___h").cast("double"), roundTo).as("cum_hazard"),
        round(exp(-col("__cum___h").cast("double")), roundTo).as("s_na"))
  }

  /** Restricted mean survival time — the scalar the KM curve is
    * usually bought for: E[min(T, τ)] = ∫₀^τ Ŝ(t)dt with τ = the last
    * observed duration, i.e. "average days survived in the first τ
    * days". The preferred effect-size readout when proportional
    * hazards fails and a median never gets reached.
    *
    * Lag-free closed form: with δᵢ the KM drop at event time tᵢ,
    * ∫₀^τ Ŝ = τ − Σ δᵢ·(τ−tᵢ), and δᵢ = Sᵢ·dᵢ/(nᵢ−dᵢ) comes from the
    * SAME row (no window over the curve): S_prev·d/n = S·(d/n)/(1−d/n).
    * A saturated step (d = n, Ŝ hits 0) takes δ = S_prev directly from
    * the ln-sum minus its own factor. Drops snap to 12 dp and sum as
    * DECIMAL; the whole curve machinery is [[kaplanMeier]]'s.
    */
  def rmst(df: DataFrame, durCol: String, eventCol: String,
           roundTo: Int = 6): DataFrame = {
    val risk = productLimitFactors(riskTable(df, durCol, eventCol))
      .drop("c")
    val curve = rangeCumSum(risk, "t", Seq("__lnf", "__zero"))
      // S_prev excludes this row's own factor AND its own zero-crossing
      .withColumn("__sprev", plSurvival(col("__cum___lnf") - col("__lnf"),
        col("__cum___zero") - col("__zero")))
      .withColumn("__s", plSurvival(col("__cum___lnf"), col("__cum___zero")))
      .withColumn("__drop", round(when(col("d") === col("n_risk"),
          col("__sprev"))
        .otherwise(col("__s") * col("d") /
          (col("n_risk") - col("d"))), 12).cast("decimal(28,14)"))
    val tau = curve.agg(max(col("t")).as("__tau"))
    curve.crossJoin(broadcast(tau))
      .agg(first(col("__tau")).cast("long").as("tau"),
        round(first(col("__tau")).cast("double") -
          sum(round(col("__drop").cast("double") *
              (col("__tau") - col("t")).cast("double"), 12)
            .cast("decimal(38,12)")).cast("double"), roundTo).as("rmst"))
  }

  /** Two-sample Anderson–Darling statistic (Scholz–Stephens A²ₐₖₙ,
    * the tie-adjusted midrank form scipy's `anderson_ksamp` computes)
    * — the tail-sensitive alternative to [[ksStatistic]]/[[cvmTwoSample]]:
    * AD weights ECDF discrepancies by 1/(F(1−F)), so a drift that only
    * lives in the distribution tails still registers.
    *
    * Doubled-midrank trick keeps every ingredient integral: with
    * B2ⱼ = 2·(pooled count before block j) + lⱼ and
    * M2ⱼ = 2·(side count through j) − fⱼ, the per-block term
    * lⱼ/N · (N·M2ⱼ − B2ⱼ·nᵢ)² / (B2ⱼ·(2N−B2ⱼ) − N·lⱼ) is exact in
    * the integers (the ¼ factors cancel). The value histogram (4 dp)
    * is the only shuffled object; cumulatives ride [[rangeCumSum]];
    * terms snap to 12 dp and sum as DECIMAL. The squared numerator is
    * formed in DOUBLE from an exact DECIMAL difference — per-side
    * totals beyond ~10¹⁵ rows would lose ulps there (same documented
    * bound class as [[spearman]]).
    */
  def andersonDarlingTwoSample(df: DataFrame, sideCol: String,
                               valCol: String, sideA: Any, sideB: Any,
                               roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
        round(col(valCol).cast("double"), 4))
      .withColumn("__l", col("__na") + col("__nb"))
    val tot = hist.agg(sum(col("__na")).as("__qa"),
      sum(col("__nb")).as("__qb"), sum(col("__l")).as("__nn"))
    val cum = rangeCumSum(hist, "__v", Seq("__l", "__na", "__nb"))
      .crossJoin(broadcast(tot))
      .withColumn("__b2",
        lit(2) * (col("__cum___l") - col("__l")) + col("__l"))
      .withColumn("__m2a",
        lit(2) * col("__cum___na") - col("__na"))
      .withColumn("__m2b",
        lit(2) * col("__cum___nb") - col("__nb"))
      .withColumn("__den", (col("__b2").cast("decimal(38,0)") *
        (lit(2) * col("__nn") - col("__b2")) -
        col("__nn").cast("decimal(38,0)") * col("__l")).cast("double"))
    def sideSum(m2: String, n: String) = sum(when(col("__den") > 0,
        round(col("__l") / col("__nn").cast("double") *
          pow((col("__nn").cast("decimal(38,0)") * col(m2) -
            col("__b2").cast("decimal(38,0)") * col(n)).cast("double"), 2)
          / col("__den"), 12)).cast("decimal(38,12)"))
    cum.agg(first(col("__qa")).cast("long").as("n_a"),
        first(col("__qb")).cast("long").as("n_b"),
        sideSum("__m2a", "__qa").as("__sa"),
        sideSum("__m2b", "__qb").as("__sb"),
        first(col("__nn")).as("__N"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0 && col("__N") > 1,
          round((col("__N") - 1).cast("double") / col("__N") *
            (col("__sa").cast("double") / col("n_a") +
              col("__sb").cast("double") / col("n_b")), roundTo))
          .as("a2"))
  }

  /** Fleiss' kappa — chance-corrected agreement for MANY raters (the
    * multi-rater generalization of Cohen's κ at MetricOps.scala:444):
    * each item carries exactly `nRaters` categorical ratings;
    * κ = (P̄−P̄ₑ)/(1−P̄ₑ) with P̄ the mean pairwise within-item
    * agreement and P̄ₑ the squared category shares. Items with any
    * other rating count are DROPPED (the classical balanced-panel
    * requirement), and the dropped count is reported.
    *
    * Everything is exact-integer until two final divisions:
    * Σᵢ(Σ_c n²ᵢ_c − n) has fixed denominator I·n·(n−1) and
    * Σ_c(Σᵢ nᵢ_c)² has (I·n)² — both accumulate as DECIMAL(38,0), so
    * the statistic is partition-order-independent at any item count.
    */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String,
                  nRaters: Int, roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(itemCol).as("__i"), col(catCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__tot"),
        sum(col("__n") * col("__n")).cast("decimal(38,0)").as("__sq"))
      .localCheckpoint(true) // balanced filter feeds cats + the P̄ sum
    val dropped = items.filter(col("__tot") =!= nRaters)
      .agg(count(lit(1)).as("__drop"))
    val keep = items.filter(col("__tot") === nRaters)
    val cats = cells.join(keep.select(col("__i")), "__i")
      .groupBy(col("__c"))
      .agg(sum(col("__n")).cast("decimal(38,0)").as("__nc"))
    val catSq = cats.agg(
      sum(col("__nc") * col("__nc")).cast("decimal(38,0)").as("__s2"))
    keep.agg(count(lit(1)).cast("decimal(38,0)").as("__I"),
        sum(col("__sq") - nRaters).cast("decimal(38,0)").as("__s1"))
      .crossJoin(broadcast(catSq)).crossJoin(broadcast(dropped))
      .withColumn("__pbar", col("__s1").cast("double") /
        (col("__I") * nRaters * (nRaters - 1)).cast("double"))
      .withColumn("__pe", col("__s2").cast("double") /
        ((col("__I") * nRaters) * (col("__I") * nRaters)).cast("double"))
      .select(col("__I").cast("long").as("n_items"),
        lit(nRaters).cast("long").as("n_raters"),
        col("__drop").cast("long").as("dropped_items"),
        round(col("__pbar"), roundTo).as("p_bar"),
        round(col("__pe"), roundTo).as("p_e"),
        when(col("__pe") < 1, round((col("__pbar") - col("__pe")) /
          (lit(1.0) - col("__pe")), roundTo)).as("kappa"))
  }

  /** Simple-exponential-smoothing backtest (α = ½) with sMAPE and
    * WAPE — the flat-forecast companion to [[maseBacktest]]'s seasonal
    * naive: the level is a binary-weighted mean of the last `win`
    * train buckets (weight 2^(win−lag), the [[ewmaAnomaly]] exact-
    * integer trick — no pow(double) anywhere, so both engines derive
    * the identical level), scored on the holdout with
    * sMAPE = mean(2|y−f|/(|y|+|f|)) and WAPE = Σ|y−f|/Σ|y|.
    *
    * Series contract as the trend family: ALREADY-AGGREGATED
    * (group, x, y) rows, so the level table is |groups| rows,
    * broadcast onto the holdout slice. Terms snap to 12 dp and sum as
    * DECIMAL.
    */
  def sesBacktest(series: DataFrame, groupCol: String, xCol: String,
                  yCol: String, splitX: Long, win: Int = 16,
                  roundTo: Int = 6): DataFrame = {
    require(win >= 1 && win <= 62, "win must fit a long weight")
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("double").as("__y"))
    val trainMax = base.filter(col("__x") < splitX)
      .groupBy("__g").agg(max(col("__x")).as("__tm"))
    val level = base.filter(col("__x") < splitX)
      .join(broadcast(trainMax), "__g")
      .withColumn("__lag", (col("__tm") - col("__x")).cast("int"))
      .filter(col("__lag") < win)
      .withColumn("__wt",
        expr(s"shiftleft(CAST(1 AS BIGINT), $win - 1 - __lag)"))
      .groupBy("__g")
      .agg(sum(col("__wt")).as("__den"),
        sum(round(col("__y"), 6).cast("decimal(28,6)") * col("__wt"))
          .as("__num"))
      .withColumn("__f", col("__num").cast("double") /
        col("__den").cast("double"))
      .select(col("__g"), col("__f"))
    base.filter(col("__x") >= splitX)
      .join(broadcast(level), "__g")
      .withColumn("__ae", abs(col("__y") - col("__f")))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n_test"),
        round(first(col("__f")), roundTo).as("forecast"),
        round(sum(round(when(abs(col("__y")) + abs(col("__f")) > 0,
            lit(2.0) * col("__ae") / (abs(col("__y")) + abs(col("__f"))))
            .otherwise(lit(0.0)), 12).cast("decimal(38,12)"))
          .cast("double") / count(lit(1)), roundTo).as("smape"),
        (round(sum(round(col("__ae"), 6).cast("decimal(38,6)"))
          .cast("double") /
          sum(round(abs(col("__y")), 6).cast("decimal(38,6)"))
            .cast("double"), roundTo)).as("wape"))
  }

  /** Kaplan–Meier with Greenwood confidence bands — [[kaplanMeier]]
    * plus the variance readout a release decision needs: Greenwood's
    * Var[Ŝ] = Ŝ²·Σ d/(n(n−d)), se = Ŝ·√Σ, and the plain linear
    * z-band clamped to [0,1] (the log-log transform is prettier near
    * the edges but the linear band is the one every engine computes
    * identically). After a saturated step (Ŝ = 0) the band collapses
    * to 0.
    *
    * Third cumulated column on the same duration-histogram machinery
    * (risk sets + ln-product + Greenwood terms all ride
    * [[rangeCumSum]]); Greenwood increments snap to 12 dp.
    */
  def kaplanMeierCi(df: DataFrame, durCol: String, eventCol: String,
                    z: Double = 1.96, roundTo: Int = 6): DataFrame = {
    val risk = productLimitFactors(riskTable(df, durCol, eventCol))
      .withColumn("__gw", when(col("d") > 0 && col("d") < col("n_risk"),
          round(col("d").cast("double") /
            (col("n_risk").cast("double") * (col("n_risk") - col("d"))),
            12))
        .otherwise(lit(0.0)).cast("decimal(28,14)"))
    rangeCumSum(risk, "t", Seq("__lnf", "__gw", "__zero"))
      .withColumn("__s", plSurvival(col("__cum___lnf"), col("__cum___zero")))
      .withColumn("__se", when(col("__cum___zero") > 0, lit(0.0))
        .otherwise(col("__s") * sqrt(col("__cum___gw").cast("double"))))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        round(col("__s"), roundTo).as("survival"),
        round(col("__se"), roundTo).as("se"),
        round(greatest(col("__s") - lit(z) * col("__se"), lit(0.0)), roundTo)
          .as("lo"),
        round(least(col("__s") + lit(z) * col("__se"), lit(1.0)), roundTo)
          .as("hi"))
  }

  /** Granger-causality F (lag-1) on a pair of ALREADY-AGGREGATED
    * series: does yesterday's x improve today's y beyond yesterday's
    * y? Restricted model yₜ ~ yₜ₋₁ vs unrestricted yₜ ~ yₜ₋₁ + xₜ₋₁,
    * F = (RSSᵣ−RSSᵤ)·(n−3)/RSSᵤ with 1 numerator dof — the
    * inferential follow-up to [[crossCorrelation]]'s descriptive CCF.
    *
    * The lag is an EQUI-JOIN on t = t+1 (never a window), the 10 raw
    * moments accumulate as exact DECIMAL, and the normal equations
    * solve in closed form (2×2 after centering) as one deterministic
    * double formula — both engines run the identical arithmetic.
    */
  def grangerCausality(series: DataFrame, groupCol: String, xCol: String,
                       yCol: String, driverCol: String,
                       roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__t"),
      col(yCol).cast("long").as("__y"),
      col(driverCol).cast("long").as("__z"))
    val prev = base.select(col("__g"), (col("__t") + 1).as("__t"),
      col("__y").as("__l"), col("__z").as("__m"))
    val mom = base.join(prev, Seq("__g", "__t"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__y")).cast("decimal(38,0)").as("__sy"),
        sum(col("__l")).cast("decimal(38,0)").as("__sl"),
        sum(col("__m")).cast("decimal(38,0)").as("__sm"),
        sum(col("__y") * col("__y")).cast("decimal(38,0)").as("__syy"),
        sum(col("__y") * col("__l")).cast("decimal(38,0)").as("__syl"),
        sum(col("__y") * col("__m")).cast("decimal(38,0)").as("__sym"),
        sum(col("__l") * col("__l")).cast("decimal(38,0)").as("__sll"),
        sum(col("__m") * col("__m")).cast("decimal(38,0)").as("__smm"),
        sum(col("__l") * col("__m")).cast("decimal(38,0)").as("__slm"))
    mom
      .withColumn("__cyy", (col("__n") * col("__syy") -
        col("__sy") * col("__sy")).cast("double"))
      .withColumn("__cyl", (col("__n") * col("__syl") -
        col("__sy") * col("__sl")).cast("double"))
      .withColumn("__cym", (col("__n") * col("__sym") -
        col("__sy") * col("__sm")).cast("double"))
      .withColumn("__cll", (col("__n") * col("__sll") -
        col("__sl") * col("__sl")).cast("double"))
      .withColumn("__cmm", (col("__n") * col("__smm") -
        col("__sm") * col("__sm")).cast("double"))
      .withColumn("__clm", (col("__n") * col("__slm") -
        col("__sl") * col("__sm")).cast("double"))
      .withColumn("__det", col("__cll") * col("__cmm") -
        col("__clm") * col("__clm"))
      .withColumn("__rssr", when(col("__cll") > 0,
        (col("__cyy") - col("__cyl") * col("__cyl") / col("__cll")) /
          col("__n").cast("double")))
      .withColumn("__b", when(col("__det") > 0,
        (col("__cyl") * col("__cmm") - col("__cym") * col("__clm")) /
          col("__det")))
      .withColumn("__c2", when(col("__det") > 0,
        (col("__cym") * col("__cll") - col("__cyl") * col("__clm")) /
          col("__det")))
      .withColumn("__rssu", when(col("__det") > 0,
        (col("__cyy") - col("__b") * col("__cyl") -
          col("__c2") * col("__cym")) / col("__n").cast("double")))
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        round(col("__rssr"), roundTo).as("rss_restricted"),
        round(col("__rssu"), roundTo).as("rss_unrestricted"),
        when(col("__rssu") > 0 && col("__n") > 3,
          round((col("__rssr") - col("__rssu")) *
            (col("__n") - 3).cast("double") / col("__rssu"), roundTo))
          .as("granger_f"))
  }

  /** Hellinger / Bhattacharyya distribution distance between two
    * sides' value histograms — the bounded-metric companion to PSI
    * (unbounded logs) and Wasserstein (scale-dependent):
    * BC = Σ√(pᵢqᵢ) ∈ [0,1], H = √(1−BC), D_B = −ln BC.
    *
    * One quantized histogram with per-side counts is the only
    * shuffled object. √(nᵃᵢ·nᵇᵢ) terms are exact-integer inputs to a
    * correctly-rounded IEEE sqrt (identical across engines), snapped
    * to 12 dp and decimal-summed; ONE division by √(Nₐ·N_b) at the
    * end.
    */
  def hellingerDrift(df: DataFrame, sideCol: String, valCol: String,
                     sideA: Any, sideB: Any, roundVals: Int = 1,
                     roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
      round(col(valCol).cast("double"), roundVals))
    hist.agg(sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"),
        sum(round(sqrt((col("__na") * col("__nb")).cast("double")), 12)
          .cast("decimal(38,12)")).as("__bcn"))
      .withColumn("__bc", least(col("__bcn").cast("double") /
        sqrt(col("__ta").cast("double") * col("__tb")), lit(1.0)))
      .select(col("__ta").cast("long").as("n_a"),
        col("__tb").cast("long").as("n_b"),
        round(col("__bc"), roundTo).as("bc"),
        round(sqrt(lit(1.0) - col("__bc")), roundTo).as("hellinger"),
        when(col("__bc") > 0, round(-log(col("__bc")), roundTo))
          .as("bhattacharyya"))
  }

  /** Cochran–Mantel–Haenszel test + MH pooled odds ratio: the
    * stratified 2×2 family — "is exposure associated with outcome
    * once the stratifying confounder is held fixed?" CMH =
    * (Σ(aₖ−Eₖ))²/ΣVₖ with the hypergeometric Eₖ = r₁c₁/n and
    * Vₖ = r₁r₀c₁c₀/(n²(n−1)); OR_MH = Σ(a·d/n)/Σ(b·c/n). The
    * Simpson's-paradox-proof readout [[chiSquare]] on the pooled
    * table cannot give.
    *
    * One aggregate per stratum; all four per-stratum terms snap to
    * 12 dp and sum as DECIMAL. Degenerate strata (n ≤ 1 or an empty
    * margin ⇒ V = 0) contribute nothing to either sum — the standard
    * convention.
    */
  def cmhTest(df: DataFrame, strataCol: String, exposureCol: String,
              outcomeCol: String, roundTo: Int = 6): DataFrame = {
    val s = df.groupBy(col(strataCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(col(exposureCol).cast("long")).as("__r1"),
        sum(col(outcomeCol).cast("long")).as("__c1"),
        sum((col(exposureCol).cast("long") *
          col(outcomeCol).cast("long"))).as("__a"))
      .withColumn("__b", col("__r1") - col("__a"))
      .withColumn("__c", col("__c1") - col("__a"))
      .withColumn("__d",
        col("__n") - col("__r1") - col("__c1") + col("__a"))
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("__e", col("__r1").cast("double") * col("__c1") /
        col("__nd"))
      .withColumn("__v", when(col("__n") > 1,
        col("__r1").cast("double") * (col("__n") - col("__r1")) *
          col("__c1") * (col("__n") - col("__c1")) /
          (col("__nd") * col("__nd") * (col("__nd") - 1))))
    s.agg(count(lit(1)).cast("long").as("k_strata"),
        sum(col("__n")).cast("long").as("n"),
        sum(when(col("__v") > 0, round(col("__a") - col("__e"), 12))
          .cast("decimal(38,12)")).as("__num"),
        sum(when(col("__v") > 0, round(col("__v"), 12))
          .cast("decimal(38,12)")).as("__den"),
        sum(when(col("__n") > 0, round(col("__a").cast("double") *
            col("__d") / col("__nd"), 12)).cast("decimal(38,12)"))
          .as("__orn"),
        sum(when(col("__n") > 0, round(col("__b").cast("double") *
            col("__c") / col("__nd"), 12)).cast("decimal(38,12)"))
          .as("__ord"))
      .select(col("k_strata"), col("n"),
        when(col("__den").cast("double") > 0,
          round(pow(col("__num").cast("double"), 2) /
            col("__den").cast("double"), roundTo)).as("cmh_chi2"),
        when(col("__ord").cast("double") > 0,
          round(col("__orn").cast("double") /
            col("__ord").cast("double"), roundTo)).as("or_mh"))
  }

  /** Information-gain feature ranking — [[mutualInfo]] swept across a
    * feature list and normalized by each feature's own entropy
    * (IG ratio ∈ [0,1], the C4.5 split criterion): which columns are
    * worth a model's attention for this label, before any training
    * run.
    *
    * One contingency aggregate per feature (a lazy union of k
    * branches, like [[graft.operators.QualityChecks.candidateKeys]]);
    * marginals broadcast; MI and H(X) terms snap to 12 dp and
    * decimal-sum.
    */
  def featureInfoGain(df: DataFrame, labelCol: String,
                      featureCols: Seq[String],
                      roundTo: Int = 6): DataFrame = {
    require(featureCols.nonEmpty, "no feature columns given")
    featureCols.map { f =>
      val joint = df.groupBy(col(f).cast("string").as("__x"),
          col(labelCol).cast("string").as("__y"))
        .agg(count(lit(1)).as("__nxy"))
        .localCheckpoint(true) // marginals + total re-read it
      val mx = joint.groupBy("__x")
        .agg(sum("__nxy").cast("long").as("__nx"))
      val my = joint.groupBy("__y")
        .agg(sum("__nxy").cast("long").as("__ny"))
      val n = joint.agg(sum("__nxy").cast("long").as("__nt"))
      val hx = mx.crossJoin(broadcast(n))
        .agg(sum(round(-(col("__nx").cast("double") / col("__nt")) *
            log(col("__nx").cast("double") / col("__nt")), 12)
          .cast("decimal(28,14)")).as("__hx"))
      joint.join(broadcast(mx), "__x").join(broadcast(my), "__y")
        .crossJoin(broadcast(n))
        .withColumn("__term",
          round((col("__nxy").cast("double") / col("__nt")) *
            log(col("__nxy").cast("double") * col("__nt") /
              (col("__nx").cast("double") * col("__ny"))), 12)
            .cast("decimal(28,14)"))
        .agg(sum(col("__term")).as("__mi"), max(col("__nt")).as("__nr"))
        .crossJoin(broadcast(hx))
        .select(lit(f).as("feature"), col("__nr").as("n_rows"),
          round(col("__mi").cast("double"), roundTo).as("mi_nats"),
          round(col("__hx").cast("double"), roundTo).as("h_feature"),
          when(col("__hx").cast("double") > 0,
            round(col("__mi").cast("double") /
              col("__hx").cast("double"), roundTo)).as("ig_ratio"))
    }.reduce(_ unionAll _)
  }

  /** Chow structural-break F-test at a KNOWN breakpoint on an
    * ALREADY-AGGREGATED (group, x, y) series — do the two segments
    * want different regression lines? F = ((RSSₚ−RSS₁−RSS₂)/2) /
    * ((RSS₁+RSS₂)/(n₁+n₂−4)). The confirmatory follow-up to the
    * change-DETECTION family (CUSUM/Pettitt), which hunts the
    * breakpoint this test then judges.
    *
    * Per-(group, segment) exact-DECIMAL moment rows (≤ 2 per group);
    * every RSS is the same closed-form double formula from those
    * sums; degenerate segments (n ≤ 2 or zero x-variance) null the
    * statistic.
    */
  def chowTest(series: DataFrame, groupCol: String, xCol: String,
               yCol: String, breakX: Long, roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__seg", when(col("__x") < breakX, 0).otherwise(1))
    def rssCol(pfx: String) = when(
      (col(s"${pfx}n") * col(s"${pfx}sxx") -
        col(s"${pfx}sx") * col(s"${pfx}sx")).cast("double") > 0,
      ((col(s"${pfx}n") * col(s"${pfx}syy") -
        col(s"${pfx}sy") * col(s"${pfx}sy")).cast("double") -
        pow((col(s"${pfx}n") * col(s"${pfx}sxy") -
          col(s"${pfx}sx") * col(s"${pfx}sy")).cast("double"), 2) /
        (col(s"${pfx}n") * col(s"${pfx}sxx") -
          col(s"${pfx}sx") * col(s"${pfx}sx")).cast("double")) /
        col(s"${pfx}n").cast("double"))
    def moments(d: DataFrame, keys: Seq[String], pfx: String) =
      d.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).cast("decimal(38,0)").as(s"${pfx}n"),
          sum(col("__x")).cast("decimal(38,0)").as(s"${pfx}sx"),
          sum(col("__y")).cast("decimal(38,0)").as(s"${pfx}sy"),
          sum(col("__x") * col("__x")).cast("decimal(38,0)")
            .as(s"${pfx}sxx"),
          sum(col("__x") * col("__y")).cast("decimal(38,0)")
            .as(s"${pfx}sxy"),
          sum(col("__y") * col("__y")).cast("decimal(38,0)")
            .as(s"${pfx}syy"))
    val segs = moments(base, Seq("__g", "__seg"), "__s")
      .withColumn("__rss", rssCol("__s"))
      .groupBy("__g")
      .agg(count(lit(1)).as("__nseg"),
        sum(when(col("__seg") === 0, col("__sn"))).as("__n1"),
        sum(when(col("__seg") === 1, col("__sn"))).as("__n2"),
        min(col("__sn")).as("__minn"),
        sum(round(col("__rss"), 8).cast("decimal(38,12)")).as("__rsum"))
    val pooled = moments(base, Seq("__g"), "__p")
      .withColumn("__rssp", rssCol("__p"))
      .select(col("__g"), col("__rssp"))
    segs.join(pooled, "__g")
      .withColumn("__ntot", (col("__n1") + col("__n2")).cast("double"))
      .withColumn("__rs", col("__rsum").cast("double"))
      .select(col("__g").as(groupCol),
        col("__n1").cast("long").as("n1"),
        col("__n2").cast("long").as("n2"),
        round(col("__rssp"), roundTo).as("rss_pooled"),
        round(col("__rs"), roundTo).as("rss_split"),
        when(col("__nseg") === 2 && col("__minn") > 2 &&
          col("__rs") > 0 && col("__ntot") > 4,
          round((col("__rssp") - col("__rs")) / 2 /
            (col("__rs") / (col("__ntot") - 4)), roundTo))
          .as("chow_f"))
  }

  /** Kuiper two-sample test V = D⁺ + D⁻ — the rotation-invariant KS
    * variant: equally sensitive at the distribution's ends and middle
    * (KS's D = max|F₁−F₂| under-weights the tails; AD over-weights
    * them; Kuiper is the circular-data / "shift anywhere" compromise).
    *
    * ECDF gaps stay EXACT integers: at each support point the signed
    * gap numerator is cla·N_b − clb·N_a (DECIMAL), maxed directly —
    * one quantized histogram, one [[rangeCumSum]], one aggregate.
    */
  def kuiperTwoSample(df: DataFrame, sideCol: String, valCol: String,
                      sideA: Any, sideB: Any, roundTo: Int = 6): DataFrame = {
    val hist = twoSampleHist(df, sideCol, sideA, sideB,
      round(col(valCol).cast("double"), 4))
    val tot = hist.agg(sum(col("__na")).as("__ta"),
      sum(col("__nb")).as("__tb"))
    rangeCumSum(hist, "__v", Seq("__na", "__nb"))
      .crossJoin(broadcast(tot))
      .withColumn("__gap",
        col("__cum___na").cast("decimal(38,0)") * col("__tb") -
          col("__cum___nb").cast("decimal(38,0)") * col("__ta"))
      .agg(first(col("__ta")).cast("long").as("n_a"),
        first(col("__tb")).cast("long").as("n_b"),
        greatest(max(col("__gap")), lit(0).cast("decimal(38,0)"))
          .as("__dp"),
        greatest(max(-col("__gap")), lit(0).cast("decimal(38,0)"))
          .as("__dm"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, round(
          col("__dp").cast("double") /
            (col("n_a").cast("double") * col("n_b")), roundTo))
          .as("d_plus"),
        when(col("n_a") > 0 && col("n_b") > 0, round(
          col("__dm").cast("double") /
            (col("n_a").cast("double") * col("n_b")), roundTo))
          .as("d_minus"),
        when(col("n_a") > 0 && col("n_b") > 0, round(
          (col("__dp") + col("__dm")).cast("double") /
            (col("n_a").cast("double") * col("n_b")), roundTo))
          .as("v_stat"))
  }

  /** Cronbach's alpha — internal-consistency reliability of a k-item
    * scale: α = k/(k−1)·(1 − Σᵢ s²ᵢ / s²_total), with s²_total the
    * variance of per-subject item SUMS. The "do these k measurements
    * measure one thing" gate before averaging them into a score.
    * Subjects missing any item are dropped (balanced-panel rule, as
    * [[fleissKappa]]).
    *
    * Everything is one pass over (subject, item, value): per-item
    * moment rows (k of them) and per-subject sums whose OWN moments
    * fold to one row; values quantize to 4 dp so every Σ is an exact
    * DECIMAL; the α formula is one double expression.
    */
  def cronbachAlpha(df: DataFrame, subjectCol: String, itemCol: String,
                    valCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val base = df.select(col(subjectCol).as("__s"), col(itemCol).as("__i"),
      round(col(valCol).cast("double"), 4).cast("decimal(18,4)").as("__v"))
    val subj = base.groupBy("__s")
      .agg(count(lit(1)).as("__cnt"), sum(col("__v")).as("__sum"))
      .filter(col("__cnt") === k)
      .localCheckpoint(true) // balanced filter feeds items + totals
    val keep = base.join(subj.select(col("__s")), "__s")
    val items = keep.groupBy(col("__i"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__v")).cast("decimal(38,4)").as("__sv"),
        sum(col("__v") * col("__v")).cast("decimal(38,8)").as("__svv"))
      .withColumn("__var", (col("__n") * col("__svv") -
          col("__sv") * col("__sv")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
      .agg(count(lit(1)).cast("long").as("__ki"),
        sum(round(col("__var"), 8).cast("decimal(38,12)")).as("__sumv"))
    val tot = subj
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__sum")).cast("decimal(38,4)").as("__sv"),
        sum(col("__sum") * col("__sum")).cast("decimal(38,8)")
          .as("__svv"))
      .withColumn("__vart", (col("__n") * col("__svv") -
          col("__sv") * col("__sv")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
      .select(col("__n").cast("long").as("n_subjects"), col("__vart"))
    tot.crossJoin(broadcast(items))
      .select(col("n_subjects"), col("__ki").as("k_items"),
        round(col("__vart"), roundTo).as("var_total"),
        when(col("__vart") > 0 && col("__ki") === k && col("n_subjects") > 1,
          round(lit(k.toDouble) / (k - 1) *
            (lit(1.0) - col("__sumv").cast("double") / col("__vart")),
            roundTo)).as("alpha"))
  }

  /** Gumbel (EV-I) block-maxima fit by the method of moments — the
    * "what daily volume should we provision for" tail model: block
    * maxima m_b → β̂ = s·√6/π, μ̂ = m̄ − γ·β̂, and the exceedance
    * probability P(max > level) = 1 − exp(−exp(−(level−μ̂)/β̂)) for a
    * declared capacity level. Method-of-moments (not ML) because it
    * is a closed form both engines compute identically.
    *
    * Series contract: ALREADY-AGGREGATED (group, x, y); blocks are
    * x div blockSize; maxima moments quantize/accumulate exactly.
    */
  def gumbelFit(series: DataFrame, groupCol: String, xCol: String,
                yCol: String, blockSize: Int, level: Double,
                roundTo: Int = 6): DataFrame = {
    val gamma = 0.5772156649015329
    val maxima = series.select(col(groupCol).as("__g"),
        (col(xCol).cast("long") - pmod(col(xCol).cast("long"),
          lit(blockSize.toLong))).as("__b"), // exact integer block id
        col(yCol).cast("long").as("__y"))
      .groupBy(col("__g"), col("__b"))
      .agg(max(col("__y")).as("__m"))
    maxima.groupBy(col("__g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__m")).cast("decimal(38,0)").as("__sm"),
        sum(col("__m") * col("__m")).cast("decimal(38,0)").as("__smm"))
      .withColumn("__mean",
        col("__sm").cast("double") / col("__n").cast("double"))
      .withColumn("__var", (col("__n") * col("__smm") -
          col("__sm") * col("__sm")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
      .withColumn("__beta", when(col("__var") > 0,
        sqrt(col("__var") * 6) / lit(math.Pi)))
      .withColumn("__mu", col("__mean") - lit(gamma) * col("__beta"))
      .select(col("__g").as(groupCol), col("__n").cast("long")
        .as("n_blocks"),
        round(col("__mu"), roundTo).as("mu"),
        round(col("__beta"), roundTo).as("beta"),
        when(col("__beta") > 0, round(lit(1.0) -
          exp(-exp(-(lit(level) - col("__mu")) / col("__beta"))),
          roundTo)).as("p_exceed"))
  }

  /** First-order partial correlation r_xy·z — the association between
    * x and y once z is held fixed, from the three pairwise Pearson
    * r's: (r_xy − r_xz·r_yz)/√((1−r²_xz)(1−r²_yz)). The one-line
    * confounder check before anyone reads [[mutualInfo]] or a plain
    * correlation causally.
    *
    * One exact-DECIMAL moment pass per group (9 sums); every r and
    * the partial are single double formulas from those sums.
    */
  def partialCorrelation(df: DataFrame, groupCol: String, xCol: String,
                         yCol: String, zCol: String,
                         roundTo: Int = 6): DataFrame = {
    val v = df.select(col(groupCol).as("__g"),
      round(col(xCol).cast("double"), 4).cast("decimal(18,4)").as("__x"),
      round(col(yCol).cast("double"), 4).cast("decimal(18,4)").as("__y"),
      round(col(zCol).cast("double"), 4).cast("decimal(18,4)").as("__z"))
    v.groupBy("__g")
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__x")).cast("decimal(38,4)").as("__sx"),
        sum(col("__y")).cast("decimal(38,4)").as("__sy"),
        sum(col("__z")).cast("decimal(38,4)").as("__sz"),
        sum(col("__x") * col("__y")).cast("decimal(38,8)").as("__sxy"),
        sum(col("__x") * col("__z")).cast("decimal(38,8)").as("__sxz"),
        sum(col("__y") * col("__z")).cast("decimal(38,8)").as("__syz"),
        sum(col("__x") * col("__x")).cast("decimal(38,8)").as("__sxx"),
        sum(col("__y") * col("__y")).cast("decimal(38,8)").as("__syy"),
        sum(col("__z") * col("__z")).cast("decimal(38,8)").as("__szz"))
      .withColumn("__cxx", (col("__n") * col("__sxx") -
        col("__sx") * col("__sx")).cast("double"))
      .withColumn("__cyy", (col("__n") * col("__syy") -
        col("__sy") * col("__sy")).cast("double"))
      .withColumn("__czz", (col("__n") * col("__szz") -
        col("__sz") * col("__sz")).cast("double"))
      .withColumn("__cxy", (col("__n") * col("__sxy") -
        col("__sx") * col("__sy")).cast("double"))
      .withColumn("__cxz", (col("__n") * col("__sxz") -
        col("__sx") * col("__sz")).cast("double"))
      .withColumn("__cyz", (col("__n") * col("__syz") -
        col("__sy") * col("__sz")).cast("double"))
      .withColumn("__rxy", when(col("__cxx") > 0 && col("__cyy") > 0,
        col("__cxy") / sqrt(col("__cxx") * col("__cyy"))))
      .withColumn("__rxz", when(col("__cxx") > 0 && col("__czz") > 0,
        col("__cxz") / sqrt(col("__cxx") * col("__czz"))))
      .withColumn("__ryz", when(col("__cyy") > 0 && col("__czz") > 0,
        col("__cyz") / sqrt(col("__cyy") * col("__czz"))))
      .withColumn("__den", (lit(1.0) - col("__rxz") * col("__rxz")) *
        (lit(1.0) - col("__ryz") * col("__ryz")))
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        round(col("__rxy"), roundTo).as("r_xy"),
        round(col("__rxz"), roundTo).as("r_xz"),
        round(col("__ryz"), roundTo).as("r_yz"),
        when(col("__den") > 0, round(
          (col("__rxy") - col("__rxz") * col("__ryz")) /
            sqrt(col("__den")), roundTo)).as("r_xy_given_z"))
  }

  /** 2×2 epidemiology readout — odds ratio, relative risk, risk
    * difference, Cohen's h, each with its Wald 95% interval where one
    * exists: the effect-size table for a binary exposure/outcome that
    * [[chiSquare]]'s p-value alone never gives.
    *
    * One 4-cell aggregate; CIs are the standard ln-scale Wald forms
    * exp(ln θ ± 1.96·se). Any empty margin nulls the ratios (no
    * Haldane fudge — the caller should know the table is degenerate).
    */
  def epiTable(df: DataFrame, exposureCol: String, outcomeCol: String,
               roundTo: Int = 6): DataFrame = {
    df.agg(
        sum(when(col(exposureCol) === 1 && col(outcomeCol) === 1, 1L)
          .otherwise(0L)).as("__a"),
        sum(when(col(exposureCol) === 1 && col(outcomeCol) === 0, 1L)
          .otherwise(0L)).as("__b"),
        sum(when(col(exposureCol) === 0 && col(outcomeCol) === 1, 1L)
          .otherwise(0L)).as("__c"),
        sum(when(col(exposureCol) === 0 && col(outcomeCol) === 0, 1L)
          .otherwise(0L)).as("__d"))
      .withColumn("__ok", col("__a") > 0 && col("__b") > 0 &&
        col("__c") > 0 && col("__d") > 0)
      .withColumn("__p1", col("__a").cast("double") /
        (col("__a") + col("__b")))
      .withColumn("__p0", col("__c").cast("double") /
        (col("__c") + col("__d")))
      .withColumn("__or", when(col("__ok"),
        col("__a").cast("double") * col("__d") /
          (col("__b").cast("double") * col("__c"))))
      .withColumn("__seor", when(col("__ok"), sqrt(
        lit(1.0) / col("__a") + lit(1.0) / col("__b") +
          lit(1.0) / col("__c") + lit(1.0) / col("__d"))))
      .withColumn("__rr", when(col("__ok"), col("__p1") / col("__p0")))
      .withColumn("__serr", when(col("__ok"), sqrt(
        lit(1.0) / col("__a") - lit(1.0) / (col("__a") + col("__b")) +
          lit(1.0) / col("__c") - lit(1.0) / (col("__c") + col("__d")))))
      .select(col("__a").as("n11"), col("__b").as("n10"),
        col("__c").as("n01"), col("__d").as("n00"),
        round(col("__p1") - col("__p0"), roundTo).as("risk_diff"),
        round(col("__or"), roundTo).as("odds_ratio"),
        round(exp(log(col("__or")) - lit(1.96) * col("__seor")), roundTo)
          .as("or_lo"),
        round(exp(log(col("__or")) + lit(1.96) * col("__seor")), roundTo)
          .as("or_hi"),
        round(col("__rr"), roundTo).as("relative_risk"),
        round(exp(log(col("__rr")) - lit(1.96) * col("__serr")), roundTo)
          .as("rr_lo"),
        round(exp(log(col("__rr")) + lit(1.96) * col("__serr")), roundTo)
          .as("rr_hi"),
        round(lit(2.0) * asin(sqrt(col("__p1"))) -
          lit(2.0) * asin(sqrt(col("__p0"))), roundTo).as("cohen_h"))
  }

  /** Bowker symmetry test — McNemar's k×k generalization on a
    * transition table: χ² = Σ_{i<j} (nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ), dof = the
    * number of off-diagonal pairs with traffic. "Is the i→j flow the
    * mirror of j→i" — the drift test for transition matrices
    * (category churn, state machines) that marginal tests miss.
    *
    * One cell aggregate, self-joined TRANSPOSED on the bounded
    * category×category table; terms snap to 12 dp and decimal-sum.
    */
  def bowkerSymmetry(df: DataFrame, fromCol: String, toCol: String,
                     roundTo: Int = 6): DataFrame = {
    val cells = df.filter(col(fromCol) =!= col(toCol))
      .groupBy(col(fromCol).as("__i"), col(toCol).as("__j"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // both orientations of the pair join
    val t = cells.select(col("__i").as("__j"), col("__j").as("__i"),
      col("__n").as("__nt"))
    cells.join(t, Seq("__i", "__j"), "full")
      .withColumn("__nn", coalesce(col("__n"), lit(0L)))
      .withColumn("__mm", coalesce(col("__nt"), lit(0L)))
      .filter(col("__i") < col("__j"))
      .withColumn("__term", when(col("__nn") + col("__mm") > 0,
        round(pow(col("__nn") - col("__mm"), 2) /
          (col("__nn") + col("__mm")), 12)).cast("decimal(38,12)"))
      .agg(sum(col("__nn") + col("__mm")).cast("long")
          .as("n_offdiag"),
        sum(when(col("__term").isNotNull, 1L).otherwise(0L))
          .cast("long").as("dof"),
        round(sum(col("__term")).cast("double"), roundTo)
          .as("bowker_chi2"))
  }

  /** Seasonal Mann–Kendall — [[mannKendall]] restricted to
    * within-season-slot pairs (Jan-vs-Jan, Monday-vs-Monday):
    * S = Σ_slots S_slot, Var = Σ_slots Var_slot, z = (S−sign S)/√Var.
    * The trend test that a seasonal cycle cannot fool.
    *
    * Same bounded-series pair contract as the parent: the self-join
    * adds the slot to the equi-key, so pair counts shrink by ~1/season.
    */
  def seasonalMannKendall(series: DataFrame, groupCol: String,
                          xCol: String, yCol: String, season: Int,
                          roundTo: Int = 6): DataFrame = {
    val base = series.select(col(groupCol).as("__g"),
        col(xCol).cast("long").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__slot", pmod(col("__x"), lit(season.toLong)))
    val a = base.select(col("__g"), col("__slot"),
      col("__x").as("__xa"), col("__y").as("__ya"))
    val b = base.select(col("__g"), col("__slot"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val sTab = a.join(b, Seq("__g", "__slot"))
      .filter(col("__xb") > col("__xa"))
      .groupBy(col("__g"))
      .agg(sum(signum(col("__yb") - col("__ya")).cast("long")).as("__s"))
    val perSlot = base.groupBy(col("__g"), col("__slot"))
      .agg(count(lit(1)).as("__n"))
    val ties = base.groupBy(col("__g"), col("__slot"), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"), col("__slot"))
      .agg(sum(col("__t") * (col("__t") - 1) * (lit(2) * col("__t") + 5))
        .as("__tt"))
    val varTab = perSlot.join(ties, Seq("__g", "__slot"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).as("__ntot"),
        sum((col("__n") * (col("__n") - 1) * (lit(2) * col("__n") + 5) -
          col("__tt"))).as("__v18"))
    varTab.join(sTab, Seq("__g"), "left")
      .withColumn("__var", col("__v18").cast("double") / 18.0)
      .select(col("__g").as(groupCol), col("__ntot").as("n"),
        coalesce(col("__s"), lit(0L)).as("s_stat"),
        when(col("__var") > 0,
          round((coalesce(col("__s"), lit(0L)) -
              signum(coalesce(col("__s"), lit(0L)))).cast("double") /
            sqrt(col("__var")), roundTo)).as("z"))
  }

  /** Yuen's trimmed-mean two-sample test (threshold form): compare the
    * central mass of two heavy-tailed distributions — trimmed means
    * over [P_trim, P_1−trim], winsorized variances, and
    * t = (m̄t₁−m̄t₂)/√(d₁+d₂) with dᵢ = s²w,ᵢ·(nᵢ−1)/(hᵢ(hᵢ−1)).
    * The robust alternative when [[effectSizes]]' plain Welch t is
    * dragged around by outliers. Trimming is by VALUE THRESHOLD
    * (the 6-dp-rounded per-side percentiles, broadcast) — with heavy
    * ties the trimmed count h can differ from ⌈trim·n⌉, which is the
    * deterministic engine-portable variant of the textbook rank trim.
    *
    * One percentile broadcast + one moment pass; winsorized values
    * quantize to 4 dp so moments are exact DECIMAL.
    */
  def yuenTrimmedTest(df: DataFrame, sideCol: String, valCol: String,
                      sideA: Any, sideB: Any, trim: Double = 0.1,
                      roundTo: Int = 6): DataFrame = {
    val base = df.filter(col(sideCol).isin(sideA, sideB))
      .select(when(col(sideCol) === lit(sideA), 0).otherwise(1).as("__s"),
        col(valCol).cast("double").as("__v"))
    val bounds = base.groupBy("__s")
      .agg(round(percentile(col("__v"), lit(trim)), 6).as("__lo"),
        round(percentile(col("__v"), lit(1 - trim)), 6).as("__hi"))
    val w = base.join(broadcast(bounds), "__s")
      .withColumn("__in",
        col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .withColumn("__wv", round(greatest(least(col("__v"), col("__hi")),
        col("__lo")), 4).cast("decimal(18,4)"))
    val stats = w.groupBy("__s")
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(when(col("__in"), 1L).otherwise(0L)).cast("decimal(38,0)")
          .as("__h"),
        sum(when(col("__in"), round(col("__v"), 4)
          .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)")))
          .cast("decimal(38,4)").as("__st"),
        sum(col("__wv")).cast("decimal(38,4)").as("__sw"),
        sum(col("__wv") * col("__wv")).cast("decimal(38,8)").as("__sww"))
      .withColumn("__mt", col("__st").cast("double") /
        col("__h").cast("double"))
      .withColumn("__vw", (col("__n") * col("__sww") -
          col("__sw") * col("__sw")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
      .withColumn("__d", when(col("__h") > 1,
        col("__vw") * (col("__n") - 1).cast("double") /
          (col("__h") * (col("__h") - 1)).cast("double")))
    val a = stats.filter(col("__s") === 0)
      .select(col("__h").as("__h1"), col("__mt").as("__m1"),
        col("__d").as("__d1"))
    val b = stats.filter(col("__s") === 1)
      .select(col("__h").as("__h2"), col("__mt").as("__m2"),
        col("__d").as("__d2"))
    a.crossJoin(broadcast(b))
      .select(col("__h1").cast("long").as("h_a"),
        col("__h2").cast("long").as("h_b"),
        round(col("__m1"), roundTo).as("trimmed_mean_a"),
        round(col("__m2"), roundTo).as("trimmed_mean_b"),
        when(col("__d1") + col("__d2") > 0,
          round((col("__m1") - col("__m2")) /
            sqrt(col("__d1") + col("__d2")), roundTo)).as("yuen_t"))
  }

  /** Index of dispersion (variance-to-mean ratio) per group with the
    * χ² = (n−1)·s²/m̄ overdispersion readout: is a count series
    * Poisson-ish (VMR ≈ 1), clumped (≫1, burst days), or
    * under-dispersed (≪1, throttled)? The one-line screen before
    * anyone fits a Poisson-assuming model to event volumes.
    * Series contract: ALREADY-AGGREGATED (group, bucket, count) rows.
    */
  def dispersionIndex(series: DataFrame, groupCol: String, yCol: String,
                      roundTo: Int = 6): DataFrame = {
    series.select(col(groupCol).as("__g"),
        col(yCol).cast("long").as("__y"))
      .groupBy("__g")
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(col("__y")).cast("decimal(38,0)").as("__s"),
        sum(col("__y") * col("__y")).cast("decimal(38,0)").as("__ss"))
      .withColumn("__mean", col("__s").cast("double") /
        col("__n").cast("double"))
      .withColumn("__var", (col("__n") * col("__ss") -
          col("__s") * col("__s")).cast("double") /
        (col("__n") * (col("__n") - 1)).cast("double"))
      .select(col("__g").as(groupCol), col("__n").cast("long").as("n"),
        round(col("__mean"), roundTo).as("mean"),
        round(col("__var"), roundTo).as("variance"),
        when(col("__mean") > 0 && col("__n") > 1,
          round(col("__var") / col("__mean"), roundTo)).as("vmr"),
        when(col("__mean") > 0 && col("__n") > 1,
          round((col("__n") - 1).cast("double") * col("__var") /
            col("__mean"), roundTo)).as("chi2"))
  }

  /** Temperature-scaled mixture weights — the multinomial sampling
    * distribution for corpus mixing: wᵢ ∝ pᵢ^α with α ∈ (0,1]
    * up-weighting rare domains (α = 1 is proportional, α → 0 uniform;
    * GPT-3/PaLM-style data mixing). Reports each domain's natural
    * share, its tempered weight, and the expected sample count for a
    * declared budget.
    *
    * One domain-count aggregate; p^α terms snap to 12 dp and
    * decimal-sum so the normalizer is order-independent.
    */
  def temperatureWeights(df: DataFrame, domainCol: String, alpha: Double,
                         budget: Long, roundTo: Int = 6): DataFrame = {
    val counts = df.groupBy(col(domainCol).as("__d"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // the normalizer and the rows both read it
    val tot = counts.agg(sum(col("__n")).as("__tn"))
    val withP = counts.crossJoin(broadcast(tot))
      .withColumn("__p", col("__n").cast("double") / col("__tn"))
      .withColumn("__w", round(pow(col("__p"), alpha), 12))
    val norm = withP.agg(sum(col("__w").cast("decimal(38,12)"))
      .as("__z"))
    withP.crossJoin(broadcast(norm))
      .select(col("__d").as(domainCol), col("__n").cast("long").as("n"),
        round(col("__p"), roundTo).as("p_natural"),
        round(col("__w") / col("__z").cast("double"), roundTo)
          .as("weight"),
        round(col("__w") / col("__z").cast("double") * budget, 2)
          .as("expected_samples"))
  }

  /** Rolling PSI — [[psi]] swept across time periods against the
    * corpus's FIRST period as the fixed baseline: one drift scalar
    * per period, the "when did the distribution move" readout a
    * single end-to-end PSI cannot give.
    *
    * One (period, bin) aggregate; the baseline period's bin counts
    * and the per-period totals are broadcast; Laplace-smoothed
    * (n+1)/(N+bins) terms snap to 10 dp and decimal-sum per period.
    */
  def psiByPeriod(df: DataFrame, valueCol: String, periodCol: String,
                  binWidth: Double, nBins: Int,
                  roundTo: Int = 6): DataFrame = {
    val binned = df.select(col(periodCol).cast("long").as("__per"),
      least(floor(col(valueCol) / binWidth), lit(nBins - 1)).cast("int")
        .as("__bin"))
    val cells = binned.groupBy(col("__per"), col("__bin"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // baseline slice + per-period totals
    val basePer = cells.agg(min(col("__per")).as("__bp"))
    val baseline = cells.join(broadcast(basePer),
        col("__per") === col("__bp"))
      .select(col("__bin"), col("__n").as("__nb"))
    val baseTot = baseline.agg(sum(col("__nb")).as("__tb"))
    val perTot = cells.groupBy(col("__per"))
      .agg(sum(col("__n")).as("__tp"))
    // full period×bin grid over the WHOLE 0..nBins-1 range (the
    // [[psiFromCounts]] convention): a bin missing from EITHER the
    // baseline or a period must still contribute its smoothed term —
    // gridding over baseline bins only would silently drop drift into
    // novel bins.
    val allBins = df.sparkSession.range(0, nBins.toLong)
      .select(col("id").cast("int").as("__bin"))
    val baseFull = allBins
      .join(broadcast(baseline.select(col("__bin"), col("__nb"))),
        Seq("__bin"), "left")
      .withColumn("__nb", coalesce(col("__nb"), lit(0L)))
    val grid = perTot.crossJoin(broadcast(baseFull))
      .join(cells, Seq("__per", "__bin"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
      .crossJoin(broadcast(baseTot))
      .withColumn("__q",
        (col("__nb") + lit(1)).cast("double") / (col("__tb") + lit(nBins)))
      .withColumn("__p",
        (col("__n") + lit(1)).cast("double") / (col("__tp") + lit(nBins)))
      .withColumn("__term",
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")),
          10).cast("decimal(28,12)"))
    grid.groupBy(col("__per").as(periodCol))
      .agg(first(col("__tp")).cast("long").as("n"),
        round(sum(col("__term")).cast("double"), roundTo).as("psi"))
  }

  /** Weighted median per group — the center of MASS, not of rows:
    * the smallest value whose cumulative weight reaches half the
    * group total (weighted lower median). "Median order price
    * weighted by quantity" instead of per-row medians that a few
    * 1-unit orders can drag.
    *
    * One (group, value) weight histogram; the per-group cumulative
    * runs in a window over that group's DISTINCT values (bounded by
    * the quantized value vocabulary, never row count); integer/4-dp
    * weights keep the crossing test exact.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
                     weightCol: String, roundTo: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(groupCol).as("__g"),
        round(col(valCol).cast("double"), roundTo).as("__v"),
        col(weightCol).cast("long").as("__w"))
      .groupBy(col("__g"), col("__v"))
      .agg(sum(col("__w")).as("__gw"))
    val tot = hist.groupBy("__g").agg(sum(col("__gw")).as("__tw"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("__cum", sum(col("__gw")).over(w))
      .join(broadcast(tot), "__g")
      .filter(lit(2) * col("__cum") >= col("__tw"))
      .groupBy(col("__g").as(groupCol))
      .agg(first(col("__tw")).cast("long").as("total_weight"),
        min(col("__v")).as("weighted_median"))
  }

  /** Kendall's W coefficient of concordance (tie-corrected) — do m
    * raters agree on the ORDER of n items? W ∈ [0,1] =
    * (12·ΣRᵢ² − 3m²n(n+1)²)/(m²n(n²−1) − m·ΣT), χ² = m(n−1)W. The
    * agreement statistic behind [[friedman]] (which asks the inverse
    * question), here with raters-as-blocks ranking the item slate.
    * Raters with an incomplete slate are dropped (balanced panel).
    *
    * Same machinery as friedman: per-rater windows bounded by the
    * n-item slate, doubled tie-average ranks (integer granularity .5),
    * rank sums and their squares as exact DECIMAL.
    */
  def kendallW(df: DataFrame, raterCol: String, itemCol: String,
               valCol: String, roundTo: Int = 6): DataFrame = {
    // Balanced panel: a rater with a duplicate item + a missing item
    // would leave items with unequal m and a wrong first(__m) in the W
    // denominator, so only complete raters are kept.
    val complete = completeBlocks(df, raterCol, col(itemCol), valCol)
      .localCheckpoint(true) // rank windows + tie correction read it
    val ranked = blockRanks2(complete)
    val perItem = ranked.groupBy(col("__t"))
      .agg((sum(col("__r2")).cast("decimal(38,0)") / 2)
        .cast("decimal(38,1)").as("__rsum"),
        count(lit(1)).as("__m"))
    val tieSum = complete.groupBy(col("__b"), col("__v"))
      .agg(count(lit(1)).as("__tt"))
      .agg(sum(col("__tt") * col("__tt") * col("__tt") - col("__tt"))
        .cast("decimal(38,0)").as("__T"))
    perItem.agg(first(col("__m")).cast("decimal(38,0)").as("__mm"),
        count(lit(1)).cast("decimal(38,0)").as("__nn"),
        sum(col("__rsum") * col("__rsum")).cast("decimal(38,2)")
          .as("__ssq"))
      .crossJoin(broadcast(tieSum))
      .withColumn("__den", (col("__mm") * col("__mm") * col("__nn") *
        (col("__nn") * col("__nn") - 1) - col("__mm") * col("__T"))
        .cast("double"))
      .withColumn("__w", when(col("__den") > 0, round(
        (lit(12.0) * col("__ssq").cast("double") -
          lit(3.0) * (col("__mm") * col("__mm") * col("__nn") *
            (col("__nn") + 1) * (col("__nn") + 1)).cast("double")) /
          col("__den"), roundTo)))
      .select(col("__mm").cast("long").as("m_raters"),
        col("__nn").cast("long").as("n_items"), col("__w").as("w"),
        when(col("__w").isNotNull, round(col("__mm").cast("double") *
          (col("__nn") - 1).cast("double") * col("__w"), roundTo))
          .as("chi2"))
  }

  /** Best binary Gini split for a numeric feature — the CART split
    * finder as a set operation: for every candidate threshold
    * (distinct quantized feature value), the weighted Gini impurity of
    * the ≤/> partition, reported as the single best (max-gain, then
    * lowest-threshold) split. The decision-tree primitive a feature
    * pipeline wants BEFORE handing columns to a trainer.
    *
    * With binary labels 1−p²−q² = 2pq, so every impurity is the exact
    * rational 2·pos·(n−pos)/n² — the scan is ONE histogram +
    * [[rangeCumSum]] prefix counts, gains snap to 10 dp, and the
    * argmax is a broadcast max-join (no sort).
    */
  def bestGiniSplit(df: DataFrame, featureCol: String, labelCol: String,
                    roundTo: Int = 6): DataFrame = {
    val hist = df.select(
        round(col(featureCol).cast("double"), 4).as("__f"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"))
    val tot = hist.agg(sum(col("__n")).as("__tn"),
      sum(col("__pos")).as("__tp"))
    val cand = rangeCumSum(hist, "__f", Seq("__n", "__pos"))
      .crossJoin(broadcast(tot))
      .filter(col("__cum___n") < col("__tn")) // last row splits nothing
      .withColumn("__cn", col("__cum___n").cast("double"))
      .withColumn("__cp", col("__cum___pos").cast("double"))
      .withColumn("__rn", (col("__tn") - col("__cum___n")).cast("double"))
      .withColumn("__rp", (col("__tp") - col("__cum___pos")).cast("double"))
      .withColumn("__gain", round(
        lit(2.0) * col("__tp") * (col("__tn") - col("__tp")) /
          (col("__tn").cast("double") * col("__tn")) -
          (lit(2.0) * col("__cp") * (col("__cn") - col("__cp")) /
            col("__cn") +
            lit(2.0) * col("__rp") * (col("__rn") - col("__rp")) /
              col("__rn")) / col("__tn").cast("double"), 10))
      .localCheckpoint(true) // the argmax and the pick both read it
    val best = cand.agg(max(col("__gain")).as("__best"))
    cand.join(broadcast(best), col("__gain") === col("__best"))
      .groupBy(col("__best"))
      .agg(min(col("__f")).as("threshold"),
        min(struct(col("__f"), col("__cum___n"), col("__cum___pos")))
          .as("__pick"))
      .select(col("threshold"),
        round(col("__best"), roundTo).as("gain"),
        col("__pick.__cum___n").cast("long").as("n_left"),
        col("__pick.__cum___pos").cast("long").as("pos_left"))
  }

  /** Youden's J optimal threshold — the ROC point maximizing
    * TPR − FPR, i.e. the cut a balanced-cost deployment should use
    * (the scalar [[prCurve]]/[[auc]] don't pick for you). Ties go to
    * the HIGHEST threshold (the conservative cut).
    *
    * Same bounded-histogram shape as [[prCurve]]: descending
    * cumulatives via ONE [[rangeCumSum]] on the negated score;
    * J snaps to 10 dp; the argmax is a broadcast max-join.
    */
  def youdenThreshold(df: DataFrame, labelCol: String, scoreCol: String,
                      roundTo: Int = 6): DataFrame = {
    val hist = df.select(
        round(col(scoreCol).cast("double"), 6).as("__s"),
        col(labelCol).cast("long").as("__y"))
      .groupBy(col("__s"))
      .agg(sum(col("__y")).as("__pos"), count(lit(1)).as("__n"))
      .withColumn("__neg", -col("__s"))
    val tot = hist.agg(sum(col("__pos")).as("__tp"),
      sum(col("__n")).as("__tn"))
    val cand = rangeCumSum(hist, "__neg", Seq("__pos", "__n"))
      .crossJoin(broadcast(tot))
      .filter(col("__tp") > 0 && col("__tn") > col("__tp"))
      .withColumn("__tpr", col("__cum___pos").cast("double") / col("__tp"))
      .withColumn("__fpr",
        (col("__cum___n") - col("__cum___pos")).cast("double") /
          (col("__tn") - col("__tp")))
      .withColumn("__j", round(col("__tpr") - col("__fpr"), 10))
      .localCheckpoint(true) // argmax + pick
    val best = cand.agg(max(col("__j")).as("__best"))
    cand.join(broadcast(best), col("__j") === col("__best"))
      .agg(max(col("__s")).as("threshold"),
        round(first(col("__best")), roundTo).as("j_stat"),
        round(max(struct(col("__s"), col("__tpr")))("__tpr"), roundTo)
          .as("tpr"),
        round(max(struct(col("__s"), col("__fpr")))("__fpr"), roundTo)
          .as("fpr"))
  }

  /** PSI from two PRE-BUILT bin-count histograms (expected baseline
    * vs actual) — the scoring half of [[psi]] factored out so a
    * STREAMING histogram snapshot (graft.streaming.StreamingDrift)
    * can be scored against a frozen baseline without re-reading raw
    * rows. Same Laplace smoothing (n+1)/(N+bins) over the full
    * 0..nBins−1 grid, terms snapped to 10 dp and decimal-summed.
    */
  def psiFromCounts(expected: DataFrame, actual: DataFrame,
                    nBins: Int, roundTo: Int = 6): DataFrame = {
    val grid = expected.sparkSession.range(0, nBins.toLong)
      .select(col("id").cast("int").as("__bin"))
    val e = expected.select(col("bin").cast("int").as("__bin"),
      col("n").cast("long").as("__ne"))
    val a = actual.select(col("bin").cast("int").as("__bin"),
      col("n").cast("long").as("__na"))
    val te = e.agg(sum(col("__ne")).as("__te"))
    val ta = a.agg(sum(col("__na")).as("__ta"))
    grid.join(broadcast(e), Seq("__bin"), "left")
      .join(broadcast(a), Seq("__bin"), "left")
      .crossJoin(broadcast(te)).crossJoin(broadcast(ta))
      .withColumn("__q", (coalesce(col("__ne"), lit(0L)) + 1)
        .cast("double") / (col("__te") + nBins))
      .withColumn("__p", (coalesce(col("__na"), lit(0L)) + 1)
        .cast("double") / (col("__ta") + nBins))
      .withColumn("__term",
        round((col("__p") - col("__q")) * log(col("__p") / col("__q")),
          10).cast("decimal(28,12)"))
      .agg(first(col("__ta")).cast("long").as("n_actual"),
        round(sum(col("__term")).cast("double"), roundTo).as("psi"))
  }

  /** Herfindahl–Hirschman concentration index per group: Σ share²
    * over entities, plus the size-corrected normalized form
    * (H − 1/n)/(1 − 1/n) ∈ [0,1]. The market-concentration scalar
    * next to [[giniConcentration]] (dispersion) and
    * [[theilDecomposition]] (within/between) — the one regulators
    * quote, and the "is one customer/source dominating this
    * partition" audit.
    *
    * One (group, entity) value aggregate (exact 2-dp cents), group
    * totals joined back on the group key, share² terms snapped to
    * 12 dp and decimal-summed per group.
    */
  def herfindahl(df: DataFrame, groupCol: String, entityCol: String,
                 valCol: String, roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("__g"),
        col(entityCol).as("__e"))
      .agg(sum(round(col(valCol).cast("double"), 2)
        .cast("decimal(18,2)")).cast("decimal(38,2)").as("__v"))
    val totals = cells.groupBy("__g")
      .agg(sum(col("__v")).as("__tv"), count(lit(1)).as("__ne"))
    cells.join(broadcast(totals), "__g")
      .withColumn("__s", col("__v").cast("double") /
        col("__tv").cast("double"))
      .groupBy(col("__g").as(groupCol))
      .agg(first(col("__ne")).cast("long").as("n_entities"),
        round(sum(round(col("__s") * col("__s"), 12)
          .cast("decimal(38,12)")).cast("double"), roundTo).as("hhi"),
        when(first(col("__ne")) > 1, round(
          (sum(round(col("__s") * col("__s"), 12)
            .cast("decimal(38,12)")).cast("double") -
            lit(1.0) / first(col("__ne"))) /
            (lit(1.0) - lit(1.0) / first(col("__ne"))), roundTo))
          .as("hhi_normalized"))
  }

  /** Q–Q decile table between two samples — the data behind a QQ
    * plot: interior deciles of each side, paired, with the gap. Where
    * a scalar drift stat (PSI/KS/W₁) says "something moved", the QQ
    * table says WHERE in the distribution it moved.
    *
    * One percentile aggregate per side (exact interpolated
    * percentiles, the [[graft.operators.ExperimentOps]] convention),
    * exploded against the 9-row decile grid — no raw-row sort.
    */
  def qqTable(df: DataFrame, sideCol: String, valCol: String,
              sideA: Any, sideB: Any, roundTo: Int = 6): DataFrame = {
    val qs = (1 to 9).map(_ / 10.0)
    val base = df.filter(col(sideCol).isin(sideA, sideB))
      .select(when(col(sideCol) === lit(sideA), 0).otherwise(1).as("__s"),
        col(valCol).cast("double").as("__v"))
    def side(tag: Int, out: String) = base.filter(col("__s") === tag)
      .agg(percentile(col("__v"),
        array(qs.map(lit): _*)).as("__qs"))
      .select(posexplode(col("__qs")).as(Seq("__i", out)))
    side(0, "__qa").join(side(1, "__qb"), "__i")
      .select(round((col("__i") + 1).cast("double") / 10, 1)
          .as("quantile"),
        round(col("__qa"), roundTo).as("q_a"),
        round(col("__qb"), roundTo).as("q_b"),
        round(col("__qb") - col("__qa"), roundTo).as("gap"))
  }

  /** Empirical Markov entropy rate of a categorical event sequence:
    * H = −Σᵢⱼ (nᵢⱼ/N)·ln(nᵢⱼ/nᵢ·) over observed transitions, with the
    * perplexity readout e^H ("effectively how many next-states does a
    * user choose from"). The predictability scalar over the
    * transition matrix the Markov-chain op (q173) materializes.
    *
    * Transitions come from a per-entity lag window (keyed, bounded by
    * the entity's own rows); the (from, to) cell table is the only
    * shuffled object; terms snap to 12 dp and decimal-sum.
    */
  def markovEntropyRate(df: DataFrame, entityCol: String,
                        orderCols: Seq[org.apache.spark.sql.Column],
                        stateCol: String,
                        roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(orderCols: _*)
    val cells = df
      .withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(stateCol).as("__i"), col("__next").as("__j"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // row margins + total re-read it
    val rowm = cells.groupBy("__i").agg(sum(col("__n")).as("__ni"))
    val tot = cells.agg(sum(col("__n")).as("__tn"),
      countDistinct(col("__i")).as("__k"))
    cells.join(broadcast(rowm), "__i")
      .crossJoin(broadcast(tot))
      .withColumn("__term", round(
        -(col("__n").cast("double") / col("__tn")) *
          log(col("__n").cast("double") / col("__ni")), 12)
        .cast("decimal(28,14)"))
      .agg(first(col("__tn")).cast("long").as("n_transitions"),
        first(col("__k")).cast("long").as("n_states"),
        round(sum(col("__term")).cast("double"), roundTo)
          .as("entropy_rate_nats"),
        round(exp(sum(col("__term")).cast("double")), roundTo)
          .as("perplexity"))
  }

  /** Hill diversity numbers per group — the ecology readout of a
    * share distribution at three orders: D₀ = richness, D₁ = e^H
    * (Shannon's effective count), D₂ = 1/Σp² (Simpson's, = 1/HHI),
    * plus Pielou evenness H/ln D₀. One table answers "how many
    * sources/users effectively feed this partition" at tail-
    * sensitivity levels a single scalar can't.
    *
    * One (group, entity) count aggregate; group totals joined back;
    * both entropy and Simpson terms snap to 12 dp and decimal-sum.
    */
  def hillNumbers(df: DataFrame, groupCol: String, entityCol: String,
                  roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("__g"),
        col(entityCol).as("__e"))
      .agg(count(lit(1)).as("__n"))
    val totals = cells.groupBy("__g")
      .agg(sum(col("__n")).as("__tn"), count(lit(1)).as("__r"))
    cells.join(broadcast(totals), "__g")
      .withColumn("__p", col("__n").cast("double") / col("__tn"))
      .groupBy(col("__g").as(groupCol))
      .agg(first(col("__r")).cast("long").as("d0_richness"),
        sum(round(-col("__p") * log(col("__p")), 12)
          .cast("decimal(28,14)")).as("__h"),
        sum(round(col("__p") * col("__p"), 12).cast("decimal(28,14)"))
          .as("__simp"))
      .select(col(groupCol), col("d0_richness"),
        round(exp(col("__h").cast("double")), roundTo).as("d1_shannon"),
        round(lit(1.0) / col("__simp").cast("double"), roundTo)
          .as("d2_simpson"),
        when(col("d0_richness") > 1, round(col("__h").cast("double") /
          log(col("d0_richness").cast("double")), roundTo))
          .as("evenness"))
  }

  /** Diagonal-covariance Mahalanobis outlier audit over k numeric
    * columns: per group, z-score each column against the group's own
    * moments, d² = Σzᵢ², and report how many rows exceed the declared
    * χ²_k cut — the multivariate "weird row" screen a per-column
    * [[tukeyOutliers]] pass misses (jointly-unusual but marginally-
    * normal rows). Diagonal covariance by design: exact, closed-form,
    * and the right first screen before anyone pays for a full matrix.
    *
    * One exact-DECIMAL moment pass (means/stds ROUNDED to 6 dp — the
    * shared-constant rule), broadcast back; the second pass is
    * map-only. Output: per group n, n_outliers, outlier_rate, max d².
    */
  def mahalanobisOutliers(df: DataFrame, groupCol: String,
                          valCols: Seq[String], cut: Double,
                          roundTo: Int = 6): DataFrame = {
    require(valCols.nonEmpty, "no value columns given")
    val base = df.select(col(groupCol).as("__g") +:
      valCols.zipWithIndex.map { case (c, i) =>
        round(col(c).cast("double"), 4).cast("decimal(18,4)")
          .as(s"__v$i") }: _*)
    val mom = base.groupBy("__g")
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        valCols.indices.flatMap(i => Seq(
          sum(col(s"__v$i")).cast("decimal(38,4)").as(s"__s$i"),
          sum(col(s"__v$i") * col(s"__v$i")).cast("decimal(38,8)")
            .as(s"__ss$i"))): _*)
    val stats = valCols.indices.foldLeft(mom)((d, i) => d
        .withColumn(s"__m$i", round(col(s"__s$i").cast("double") /
          col("__n").cast("double"), 6))
        .withColumn(s"__sd$i", round(sqrt(greatest(
          (col("__n") * col(s"__ss$i") - col(s"__s$i") * col(s"__s$i"))
            .cast("double") /
            (col("__n") * (col("__n") - 1)).cast("double"),
          lit(0.0))), 6)))
      .select(col("__g") +: valCols.indices.flatMap(i =>
        Seq(col(s"__m$i"), col(s"__sd$i"))): _*)
    val d2 = valCols.indices.map(i =>
      when(col(s"__sd$i") > 0, pow(
        (col(s"__v$i").cast("double") - col(s"__m$i")) / col(s"__sd$i"),
        2)).otherwise(lit(0.0))).reduce(_ + _)
    base.join(broadcast(stats), "__g")
      .withColumn("__d2", round(d2, 8))
      .groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__d2") > cut, 1L).otherwise(0L)).as("n_outliers"),
        round(sum(when(col("__d2") > cut, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), roundTo).as("outlier_rate"),
        round(max(col("__d2")), roundTo).as("max_d2"))
  }

  /** Decision-stump split finder (the CART/GBDT inner loop as one
    * declarative pass): the integer threshold on `xCol` minimizing
    * weighted Gini impurity of the binary `yCol` split (≤ t goes
    * left). Candidates are every distinct feature value except the
    * maximum (an empty right side is no split); the winner reports
    * both sides' positive rates and the impurity drop vs the root.
    * This is the primitive a tree trainer evaluates millions of
    * times — expressed once over a histogram, it prices a feature's
    * usefulness before any training run.
    *
    * Scale: one (value) histogram agg — the only corpus-sized step —
    * then [[rangeCumSum]] cumulates pos/count WITHOUT a global
    * window; per-candidate weighted Gini snaps to 12 dp
    * DECIMAL(38,12) (exact integer numerators over each side's own
    * denominator), and the argmin is one struct-min with the
    * smaller-threshold tiebreak.
    */
  def stumpSplit(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(xCol.cast("long").as("__x"),
      yCol.cast("long").as("__y"))
    val h = base.groupBy(col("__x"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val cum = rangeCumSum(h, "__x", Seq("__n", "__p"))
      .localCheckpoint(false)
    val tot = cum.agg(max(col("__cum___n")).as("__tn"),
      max(col("__cum___p")).as("__tp"))
    // weighted Gini of a split at t (≤ t left):
    //   [nL − (pL² + qL²)/nL + nR − (pR² + qR²)/nR] / N
    // N is constant — minimize the bracket, each side's term an
    // exact integer ratio snapped to 12 dp
    val scored = cum.crossJoin(broadcast(tot))
      .filter(col("__cum___n") < col("__tn"))
      .withColumn("__nl", col("__cum___n"))
      .withColumn("__pl", col("__cum___p"))
      .withColumn("__nr", col("__tn") - col("__nl"))
      .withColumn("__pr", col("__tp") - col("__pl"))
      .withColumn("__g",
        round(col("__nl") - (col("__pl") * col("__pl") +
          (col("__nl") - col("__pl")) * (col("__nl") - col("__pl")))
          .cast("double") / col("__nl"), 12)
          .cast("decimal(38,12)") +
        round(col("__nr") - (col("__pr") * col("__pr") +
          (col("__nr") - col("__pr")) * (col("__nr") - col("__pr")))
          .cast("double") / col("__nr"), 12)
          .cast("decimal(38,12)"))
    scored
      .groupBy(col("__tn"), col("__tp"))
      .agg(min(struct(col("__g"), col("__x"), col("__nl"),
        col("__pl"), col("__nr"), col("__pr"))).as("__m"))
      .select(col("__m.__x").as("threshold"),
        col("__m.__nl").as("n_left"), col("__m.__pl").as("n_pos_left"),
        col("__m.__nr").as("n_right"),
        col("__m.__pr").as("n_pos_right"),
        round(col("__m.__g").cast("double") / col("__tn"), 6)
          .as("weighted_gini"),
        MetricOps.normZero(round(
          (lit(2.0) * col("__tp") * (col("__tn") - col("__tp")))
            .cast("double") / (col("__tn") * col("__tn")) -
            col("__m.__g").cast("double") / col("__tn"), 6))
          .as("gini_gain"))
  }
}

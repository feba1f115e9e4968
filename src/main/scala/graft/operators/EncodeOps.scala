package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Supervised feature-encoding operators for training-data prep —
  * the categorical-encoding family the reference handles with pandas
  * dict maps (recall/data_prepare/s1_feature_engi.py:25-52) generalized
  * to the smoothed forms a 100 TB pipeline needs.
  */
object EncodeOps {

  /** Smoothed target (mean) encoding: category → (n_pos + m·prior) /
    * (n + m), the standard empirical-Bayes shrinkage toward the global
    * prior that keeps rare categories from memorizing their labels.
    *
    * Determinism: n and n_pos are integer sums (order-independent); the
    * prior is computed in-plan and ROUNDED to 6 dp before use (the
    * shared-constant rule — both engines then divide by the identical
    * double), and the encoded value is one double division rounded at
    * the end.
    *
    * Scale: one hash aggregation on the category key + a 1-row
    * broadcast cross join for the prior. The encoder table is
    * |categories| rows — broadcast back onto the corpus for the
    * actual encode step, which stays shuffle-free.
    */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
                   m: Double): DataFrame = {
    val prior = df.agg(
      round(sum(col(labelCol).cast("long")).cast("double") /
        count(lit(1)), 6).as("__prior"))
    df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"))
      .crossJoin(broadcast(prior))
      .select(col(catCol), col("n"), col("n_pos"),
        round((col("n_pos") + lit(m) * col("__prior")) / (col("n") + lit(m)), 6)
          .as("enc"))
  }

  /** Winsorization: clip a numeric feature to its per-group
    * [`lo`, `hi`] percentile band — the robust-scaling prep that keeps
    * a handful of outliers from dominating a z-score or a gradient.
    *
    * Determinism: Spark's `percentile` and DuckDB's `quantile_cont`
    * both linearly interpolate over the sorted values, and the bounds
    * are ROUNDED to 6 dp before clipping (the shared-constant rule),
    * so the clip thresholds are identical doubles in both engines.
    *
    * Scale: one exact-percentile aggregation per group (a sort-based
    * aggregate — at 100 TB swap in approx_percentile with a documented
    * error budget; the operator shape is unchanged) + a broadcast join
    * of the |groups|-row bounds table back onto the fact rows, which
    * stays shuffle-free.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double): DataFrame = {
    val bounds = df.groupBy(col(groupCol)).agg(
      round(percentile(col(valueCol), lit(lo)), 6).as("__lo"),
      round(percentile(col(valueCol), lit(hi)), 6).as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Robust (median/IQR) scaling per group: (x − p50) / (p75 − p25) —
    * the outlier-immune alternative to z-scoring for heavy-tailed
    * features. Same shared-constant discipline as `winsorize`/zscore:
    * the three quantiles are exact (`percentile`), ROUNDED to 6 dp
    * in-plan before use so both engines divide by identical doubles,
    * and the scaled value rounds at 4 dp. One tiny per-group stats
    * aggregate broadcast back over the rows — no global window.
    */
  /** Empirical-CDF (percentile-rank) table for a numeric column: one
    * row per 6 dp-quantized distinct value with its count, the
    * inclusive ≤-count, and ecdf = n_le / n — the rank-normalization
    * lookup a feature pipeline broadcasts back onto the corpus (rank
    * features are immune to outliers and monotone transforms, the
    * usual motivation over z-scores).
    *
    * Never sorts or windows raw rows: the cumulative count runs over
    * the VALUE HISTOGRAM via [[MetricOps.rangeCumSum]] (range-
    * partitioned cumsum — no single-partition window at any
    * cardinality; quantization bounds the histogram at ~10⁶ rows for
    * continuous inputs, same guard as globalRank).
    */
  def ecdfTable(df: DataFrame, valCol: String): DataFrame = {
    val hist = df.select(round(col(valCol).cast("double"), 6).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // cumsum + total both read the histogram
    val cum = MetricOps.rangeCumSum(hist, "__v", Seq("__c"))
    // total from the histogram (includes the null-value group) — the
    // fact table is scanned ONCE, not re-read for a count
    val tot = broadcast(hist.agg(sum(col("__c")).cast("double").as("__n")))
    cum.crossJoin(tot)
      .select(col("__v").as("v"), col("__c").as("c"),
        col("__cum___c").as("n_le"),
        round(col("__cum___c") / col("__n"), 6).as("ecdf"))
  }

  def robustScale(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol)).agg(
      round(percentile(col(valueCol), lit(0.5)), 6).as("__med"),
      round(percentile(col(valueCol), lit(0.75)) -
        percentile(col(valueCol), lit(0.25)), 6).as("__iqr"))
    df.join(broadcast(stats), groupCol)
      // zero IQR (≥50% identical values) → null, not ±Infinity
      .withColumn(s"${valueCol}_robust",
        when(col("__iqr") =!= 0.0,
          round((col(valueCol) - col("__med")) / col("__iqr"), 4)))
      .drop("__med", "__iqr")
  }

  /** Per-group winsorized statistics — the AGGREGATE companion to the
    * row-level [[winsorize]]: clip `valueCol` at the group's `lo`/`hi`
    * percentiles and report the clipped mean/stddev next to the raw
    * ones — the outlier-robust summary a feature-quality audit reads
    * before trusting a z-score scaler. Fences round to 6 dp BEFORE
    * clipping so the clip predicate is engine-portable; clipped values
    * aggregate as 6-dp-rounded DECIMAL so the moments are
    * partition-order-independent. One stats broadcast, one pass over
    * the rows — the operator never shuffles the input on value.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val fences = df.groupBy(col(groupCol)).agg(
      round(percentile(col(valueCol), lit(lo)), 6).as("__lo"),
      round(percentile(col(valueCol), lit(hi)), 6).as("__hi"))
    df.join(broadcast(fences), groupCol)
      .withColumn("__w", round(least(greatest(
        col(valueCol).cast("double"), col("__lo")), col("__hi")), 6)
        .cast("decimal(18,6)"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(valueCol) < col("__lo"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col(valueCol) > col("__hi"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        round(first(col("__lo")), 6).as("lo_fence"),
        round(first(col("__hi")), 6).as("hi_fence"),
        sum(col("__w")).as("__s"),
        sum(col("__w") * col("__w")).as("__ss"),
        sum(round(col(valueCol).cast("double"), 6)
          .cast("decimal(18,6)")).as("__rs"))
      .withColumn("win_mean",
        round(col("__s").cast("double") / col("n"), 6))
      .withColumn("raw_mean",
        round(col("__rs").cast("double") / col("n"), 6))
      // sample variance from exact decimal moments; a singleton or
      // fully-clipped-constant group yields null, not NaN
      .withColumn("win_std", when(col("n") > 1, round(sqrt(greatest(
          (col("__ss").cast("double") - col("__s").cast("double") *
            col("__s").cast("double") / col("n")) / (col("n") - 1),
          lit(0.0))), 6)))
      .drop("__s", "__ss", "__rs")
  }

  /** Quantile-normalization map at the deciles: for each group and
    * q ∈ 1..9, the group's q-th decile next to the POOLED decile at
    * the same rank — the lookup that maps any group's values onto the
    * reference distribution (batch-effect correction across sources;
    * a microarray-era classic that data pipelines still use to align
    * per-source score scales).
    *
    * Both sides are lower-inverse-CDF picks off 2 dp-quantized value
    * histograms (the [[MetricOps.percentileBands]] discipline): group
    * quantiles window over per-group DISTINCT values, pooled
    * cumulation rides [[MetricOps.rangeCumSum]] — no raw-row sort, no
    * unpartitioned window at any cardinality.
    */
  def quantileNormalizeMap(df: DataFrame, groupCol: String,
                           valCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      round(col(valCol).cast("double"), 2).as("__v"))
    val hist = base.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // group picks + pooled histogram read it
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("q"))
    val wg = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val gcum = hist.withColumn("__cum", sum(col("__c")).over(wg))
      .withColumn("__n", sum(col("__c"))
        .over(Window.partitionBy(col("__g"))))
    val gq = gcum.crossJoin(broadcast(spine))
      .filter(col("__cum") * 10 >= col("q") * col("__n"))
      .groupBy(col("__g"), col("q"))
      .agg(min(col("__v")).as("group_q"))
    val pooled = hist.groupBy(col("__v")).agg(sum(col("__c")).as("__c"))
    val pcum = MetricOps.rangeCumSum(pooled, "__v", Seq("__c"))
    val ptot = broadcast(pooled.agg(sum(col("__c")).as("__N")))
    val pq = pcum.crossJoin(ptot).crossJoin(broadcast(spine))
      .filter(col("__cum___c") * 10 >= col("q") * col("__N"))
      .groupBy(col("q"))
      .agg(min(col("__v")).as("pooled_q"))
    gq.join(broadcast(pq), "q")
      .select(col("__g").as(groupCol), col("q"), col("group_q"),
        col("pooled_q"))
  }

  /** RFM segmentation — the classic recency/frequency/monetary
    * customer grid: per user, days-since-last-event (vs the corpus
    * max date), event count, and 2-dp spend; each metric coded into
    * `nQ` equal-count quantile bands; output one row per (r,f,m)
    * segment with its population and spend. Codes ascend with the
    * VALUE: r_q 0 = most recent band (best), f_q/m_q nQ−1 = most
    * frequent / highest spend (best).
    *
    * Deterministic banding without a raw sort: each metric's histogram
    * goes through ONE range-partitioned cumsum and a distinct value
    * lands wholly in the band holding its first unit (the
    * Hosmer–Lemeshow / decile-lift rule, so ties never straddle
    * engines). The three code maps join back by metric value —
    * histogram-sized equi-joins, never a global window.
    */
  def rfmSegments(df: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, nQ: Int = 5,
                  roundTo: Int = 2): DataFrame = {
    val maxd = df.agg(max(to_date(col(tsCol))).as("__maxd"))
    val users = df.groupBy(col(userCol).as("__u"))
      .agg(max(to_date(col(tsCol))).as("__last"),
        count(lit(1)).as("__freq"),
        sum(round(col(valueCol).cast("double"), 2)
          .cast("decimal(18,2)")).cast("decimal(38,2)").as("__mon"))
      .crossJoin(broadcast(maxd))
      .withColumn("__rec", datediff(col("__maxd"), col("__last"))
        .cast("long"))
      .drop("__maxd", "__last")
      .localCheckpoint(true) // three band maps + the final join read it
    def codeMap(vCol: String, out: String): DataFrame = {
      val hist = users.groupBy(col(vCol).as("__v"))
        .agg(count(lit(1)).as("__n"))
      val tot = hist.agg(sum(col("__n")).as("__tq"))
      MetricOps.rangeCumSum(hist, "__v", Seq("__n"))
        .crossJoin(broadcast(tot))
        .withColumn(out, expr(s"(__cum___n - __n) * $nQ DIV __tq")
          .cast("int"))
        .select(col("__v").as(vCol), col(out))
    }
    users
      .join(codeMap("__rec", "r_q"), "__rec")
      .join(codeMap("__freq", "f_q"), "__freq")
      .join(codeMap("__mon", "m_q"), "__mon")
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        // exact half-up mean in cent integers: a quotient landing on a
        // .xx5 boundary must not split an ulp between engines (the q193
        // class). Non-negative spend contract (DIV truncates toward 0).
        (expr("CAST((2 * CAST(sum(__mon) * 100 AS DECIMAL(38,0)) " +
          "+ count(1)) DIV (2 * count(1)) AS DOUBLE)") / 100)
          .as("avg_monetary"),
        round(sum(col("__mon")).cast("double"), roundTo)
          .as("total_monetary"))
  }

  /** Hashing-trick collision audit: for each candidate hash width
    * b ∈ `bits`, how many DISTINCT feature crosses collide when
    * bucketed into 2^b md5 buckets — the design table for the feature
    * hashing every wide-cross model ships with (pick the smallest b
    * whose collision rate the model can absorb; the formula-free,
    * measured version of the birthday estimate).
    *
    * Scale: the cross table reduces to its distinct keys FIRST (one
    * hash agg — the only corpus-sized step), then explodes ×|bits|
    * and re-aggregates per width; collisions = crosses − occupied
    * buckets, exact integer ppm.
    */
  def hashCollisionAudit(df: DataFrame, crossCols: Seq[String],
                         bits: Seq[Int]): DataFrame = {
    val key = concat_ws("|", crossCols.map(c => col(c).cast("string")): _*)
    val crosses = df.select(key.as("__k")).distinct()
      .withColumn("__h",
        Md5Int(col("__k"), 1, 8))
      // LAZY localCheckpoint: every width reads the distinct crosses.
      .localCheckpoint(false)
    crosses
      .select(col("__h"), explode(typedLit(bits)).as("b"))
      .withColumn("__bucket", pmod(col("__h"),
        expr("CAST(shiftleft(CAST(1 AS BIGINT), b) AS BIGINT)")))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_crosses"),
        countDistinct(col("__bucket")).as("n_buckets_hit"))
      .select(col("b").cast("long").as("bits"), col("n_crosses"),
        col("n_buckets_hit"),
        (col("n_crosses") - col("n_buckets_hit")).as("n_collided"),
        expr("CAST(((n_crosses - n_buckets_hit) * 2000000 + n_crosses) " +
          "div (2 * n_crosses) AS BIGINT)").as("collision_ppm"))
  }
}

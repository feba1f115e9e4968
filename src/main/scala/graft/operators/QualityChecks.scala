package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Data-quality expectations over a frame — the validation layer a
  * 100 TB ingest runs before training data leaves a stage (null
  * ratios, range bounds, referential sanity).
  *
  * All expectations evaluate in ONE scan (a single aggregate of
  * violation-flag sums); the report is O(#expectations) rows, so the
  * check adds a pass over the data and nothing else — no shuffle, no
  * driver materialization beyond the tiny report.
  */
object QualityChecks {

  /** NULL-predicate semantics: a predicate that evaluates to NULL on a
    * row counts as a PASS for that row (three-valued logic — "cannot
    * evaluate" is not a violation). Express null checks explicitly with
    * `isNull` expectations; this is made deterministic here via
    * coalesce(false) rather than left to aggregate null-skipping.
    */
  case class Expectation(name: String, violatedWhen: Column)

  /** Evaluate all expectations in one pass. Returns
    * (name, violations, pass) per expectation.
    */
  def report(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    require(expectations.nonEmpty, "no expectations given")
    val aggs = expectations.zipWithIndex.map { case (e, i) =>
      sum(coalesce(e.violatedWhen, lit(false)).cast("long")).as(s"__v_$i")
    }
    val names = expectations.zipWithIndex
      .map { case (e, i) => s"${TextOps.sqlStr(e.name)}, coalesce(__v_$i, 0)" }
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${expectations.length}, ${names.mkString(", ")}) " +
        "AS (name, violations)")
      .withColumn("pass", (col("violations") === 0).cast("int"))
  }

  /** Approximate distinct-cardinality profile per column (HyperLogLog++
    * via approx_count_distinct): the cardinality report that replaces
    * exact countDistinct at 100 TB — one scan, O(1) state per column
    * (a fixed-size sketch), no exact-distinct shuffle. `rsd` is the
    * guaranteed relative standard deviation of the estimate.
    */
  def approxDistinctReport(df: DataFrame, cols: Seq[String],
                           rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "no columns given")
    val sorted = cols.sorted
    val aggs = sorted.map(c => approx_count_distinct(col(c), rsd).as(s"__ad_$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${sorted.length}, " +
        sorted.map(c => s"'$c', __ad_$c").mkString(", ") +
        ") AS (col_name, approx_distinct)")
  }

  /** One-scan table profile: per column — null count, exact distinct
    * count, min/max (string-rendered). The standard pre-training data
    * summary; all columns aggregate in ONE pass. Use string/integral
    * columns for cross-engine comparison (double→string rendering is
    * engine-specific).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns given")
    val sorted = cols.sorted
    val aggs = sorted.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"__n_$c"),
      countDistinct(col(c)).as(s"__d_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${sorted.length}, " +
        sorted.map(c => s"'$c', coalesce(__n_$c, 0), __d_$c, __mn_$c, __mx_$c")
          .mkString(", ") +
        ") AS (col_name, n_null, n_distinct, min_str, max_str)")
  }

  /** Fail fast: throw with the failing expectations if any violate. */
  /** Benford's-law first-digit audit — the classic fabricated-numbers
    * detector for financial/metric columns. Per digit 1-9: observed
    * count, Benford-expected count n·log10(1+1/d), and the χ²
    * contribution (sum them for the test statistic; χ²(8 df) at 5% is
    * 15.51).
    *
    * The leading digit comes from the DECIMAL STRING of the value
    * scaled to an integer (10^scale, exact for fixed-point data) —
    * never from floor(log10(v)), whose 1-ulp libm differences flip the
    * digit at powers of ten across engines. One hash aggregation to 9
    * rows; the expected counts are fixed double arithmetic over the
    * broadcast total.
    */
  def benfordAudit(df: DataFrame, valCol: String,
                   scale: Int = 2): DataFrame = {
    val mult = math.pow(10.0, scale)
    val obs = df.filter(col(valCol) > 0)
      .select(substring(round(col(valCol) * mult, 0).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = broadcast(obs.agg(sum(col("n_obs")).cast("double").as("__n")))
    obs.crossJoin(tot)
      .withColumn("__exp",
        col("__n") * log10(lit(1.0) + lit(1.0) / col("digit")))
      .select(col("digit"), col("n_obs"),
        round(col("__exp"), 4).as("exp_n"),
        round((col("n_obs") - col("__exp")) * (col("n_obs") - col("__exp"))
          / col("__exp"), 4).as("chi2_term"))
  }

  /** Referential-integrity audit: orphan counts per declared
    * (child.fk → parent.pk) relationship — the dbt-style relationship
    * test as a first-class operator. Each relationship is ONE left
    * join aggregated to a single row (child rows + orphans); at scale
    * the parent key side is a semi-join build, never a row-for-row
    * materialization of matches.
    */
  def riAudit(relationships: Seq[(String, DataFrame, String, DataFrame,
                                  String)]): DataFrame =
    relationships.map { case (name, child, fk, parent, pk) =>
      child.select(col(fk).as("__fk"))
        .join(parent.select(col(pk).as("__fk")).distinct()
          .withColumn("__hit", lit(1)), Seq("__fk"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("__hit").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_child"),
          col("n_orphans"))
    }.reduce(_ unionByName _)

  /** k-anonymity / l-diversity audit over a quasi-identifier tuple —
    * the privacy gate a training-data release runs before shipping:
    * every row should hide in a quasi-identifier group of ≥ k rows
    * (re-identification resistance), and each group should carry ≥ l
    * distinct sensitive values (attribute-disclosure resistance).
    *
    * One hash agg to the |groups|-row table (size + distinct-sensitive
    * per group), one tiny agg to the 1-row report — the raw table is
    * scanned once and never re-shuffled. `rows_lt_k / n_rows` is the
    * share of rows that would need suppression or generalization.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, k: Int,
                 roundTo: Int = 6): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    val groups = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"),
        countDistinct(col(sensitiveCol)).as("__ldiv"))
    groups.agg(
      sum(col("__sz")).as("n_rows"),
      count(lit(1)).as("n_groups"),
      min(col("__sz")).as("min_group_size"),
      sum(when(col("__sz") < k, 1L).otherwise(0L)).as("groups_lt_k"),
      sum(when(col("__sz") < k, col("__sz")).otherwise(0L)).as("rows_lt_k"),
      min(col("__ldiv")).as("min_l_diversity"))
    .select(col("n_rows"), col("n_groups"), col("min_group_size"),
      col("groups_lt_k"), col("rows_lt_k"), col("min_l_diversity"),
      round(col("rows_lt_k").cast("double") / col("n_rows"), roundTo)
        .as("at_risk_frac"))
  }

  /** Per-group l-diversity audit — the table [[kAnonymity]]'s global
    * summary points at: the quasi-identifier groups whose sensitive
    * attribute shows fewer than `l` distinct values (re-identification
    * risk even when the group is k-large). One hash aggregation; the
    * well-represented groups never leave the reducers.
    */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
      .filter(col("l_distinct") < l)
  }

  /** Side-by-side statistical profile of two snapshots of the same
    * table (time windows, sources, pipeline versions): per column,
    * row count, null fraction, distinct count, and mean (numeric
    * columns) for each side plus the mean shift — the drift triage
    * that says WHICH column moved before a PSI/KS deep-dive says how.
    *
    * ONE aggregation pass per side computes every column's moments
    * (multi-distinct goes through Spark's Expand — still a single
    * scan), then a literal-struct explode melts the 1-row result to
    * per-column rows and the sides join on column name. Nothing
    * shuffles but two 1-row frames.
    */
  def profileDrift(a: DataFrame, b: DataFrame, cols: Seq[String],
                   roundTo: Int = 6): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    def side(df: DataFrame, tag: String): DataFrame = {
      val aggs = (count(lit(1)).as("__n") +: cols.flatMap { c =>
        val numeric = df.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType]
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul_$c"),
          countDistinct(col(c)).as(s"__dst_$c"),
          (if (numeric) round(avg(col(c).cast("double")), roundTo)
           else lit(null).cast("double")).as(s"__avg_$c"))
      }).toList
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col("__n").as(s"n_$tag"),
          round(col(s"__nul_$c").cast("double") /
            greatest(col("__n"), lit(1L)), roundTo).as(s"null_frac_$tag"),
          col(s"__dst_$c").as(s"distinct_$tag"),
          col(s"__avg_$c").as(s"mean_$tag"))): _*)).as("__p"))
        .select(col("__p.*"))
    }
    side(a, "a").join(side(b, "b"), "col_name")
      .withColumn("mean_shift",
        round(col("mean_b") - col("mean_a"), roundTo))
  }

  /** Cross-table VALUE reconciliation (the dollars-and-cents audit
    * that [[riAudit]]'s key checks can't see): per parent key, compare
    * the child-side decimal sum against the parent's recorded total
    * and report the relative-difference profile. Child sums are exact
    * decimals (4 dp), the relative diff is one double division per
    * parent, and the report is one aggregate — parents with no child
    * rows are counted separately (they have no ratio to average).
    */
  def reconcile(parent: DataFrame, parentKey: String, totalCol: String,
                child: DataFrame, childKey: String, valueCol: String,
                tolerance: Double, roundTo: Int = 6): DataFrame = {
    val sums = child.groupBy(col(childKey).as("__k"))
      .agg(sum(round(col(valueCol).cast("double"), 4)
        .cast("decimal(28,4)")).as("__cs"))
    val joined = parent.select(col(parentKey).as("__k"),
        round(col(totalCol).cast("double"), 4).cast("decimal(28,4)")
          .as("__t"))
      .join(sums, Seq("__k"), "left")
      .withColumn("__rd", when(col("__cs").isNotNull &&
          col("__t") =!= lit(0).cast("decimal(28,4)"),
        abs((col("__cs") - col("__t")).cast("double")) /
          abs(col("__t").cast("double"))))
    joined.agg(count(lit(1)).as("n_parents"),
        sum(when(col("__cs").isNull, 1L).otherwise(0L))
          .as("n_childless"),
        sum(when(col("__rd") <= tolerance, 1L).otherwise(0L))
          .as("n_within_tol"),
        sum(round(col("__rd"), 12).cast("decimal(38,12)")).as("__srd"),
        max(round(col("__rd"), roundTo)).as("max_rel_diff"))
      .select(col("n_parents"), col("n_childless"), col("n_within_tol"),
        round(col("__srd").cast("double") /
          (col("n_parents") - col("n_childless")), roundTo)
          .as("mean_rel_diff"),
        col("max_rel_diff"))
  }

  /** Functional-dependency audit (the data-profiling step behind
    * normalization and key discovery): for each candidate A → B, one
    * hash agg on A counting distinct B values — the FD holds iff every
    * determinant maps to exactly one dependent. Reports determinant
    * cardinality, pair cardinality, and the violating-key count per
    * candidate.
    */
  def fdAudit(df: DataFrame, tableName: String,
              candidates: Seq[(String, String)]): DataFrame =
    candidates.map { case (det, dep) =>
      df.groupBy(col(det)).agg(countDistinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_det"), sum(col("__nd")).as("n_pairs"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L))
            .as("violating_keys"))
        .select(lit(tableName).as("table_name"),
          lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_det"), col("n_pairs"), col("violating_keys"),
          (col("violating_keys") === 0).as("holds"))
    }.reduce(_ unionAll _)

  def enforce(df: DataFrame, expectations: Seq[Expectation]): Unit = {
    val bad = report(df, expectations).filter(col("pass") === 0)
      .select("name", "violations").collect()
    require(bad.isEmpty,
      "quality expectations failed: " +
        bad.map(r => s"${r.getString(0)} (${r.getLong(1)} rows)").mkString(", "))
  }

  /** Calendar-gap audit per group: between each group's first and last
    * active day, how many days are MISSING — the silent-ingest-failure
    * tripwire a batch pipeline runs before trusting any daily rollup
    * (a day with zero rows is indistinguishable from a day the loader
    * skipped unless someone counts the calendar).
    *
    * The expected-day spine is `sequence(min_day, max_day)` exploded
    * per group — bounded by the calendar span, never data volume — and
    * missing days are one anti-join against the observed (group, day)
    * table. Output: per group the span, observed/missing counts, and
    * the first missing day (null when the calendar is complete).
    */
  def calendarGaps(df: DataFrame, groupCol: String,
                   tsCol: String): DataFrame = {
    val obs = df.select(col(groupCol).as("__g"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("__day"))
      .distinct()
      .localCheckpoint(true) // spine + anti-join probe both read it
    val span = obs.groupBy("__g")
      .agg(min(col("__day")).as("__lo"), max(col("__day")).as("__hi"),
        count(lit(1)).as("__nobs"))
    val expected = span.select(col("__g"), col("__nobs"),
      col("__lo"), col("__hi"),
      explode(sequence(col("__lo"), col("__hi"))).as("__day"))
    val missing = expected.join(obs, Seq("__g", "__day"), "left_anti")
    span
      .join(missing.groupBy("__g")
          .agg(count(lit(1)).as("__nmiss"), min(col("__day")).as("__first")),
        Seq("__g"), "left")
      .select(col("__g").as(groupCol),
        (col("__hi") - col("__lo") + 1).cast("long").as("span_days"),
        col("__nobs").as("observed_days"),
        coalesce(col("__nmiss"), lit(0L)).as("missing_days"),
        date_add(lit("1970-01-01").cast("date"),
          col("__first").cast("int")).cast("string").as("first_missing_day"))
  }

  /** t-closeness audit — the third rung of the release-privacy ladder
    * after [[kAnonymity]] and [[lDiversityAudit]]: per quasi-identifier
    * group, the Earth-Mover's Distance between the group's sensitive-
    * attribute distribution and the GLOBAL one. l-diversity only counts
    * distinct sensitive values; t-closeness catches the group whose
    * values are distinct but all clustered at one end. For an ORDERED
    * sensitive attribute (the `binCol` contract: pre-binned ordinal,
    * e.g. balance bands) with unit ground distance,
    * EMD = Σ|cumulative pmf diff| / (m−1) ∈ [0,1].
    *
    * Shapes: one cell aggregate (quasi × bin), the global bin pmf is a
    * tiny broadcast, the full group×bin grid comes from a broadcast
    * cross join (missing bins must contribute their zero pmf to the
    * cumulative diff), and the per-group cumulative runs in a window
    * partitioned BY GROUP over ≤ m bin rows — bounded by the bin
    * vocabulary, never by data. The cumulative diff is EXACT:
    * |cumCnt·N − cumBn·gn| in DECIMAL(38,0) over the common
    * denominator gn·N, one division at the end.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], binCol: String,
                 roundTo: Int = 6): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    import org.apache.spark.sql.expressions.Window
    val cells = df.groupBy((quasiCols :+ binCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // groups + global margin both read it
    val groups = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__gn"))
    val bins = cells.groupBy(col(binCol)).agg(sum(col("__c")).as("__bn"))
    val tot = cells.agg(sum(col("__c")).as("__N"),
      countDistinct(col(binCol)).as("__m"))
    val w = Window.partitionBy(quasiCols.map(col): _*)
      .orderBy(col(binCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    groups.crossJoin(broadcast(bins))
      .join(cells, quasiCols :+ binCol, "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__diff",
        abs(sum(col("__c")).over(w).cast("decimal(38,0)") * col("__N") -
          sum(col("__bn")).over(w).cast("decimal(38,0)") * col("__gn")))
      .groupBy(quasiCols.map(col): _*)
      .agg(first(col("__gn")).cast("long").as("group_size"),
        round(sum(col("__diff")).cast("double") /
          (first(col("__gn")).cast("double") *
            first(col("__N")).cast("double") *
            (first(col("__m")) - 1)), roundTo).as("t_closeness"))
  }

  /** Differentially-private noisy count release — seeded Laplace
    * mechanism for per-group counts (sensitivity 1): noise =
    * −(1/ε)·sign(u−½)·ln(1−2|u−½|) with u drawn deterministically from
    * md5(groupkey|seed) (48 bits → (0,1); the repo-wide md5-only
    * hashing rule, so the release is reproducible run-to-run and
    * engine-to-engine — a REAL deployment would swap in a fresh
    * cryptographic draw per release and keep an ε ledger across them).
    * `true_count` is reported for calibration audits; the RELEASE is
    * the noisy column only. Because the noise is seeded (an adversary
    * who knows the seed can subtract it exactly), the output column is
    * named `epsilon_nominal`: it records the MECHANISM's calibration,
    * not a provided privacy guarantee — consumers must not treat this
    * as a calibrated DP release.
    *
    * One hash aggregation; the noise is a per-row column expression
    * (no shuffle beyond the count).
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
                    epsilon: Double, seed: String = "graft",
                    roundTo: Int = 3): DataFrame = {
    require(groupCols.nonEmpty && epsilon > 0)
    val key = concat_ws("|",
      groupCols.map(c => col(c).cast("string")) :+ lit(seed): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("true_count"))
      .withColumn("__h",
        Md5Int(key, 1, 12))
      .withColumn("__c",
        (col("__h") + 0.5) / lit(281474976710656.0) - 0.5)
      .withColumn("__noise", -signum(col("__c")) *
        log(lit(1.0) - lit(2.0) * abs(col("__c"))) / epsilon)
      .select(groupCols.map(col) ++ Seq(col("true_count"),
        round(col("true_count") + col("__noise"), roundTo)
          .as("noisy_count"),
        lit(epsilon).as("epsilon_nominal")): _*)
  }

  /** Candidate-key discovery: for each declared column combination,
    * one profile row — total rows, distinct combinations, duplicated
    * combinations, the largest duplicate group, and an is_key flag.
    * The audit behind "can we merge on this" / "is this safe as a
    * dedup identity" decisions, and the input to [[riAudit]]'s parent
    * side.
    *
    * Each combo is one hash aggregation (k combos → k parallel
    * branches of one lazy union plan — no driver loop over data).
    */
  def candidateKeys(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty, "no column combinations given")
    combos.map { cols =>
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__c"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("__c")).as("n_rows"),
          sum(when(col("__c") > 1, 1L).otherwise(0L)).as("dup_keys"),
          max(col("__c")).as("max_group"))
        .select(lit(cols.mkString(",")).as("combo"), col("n_rows"),
          col("n_distinct"), col("dup_keys"), col("max_group"),
          when(col("dup_keys") === 0, 1).otherwise(0).as("is_key"))
    }.reduce(_ unionAll _)
  }

  /** Chapman capture–recapture estimate — how many units exist that
    * NEITHER window saw: with n₁ units in capture window A, n₂ in B,
    * and m in both, N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (the bias-corrected
    * Lincoln–Petersen). The audit for "how complete is our entity
    * table really" when two independent snapshots exist.
    *
    * One pass: per-unit presence flags, then a 1-row aggregate; the
    * estimate is a single double formula from exact counts.
    */
  def chapmanEstimate(df: DataFrame, unitCol: String,
                      sideCol: String, sideA: Any, sideB: Any,
                      roundTo: Int = 2): DataFrame = {
    val flags = df.filter(col(sideCol).isin(sideA, sideB))
      .groupBy(col(unitCol))
      .agg(max(when(col(sideCol) === lit(sideA), 1L).otherwise(0L))
          .as("__ha"),
        max(when(col(sideCol) === lit(sideB), 1L).otherwise(0L))
          .as("__hb"))
    flags.agg(sum(col("__ha")).as("__n1"), sum(col("__hb")).as("__n2"),
        sum(col("__ha") * col("__hb")).as("__m"),
        count(lit(1)).as("__obs"))
      .select(col("__n1").cast("long").as("n_a"),
        col("__n2").cast("long").as("n_b"),
        col("__m").cast("long").as("n_both"),
        col("__obs").cast("long").as("n_observed"),
        round((col("__n1") + 1).cast("double") * (col("__n2") + 1) /
          (col("__m") + 1) - 1, roundTo).as("n_hat"))
  }

  /** Benford SECOND-digit audit — the forensic follow-up to
    * [[benfordAudit]]: second digits are far flatter
    * (P(d) = Σ_{k=1..9} log₁₀(1+1/(10k+d))) and therefore the better
    * fabrication screen — humans who fake plausible FIRST digits
    * rarely get the second-digit curve right. Values too small to
    * have a second digit at the audit scale are excluded.
    *
    * The 10-row expected distribution is derived in-plan from a
    * 90-cell literal grid (terms snapped to 12 dp, decimal-summed) —
    * no hard-coded float table to drift between engines.
    */
  def benfordSecondDigit(df: DataFrame, valCol: String,
                         scale: Int = 2): DataFrame = {
    val mult = math.pow(10.0, scale)
    val obs = df.filter(col(valCol) > 0)
      .select(round(col(valCol) * mult, 0).cast("long").as("__i"))
      .filter(col("__i") >= 10)
      .select(substring(col("__i").cast("string"), 2, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spark = df.sparkSession
    val exp = spark.range(0, 10)
      .select(col("id").cast("int").as("digit"))
      .crossJoin(spark.range(1, 10).select(col("id").as("__k")))
      .withColumn("__term", round(log10(lit(1.0) + lit(1.0) /
        (lit(10) * col("__k") + col("digit"))), 12)
        .cast("decimal(28,14)"))
      .groupBy("digit").agg(sum(col("__term")).cast("double").as("__p"))
    val tot = obs.agg(sum(col("n_obs")).cast("double").as("__tn"))
    exp.join(obs, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__exp", col("__tn") * col("__p"))
      .select(col("digit"), col("n_obs"),
        round(col("__exp"), 4).as("exp_n"),
        round((col("n_obs") - col("__exp")) * (col("n_obs") - col("__exp"))
          / col("__exp"), 4).as("chi2_term"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Core relational operators (SURVEY.md §2.2–§2.6).
  *
  * Each method is one operator from the reference's pipeline, re-expressed
  * as a declarative Spark transform so Catalyst gets a whole plan to
  * optimize (predicate pushdown, column pruning, broadcast selection,
  * whole-stage codegen). Reference citations are to
  * akiragy/recsys_pipeline files under /root/reference/.
  *
  * Scale stance (100 TB): no driver-side materialization except tiny
  * scalar metas (train stats A5, cardinalities A6, constant-prune report
  * P8 — all O(#columns) rows); windows are per-key with bounded frames so
  * state never exceeds ~11 rows per user; dimension joins take explicit
  * `broadcast()` hints.
  */
object RelationalOps {

  // ---------------------------------------------------------------- P ops

  /** P1 — implicit-feedback label encode: `label = 1 if rating > threshold`.
    * Ref: offline/preprocess/s1_data_split.py:26-27.
    */
  def labelEncode(df: DataFrame, ratingCol: String, threshold: Double,
                  labelCol: String = "label"): DataFrame =
    df.withColumn(labelCol, when(col(ratingCol) > threshold, 1).otherwise(0))

  /** P5 — dict-mapping encode with default-0 fallback for unseen keys.
    * Ref: offline/rank/s1_feature_engi.py:21-29; mappings constants.py:29-72.
    * `try_element_at` (not `element_at`) so ANSI mode returns null → 0 for
    * misses instead of erroring.
    */
  def dictEncode(df: DataFrame, inCol: String, outCol: String,
                 mapping: Map[String, Int]): DataFrame = {
    val m = map(mapping.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    df.withColumn(outCol, coalesce(try_element_at(m, col(inCol)), lit(0)))
  }

  /** P6 — multi-hot membership flags from a delimited token column.
    * Ref: offline/rank/s1_feature_engi.py:32-41.
    */
  def multiHot(df: DataFrame, tokensCol: Column, vocab: Seq[String],
               prefix: String): DataFrame =
    vocab.foldLeft(df) { (d, v) =>
      // null token arrays flag 0, not null — array_contains(null, v) is
      // null and a null flag breaks the downstream 0/1 feature contract
      // (VectorAssembler rejects nulls)
      d.withColumn(s"$prefix$v",
        coalesce(array_contains(tokensCol, v), lit(false)).cast("int"))
    }

  /** P8/A7 — constant-column prune report: distinct count per column; a
    * column is dead if n_distinct == 1. Ref: s1_feature_engi.py:25-27,37-39.
    * The report itself is tiny (O(#columns)) — the one sanctioned
    * driver-side collect in the reference's design.
    */
  def constPruneReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "constPruneReport: no columns given")
    // One scan computing every column's distinct count, unpivoted —
    // not one aggregation (= one full table pass) per column. Names are
    // quote-escaped and backticked so hyphens/quotes in column names
    // can't break (or inject into) the stack() expression.
    val sorted = cols.sorted
    val aggs = sorted.map(c => countDistinct(col(c)).as(s"__nd_$c"))
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${sorted.length}, " +
        sorted.map(c => s"'${c.replace("'", "''")}', " +
          s"`__nd_${c.replace("`", "``")}`").mkString(", ") +
        ") AS (col_name, n_distinct)")
      .withColumn("keep", (col("n_distinct") > 1).cast("int"))
  }

  /** SCD1 upsert (MERGE-into semantics, batch form): rows from
    * `updates` replace base rows with the same key; unmatched base rows
    * survive. One anti-join + union — at scale this is the compaction
    * step of an incremental pipeline (Delta/Iceberg MERGE compiles to
    * the same shape).
    */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    base.join(updates.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(updates)

  /** Shared row-identity fingerprint: U+0001-separated with a U+0000
    * null sentinel — a bare concat both SKIPS nulls and loses column
    * boundaries, so ("ab","c")/("a","bc") or (null,"x")/("x",null)
    * collide and real changes vanish. Collision requires those control
    * chars inside the data itself. Used by [[snapshotDiff]] (string
    * compare) and [[partitionChecksumDiff]] (md5-sum checksum).
    */
  private def rowFingerprint(valCols: Seq[String]): Column =
    concat_ws("\u0001",
      valCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)

  /** Partition-level checksum diff — the backfill/repair probe: which
    * partitions of a replicated/derived table drifted from the source?
    * Per partition: row count + an ORDER-INDEPENDENT content checksum
    * (sum of 48-bit md5 ints over the row fingerprint — commutative,
    * so partitioning and scan order can't change it), then one full
    * outer join of two partition-sized summaries. Only drifted
    * partitions are emitted (added / removed / changed) — the repair
    * work-list. The fact tables are never joined row-to-row: at 100 TB
    * this reads each side once and compares |partitions| rows.
    */
  def partitionChecksumDiff(oldDf: DataFrame, newDf: DataFrame,
                            partCol: String,
                            valCols: Seq[String]): DataFrame = {
    def summarize(df: DataFrame, cnt: String, ck: String) =
      df.groupBy(col(partCol).as("__part"))
        .agg(count(lit(1)).as(cnt),
          sum(Md5Int(rowFingerprint(valCols), 1, 12).cast("decimal(38,0)"))
            .as(ck))
    summarize(oldDf, "__ocnt", "__ock")
      .join(summarize(newDf, "__ncnt", "__nck"), Seq("__part"), "full_outer")
      .withColumn("status",
        when(col("__ocnt").isNull, "added")
          .when(col("__ncnt").isNull, "removed")
          .when(col("__ocnt") =!= col("__ncnt") ||
            col("__ock") =!= col("__nck"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("__part").as(partCol), col("status"),
        coalesce(col("__ocnt"), lit(0L)).as("old_rows"),
        coalesce(col("__ncnt"), lit(0L)).as("new_rows"))
  }

  /** SCD2 dimension build from a change log: collapse consecutive
    * duplicate values per key (lag window), then stamp each surviving
    * version with `valid_from` = its own timestamp and `valid_to` = the
    * next version's (lead window; null ⇒ `is_current`). The standard
    * type-2 slowly-changing-dimension compaction of a CDC stream.
    *
    * Determinism needs a total order per key: rows order by
    * (`tsCol`, `tieCol`) and `tieCol` must be unique within a key.
    * Scale: both windows partition by the key — one shuffle on the key,
    * then two in-partition sorts; no join, nothing driver-side. At
    * 100 TB this is exactly the merge-on-read compaction shape
    * (Delta/Iceberg CDF → dimension table).
    */
  def scd2(log: DataFrame, keyCol: String, valCol: String,
           tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    // null-safe change detection: `prev =!= v` is SQL-null when either
    // side is null, which would silently DROP transitions into a null
    // value (field cleared) — so first-row detection needs row_number,
    // not `prev IS NULL`, and the comparison needs <=>
    val changes = log
      .withColumn("__prev", lag(col(valCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 || !(col("__prev") <=> col(valCol)))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .select(col(keyCol), col(valCol), col("valid_from"),
        col("valid_to"), col("is_current"))
  }

  /** Snapshot diff (CDC between two table states): emits one row per
    * changed key with change ∈ added | removed | changed. Row identity
    * is a concat fingerprint of `valCols`; the comparison is a single
    * full outer join on the key. Unchanged keys emit nothing.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
                   valCols: Seq[String]): DataFrame = {
    def fp(df: DataFrame, name: String) = df.select(col(keyCol),
      rowFingerprint(valCols).as(name))
    fp(oldDf, "__fp_old").join(fp(newDf, "__fp_new"), Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed"))
      .filter(col("change").isNotNull)
      .select(col(keyCol), col("change"))
  }

  // ---------------------------------------------------------------- W ops

  /** W1 — 0-based per-key row number by event time with a deterministic
    * tiebreaker (pandas cumcount after a stable sort keeps file order for
    * equal ts; Spark sorts are not stable, so the tiebreak column is part
    * of the contract). Ref: s1_data_split.py:32-33.
    */
  def rowNumber(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                outCol: String = "rn"): DataFrame =
    df.withColumn(outCol,
      row_number().over(Window.partitionBy(keyCol).orderBy(orderCols: _*)) - 1)

  /** W4 — 3-way time split from window values: last `holdN` rows per key
    * are the online holdout (2), first 80% of the rest train (0), the
    * remainder test (1). Ref: s1_data_split.py:14-19,34; constants.py:20-21.
    */
  def threeWaySplit(df: DataFrame, rnCol: String, cntCol: String,
                    holdN: Int, testRatio: Double,
                    outCol: String = "istest"): DataFrame =
    df.withColumn(outCol,
      when(col(rnCol) >= col(cntCol) - holdN, 2)
        .when(col(rnCol) < (col(cntCol) - holdN) * (1.0 - testRatio), 0)
        .otherwise(1))

  /** W2 — the crown jewel: point-in-time sliding-frame aggregation. For
    * each row, count/sum over that key's previous ≤ `frameLen` rows
    * (strictly before the current row — no leakage). The dequeue in
    * offline/preprocess/s2_term_trans.py:42-61 snapshots BEFORE appending
    * the current row, i.e. ROWS BETWEEN frameLen PRECEDING AND 1 PRECEDING.
    * Bounded per-key state ⇒ scales linearly; the shuffle is one exchange
    * on the key.
    */
  def pitWindow(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                labelCol: String, frameLen: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(-frameLen, -1)
    df.withColumn("pit_imp", count(lit(1)).over(w))
      .withColumn("pit_clk", coalesce(sum(col(labelCol)).over(w), lit(0L)))
  }

  /** W2 faithful multi-term form (SURVEY §7.5.2) — the crown jewel in
    * full: per-TERM [imp, clk] counts over the key's previous ≤frameLen
    * IMPRESSIONS, where each impression carries multiple terms (genres).
    * A naive per-(key, term) ROWS frame would count the previous
    * frameLen *term rows*, not impressions — the faithful frame is a
    * RANGE frame over the impression index `rn` after exploding terms:
    * rows of the same (key, term) whose rn lies in [rn−frameLen, rn−1].
    * Matches the dequeue of s2_term_trans.py:42-61 exactly (verified in
    * PitWindowSpec against a literal re-implementation of that dequeue).
    *
    * Scale: one shuffle on (key, term); frames stay ≤frameLen rows.
    */
  def pitTermWindow(df: DataFrame, keyCol: String, rnCol: String,
                    termsCol: String, labelCol: String,
                    frameLen: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("term"))
      .orderBy(col(rnCol)).rangeBetween(-frameLen, -1)
    df.withColumn("term", explode(col(termsCol)))
      .withColumn("term_imp", count(lit(1)).over(w))
      .withColumn("term_clk", coalesce(sum(col(labelCol)).over(w), lit(0L)))
  }

  /** W2 dense-feature form — the 36-dense-column contract of
    * s1_feature_engi.py:44-54 (P7 consumes `imp_dict[i].get(v, [0,0])`
    * for EVERY genre v, not just the current row's genres): for each
    * impression × vocabulary term, [imp, clk] over the key's previous
    * ≤frameLen impressions. Implemented on a dense (impression × vocab)
    * grid where each (key, term) series has every rn exactly once, so a
    * plain ROWS frame over occurrence flags is the faithful count —
    * and the blowup is ×|vocab| (the reference's fixed 18 genres), not
    * ×|window|. Returns the long form; `pivotTermFeatures` widens it.
    */
  def pitTermFeatures(df: DataFrame, keyCol: String, rnCol: String,
                      termsCol: String, labelCol: String,
                      vocab: Seq[String], frameLen: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col("term"))
      .orderBy(col(rnCol)).rowsBetween(-frameLen, -1)
    df.withColumn("term", explode(typedLit(vocab)))
      .withColumn("__occ", array_contains(col(termsCol), col("term")).cast("long"))
      .withColumn("term_imp", coalesce(sum(col("__occ")).over(w), lit(0L)))
      .withColumn("term_clk",
        coalesce(sum(col("__occ") * col(labelCol)).over(w), lit(0L)))
      .drop("__occ")
  }

  /** Widen `pitTermFeatures` long output into `{prefix}{term}_imp` /
    * `{prefix}{term}_clk` columns (the user_g{v}_imp/_clk layout).
    */
  def pivotTermFeatures(long: DataFrame, rowKeys: Seq[String],
                        vocab: Seq[String], prefix: String): DataFrame =
    long.groupBy(rowKeys.map(col): _*)
      .pivot("term", vocab)
      .agg(first(col("term_imp")).as("imp"), first(col("term_clk")).as("clk"))
      .select((rowKeys.map(col) ++ vocab.flatMap(v => Seq(
        coalesce(col(s"${v}_imp"), lit(0L)).as(s"$prefix${v}_imp"),
        coalesce(col(s"${v}_clk"), lit(0L)).as(s"$prefix${v}_clk")))): _*)

  /** W3 multi-term snapshot + P10 threshold — the user_dict flush of
    * s2_term_trans.py:43-47: per-term counters over the key's LAST
    * ≤frameLen+1 impressions (the faithful off-by-one: the final row is
    * added before the flush), then the serving term list = terms whose
    * click count meets the threshold
    * (offline_to_online/recall/s1_user_to_redis.py:26-29).
    */
  def termSnapshot(df: DataFrame, keyCol: String, rnCol: String,
                   cntCol: String, termsCol: String, labelCol: String,
                   frameLen: Int, clickThreshold: Long): DataFrame =
    df.filter(col(rnCol) >= col(cntCol) - (frameLen + 1))
      .withColumn("term", explode(col(termsCol)))
      .groupBy(col(keyCol), col("term"))
      .agg(count(lit(1)).as("term_imp"), sum(col(labelCol)).as("term_clk"))
      .filter(col("term_clk") >= clickThreshold)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("term"))).as("terms"))

  /** W3 — user-level snapshot: same counters flushed at the key boundary
    * AFTER adding the final row — frame covers the last ≤ frameLen+1 rows
    * (the faithful off-by-one vs W2). Ref: s2_term_trans.py:43-47.
    * Evaluated only at each key's last row.
    */
  def userSnapshot(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                   labelCol: String, frameLen: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(-frameLen, 0)
    val lastRow = Window.partitionBy(keyCol).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("snap_imp", count(lit(1)).over(w))
      .withColumn("snap_clk", coalesce(sum(col(labelCol)).over(w), lit(0L)))
      .withColumn("__rdesc", row_number().over(lastRow))
      .filter(col("__rdesc") === 1)
      .drop("__rdesc")
  }

  // ---------------------------------------------------------------- A ops

  /** A2 — order-preserving collect_list: the list order is the contract
    * (the reference inherits it from a prior stable sort —
    * s2_term_trans.py:33). Spark shuffles destroy incidental order, so the
    * order keys ride along in a struct and `sort_array` restores it —
    * deterministic on any partitioning/cluster size.
    */
  def orderedCollectList(df: DataFrame, keyCol: String, valueCol: String,
                         orderCols: Seq[String], outCol: String): DataFrame = {
    val s = struct((orderCols :+ valueCol).distinct.map(col): _*)
    df.groupBy(keyCol)
      .agg(sort_array(collect_list(s)).as("__s"))
      .withColumn(outCol, expr(s"transform(__s, x -> x.$valueCol)"))
      .drop("__s")
  }

  /** A5 + F3 — train-statistics z-score with the reference's exact guards:
    * NaN/absent mean → 0.0, std ≤ 0 → 1.0 (s1_feature_engi.py:61-67).
    * Stats come from `trainDf` only and are applied to `df` (the
    * train-only-stats contract); the collect is a single scalar row.
    * Uses stddev_samp (pandas ddof=1 — s1_feature_engi.py:60).
    */
  def zscore(df: DataFrame, trainDf: DataFrame, valueCol: String,
             outCol: String, roundTo: Int = 4): DataFrame = {
    // Stats are rounded to 6 dp before use: double avg/stddev differ in
    // the last ulps across engines/partitionings (summation order), and
    // feeding the raw values into 60k divisions would let that noise
    // land on a rounding boundary. Rounded stats are bit-identical
    // everywhere, so downstream z-scores are too.
    val row = trainDf.agg(
      round(avg(col(valueCol)), 6).as("m"),
      round(stddev_samp(col(valueCol)), 6).as("s")).head()
    val m0 = if (row.isNullAt(0) || row.getDouble(0).isNaN) 0.0 else row.getDouble(0)
    val s0 = if (row.isNullAt(1) || row.getDouble(1).isNaN || row.getDouble(1) <= 0) 1.0
             else row.getDouble(1)
    df.withColumn(outCol, round((col(valueCol) - lit(m0)) / lit(s0), roundTo))
  }

  // ---------------------------------------------------------------- O ops

  /** O3 — per-group top-k by score with deterministic tiebreak.
    * Ref: online/utils/triton_caller.py:75-76 + dto.py:21 (top-50 cut).
    * Window + row_number ⇒ single shuffle on the group key; no global sort.
    */
  def topKPerGroup(df: DataFrame, keyCol: String, order: Seq[Column],
                   k: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** R3 — hybrid union retrieval: union N scored candidate channels,
    * re-group on the candidate key, score = Σ boosted channel scores.
    * Ref: online/utils/es_caller.py:56-58 (term boost 0.1 + knn boost 0.9).
    */
  def hybridUnion(channels: Seq[DataFrame], keyCols: Seq[String],
                  scoreCol: String): DataFrame =
    // by NAME, not position: channels built with the same columns in a
    // different order would silently mis-sum under positional unionAll
    channels.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(scoreCol)).as(scoreCol))

  /** 2-D Pareto frontier (skyline, maximizing both columns): the
    * distinct (x, y) points not dominated by any point with ≥ in both
    * dimensions and > in at least one.
    *
    * The classic sweep — sort by x desc and keep points whose y exceeds
    * the running max of everything seen so far — would be one
    * UNPARTITIONED window. Instead the sweep is distributed the same
    * way as [[MetricOps.globalRank]]'s cumulative sum:
    * `repartitionByRange` on x desc, the running max WITHIN each range
    * partition, plus each partition's prefix max from earlier (higher-x)
    * partitions via a broadcast triangular join on the partition id —
    * O(partitions²) pairs, bounded by config, never by data. The
    * partition ids are pinned with `localCheckpoint` for the same
    * reason as in rangeCumSum: the id feeds two consumers, and
    * re-derived sampled range boundaries are only identical while
    * exchange reuse happens to dedup them.
    *
    * Ties: duplicates collapse via the distinct; equal-x points sort by
    * y desc within the sweep, so the lower-y twin sees its dominator's
    * y as running max and drops; equal-y points with smaller x see
    * `y > runmax` fail and drop. The frontier is a unique set — order
    * and partitioning never change it.
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull).distinct()
    val parts = pts.repartitionByRange(col("x").desc, col("y").desc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ptot = parts.groupBy(col("__pid")).agg(max(col("y")).as("__pmax"))
    val pbefore = ptot.as("pa")
      .join(broadcast(ptot.as("pb")), col("pb.__pid") < col("pa.__pid"), "left")
      .groupBy(col("pa.__pid").as("__pid"))
      .agg(max(col("pb.__pmax")).as("__before"))
    parts.join(broadcast(pbefore), "__pid")
      .withColumn("__rm", greatest(max(col("y")).over(w), col("__before")))
      .filter(col("__rm").isNull || col("y") > col("__rm"))
      .select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Mergeable aggregation state — the materialized-view-maintenance
    * primitive: collapse a batch to per-key ALGEBRAIC state
    * (count / decimal sum / min / max) whose merge is just re-
    * aggregation, so an incremental pipeline folds a delta batch into
    * yesterday's state instead of recomputing the world. The value
    * quantizes to 4 dp so the sum is an exact decimal — merge order
    * (and therefore partitioning, batch boundaries, replay) cannot
    * change a single bit of the result.
    */
  def aggState(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.select(col(keyCol).as("__k"),
        round(col(valCol).cast("double"), 4).cast("decimal(28,4)")
          .as("__v"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"),
        min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))

  /** Merge any number of [[aggState]] batches. Associative and
    * commutative by construction (sum of decimal sums, min of mins …) —
    * merge(a, b) ≡ aggState(a ∪ b) bit-for-bit.
    */
  def mergeAggStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionAll _)
      .groupBy(col("__k"))
      .agg(sum(col("__n")).as("__n"), sum(col("__s")).as("__s"),
        min(col("__mn")).as("__mn"), max(col("__mx")).as("__mx"))

  /** Present merged state as the final aggregate view (adds the mean —
    * the one non-algebraic output, derived at read time).
    */
  def finalizeAggState(state: DataFrame, keyName: String): DataFrame =
    state.select(col("__k").as(keyName), col("__n").as("n"),
        col("__s").cast("double").as("sum_v"),
        col("__mn").cast("double").as("min_v"),
        col("__mx").cast("double").as("max_v"),
        round(col("__s").cast("double") / col("__n"), 6).as("avg_v"))
      .orderBy(keyName)

  /** Version-retention / GC planner for an append-only versioned table:
    * under the standard policy "keep the newest `keepLast` versions per
    * key, plus everything at or after `cutoff`", how much is
    * reclaimable? The per-key version rank is one window PARTITIONED BY
    * KEY (state bounded by versions-per-key, never table size); the
    * report is one aggregate.
    */
  def retentionPlan(df: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String, keepLast: Int, cutoff: Column,
                    roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__reclaim",
        when(col("__rn") > keepLast && col(tsCol) < cutoff, 1L)
          .otherwise(0L))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(keyCol)).as("n_keys"),
        sum(col("__reclaim")).as("reclaimable"))
      .select(col("n_rows"), col("n_keys"), col("reclaimable"),
        (col("n_rows") - col("reclaimable")).as("kept"),
        round(col("reclaimable").cast("double") / col("n_rows"), roundTo)
          .as("reclaim_frac"))
  }

  /** Sequential association rules over first occurrences: for states
    * a ≠ b, in how many entities does a's FIRST occurrence precede
    * b's? support = n_ab/N, confidence = n_ab/n_a, lift =
    * confidence/(n_b/N) — the order-aware cousin of basket rules
    * (q177), and the statistical summary behind funnel intuition.
    *
    * The corpus collapses to one (entity, state, first-ts) row per
    * pair — the within-entity pair join is |states|² per entity,
    * bounded by the state vocabulary, never event volume. Equal first
    * timestamps count in neither direction (strict precedence, so the
    * rule set is deterministic under ties). Margins broadcast.
    */
  def seqRules(df: DataFrame, entityCol: String, tsCol: String,
               stateCol: String, roundTo: Int = 6): DataFrame = {
    val first = df.groupBy(col(entityCol).as("__e"), col(stateCol).as("__st"))
      .agg(min(col(tsCol)).as("__ts"))
      .localCheckpoint(true) // feeds margins AND the pair join
    val tot = first.agg(countDistinct(col("__e")).as("__n"))
    val marg = first.groupBy(col("__st")).agg(count(lit(1)).as("__us"))
    val pairs = first.select(col("__e"), col("__st").as("antecedent"),
        col("__ts").as("__ta"))
      .join(first.select(col("__e"), col("__st").as("consequent"),
        col("__ts").as("__tb")), "__e")
      .filter(col("antecedent") =!= col("consequent") &&
        col("__ta") < col("__tb"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("__st").as("antecedent"),
        col("__us").as("__ua"))), "antecedent")
      .join(broadcast(marg.select(col("__st").as("consequent"),
        col("__us").as("__ub"))), "consequent")
      .crossJoin(broadcast(tot))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        round(col("n_ab").cast("double") / col("__n"), roundTo)
          .as("support"),
        round(col("n_ab").cast("double") / col("__ua"), roundTo)
          .as("confidence"),
        round(col("n_ab").cast("double") * col("__n") /
          (col("__ua") * col("__ub")).cast("double"), roundTo).as("lift"))
      .orderBy("antecedent", "consequent")
  }

  /** Per-key interval-union coverage: each row opens the half-open
    * interval [ts, ts+`durS`), overlapping/contiguous intervals merge,
    * and the output reports per key how many merged segments remain
    * and how many seconds they cover — the "effective active time"
    * reduction behind session-length billing, uptime SLAs, and
    * overlap-free exposure measurement.
    *
    * Classic sweep, done with per-key windows only (the PIT
    * discipline — one hash exchange on the key, frames never grow
    * with data): a row starts a new segment iff its `lo` exceeds the
    * running max of all previous `hi` (half-open ⇒ touching intervals
    * merge); the segment id is the running sum of those start flags;
    * segments then collapse to (min lo, max hi) and each key to one
    * row. Integer-second arithmetic throughout — no FP anywhere.
    */
  def intervalCoverage(df: DataFrame, keyCol: String, tsCol: String,
                       tieCol: String, durS: Long): DataFrame = {
    val base = df.select(col(keyCol),
      unix_timestamp(col(tsCol)).as("__lo"), col(tieCol).as("__tie"))
      .withColumn("__hi", col("__lo") + durS)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__lo"), col("__tie"))
    val prevMax = max(col("__hi"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val seg = base
      .withColumn("__new",
        when(prevMax.isNull || col("__lo") > prevMax, 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    seg.groupBy(col(keyCol), col("__seg"))
      .agg(count(lit(1)).as("__n"), min(col("__lo")).as("__slo"),
        max(col("__hi")).as("__shi"))
      .groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_segments"),
        sum(col("__shi") - col("__slo")).as("covered_s"))
  }
}

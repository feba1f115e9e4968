package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Distinct-count sketching. Spark's own `approx_count_distinct` (HLL++)
  * is the zero-thought default, but its estimate is engine-private — no
  * cross-engine oracle can check it. The KMV (k-minimum-values / bottom-k)
  * sketch here is built on md5, so the estimate itself is a DETERMINISTIC
  * function of the input set: portable across engines, reproducible
  * across runs/partitionings, and mergeable (union of bottom-k sets →
  * bottom-k) — the property that matters when sketches are combined
  * across 1000 executors or across daily partitions.
  */
object SketchOps {

  /** KMV distinct estimate per group: hash each value to a uniform
    * 48-bit integer (md5 prefix), keep the k smallest distinct hashes,
    * and estimate |distinct| ≈ (k−1) · 2^48 / h_(k) where h_(k) is the
    * k-th smallest hash. Standard error ≈ 1/√(k−2) (~13% at k=64).
    * Groups with fewer than k distinct hashes report their exact count
    * (the sketch is exact below its capacity).
    *
    * Output: group, exact_distinct (for calibration), kmv_est (rounded
    * 4 dp), rel_err (rounded 4 dp, from the rounded estimate).
    *
    * Determinism: the k-th smallest of a set is order-independent;
    * (k−1)·2^48 is exact in a double (< 2^53) and the estimate is one
    * division. Scale: the distinct-hash dedup is the only full shuffle;
    * the per-group bottom-k selection here uses a row_number window
    * (oracle-friendly), while at 100 TB the same selection runs as a
    * bounded O(k) map-side aggregation (TopKAggregator with negated
    * keys) so the sort never sees whole groups.
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valCol: String,
                  k: Int): DataFrame = {
    require(k >= 3, "KMV needs k >= 3 for a finite-variance estimate")
    val dh = df.select(col(groupCol),
        Md5Int(col(valCol).cast("string"), 1, 12).as("__u"))
      .distinct()
    val kth = dh.withColumn("__rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("__u"))))
      .filter(col("__rn") === k)
      .select(col(groupCol), col("__u").as("__uk"))
    val exact = dh.groupBy(col(groupCol))
      .agg(count(lit(1)).as("exact_distinct"))
    exact.join(kth, Seq(groupCol), "left")
      .select(col(groupCol), col("exact_distinct"),
        when(col("__uk").isNull, col("exact_distinct").cast("double"))
          .otherwise(round(lit((k - 1).toDouble * (1L << 48).toDouble) /
            col("__uk").cast("double"), 4)).as("kmv_est"))
      .withColumn("rel_err",
        round(abs(col("kmv_est") - col("exact_distinct")) /
          col("exact_distinct"), 4))
  }

  /** KMV set algebra between two sides: Jaccard and intersection-size
    * ESTIMATES from bottom-k sketches, next to the exact values (the
    * [[kmvDistinct]] calibration discipline). The union's bottom-k is
    * a uniform sample of the union, so the fraction of its members
    * present in BOTH sides' bottom-k sketches estimates J(A,B); the
    * intersection estimate is J · D̂(union) with the (k−1)·2^48/h_(k)
    * union-cardinality estimate. Below capacity everything degrades
    * to exact. At cluster scale each bottom-k is a TakeOrdered
    * (distributed heap top-k — no global sort, no single-partition
    * window); the per-hash membership-flag table is the only full
    * shuffle, and the arithmetic reads three ≤k-row/1-row broadcasts.
    */
  def kmvJaccard(df: DataFrame, sideCol: String, sideA: Any, sideB: Any,
                 valCol: String, k: Int): DataFrame = {
    require(k >= 3, "KMV needs k >= 3 for a finite-variance estimate")
    // one row per distinct hash with side-membership flags
    val hf = df.filter(col(sideCol).isin(sideA, sideB))
      .select(Md5Int(col(valCol).cast("string"), 1, 12).as("__u"),
        when(col(sideCol) === sideA, 1).otherwise(0).as("__pa"),
        when(col(sideCol) === sideB, 1).otherwise(0).as("__pb"))
      .groupBy(col("__u"))
      .agg(max(col("__pa")).as("__ia"), max(col("__pb")).as("__ib"))
      .localCheckpoint(true) // feeds 3 bottom-k selections + exact agg
    def kthStats(flag: Option[String]) = {
      val side = flag.fold(hf)(f => hf.filter(col(f) === 1))
      side.orderBy(col("__u")).limit(k)
        .agg(count(lit(1)).as("n"), max(col("__u")).as("kth"))
    }
    val sa = kthStats(Some("__ia"))
      .select(col("n").as("__nka"), col("kth").as("__uak"))
    val sb = kthStats(Some("__ib"))
      .select(col("n").as("__nkb"), col("kth").as("__ubk"))
    val su = kthStats(None).select(col("n").as("__ku"),
      col("kth").as("__uk"))
    val exact = hf.agg(count(lit(1)).as("exact_union"),
      sum((col("__ia") * col("__ib")).cast("long")).as("exact_inter"))
    // c: union-sketch members present in BOTH side sketches (a side
    // below capacity admits all of its hashes)
    val c = hf.orderBy(col("__u")).limit(k)
      .crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .filter(col("__ia") === 1 && col("__ib") === 1 &&
        (col("__nka") < k || col("__u") <= col("__uak")) &&
        (col("__nkb") < k || col("__u") <= col("__ubk")))
      .agg(count(lit(1)).as("__c"))
    c.crossJoin(broadcast(su)).crossJoin(broadcast(exact))
      .withColumn("__du", when(col("__ku") < k,
          col("__ku").cast("double"))
        .otherwise(lit((k - 1).toDouble * (1L << 48).toDouble) /
          col("__uk").cast("double")))
      .select(col("__ku").cast("long").as("k_used"),
        round(col("__du"), 4).as("union_est"),
        when(col("__ku") > 0, round(col("__c").cast("double") /
          col("__ku"), 6)).as("jaccard_est"),
        when(col("__ku") > 0, round(col("__c").cast("double") /
          col("__ku") * col("__du"), 4)).as("inter_est"),
        col("exact_union"), col("exact_inter"),
        when(col("exact_union") > 0,
          round(col("exact_inter").cast("double") /
            col("exact_union"), 6)).as("exact_jaccard"))
  }

  /** Expand each row into `depth` (row-index, bucket) pairs — columns
    * `__d`, `__b` — using 8-hex-char slices of ONE md5 per key (same
    * one-digest slicing as the MinHash signature — one hash evaluation
    * per key, not `depth`). Shared by the batch sketch build, the probe
    * side, and the streaming (incremental) sketch: identical bucketing
    * is what makes a stream-built sketch interchangeable with a
    * batch-built one.
    */
  def cmsBucketed(df: DataFrame, keyCol: String, depth: Int,
                  width: Int): DataFrame = {
    val slots = (0 until depth).map { i =>
      struct(lit(i).as("d"),
        pmod(Md5Int(col(keyCol).cast("string"), i * 8 + 1, 8), lit(width)).as("b"))
    }
    df.withColumn("__slot", explode(array(slots: _*)))
      .select(col("*"), col("__slot.d").as("__d"), col("__slot.b").as("__b"))
      .drop("__slot")
  }

  /** Count-Min sketch frequency estimates for the `topN` heaviest keys.
    *
    * The sketch is `depth` rows × `width` counters. An estimate is the
    * MIN of the key's `depth` counters and can only over-count
    * (collisions add, never subtract) — the output keeps the exact
    * count next to the estimate so the overcount is visible.
    *
    * Scale: building is ONE hash aggregation producing depth·width rows
    * (the sketch — merge sketches from 1000 executors by adding
    * counters, which the partial aggregation does for free); probing
    * broadcasts those few rows. Nothing here is proportional to
    * |distinct keys| — that is the point of the sketch.
    */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, depth: Int = 4,
                      width: Int = 64, topN: Int = 20): DataFrame = {
    def bucketed(d: DataFrame): DataFrame = cmsBucketed(d, keyCol, depth, width)
    val sketch = bucketed(df.select(col(keyCol)))
      .groupBy("__d", "__b").agg(count(lit(1)).as("__c"))
    val heavy = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("exact_c"))
      .orderBy(col("exact_c").desc, col(keyCol))
      .limit(topN)
    bucketed(heavy)
      .join(broadcast(sketch), Seq("__d", "__b"))
      .groupBy(col(keyCol), col("exact_c"))
      .agg(min("__c").cast("long").as("cms_est"))
      .withColumn("overcount", (col("cms_est") - col("exact_c")).cast("long"))
  }

  /** CMS join-cardinality estimate: |A ⋈ B on key| from the inner
    * product of the two sides' Count-Min rows — Σ_b cA(d,b)·cB(d,b)
    * per depth, min over depths (collisions only ADD, so every depth
    * over-estimates and min is the tightest). This is the
    * planning-time cardinality probe a 100 TB optimizer runs BEFORE
    * committing to a join strategy: each side is one hash aggregation
    * to depth·width counters, the inner product is a join of two
    * sketch-sized tables — the fact tables are never joined to ask
    * how big their join would be. The exact size is computed alongside
    * from the per-key count tables (Σ_k cA·cB — still never the
    * materialized join) so the overcount is visible.
    */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame,
                       bKey: String, depth: Int = 4,
                       width: Int = 1024): DataFrame = {
    def side(df: DataFrame, key: String, out: String): DataFrame =
      cmsBucketed(df.select(col(key).as("__k")), "__k", depth, width)
        .groupBy("__d", "__b").agg(count(lit(1)).as(out))
    // depth spine: a depth whose buckets never collide contributes a
    // ZERO inner product — the inner join below would silently drop it
    // and min() would over-estimate
    val spine = a.sparkSession.range(depth).select(col("id").as("__d"))
    val est = spine.join(
        side(a, aKey, "__ca").join(side(b, bKey, "__cb"),
            Seq("__d", "__b"))
          .groupBy("__d")
          .agg(sum((col("__ca") * col("__cb")).cast("decimal(38,0)"))
            .as("__e")),
        Seq("__d"), "left")
      .agg(min(coalesce(col("__e"), lit(0))).cast("long").as("cms_est"))
    val exact = a.groupBy(col(aKey)).agg(count(lit(1)).as("__na"))
      .join(b.groupBy(col(bKey).as(aKey)).agg(count(lit(1)).as("__nb")),
        Seq(aKey))
      .agg(coalesce(sum((col("__na") * col("__nb")).cast("decimal(38,0)")),
        lit(0)).cast("long").as("exact_size"))
    broadcast(exact).crossJoin(est)
      .withColumn("overcount", (col("cms_est") - col("exact_size")).cast("long"))
  }

  /** Histogram-sketch quantiles: equi-width bin counts (ONE hash
    * aggregation — the sketch; bins merge by addition like CMS
    * counters) → cumulative counts over ≤ `nBins` rows → linear
    * interpolation inside the target bin. The mergeable alternative to
    * exact `percentile`, which needs a per-group sort of all values;
    * here raw rows are touched once and everything downstream is
    * O(nBins). The exact percentile is computed alongside so the
    * sketch error is visible (abs_err column), mirroring the
    * exact-next-to-estimate discipline of `kmvDistinct`/`cmsHeavyHitters`.
    *
    * Deterministic: bin counts are exact integers; the estimate is a
    * fixed arithmetic expression over them (binWidth·(bin + frac)),
    * rounded at 6 dp.
    */
  def histogramQuantile(df: DataFrame, groupCol: String, valCol: String,
                        binWidth: Double, nBins: Int,
                        q: Double): DataFrame = {
    val binned = df.groupBy(col(groupCol),
        least(floor(col(valCol) / binWidth), lit(nBins - 1)).cast("long")
          .as("__bin"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // cum + totals reuse the materialized bins
    val cum = binned.withColumn("__below",
      coalesce(sum("__c").over(
        Window.partitionBy(col(groupCol)).orderBy(col("__bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = binned.groupBy(col(groupCol)).agg(sum("__c").cast("long").as("__n"))
    val target = cum.join(tot, Seq(groupCol))
      .withColumn("__t", lit(q) * col("__n"))
      .filter(col("__below") < col("__t") &&
        col("__t") <= col("__below") + col("__c"))
      .select(col(groupCol),
        round(lit(binWidth) * (col("__bin") +
          (col("__t") - col("__below")) / col("__c")), 6).as("q_est"))
    val exact = df.groupBy(col(groupCol))
      .agg(round(percentile(col(valCol), lit(q)), 6).as("q_exact"))
    target.join(exact, Seq(groupCol))
      .withColumn("abs_err", round(abs(col("q_est") - col("q_exact")), 6))
  }

  /** HyperLogLog distinct estimate per group — like [[kmvDistinct]],
    * built on md5 so the estimate is a DETERMINISTIC function of the
    * input set (portable across engines, invariant to partitioning and
    * run order), unlike `approx_count_distinct`'s engine-private HLL++.
    *
    * Register build: 48-bit uniform hash (md5 prefix) → top `p` bits
    * pick one of m = 2^p buckets, the low 48−p bits give
    * rho = leading-zeros + 1 (via the binary-string length — no
    * floating log2, so power-of-two values can't mis-round). Registers
    * are max(rho) per bucket: a bounded m-row hash aggregation that
    * merges across 1000 executors (or daily partitions) by max —
    * the mergeability that justifies a sketch at 100 TB.
    *
    * Estimate: the 2^−M_j harmonic sum is kept EXACT by scaling to
    * integers — Σ 2^(maxRho−M_j) ≤ m·2^maxRho < 2^63 for p ≥ 4 — so
    * the one float division happens after order-independent integer
    * math. Small-range correction (linear counting m·ln(m/V) when
    * E ≤ 2.5m and empty buckets exist) follows Flajolet et al. 2007.
    * Output keeps the exact count alongside (same discipline as the
    * other sketches): group, exact_distinct, hll_est (4 dp), rel_err.
    * "Exact" means distinct 48-bit hashes — the [[kmvDistinct]]
    * convention: exact up to birthday collisions (~n²/2⁴⁹, ≈2 per
    * billion distinct keys), which is what keeps the twin computable
    * in one pass next to the sketch.
    */
  /** HLL register table from a pre-hashed column `uCol` (48-bit
    * uniform ints): one row per (group, bucket) with the max-merged
    * rho. Duplicate values are absorbed by the max, so the build works
    * identically on DISTINCT hashes (the batch path) and on a raw
    * stream (streaming.StreamingHll — an update-mode max aggregation),
    * which is what makes stream- and batch-built registers
    * interchangeable.
    */
  private[graft] def hllRegisters(hashed: DataFrame, groupCol: String,
                                  uCol: String, p: Int): DataFrame = {
    val lowBits = 48 - p
    val maxRho = lowBits + 1
    hashed
      .select(col(groupCol),
        expr(s"shiftright($uCol, $lowBits)").as("__b"),
        pmod(col(uCol), lit(1L << lowBits)).as("__rem"))
      .withColumn("__r",
        when(col("__rem") === 0, lit(maxRho))
          .otherwise(lit(maxRho) - length(conv(col("__rem"), 10, 2))))
      .groupBy(col(groupCol), col("__b"))
      .agg(max(col("__r")).as("__mr"))
  }

  /** The 48-bit uniform hash feeding [[hllRegisters]] — md5 prefix,
    * shared by the batch and streaming builds.
    */
  private[graft] def hllHash(valCol: String): org.apache.spark.sql.Column =
    Md5Int(col(valCol).cast("string"), 1, 12)

  /** Estimate from a register table (output of [[hllRegisters]]):
    * group, n_registers, hll_est. The exact-count twin is only
    * available in the batch build ([[hllDistinct]]); a streamed
    * register table estimates through the identical formula.
    */
  private[graft] def hllEstimate(regs: DataFrame, groupCol: String,
                                 p: Int): DataFrame = {
    val m = 1 << p
    val maxRho = 48 - p + 1
    val scale = math.pow(2.0, maxRho)
    regs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__nregs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($maxRho - __mr AS INT))"))
          .cast("long").as("__s"))
      .withColumn("__v", lit(m) - col("__nregs"))
      .withColumn("__eraw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
          lit(m.toDouble * m) * lit(scale) /
          (col("__s") + col("__v") * lit(scale)))
      .select(col(groupCol), col("__nregs").as("n_registers"),
        round(when(col("__v") > 0 && col("__eraw") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("__v")))
          .otherwise(col("__eraw")), 4).as("hll_est"))
  }

  def hllDistinct(df: DataFrame, groupCol: String, valCol: String,
                  p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, "bucket bits p must be in [4, 14]")
    val dh = df.select(col(groupCol), hllHash(valCol).as("__u"))
      .distinct()
      .localCheckpoint(true) // registers + exact counts reuse one dedup
    val est = hllEstimate(hllRegisters(dh, groupCol, "__u", p), groupCol, p)
    val ex = dh.groupBy(col(groupCol)).agg(count(lit(1)).as("exact_distinct"))
    ex.join(est, Seq(groupCol))
      .select(col(groupCol), col("exact_distinct"), col("hll_est"),
        round(abs(col("hll_est") - col("exact_distinct")) /
          col("exact_distinct"), 4).as("rel_err"))
  }

  /** Bloom-filter membership probe: build a `words`×32-bit filter from
    * the distinct keys of `build`, probe every key of `probe`, and
    * report per-`segCol` totals — probable positives (filter), true
    * members (exact semi-join kept alongside for calibration), and the
    * implied false positives.
    *
    * k = 4 bit positions per key from 8-hex-char md5 slices; 32-bit
    * words keep `1 << bit` away from the BIGINT sign bit in every
    * engine. The built filter is `words` rows of OR-ed masks —
    * broadcast to the probe side, so probing is a map-side lookup; at
    * cluster scale this is exactly the shape of a runtime join filter:
    * tiny build output, no shuffle of the probe table.
    */
  /** Bloom word-mask table over `build`'s distinct keys: at most
    * `words` rows of (word index, OR-ed 32-bit mask), 4 bit positions
    * per key. MATERIALIZED (localCheckpoint) because consumers probe it
    * from several join branches — without pinning, each branch would
    * re-derive the build-side scan+aggregate.
    * Shared by [[bloomMembership]] and `JoinOps.bloomPrefilterJoin`.
    *
    * Two hash families, chosen per call site (build and probe MUST
    * agree — the no-false-negative guarantee only needs consistency):
    *  - `md5` (default): 8-hex-char md5 slices — replicable in the
    *    DuckDB oracle (q124 pins these exact bit positions in SQL);
    *  - `xx`: `xxhash64(key, i)` — one codegen'd 64-bit mix per
    *    position vs md5's digest + hex substring + base-16 parse;
    *    for hot paths whose oracle checks semantics, not positions.
    */
  def bloomPositions(key: org.apache.spark.sql.Column, mBits: Int,
                     hash: String): Seq[org.apache.spark.sql.Column] =
    (0 until 4).map { i =>
      if (hash == "xx") pmod(xxhash64(key, lit(i)), lit(mBits.toLong))
      else pmod(Md5Int(key.cast("string"), i * 8 + 1, 8), lit(mBits))
    }

  def bloomFilterWords(build: DataFrame, keyCol: String,
                       words: Int, hash: String = "md5"): DataFrame = {
    val mBits = words * 32
    build.select(col(keyCol).as("__k")).distinct()
      .withColumn("__p",
        explode(array(bloomPositions(col("__k"), mBits, hash): _*)))
      .select((col("__p") / 32).cast("long").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 32 AS INT))").as("__m"))
      .groupBy("__w").agg(bit_or(col("__m")).as("__mask"))
      .localCheckpoint(true)
  }

  def bloomMembership(build: DataFrame, buildKey: String,
                      probe: DataFrame, probeKey: String, segCol: String,
                      words: Int = 256): DataFrame = {
    val mBits = words * 32
    def positions(key: org.apache.spark.sql.Column) = (0 until 4).map { i =>
      pmod(Md5Int(key.cast("string"), i * 8 + 1, 8), lit(mBits))
    }
    val keys = build.select(col(buildKey).as("__k")).distinct()
    val filterWords = bloomFilterWords(build, buildKey, words)
    val probed = probe
      .withColumn("__p", explode(array(positions(col(probeKey)): _*)))
      .withColumn("__w", (col("__p") / 32).cast("long"))
      .withColumn("__m",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 32 AS INT))"))
      .join(broadcast(filterWords), Seq("__w"), "left")
      .groupBy(col(probeKey), col(segCol))
      .agg(min(coalesce(col("__mask").bitwiseAND(col("__m")) =!= 0,
        lit(false)).cast("int")).as("__pos"))
    probed
      .join(keys.withColumnRenamed("__k", probeKey)
        .withColumn("__true", lit(1)), Seq(probeKey), "left")
      .na.fill(0, Seq("__true"))
      .groupBy(col(segCol))
      .agg(count(lit(1)).as("n_probed"),
        sum("__pos").cast("long").as("n_bloom_pos"),
        sum("__true").cast("long").as("n_member"),
        (sum("__pos") - sum("__true")).cast("long").as("n_false_pos"))
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch: estimate the second
    * frequency moment Σc² of a key column from `k` ±1-sign linear
    * sketches Z_j = Σ_key s_j(key)·c_key, est_j = Z_j², averaged —
    * the join-size / self-join-cost estimator that needs O(k) memory
    * where the exact answer needs the whole frequency table. Signs
    * derive from md5(key|j), so the ESTIMATE itself is deterministic
    * and oracle-checkable (the Bloom/KMV calibration discipline) —
    * the exact F₂ rides along to show the error.
    *
    * Scale: one (key) count agg, then ONE pass computing all k Z's
    * as exact integer sums (map-side partials); Z² and the mean stay
    * in DECIMAL(38,0) with a half-up integer mean — no float
    * anywhere.
    */
  def amsF2(df: DataFrame, keyCol: String, k: Int = 8): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("__k"))
      .agg(count(lit(1)).as("__c"))
    val zs = (0 until k).map(j =>
      sum(when(substring(md5(concat_ws("|", col("__k"), lit(j))), 1, 1)
        < "8", col("__c")).otherwise(-col("__c"))).as(s"__z$j"))
    val exact = sum((col("__c") * col("__c")).cast("decimal(38,0)"))
      .as("__f2")
    val zsq = (0 until k).map(j =>
      s"(CAST(__z$j AS DECIMAL(38,0)) * CAST(__z$j AS DECIMAL(38,0)))")
      .mkString(" + ")
    counts.agg(exact, zs: _*)
      .select(col("__f2").cast("bigint").as("exact_f2"),
        expr(s"CAST((($zsq) * 2 + $k) div (2 * $k) AS BIGINT)")
          .as("est_f2"))
      .withColumn("err_ppm", when(col("exact_f2") > 0,
        expr("CAST(((est_f2 - exact_f2) * 2000000 " +
          "+ CAST(sign(est_f2 - exact_f2) AS BIGINT) * exact_f2) " +
          "div (2 * exact_f2) AS BIGINT)")))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Md5Int

/** Deduplication operators for the training-data pipeline: exact hash
  * dedup, banded MinHash LSH near-dup, SimHash signatures, and
  * LSH-candidate + exact n-gram-Jaccard verification.
  *
  * Design for 100 TB:
  *  - never O(n²): candidate pairs come only from LSH band buckets
  *    (equi-joins Catalyst executes as shuffled hash joins on the band
  *    key), so cost is Σ bucket² not n²;
  *  - hash functions are md5-based (seeded by band/row index), i.e.
  *    engine-portable and deterministic — no RNG, no JVM hashCode;
  *  - signatures are bounded per doc (bands × rows md5 strings), so
  *    shuffle volume is O(n), and the same signature table serves both
  *    near-dup and retrieval-style lookups.
  */
object DedupOps {

  /** Exact dedup: group identical texts, keep the smallest id as the
    * canonical representative. One hash-aggregate shuffle; at scale,
    * group on md5(text) instead of the full text to cut shuffle bytes.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))

  /** Distinct w-token shingles per document. Documents with fewer than
    * `w` tokens produce no shingles (and thus no signature) — matching
    * the convention that too-short docs can't be near-dup candidates.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               w: Int = 3): DataFrame = {
    TextOps.windows(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= w), lit(0), size(col("t")) - w) { i =>
        Seq(col(idCol), TextOps.tokenGram(col("t"), i, w).as("shingle"))
      }
      .distinct()
  }

  /** MinHash signature via one-permutation slicing: ONE md5 per shingle,
    * with hash function (band b, row r) = the (b·rows + r)-th 4-hex-char
    * slice of that digest. The min over shingles of each slice is a
    * uniform permutation-min (the classic MinHash; slices of a
    * cryptographic digest are independent), at 1/(bands·rows) of the
    * hashing cost of seeded per-function digests — the md5 is the hot
    * loop at scale. Reproduces bit-for-bit in any engine with md5
    * (the DuckDB oracle uses the same substring formula).
    * Requires bands·rows ≤ 8 (32 hex chars / 4).
    */
  def minhashSignature(sh: DataFrame, idCol: String,
                       bands: Int, rows: Int): DataFrame = {
    require(bands * rows <= 8, "bands*rows must fit 8 4-hex slices of md5")
    val withDigest = sh.withColumn("__d", md5(col("shingle")))
    val aggs = for (b <- 0 until bands; r <- 0 until rows)
      yield min(substring(col("__d"), (b * rows + r) * 4 + 1, 4)).as(s"h_${b}_$r")
    withDigest.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded-LSH near-dup candidate pairs: docs agreeing on ALL `rows`
    * min-hashes of ANY band. The signature is melted to long format
    * (doc, band, band-key) so ALL bands join in ONE equi-join on
    * (band, key) — a single shuffled hash join and a single evaluation
    * of the signature lineage per side, instead of one join branch per
    * band (which re-derives the shingle pipeline `bands` times). The
    * union-of-bands semantics is preserved by the trailing distinct.
    * P(candidate) ≈ 1 − (1 − j^rows)^bands for true Jaccard j.
    */
  def minhashCandidates(sig: DataFrame, idCol: String,
                        bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val keys = (0 until rows).map(r => col(s"h_${b}_$r"))
      struct(lit(b).as("band"), concat_ws("|", keys: _*).as("key"))
    }
    val long = sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    long.select(col(idCol).as("doc_a"), col("band"), col("key"))
      .join(long.select(col(idCol).as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** SimHash signature (32- or 64-bit): per-token md5 → `bits`-bit
    * value; each bit votes ±tf; signature bit = sign of the vote sum.
    * Hamming-close signatures ⇒ near-dup. Engine-portable: the 32-bit
    * token hash is the first 8 hex chars of md5 parsed base-16 (the
    * oracle-checked form); the 64-bit hash assembles TWO independent
    * 32-bit slices — parsing 16 hex chars directly overflows a signed
    * 64-bit parser for values ≥ 2⁶³, which not every engine handles.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, "simhash supports 32 or 64 bits")
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val lo = Md5Int(col("tok"), 1, 8)
    val hashed =
      if (bits == 32) tok.withColumn("hv", lo)
      else tok.withColumn("hv", shiftleft(lo, 32).bitwiseOR(
        Md5Int(col("tok"), 9, 8)))
    // (hv >> i) & 1 is sign-safe: arithmetic shift only perturbs HIGH
    // bits, and & 1 reads the lowest.
    val votes = (0 until bits).map(i =>
      sum(col("tf") * (expr(s"(hv >> $i) & 1") * 2 - 1)).as(s"v_$i"))
    val withVotes = hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    // bitwiseOR, not +: bit 63 is Long.MinValue and addition would
    // overflow; for distinct powers of two OR ≡ + bit-for-bit.
    val sig = (0 until bits).map(i =>
      when(col(s"v_$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    withVotes.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: the signature is split into 4 equal bands
    * (8 bits each at 32, 16 bits each at 64); candidates share ANY band
    * value (an equi-join on the melted (band, key) key — same shape as
    * [[minhashCandidates]]); each candidate's exact Hamming distance is
    * then one xor+popcount. By pigeonhole the banding is EXACT for
    * `maxHamming` ≤ 3: four mismatched bands would need ≥ 4 differing
    * bits, so every pair within the threshold shares at least one band —
    * recall 1.0, never an all-pairs join. Exactness depends only on the
    * band COUNT, so widening each band shrinks buckets without losing a
    * single true pair.
    *
    * `bits = 64` is the corpus-scale knob: 4×16-bit bands keep band
    * buckets at n/2¹⁶ (vs n/2⁸ for the 32-bit form), and the longer
    * signature makes Hamming ≤ 3 a far sharper near-dup test. 32-bit
    * stays the oracle-checked default (its per-token hash parses
    * identically in every md5-capable engine without unsigned overflow).
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bits: Int = 32): DataFrame = {
    require(maxHamming <= 3, "4-band split is exact only for maxHamming <= 3")
    val width = bits / 4
    val mask = (1L << width) - 1
    val sig = simhash(df, idCol, textCol, bits)
    val bands = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        expr(s"(simhash >> ${b * width}) & $mask").as("key")))
    val long = sig.select(col(idCol), col("simhash"),
        explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = long.select(col(idCol).as("doc_a"), col("simhash").as("sig_a"),
      col("band"), col("key"))
    val b = long.select(col(idCol).as("doc_b"), col("simhash").as("sig_b"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sig_a ^ sig_b)").cast("int").as("hamming"))
      // threshold BEFORE distinct: the dedup shuffle then carries only
      // surviving pairs, not every multi-band candidate
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Multiplicity collapse for the pair-generating similarity joins:
    * group documents whose element SETS are identical (md5 fingerprint
    * of the sorted element list — the same content-identity convention
    * as [[incrementalDedup]]'s fingerprint store) under one
    * representative (the smallest id). The candidate/verify machinery
    * then runs on the DISTINCT-set table only, and id-level pairs are
    * re-expanded from group membership afterwards — bit-identical
    * output, but the quadratic candidate stage never sees duplicate
    * mass. This is the q419 weighted-distinct-corpus trick applied to
    * pair joins: real corpora are duplicate-HEAVY (that is why dedup
    * runs at all), so a g-copy family costs g membership rows here
    * instead of g² candidate pairs (the 10×-replica probe measured the
    * uncollapsed forms at ×7–×11 before this landed).
    *
    * Returns the group table (__fp, __gid, __arr, __n, __ms, __gsz),
    * lazily checkpointed — the rep-level machinery, the expansion
    * joins and the within-group pair build all read it.
    */
  private def collapseIdenticalSets(arr: DataFrame,
                                    idCol: String): DataFrame =
    arr
      // \u0001 separator: shingles contain spaces, so a space join
      // would alias {"a b","c"} with {"a","b c"}; control chars never
      // survive whitespace tokenization.
      .withColumn("__fp",
        md5(concat_ws("\u0001",
          array_sort(col("__arr").cast("array<string>")))))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as("__gid"),
        first(col("__arr")).as("__arr"), first(col("__n")).as("__n"),
        collect_list(col(idCol)).as("__ms"), count(lit(1)).as("__gsz"))
      .localCheckpoint(false)

  /** Re-expand rep-level verified pairs to id-level pairs: cross-group
    * pairs via two membership joins (output-sized — never candidate-
    * sized), within-group pairs as the pair self-join of each size-≥2
    * group at score exactly 1.0 (identical sets: the uncollapsed
    * verify computes round(n/n, 6) = 1.0, and identical sets are
    * always candidates — they share every band / every prefix
    * element). `oriented = false` re-orients each id pair
    * (least, greatest) for the symmetric joins and emits each
    * within-group pair once; `oriented = true` keeps the rep pair's
    * direction and emits both within-group directions (the asymmetric
    * containment shape).
    */
  private def expandPairs(repPairs: DataFrame, grouped: DataFrame,
                          scoreCol: String,
                          oriented: Boolean): DataFrame = {
    val members = grouped.select(col("__gid"),
      explode(col("__ms")).as("__m"))
    val cross = repPairs
      .join(members.select(col("__gid").as("doc_a"),
        col("__m").as("__ma")), "doc_a")
      .join(members.select(col("__gid").as("doc_b"),
        col("__m").as("__mb")), "doc_b")
    val crossOut =
      if (oriented)
        cross.select(col("__ma").as("doc_a"), col("__mb").as("doc_b"),
          col(scoreCol))
      else
        cross.select(least(col("__ma"), col("__mb")).as("doc_a"),
          greatest(col("__ma"), col("__mb")).as("doc_b"), col(scoreCol))
    val m = grouped.filter(col("__gsz") >= 2)
      .select(col("__fp"), explode(col("__ms")).as("__m"))
    val within = m
      .join(m.withColumnRenamed("__m", "__m2"), Seq("__fp"))
      .filter(if (oriented) col("__m") =!= col("__m2")
              else col("__m") < col("__m2"))
      .select(col("__m").as("doc_a"), col("__m2").as("doc_b"),
        lit(1.0).as(scoreCol))
    crossOut.unionAll(within)
  }

  /** Per-set distinct element array `__arr` and its size `__n` (long),
    * one row per `idCol`: the compact table the exact overlap verify
    * reads, so a candidate pair costs one array intersection instead
    * of O(|set|) join rows.
    */
  private[operators] def setArrays(df: DataFrame, idCol: String,
                                   elemCol: String): DataFrame =
    df.groupBy(col(idCol))
      .agg(collect_set(col(elemCol)).as("__arr"))
      .withColumn("__n", size(col("__arr")).cast("long"))

  /** Exact set-overlap verify of candidate pairs (doc_a, doc_b): joins
    * the [[setArrays]] table `arr` onto both sides (`__aa`/`__na`,
    * `__ab`/`__nb`) and adds `__c` = |A ∩ B| by codegen'd
    * array_intersect. Each caller forms its own score and filter.
    */
  private[operators] def overlapVerify(pairs: DataFrame, arr: DataFrame,
                                       idCol: String): DataFrame =
    pairs
      .join(arr.select(col(idCol).as("doc_a"), col("__arr").as("__aa"),
        col("__n").as("__na")), "doc_a")
      .join(arr.select(col(idCol).as("doc_b"), col("__arr").as("__ab"),
        col("__n").as("__nb")), "doc_b")
      .withColumn("__c",
        size(array_intersect(col("__aa"), col("__ab"))).cast("long"))

  /** EXACT set-similarity join via prefix filtering (the PPJoin family):
    * all pairs with Jaccard ≥ t, no probabilistic recall. Each set
    * orders its elements rarest-first (global frequency, element string
    * as tie-break) and emits only its first n − ⌈t·n⌉ + 1 elements as
    * blocking keys: two sets with J ≥ t overlap in ≥ ⌈t·n⌉ elements, so
    * by pigeonhole they MUST share a prefix element — recall 1.0 — while
    * prefixes are by construction the rarest elements, so blocking
    * buckets stay small where LSH banding would need tuning. Complements
    * [[lshJaccard]]: that one trades recall for a fixed candidate
    * budget; this one is exact with a data-dependent budget.
    *
    * Shuffles: frequency count (element key), per-set ordering window
    * (set key), candidate equi-join (element key), verify join — all
    * hash-partitioned, never all-pairs.
    */
  def setSimJoin(sets: DataFrame, idCol: String, elemCol: String,
                 t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One pass over the input builds the compact per-set array (rows =
    // |sets|, each bounded by its own set size), then identical sets
    // COLLAPSE to one representative (the q419 weighted-distinct
    // trick): every later stage — frequencies, prefix ordering,
    // candidate sides, exact verify — runs on the distinct-set table,
    // and id-level pairs re-expand from group membership at the end
    // (bit-identical output; the prefix order's frequency basis moves
    // to distinct sets, which is output-neutral — pigeonhole recall
    // holds under ANY shared total order). On a duplicate-heavy corpus
    // the candidate join never sees the g² within-family pair mass.
    val arr0 = setArrays(sets, idCol, elemCol)
    val grouped = collapseIdenticalSets(arr0, idCol)
    val arr = grouped.select(col("__gid").as(idCol), col("__arr"),
      col("__n"))
    val exploded = arr.select(col(idCol), col("__n"),
      explode(col("__arr")).as(elemCol))
    val freq = exploded.groupBy(col(elemCol)).agg(count(lit(1)).as("__tf"))
    val ordered = exploded.join(freq, Seq(elemCol))
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__tf"), col(elemCol))))
    val prefix = ordered
      // 1e-9 slack: if FP noise rounds t·n one ulp above an integer,
      // the bare ceil shortens the prefix by one and silently loses
      // pairs; lengthening it can only ADD candidates (output-neutral,
      // the verify filters). Same guard as containmentJoin's prefix.
      .filter(col("__pos") <=
        col("__n") - ceil(lit(t) * col("__n") - lit(1e-9)).cast("long") + 1)
      .select(col(idCol), col(elemCol), col("__n"), col("__pos"))
    // Candidate pruning, both output-neutral:
    //  - length filter: J ≥ t forces min(na,nb)/max(na,nb) ≥ t, so
    //    wildly different sizes can never verify;
    //  - positional filter (PPJoin proper): a pair meeting J ≥ t needs
    //    overlap ≥ ⌈t·(na+nb)/(1+t)⌉, but elements before the shared
    //    prefix position can contribute at most the prefix element
    //    itself plus what remains after it — overlap ≤ 1 + min(na−pa,
    //    nb−pb). Pairs whose bound is below the requirement are dropped
    //    BEFORE the expensive common-count join (which costs O(na+nb)
    //    join rows per candidate).
    val cand = prefix.select(col(idCol).as("doc_a"), col(elemCol),
        col("__n").as("__na"), col("__pos").as("__pa"))
      .join(prefix.select(col(idCol).as("doc_b"), col(elemCol),
        col("__n").as("__nb"), col("__pos").as("__pb")), Seq(elemCol))
      .filter(col("doc_a") < col("doc_b") &&
        col("__nb") >= lit(t) * col("__na") &&
        col("__na") >= lit(t) * col("__nb") &&
        // integer bound ≥ ⌈x⌉ ⟺ bound ≥ x; the 1e-9 slack keeps FP
        // noise from over-pruning (over-admitting is output-neutral)
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb")) >=
          lit(t) * (col("__na") + col("__nb")) / (lit(1) + lit(t)) - lit(1e-9))
      .select("doc_a", "doc_b").distinct()
    val repPairs = overlapVerify(cand, arr, idCol)
      .select(col("doc_a"), col("doc_b"),
        round(col("__c").cast("double") /
          (col("__na") + col("__nb") - col("__c")), 6).as("jaccard"))
      .filter(col("jaccard") >= t)
    // within-group J = 1.0 ≥ t for any t ≤ 1 — always emitted, exactly
    // as the uncollapsed join did for identical sets.
    expandPairs(repPairs, grouped, "jaccard", oriented = false)
  }

  /** Cross-document chunk-level dedup (the C4/RefinedWeb line-dedup
    * shape): split each document into fixed `w`-token chunks, keep only
    * the globally-first occurrence of each distinct chunk (first by
    * (doc, position) — deterministic), and reassemble the surviving
    * chunks in document order. One window over the chunk-hash key (the
    * dedup shuffle, O(total chunks)) and one hash aggregation on the doc
    * key to reassemble — never a self-join. At 100 TB the md5 chunk key
    * keeps shuffle rows fixed-width regardless of chunk text size.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = TextOps.windows(df.withColumn("t", split(col(textCol), " "))
        .withColumn("n_chunks",
          expr(s"CAST((size(t) - 1) / $w AS INT) + 1").cast("long")),
        lit(0), expr(s"CAST((size(t) - 1) / $w AS INT)")) { i =>
        Seq(col(idCol), col("n_chunks"), i.as("idx"),
          TextOps.tokenChunk(col("t"), i, w).as("chunk"))
      }
    val rn = Window.partitionBy(md5(col("chunk")))
      .orderBy(col(idCol), col("idx"))
    chunks
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(first("n_chunks").as("n_chunks"),
        count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(idx, chunk))), " +
          "x -> x.chunk), ' ')").as("clean_text"))
  }

  /** LSH-candidate + exact n-gram Jaccard: candidates come from the
    * BANDED MinHash join (bands × rows, same key as [[minhashCandidates]]);
    * each candidate pair is then verified with the exact Jaccard
    * |A∩B| / |A∪B| over distinct shingles. The verify join touches only
    * candidate pairs — the standard scalable near-dup shape (LSH recall,
    * exact precision).
    *
    * Skew note: an earlier form keyed candidates on the single global
    * min shingle hash (1 band × 1 row); one common shingle then creates
    * a mega-bucket with Σ bucket² blowup on a skewed corpus. The banded
    * key bounds each bucket by agreement on `rows` independent hashes,
    * which is the property that keeps the candidate join near-linear at
    * 100 TB.
    */
  def lshJaccard(sh: DataFrame, idCol: String,
                 bands: Int = 4, rows: Int = 2): DataFrame = {
    // Identical shingle sets COLLAPSE to one representative before
    // banding (the q419 weighted-distinct trick): minhash signatures,
    // band buckets and the verify join are deterministic functions of
    // the shingle SET, so every member of a copy-family has exactly
    // the representative's candidates — id-level pairs re-expand from
    // group membership afterwards, bit-identical to the uncollapsed
    // form (identical sets share every band ⇒ always candidates, with
    // J = round(n/n, 6) = 1.0). On a duplicate-heavy corpus — the
    // corpus dedup actually runs on — the banded join never sees the
    // g² within-family candidate mass.
    val arr0 = setArrays(sh, idCol, "shingle")
    val grouped = collapseIdenticalSets(arr0, idCol)
    val arr = grouped.select(col("__gid").as(idCol), col("__arr"),
      col("__n"))
    val repSh = arr.select(col(idCol), explode(col("__arr")).as("shingle"))
    val cand = minhashCandidates(
      minhashSignature(repSh, idCol, bands, rows), idCol, bands, rows)
    val repPairs = overlapVerify(cand, arr, idCol)
      // the 4-hex band slices are 16-bit hashes — DISJOINT docs can
      // collide into a shared bucket; the verify's job is to kill that
      // noise, so zero-overlap candidates are dropped, not reported as
      // jaccard-0 "pairs" (also what the join-based count verify did
      // implicitly: no common shingle ⇒ no row)
      .filter(col("__c") > 0)
      .select(col("doc_a"), col("doc_b"),
        round(col("__c").cast("double") /
          (col("__na") + col("__nb") - col("__c")), 6).as("jaccard"))
    expandPairs(repPairs, grouped, "jaccard", oriented = false)
  }

  /** Incremental dedup: admit only `incoming` rows whose exact content
    * fingerprint (md5 of the text) is absent from `history`, keeping
    * the smallest id among in-batch copies. This is the daily-ingest
    * form of dedup — the history side is a fingerprint STORE (one
    * md5 per historical doc, not the text), so re-scanning 100 TB of
    * accumulated corpus is never required: the anti-join runs against
    * a table 100s× smaller than the raw data.
    *
    * Output: one row per admitted incoming doc (id + fingerprint),
    * ready to be unioned back into the fingerprint store.
    */
  def incrementalDedup(history: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val histFp = history.select(md5(col(textCol)).as("fp")).distinct()
    incoming.select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
      .join(histFp, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** Asymmetric containment join: pairs (a, b) where a fraction ≥ `t` of
    * a's shingles also appear in b — the relation Jaccard misses when a
    * small document is swallowed whole by a much larger one (boilerplate
    * inclusion, quote-expansion, chunk-of-document duplication).
    *
    * Candidates come from a rarest-first PREFIX filter on the a-side
    * (the same pigeonhole trick as [[setSimJoin]], adapted to the
    * asymmetric relation): containment ≥ t forces |a∩b| ≥ ⌈t·|a|⌉, so if
    * NONE of a's first |a| − ⌈t·|a|⌉ + 1 shingles (in global
    * rarest-first order) appear in b, at most ⌈t·|a|⌉ − 1 of a's
    * shingles can — below threshold. Recall is therefore exactly 1.0
    * while the candidate equi-join keys only on a's RAREST shingles: a
    * boilerplate shingle shared by f documents lands in almost no
    * prefix, so its bucket is ~0 × f instead of the f² the raw
    * inverted-index self-join produces. The b-side stays the full
    * shingle set (containment is asymmetric — b merely needs to contain
    * the element), and the size precondition |b| ≥ t·|a| prunes before
    * the exact intersection count (output-neutral: |a∩b| ≤ |b|).
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The text is parsed ONCE into a compact per-doc shingle-array
    // table (|docs| rows, each bounded by the doc's own length) and
    // persisted; frequencies, the prefix, the b-side and the verify
    // step all derive from that cache with cheap explodes instead of
    // re-running split/explode/distinct per subplan. (Persisting the
    // EXPLODED stream instead measured slower than re-deriving it under
    // executor memory pressure — compactness is what makes the cache
    // pay for itself.)
    // Identical shingle sets additionally COLLAPSE to one
    // representative (the q419 weighted-distinct trick): prefix,
    // b-side and verify run on distinct sets only, and the directed
    // id-level pairs re-expand from group membership at the end —
    // bit-identical output (identical sets: containment = 1.0 both
    // ways, always candidates), never the g² within-family candidate
    // mass on a duplicate-heavy corpus.
    val arr0 = shingles(df, idCol, textCol)
      .groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("__arr"))
      .withColumn("__n", size(col("__arr")).cast("long"))
    val grouped = collapseIdenticalSets(arr0, idCol)
    val arr = grouped.select(col("__gid").as(idCol), col("__arr"),
      col("__n"))
    val exploded = arr.select(col(idCol), col("__n"),
      explode(col("__arr")).as("shingle"))
    val freq = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("__tf"))
    // The 1e-9 slack keeps FP noise in t·n from rounding the ceil UP
    // (which would shorten the prefix and lose pairs); rounding DOWN
    // only lengthens the prefix — over-admission is output-neutral.
    val prefix = exploded.join(freq, Seq("shingle"))
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__tf"), col("shingle"))))
      .filter(col("__pos") <=
        col("__n") - ceil(lit(t) * col("__n") - lit(1e-9)).cast("long") + 1)
      .select(col(idCol).as("doc_a"), col("shingle"), col("__n").as("__na"))
    val b = exploded.select(col(idCol).as("doc_b"), col("__n").as("__nb"),
      col("shingle"))
    val cand = prefix.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("__nb").cast("double") >= lit(t) * col("__na"))
      .select("doc_a", "doc_b", "__na").distinct()
    // exact verify: codegen'd array intersection on candidate pairs
    // only — no re-explosion, no O(pairs × |doc|) join rows
    val repPairs = cand
      .join(arr.select(col(idCol).as("doc_a"), col("__arr").as("__aa")), "doc_a")
      .join(arr.select(col(idCol).as("doc_b"), col("__arr").as("__ab")), "doc_b")
      .withColumn("__inter",
        size(array_intersect(col("__aa"), col("__ab"))).cast("long"))
      .filter(col("__inter").cast("double") >= lit(t) * col("__na"))
      .select(col("doc_a"), col("doc_b"),
        round(col("__inter").cast("double") / col("__na"), 6).as("containment"))
    // oriented: containment is asymmetric — keep rep-pair direction
    // and emit both within-group directions (identical sets contain
    // each other at exactly 1.0).
    expandPairs(repPairs, grouped, "containment", oriented = true)
  }

  /** Survivorship / golden-record merge: given per-record cluster
    * labels (e.g. [[graft.operators.GraphOps.connectedComponents]]
    * over MinHash candidate pairs), collapse each cluster to ONE
    * canonical row — the entity-resolution step after "which records
    * are the same thing" is answered.
    *
    * Rules are the standard deterministic survivorship pair:
    *   - canonical record = the member with the largest `sizeCol`
    *     (completeness proxy), ties to the SMALLEST id — computed as
    *     one `max(struct(size, −id))` aggregate, so no per-cluster
    *     window ever sorts member rows (a hub cluster of a million
    *     records costs one agg key, not a million-row sort);
    *   - merged categorical = the cluster mode of `attrCol`, ties to
    *     the lexicographically smallest value — `min(struct(−count,
    *     attr))` over the (cluster, attr) count table, same
    *     aggregate-only discipline.
    *
    * `df` must already carry the cluster label (join your cluster
    * table before calling). Output: one row per cluster with
    * (cluster, n_members, total `sizeCol`, canonical id + its size,
    * mode attr).
    */
  def survivorship(df: DataFrame, clusterCol: String, idCol: String,
                   sizeCol: String, attrCol: String): DataFrame = {
    val base = df.select(col(clusterCol).as("cluster_id"),
      col(idCol).cast("long").as("__id"),
      col(sizeCol).cast("long").as("__sz"), col(attrCol).as("__attr"))
    val canon = base.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("__sz")).as("total_size"),
        max(struct(col("__sz"), (-col("__id")).as("__nid"))).as("__c"))
      .select(col("cluster_id"), col("n_members"), col("total_size"),
        (-col("__c.__nid")).as("canonical_id"),
        col("__c.__sz").as("canonical_size"))
    val mode = base.groupBy("cluster_id", "__attr")
      .agg(count(lit(1)).as("__cnt"))
      .groupBy("cluster_id")
      .agg(min(struct((-col("__cnt")).as("__neg"), col("__attr"))).as("__m"))
      .select(col("cluster_id"), col("__m.__attr").as("mode_attr"))
    canon.join(mode, "cluster_id")
  }

  /** Dedup threshold sweep: the OTHER dedup dial — given the verified
    * near-dup pairs ([[lshJaccard]]), how much of the corpus does each
    * Jaccard cutoff actually remove? One row per candidate threshold
    * t ∈ {0.0, 0.1, …, 0.9}: the pairs at or above t and the distinct
    * documents those pairs touch (the upper bound on removals — the
    * per-cluster keep-one step removes touched − clusters docs).
    * Reading the curve before committing a threshold prevents both
    * under-dedup (t too high, near-dups survive) and corpus collapse
    * (t too low, templated families merge).
    *
    * Scale: the pair table is already the bounded LSH-verified set;
    * the 10-threshold grid EXPLODES row-locally (sequence + filter —
    * no join), and both reductions are hash aggs on the ≤10-row grid
    * key. Nothing corpus-sized moves.
    */
  def dedupThresholdSweep(sh: DataFrame, idCol: String,
                          bands: Int = 4, rows: Int = 2): DataFrame = {
    val j = lshJaccard(sh, idCol, bands, rows)
    val f = j.select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(expr("sequence(0, 9)")).as("tidx"))
      .filter(col("jaccard") >= col("tidx") / lit(10.0))
    val pairs = f.groupBy("tidx").agg(count(lit(1)).as("n_pairs"))
    val docs = f.select(col("tidx"),
        explode(array(col("doc_a"), col("doc_b"))).as("__doc"))
      .groupBy("tidx").agg(countDistinct(col("__doc")).as("n_docs"))
    val grid = sh.sparkSession.range(10)
      .select(col("id").cast("int").as("tidx"))
    grid.join(pairs, Seq("tidx"), "left").join(docs, Seq("tidx"), "left")
      .select(col("tidx").cast("long").as("tidx"),
        round(col("tidx") / lit(10.0), 1).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** LSH banding advisor: the dial everyone mis-sets at 100 TB. For
    * every (bands, rows) factorization of the 8-slice signature it
    * reports BOTH halves of the decision:
    *  - the closed-form S-curve numbers — `s_curve` = (1/b)^(1/r),
    *    the Jaccard level where P(candidate) crosses ~50%, and
    *    `p_at_target` = 1 − (1 − t^r)^b, the capture probability at
    *    the caller's target similarity; and
    *  - the MEASURED candidate workload on the actual corpus —
    *    `n_buckets` and `est_pairs` = Σ n·(n−1)/2 over that banding's
    *    band-buckets, which is exactly the number of pair rows the
    *    candidate equi-join would emit (a pair agreeing in several
    *    bands is counted once per band, as the join would).
    * Choosing (b, r) is then reading the row where p_at_target is
    * acceptable and est_pairs is affordable.
    *
    * Scale: the 8 slice-minima are computed ONCE (one shingle-table
    * agg — the md5 hot loop is not repeated per config); each doc then
    * melts to Σb = 15 (config, band, key) rows and ONE hash agg counts
    * every banding's buckets. The 4-row curve table is driver-built
    * constants (pure math, no data) joined broadcast.
    */
  def lshBandingAdvisor(sh: DataFrame, idCol: String,
                        targetJaccard: Double): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val cfgs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val sig = minhashSignature(sh, idCol, 8, 1) // h_i_0 = slice i min
    val bandStructs = cfgs.flatMap { case (b, r) =>
      (0 until b).map { bi =>
        val keys = (bi * r until bi * r + r).map(i => col(s"h_${i}_0"))
        struct(lit(b).as("bands"), lit(bi).as("band"),
          concat_ws("|", keys: _*).as("key"))
      }
    }
    val long = sig.select(explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.bands").as("bands"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val stats = long.groupBy("bands", "band", "key")
      .agg(count(lit(1)).as("__n"))
      .groupBy("bands").agg(
        count(lit(1)).as("n_buckets"),
        sum(expr("__n * (__n - 1) div 2")).as("est_pairs"))
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val curve = cfgs.map { case (b, r) =>
      (b, r, r6(math.pow(1.0 / b, 1.0 / r)),
        r6(1.0 - math.pow(1.0 - math.pow(targetJaccard, r), b)))
    }.toDF("bands", "rows_per_band", "s_curve", "p_at_target")
    curve.join(broadcast(stats), Seq("bands"), "left")
      .select(col("bands"), col("rows_per_band"), col("s_curve"),
        col("p_at_target"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("est_pairs"), lit(0L)).as("est_pairs"))
  }

  /** Benchmark-contamination SPAN report — the per-document sequel to
    * the hit-count check (q94 / GPT-3 appendix C dedup): for every
    * non-benchmark document, how many of its n-gram positions match a
    * benchmark shingle AND the longest CONSECUTIVE matched run. A long
    * run is verbatim leakage a position-count alone can't distinguish
    * from scattered common phrases — the run length is what decides
    * "drop the doc" vs "ignore".
    *
    * Scale: one tokenize pass (localCheckpoint'd — benchmark and
    * corpus sides both read it), the match is a semi-join on the
    * shingle string, and runs come from the gaps-and-islands trick
    * under a per-DOCUMENT window (pos − row_number — never a global
    * sort). The contamination rate is an exact half-up division.
    */
  def contaminationSpans(df: DataFrame, idCol: String, textCol: String,
                         benchCol: Column, n: Int = 3): DataFrame = {
    val sh = TextOps.windows(df.withColumn("__e", benchCol)
        .withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= n), lit(0), size(col("t")) - n) { i =>
        Seq(col(idCol), col("__e"), i.as("pos"),
          TextOps.tokenGram(col("t"), i, n).as("s"))
      }
      // LAZY localCheckpoint: the benchmark shingle set and the corpus
      // positions both read the tokenize pass.
      .localCheckpoint(false)
    val bench = sh.filter(col("__e")).select("s").distinct()
    val rest = sh.filter(!col("__e"))
    val runs = rest.join(bench, Seq("s"), "left_semi")
      .withColumn("__isl", col("pos") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))))
      .groupBy(col(idCol), col("__isl"))
      .agg(count(lit(1)).as("__r"))
      .groupBy(col(idCol))
      .agg(sum(col("__r")).as("n_matched"),
        max(col("__r")).as("longest_run"))
    rest.groupBy(col(idCol)).agg(count(lit(1)).as("n_pos"))
      .join(runs, Seq(idCol), "left")
      .select(col(idCol), col("n_pos"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
      .withColumn("contamination", expr(
        "CAST((n_matched * 2000000 + n_pos) div (2 * n_pos) AS DOUBLE)" +
          " / 1000000"))
  }

  /** Near-dup pair QA report — the audit table read before trusting a
    * dedup run: the LSH-verified candidate pairs bucketed by Jaccard
    * decile, with per-decile pair counts, mean containment
    * (|∩|/min(|A|,|B|) — how asymmetric the overlaps are) and mean
    * size ratio (min/max shingle-set sizes — are we matching equals or
    * swallowing fragments). A healthy corpus shows mass in the top
    * deciles with size ratio near 1; mass in low deciles with small
    * ratios means the banding is admitting fragment noise — the
    * empirical companion to [[lshBandingAdvisor]]'s S-curve.
    *
    * Scale: the same banded equi-join + persisted-array verify as
    * [[lshJaccard]] (Σ bucket² candidates, one extra shingle scan);
    * the decile index and both per-pair ratios are exact integer
    * half-up divisions, and per-decile means average those exact ppm
    * integers — no float boundary anywhere.
    */
  /** Cross-source duplicate-flow matrix — dedup PROVENANCE: for every
    * (source_a ≤ source_b) pair, how many duplicated text units span
    * the two sources and how many unit pairs that is. The unit is the
    * whole document (`chunkTokens` = 0, exact-dup flow) or a fixed
    * `chunkTokens`-token chunk (boilerplate/syndication flow — shared
    * passages show up long before whole documents collide). The
    * diagonal (a = b) is within-source duplication (a mirror or a
    * crawler loop); heavy off-diagonal cells are syndication between
    * sources — the table that says WHERE the dup load of the corpus
    * datasheet comes from.
    *
    * Scale: one (source, unit-hash) hash aggregation; only hash groups
    * with a duplicate survive to the self-join (bounded by the dup
    * load, not the corpus), and the join is an equi-join on the hash.
    * Unit-pair counts are exact: c·(c−1)/2 on the diagonal, c_a·c_b
    * off it.
    */
  def dupFlowMatrix(df: DataFrame, srcCol: String, textCol: String,
                    chunkTokens: Int = 0): DataFrame = {
    val units =
      if (chunkTokens <= 0)
        df.select(col(srcCol).as("__s"), md5(col(textCol)).as("__h"))
      else
        TextOps.windows(df.withColumn("t", split(col(textCol), " ")), lit(0),
            expr(s"(size(t) - 1) div $chunkTokens")) { i =>
          Seq(col(srcCol).as("__s"),
            md5(TextOps.tokenChunk(col("t"), i, chunkTokens)).as("__h"))
        }
    val d = units.groupBy(col("__h"), col("__s"))
      .agg(count(lit(1)).as("__c"))
    // keep only hashes that can form a pair (≥2 docs total)
    val dup = d.withColumn("__tc",
        sum(col("__c")).over(Window.partitionBy(col("__h"))))
      .filter(col("__tc") > 1)
      .localCheckpoint(false)
    val a = dup.select(col("__h"), col("__s").as("source_a"),
      col("__c").as("__ca"))
    val b = dup.select(col("__h"), col("__s").as("source_b"),
      col("__c").as("__cb"))
    a.join(b, Seq("__h"))
      .filter(col("source_a") <= col("source_b"))
      .filter(col("source_a") =!= col("source_b") || col("__ca") >= 2)
      .withColumn("__pairs",
        when(col("source_a") === col("source_b"),
          expr("(__ca * (__ca - 1)) div 2"))
          .otherwise(col("__ca") * col("__cb")).cast("long"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__pairs")).as("n_unit_pairs"))
  }

  def pairQaReport(sh: DataFrame, idCol: String,
                   bands: Int = 4, rows: Int = 2): DataFrame = {
    val cand = minhashCandidates(
      minhashSignature(sh, idCol, bands, rows), idCol, bands, rows)
    val arr = setArrays(sh, idCol, "shingle").localCheckpoint(false)
    overlapVerify(cand, arr, idCol)
      .filter(col("__c") > 0)
      .withColumn("__u", col("__na") + col("__nb") - col("__c"))
      .withColumn("__mn", least(col("__na"), col("__nb")))
      .withColumn("__mx", greatest(col("__na"), col("__nb")))
      // decile = floor(10·j) exactly: integer div of the rational form
      .withColumn("decile",
        least(lit(9L), expr("(__c * 10) div __u")).cast("int"))
      .withColumn("__jppm", expr(
        "(__c * 2000000 + __u) div (2 * __u)"))
      .withColumn("__cppm", expr(
        "(__c * 2000000 + __mn) div (2 * __mn)"))
      .withColumn("__rppm", expr(
        "(__mn * 2000000 + __mx) div (2 * __mx)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__jppm")).as("__sj"), sum(col("__cppm")).as("__sc"),
        sum(col("__rppm")).as("__sr"))
      .select(col("decile"), col("n_pairs"),
        expr("CAST((__sj * 2 + n_pairs) div (2 * n_pairs) AS DOUBLE)" +
          " / 1000000").as("mean_jaccard"),
        expr("CAST((__sc * 2 + n_pairs) div (2 * n_pairs) AS DOUBLE)" +
          " / 1000000").as("mean_containment"),
        expr("CAST((__sr * 2 + n_pairs) div (2 * n_pairs) AS DOUBLE)" +
          " / 1000000").as("mean_size_ratio"))
  }

  /** Prefix/continuation duplicate audit: hashes the first and last
    * `k` tokens of every (≥ k-token) document. Documents sharing a
    * PREFIX hash are truncation/variant families (the same article
    * cut at different lengths — whole-doc hashing misses every one);
    * a document whose SUFFIX hash equals another document's prefix
    * hash is a CONTINUATION link (one source document split across
    * crawl records — training on both teaches the seam twice).
    * Reports, per document: its prefix-family size, a shares-prefix
    * flag, and its continuation in/out degrees; short documents keep
    * zeros.
    *
    * Scale: one row-local hash pass (checkpointed once for its four
    * consumers), one hash aggregation on the prefix hash, and one
    * equi-join suffix-hash = prefix-hash — candidate volume is the
    * boundary-hash collision load, never all pairs; the zero-fill is
    * an id-spine left join.
    */
  def prefixSuffixDup(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 15): DataFrame = {
    val t = df.withColumn("__t", split(col(textCol), " "))
      .filter(size(col("__t")) >= k)
      .select(col(idCol),
        md5(concat_ws(" ", slice(col("__t"), 1, k))).as("__ph"),
        md5(concat_ws(" ", expr(s"slice(__t, -$k, $k)"))).as("__sh"))
      // LAZY localCheckpoint: prefix census, both link sides, and the
      // per-doc join-back all read the boundary-hash table.
      .localCheckpoint(false)
    val pg = t.groupBy(col("__ph")).agg(count(lit(1)).as("__pg"))
    val links = t.select(col(idCol).as("__a"), col("__sh").as("__h"))
      .join(t.select(col(idCol).as("__b"), col("__ph").as("__h")),
        Seq("__h"))
      .filter(col("__a") =!= col("__b"))
    val outc = links.groupBy(col("__a").as(idCol))
      .agg(count(lit(1)).as("__out"))
    val inc = links.groupBy(col("__b").as(idCol))
      .agg(count(lit(1)).as("__in"))
    df.select(col(idCol))
      .join(t.join(pg, Seq("__ph")).select(col(idCol), col("__pg")),
        Seq(idCol), "left")
      .join(outc, Seq(idCol), "left")
      .join(inc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__pg"), lit(0L)).as("prefix_group_size"),
        (coalesce(col("__pg"), lit(0L)) > 1).cast("long")
          .as("shares_prefix"),
        coalesce(col("__out"), lit(0L)).as("cont_out"),
        coalesce(col("__in"), lit(0L)).as("cont_in"))
  }

  /** Dedup survivor-policy comparison over prefix families (clusters
    * of ≥2 documents sharing their first `k` tokens — the truncated-
    * variant families where, unlike exact-dup clusters, members
    * actually DIFFER): for keep-first (smallest id — the usual "first
    * crawl wins"), keep-longest, and keep-most-distinct-tokens, the
    * tokens a dedup pass would retain vs drop. Exact-dup dedup is
    * policy-insensitive; prefix-family dedup is NOT, and this is the
    * table that prices the choice before a 100 TB pass commits to
    * one.
    *
    * Scale: one row-local signal pass, one hash aggregation per
    * cluster — each policy's survivor is an arg-extreme via struct
    * min/max (id tie-breaks pinned; never a window, never a self-
    * join), then a constant 3-way melt onto |policies| rows.
    */
  def dedupPolicyCompare(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 15): DataFrame = {
    val t = df.withColumn("__t", split(col(textCol), " "))
      .filter(size(col("__t")) >= k)
      .select(col(idCol).as("__id"),
        md5(concat_ws(" ", slice(col("__t"), 1, k))).as("__ph"),
        size(col("__t")).cast("long").as("__n"),
        size(array_distinct(col("__t"))).cast("long").as("__nd"))
    val cl = t.groupBy(col("__ph"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__n")).as("__tot"),
        min(struct(col("__id"), col("__n").as("__fn"))).as("__first"),
        max(struct(col("__n"), (-col("__id")).as("__neg")))
          .as("__long"),
        max(struct(col("__nd"), (-col("__id")).as("__neg"),
          col("__n").as("__dn"))).as("__dist"))
      .filter(col("__cnt") >= 2)
    cl.select(col("__cnt"), col("__tot"), explode(array(
        struct(lit("keep_first").as("policy"),
          col("__first").getField("__fn").as("kept")),
        struct(lit("keep_longest").as("policy"),
          col("__long").getField("__n").as("kept")),
        struct(lit("keep_most_distinct").as("policy"),
          col("__dist").getField("__dn").as("kept")))).as("__e"))
      .select(col("__e.policy").as("policy"),
        col("__e.kept").as("__kept"), col("__cnt"), col("__tot"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__cnt")).as("n_docs"),
        sum(col("__kept")).as("tokens_kept"),
        sum(col("__tot") - col("__kept")).as("tokens_dropped"))
      .select(col("policy"), col("n_clusters"), col("n_docs"),
        col("tokens_kept"), col("tokens_dropped"),
        expr("CAST((tokens_kept * 2000000 + tokens_kept + " +
          "tokens_dropped) div (2 * (tokens_kept + tokens_dropped)) " +
          "AS BIGINT)").as("kept_ppm"))
  }

  /** Dedup savings projection per source: the tokens an exact-dedup
    * pass saves WITHIN each source versus the EXTRA tokens saved only
    * when dedup crosses source boundaries (global keep-one, survivor
    * = smallest id) — the cost/benefit table for the most expensive
    * decision in a 100 TB dedup: whether to shuffle all sources into
    * one key space or dedup each source independently. Cross-source
    * drops attribute to the source that loses the copy.
    *
    * Scale: one row-local hash pass (checkpointed for its two
    * aggregations), cluster survivors via struct-min (never a
    * window), and a cluster-keyed equi-join — all arithmetic is exact
    * integers.
    */
  def dedupSavings(df: DataFrame, idCol: String, srcCol: String,
                   textCol: String): DataFrame = {
    val t = df.select(col(idCol).as("__id"), col(srcCol).as("__src"),
        md5(col(textCol)).as("__h"),
        size(split(col(textCol), " ")).cast("long").as("__n"))
      // LAZY localCheckpoint: the cluster table and the
      // (cluster, source) census both read the hashed pass.
      .localCheckpoint(false)
    val cl = t.groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__src").as("__ss")))
        .as("__surv"), min(col("__n")).as("__tg"))
      .select(col("__h"), col("__surv").getField("__ss").as("__ssrc"),
        col("__tg"))
    val cs = t.groupBy(col("__h"), col("__src"))
      .agg(count(lit(1)).as("__cs"))
    cs.join(cl, Seq("__h"))
      .groupBy(col("__src"))
      .agg(sum(col("__cs") * col("__tg")).as("tokens_raw"),
        sum((col("__cs") - 1) * col("__tg")).as("dup_tokens_within"),
        sum((col("__cs") - when(col("__src") === col("__ssrc"), 1L)
          .otherwise(0L)) * col("__tg")).as("__glob"))
      .select(col("__src").as("source"), col("tokens_raw"),
        col("dup_tokens_within"),
        (col("__glob") - col("dup_tokens_within"))
          .as("dup_tokens_cross_extra"),
        expr("CAST((__glob * 2000000 + tokens_raw) div " +
          "(2 * tokens_raw) AS BIGINT)").as("savings_ppm"))
  }

  /** Exact-duplicate load by document-length decile: are the corpus's
    * copies concentrated in its short (navigation stubs, error pages)
    * or long tail? Output per length decile: doc count, duplicated-doc
    * count (md5-of-text group size > 1 — every member counts, not just
    * the surplus), exact half-up dup ppm, and the lift of the decile's
    * dup rate over the corpus rate. The table that decides whether a
    * "drop everything under N tokens" gate and the dedup pass are
    * redundant or complementary.
    *
    * Scale: the fingerprint window partitions on the md5 (group sizes
    * are duplicate-family sizes — bounded), the decile comes from
    * [[MetricOps.globalRank]]'s histogram rank (no single-partition
    * window anywhere), and the final grid is ≤10 rows.
    */
  def dupLengthProfile(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val base = df.select(col(idCol), md5(col(textCol)).as("__h"),
        size(split(col(textCol), " ")).cast("long").as("__len"))
      // LAZY localCheckpoint: the dup window, the count, and the rank
      // pass all read the fingerprint table.
      .localCheckpoint(false)
    val flagged = base.withColumn("__dup",
      (count(lit(1)).over(Window.partitionBy(col("__h"))) > 1)
        .cast("long"))
    val n = base.agg(count(lit(1)).as("__nn"))
    val g = MetricOps.globalRank(flagged.crossJoin(broadcast(n)),
        "__len", idCol)
      .withColumn("len_decile",
        expr("CAST(((r - 1) * 10) div __nn AS BIGINT)"))
      .groupBy(col("len_decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__dup")).as("n_dup"))
      // ≤10 rows feed the corpus total and the final projection.
      .localCheckpoint(false)
    val tot = g.agg(sum(col("n_docs")).as("__td"),
      sum(col("n_dup")).as("__tdup"))
    g.crossJoin(broadcast(tot))
      .select(col("len_decile"), col("n_docs"), col("n_dup"),
        expr("CAST((n_dup * 2000000 + n_docs) div (2 * n_docs) " +
          "AS BIGINT)").as("dup_ppm"),
        when(col("__tdup") === 0, lit(null))
          .otherwise(round(col("n_dup").cast("double") * col("__td") /
            (col("n_docs").cast("double") * col("__tdup")), 6))
          .as("lift"))
  }

  /** MinHash fidelity audit: over the banded-LSH candidate pairs,
    * compare the signature's Jaccard ESTIMATE (matching fraction of
    * the first `h` min-hash slices, for each h in `hs`) against the
    * exact shingle Jaccard — mean absolute error and signed bias per
    * signature size. The tuning table for "how many hashes does this
    * corpus actually need": if MAE at 4 hashes ≈ MAE at 8, half the
    * signature bytes (and half the band-join shuffle) are free.
    * Zero-overlap candidates (16-bit band-slice collisions) stay in —
    * the estimator's collision noise is part of the measured bias.
    *
    * Scale: pairs come only from LSH buckets (never n²); the per-pair
    * error terms snap to 12 dp and accumulate as DECIMAL(38,12), so
    * the means reproduce across engines and partitionings.
    */
  def minhashFidelity(df: DataFrame, idCol: String, textCol: String,
                      hs: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    require(hs.forall(h => h >= 1 && h <= 8), "slice counts fit md5")
    val sh = shingles(df, idCol, textCol)
      // LAZY localCheckpoint: the signature pass and the exact-verify
      // array build both read the shingle stream.
      .localCheckpoint(false)
    val sig = minhashSignature(sh, idCol, 4, 2)
      // feeds the candidate join (twice) and both per-side slice joins
      .localCheckpoint(false)
    val cand = minhashCandidates(sig, idCol, 4, 2)
    val slices = for (b <- 0 until 4; r <- 0 until 2) yield s"h_${b}_$r"
    val arr = setArrays(sh, idCol, "shingle").localCheckpoint(false)
    def side(tag: String) = sig.select(
      col(idCol).as(s"doc_$tag") +: slices.map(c => col(c).as(s"${c}_$tag")): _*)
    val matches = slices.map(c =>
      (col(s"${c}_a") === col(s"${c}_b")).cast("int"))
    val pairs = overlapVerify(
        cand.join(side("a"), "doc_a").join(side("b"), "doc_b"), arr, idCol)
      .withColumn("__j", col("__c").cast("double") /
        (col("__na") + col("__nb") - col("__c")))
      .withColumn("__m", array(matches: _*))
      .select(col("__j"), col("__m"))
      // the bounded pair table feeds one explode per h in `hs`.
      .localCheckpoint(false)
    MetricOps.fidelitySummary(
      pairs.select(col("__j"), col("__m"),
          explode(typedLit(hs)).as("n_hashes"))
        .withColumn("__est", expr("CAST(aggregate(slice(__m, 1, n_hashes), " +
          "0, (a, x) -> a + x) AS DOUBLE) / n_hashes")),
      "n_hashes", "n_hashes", col("__est"), col("__j"))
  }

  /** Near-dup cluster source-purity report: connected components over
    * the banded-LSH candidate graph, multi-doc clusters grouped by how
    * many distinct sources they span. One-source clusters are a
    * source's internal boilerplate (dedup locally, no cross-source
    * shuffle needed); multi-source clusters are syndication/mirror
    * content whose dedup NEEDS the global pass — this table prices
    * that decision (the near-dup complement of the exact-hash
    * [[dedupSavings]] / dup-flow view).
    *
    * Scale: candidate pairs only from LSH buckets; components via
    * [[GraphOps.connectedComponents]] (iterative min-label over the
    * SMALL edge list, label-sum convergence); the purity rollup is two
    * bounded hash aggs.
    */
  def neardupClusterPurity(df: DataFrame, idCol: String,
                           srcCol: String, textCol: String): DataFrame = {
    val pairs = minhashCandidates(
      minhashSignature(shingles(df, idCol, textCol), idCol, 4, 2),
      idCol, 4, 2)
    val cc = GraphOps.connectedComponents(df.select(col(idCol)), idCol,
      pairs, "doc_a", "doc_b")
    val per = cc
      .join(df.select(col(idCol).as("node"), col(srcCol).as("__src")),
        Seq("node"))
      .groupBy(col("label"), col("__src"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("label"))
      .agg(sum(col("__c")).as("__size"), count(lit(1)).as("__ns"))
      .filter(col("__size") > 1)
    per.groupBy(col("__ns").as("n_sources"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__size")).as("n_docs"),
        max(col("__size")).as("max_cluster"))
  }

  /** Train/eval split-leakage audit: with a deterministic 90/10
    * membership split (the frozen-eval-set shape), how many EVAL
    * documents have a verified near-duplicate in TRAIN — per source.
    * This is the contamination a random split inflicts by
    * construction: near-dup families straddle any id-hash split, so
    * eval scores on leaked docs measure memorization, not
    * generalization. The fix (split by cluster, not by doc) starts
    * from this table.
    *
    * Scale: pairs come only from the banded-LSH verify
    * ([[lshJaccard]] — never n²); the split/source labels join on the
    * id key; leaked-eval dedup is one distinct on the (small) leaked
    * id set; totals are one per-source hash agg over the eval slice.
    */
  def splitLeakage(df: DataFrame, idCol: String, srcCol: String,
                   textCol: String,
                   threshold: Double = 0.5): DataFrame =
    flaggedPartnerCensus(df, idCol, srcCol, textCol, threshold,
      MixtureOps.membership(idCol) >= 0.9,
      "n_eval", "n_leaked", "leak_ppm")

  /** Deletion blast-radius audit: for a deterministic delete list
    * (`delFlag` rows — takedowns, opt-outs, right-to-be-forgotten
    * batches), how many deleted documents leave a verified NEAR-DUP
    * behind in the surviving corpus, per source. Row deletion is
    * compliance theater when the content persists as a mirror or a
    * light rewrite — this table measures that residue, and a nonzero
    * rate says the deletion pipeline must delete by CLUSTER
    * ([[GraphOps.connectedComponents]] over the same pair graph), not
    * by id.
    *
    * Scale: identical to [[splitLeakage]]'s census — LSH-verified
    * pairs only, id-keyed label joins, one per-source agg.
    */
  def deletionRadius(df: DataFrame, idCol: String, srcCol: String,
                     textCol: String, delFlag: Column,
                     threshold: Double = 0.5): DataFrame =
    flaggedPartnerCensus(df, idCol, srcCol, textCol, threshold,
      delFlag, "n_deleted", "n_residual", "residual_ppm")

  /** Shared census: per source, how many FLAGGED documents have a
    * verified near-dup partner among the UNFLAGGED — the shape behind
    * both the eval-split leakage audit (flag = eval membership) and
    * the deletion blast radius (flag = delete list).
    */
  private def flaggedPartnerCensus(df: DataFrame, idCol: String,
                                   srcCol: String, textCol: String,
                                   threshold: Double, flag: Column,
                                   nFlagged: String, nHit: String,
                                   ppm: String): DataFrame = {
    val pairs = lshJaccard(shingles(df, idCol, textCol), idCol, 4, 2)
      .filter(col("jaccard") >= threshold)
    val lab = df.select(col(idCol).as("__id"), col(srcCol).as("__src"),
        flag.cast("int").as("__ev"))
      // LAZY localCheckpoint: the subject side, the partner side and
      // the flagged census all read the labeled spine.
      .localCheckpoint(false)
    val dir = pairs.select(col("doc_a").as("__s"), col("doc_b").as("__p"))
      .unionAll(pairs.select(col("doc_b").as("__s"),
        col("doc_a").as("__p")))
    val hit = dir
      .join(lab.select(col("__id").as("__s"), col("__ev").as("__se")),
        Seq("__s"))
      .join(lab.select(col("__id").as("__p"), col("__ev").as("__pe")),
        Seq("__p"))
      .filter(col("__se") === 1 && col("__pe") === 0)
      .select(col("__s")).distinct()
      .withColumn("__lk", lit(1L))
    lab.filter(col("__ev") === 1)
      .join(hit, col("__id") === col("__s"), "left")
      .groupBy(col("__src").as("source"))
      .agg(count(lit(1)).as(nFlagged), count(col("__lk")).as(nHit))
      .select(col("source"), col(nFlagged), col(nHit),
        expr(s"CAST(($nHit * 2000000 + $nFlagged) div (2 * $nFlagged) " +
          "AS BIGINT)").as(ppm))
  }

  /** Leakage-SAFE split builder: assign train/eval by NEAR-DUP
    * CLUSTER, not by document — connected components over the banded
    * MinHash candidate graph, then one deterministic membership draw
    * per cluster LABEL, so a copy-family can never straddle the
    * split (the fix for what [[splitLeakage]] measures). Reports the
    * achieved eval fraction per source: deviation from the target is
    * the price of cluster-atomic assignment (lumpy families), which
    * is exactly what the owner needs to see before freezing the
    * eval set.
    *
    * Scale: candidates only from LSH buckets; components via
    * [[GraphOps.connectedComponents]]; the draw is row-local on the
    * cluster label; one per-source agg.
    */
  def clusterSplit(df: DataFrame, idCol: String, srcCol: String,
                   textCol: String,
                   evalFrac: Double = 0.1): DataFrame = {
    val cc = GraphOps.connectedComponents(df.select(col(idCol)), idCol,
      minhashCandidates(
        minhashSignature(shingles(df, idCol, textCol), idCol, 4, 2),
        idCol, 4, 2), "doc_a", "doc_b")
    df.select(col(idCol), col(srcCol).as("source"))
      .join(cc.select(col("node").as(idCol), col("label")), Seq(idCol))
      .withColumn("__ev",
        (MixtureOps.membership("label") >= 1.0 - evalFrac).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ev")).as("n_eval"))
      .select(col("source"), col("n_docs"), col("n_eval"),
        expr("CAST((n_eval * 2000000 + n_docs) div (2 * n_docs) " +
          "AS BIGINT)").as("eval_ppm"))
  }

  /** Corpus-growth trigram accretion: deal documents into `nBuckets`
    * deterministic growth slices (membership deciles — "the corpus at
    * 10%, 20%, …"), attribute every distinct trigram to the FIRST
    * slice that contains it, and report new-vs-cumulative distinct
    * trigrams per slice. The marginal-novelty curve: when n_new per
    * added slice flattens, additional same-distribution crawl buys
    * vocabulary-free repetition — the scaling-decision twin of the
    * Heaps fit (which extrapolates; this one MEASURES the increments).
    *
    * Scale: one (trigram → min slice) hash agg over the shingle
    * stream, a ≤nBuckets-row histogram, and a bounded self-join for
    * the running total — no window over raw data anywhere.
    */
  def trigramAccretion(df: DataFrame, idCol: String, textCol: String,
                       nBuckets: Int = 10): DataFrame = {
    val dec = (MixtureOps.membership(idCol) * nBuckets).cast("int")
    val firstSeen = shingles(df, idCol, textCol)
      .withColumn("__d", dec)
      .groupBy(col("shingle")).agg(min(col("__d")).as("__d"))
      .groupBy(col("__d")).agg(count(lit(1)).as("n_new_trigrams"))
    val g = df.select(col(idCol)).withColumn("__d", dec)
      .groupBy(col("__d")).agg(count(lit(1)).as("n_docs"))
      .join(firstSeen, Seq("__d"), "left")
      .select(col("__d").cast("long").as("decile"), col("n_docs"),
        coalesce(col("n_new_trigrams"), lit(0L)).as("n_new_trigrams"))
      // ≤nBuckets rows feed the running-total self-join.
      .localCheckpoint(false)
    g.join(g.select(col("decile").as("__d2"),
        col("n_new_trigrams").as("__c2")), col("__d2") <= col("decile"))
      .groupBy(col("decile"), col("n_docs"), col("n_new_trigrams"))
      .agg(sum(col("__c2")).as("cum_trigrams"))
  }

  /** Near-dup cluster-size spectrum: connected components over the
    * banded-LSH candidate graph, multi-doc cluster sizes bucketed into
    * power-of-two octaves (bucket = bit-length of the size — integer
    * structure, never floor(log2) FP). The shape report behind every
    * dedup cost model: a corpus of pairs dedups embarrassingly; a
    * giant component (botnet spam, a mirrored site) needs the
    * survivor policy to act corpus-wide and is where min-label
    * propagation spends its iterations. Complements the source-purity
    * view ([[neardupClusterPurity]]) with the size axis.
    *
    * Scale: candidates only from LSH buckets; components via
    * [[GraphOps.connectedComponents]]; the spectrum is two bounded
    * hash aggs.
    */
  /** Incremental (cross-snapshot) exact dedup hit RATE: how much of
    * the NEW snapshot's content already exists in the OLD snapshot's
    * fingerprint store, per source — the audit-summary twin of
    * [[incrementalDedup]] (which emits the admitted rows themselves).
    * The table that prices keeping yesterday's dedup state warm: a
    * source with a high hit rate re-crawls the same pages and its
    * downstream pipeline can skip them on ingest; one near zero
    * genuinely churns.
    *
    * Scale: the old side reduces to a distinct content-hash set (the
    * fingerprint store a real incremental pipeline persists); the
    * check is one hash-keyed left join and one per-source agg.
    */
  def incrementalDedupRate(dfOld: DataFrame, dfNew: DataFrame,
                           srcCol: String, textCol: String): DataFrame = {
    val oldH = dfOld.select(md5(col(textCol)).as("__h")).distinct()
      .withColumn("__hit", lit(1L))
    dfNew.select(col(srcCol).as("source"), md5(col(textCol)).as("__h"),
        size(split(col(textCol), " ")).cast("long").as("__tok"))
      .join(oldH, Seq("__h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new"), count(col("__hit")).as("n_hit"),
        sum(when(col("__hit").isNotNull, col("__tok")).otherwise(0L))
          .as("tokens_dropped"))
      .select(col("source"), col("n_new"), col("n_hit"),
        expr("CAST((n_hit * 2000000 + n_new) div (2 * n_new) " +
          "AS BIGINT)").as("hit_ppm"),
        col("tokens_dropped"))
  }

  /** Duplicate-chunk position profile: where inside documents does
    * duplicated content sit? Fixed 20-token chunks (the
    * [[chunkDedup]] windows) bucketed by their position decile within
    * the document, with the cross-corpus duplicate rate per decile.
    * Leading-decile concentration = header/chrome boilerplate (strip
    * prefixes); trailing = footers/licenses; flat = syndication. The
    * locality evidence behind choosing a cheap prefix-strip over a
    * full chunk-dedup pass.
    *
    * Scale: one chunk explode; the duplicate flag is a count window
    * keyed by the chunk hash (group sizes are duplicate-family
    * sizes — bounded); the profile is a ≤10-row hash agg with exact
    * half-up ppm.
    */
  def dupPositionProfile(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 20): DataFrame = {
    val chunks = TextOps.windows(df.withColumn("t", split(col(textCol), " "))
        .withColumn("__nc",
          expr(s"CAST((size(t) - 1) / $w AS INT) + 1").cast("long")),
        lit(0), expr(s"CAST((size(t) - 1) / $w AS INT)")) { i =>
        Seq(col("__nc"), i.cast("long").as("__idx"),
          md5(TextOps.tokenChunk(col("t"), i, w)).as("__h"))
      }
    chunks
      .withColumn("__dup",
        (count(lit(1)).over(Window.partitionBy(col("__h"))) > 1)
          .cast("long"))
      .withColumn("pos_decile",
        least(lit(9L), expr(s"(__idx * 10) div __nc")))
      .groupBy(col("pos_decile"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("__dup")).as("n_dup"))
      .select(col("pos_decile"), col("n_chunks"), col("n_dup"),
        expr("CAST((n_dup * 2000000 + n_chunks) div (2 * n_chunks) " +
          "AS BIGINT)").as("dup_ppm"))
  }

  /** Bloom-filtered incremental dedup cost: if the OLD snapshot's
    * content fingerprints lived in a `words`×32-bit Bloom filter (the
    * constant-memory form of [[incrementalDedup]]'s exact store), how
    * many of the NEW snapshot's genuinely-new fingerprints would the
    * filter falsely flag as seen — i.e. unique content dropped by
    * mistake, per source. The measured (not formula) FP cost that
    * decides the filter size before anyone ships it.
    *
    * Scale: rides [[SketchOps.bloomMembership]] — the filter words
    * build in one hash agg and BROADCAST to the probe side; the truth
    * check is the same hash-keyed join the exact path uses.
    */
  def bloomDedupCost(dfOld: DataFrame, dfNew: DataFrame,
                     srcCol: String, textCol: String,
                     words: Int = 256): DataFrame =
    SketchOps.bloomMembership(
        dfOld.select(md5(col(textCol)).as("__h")),
        "__h",
        dfNew.select(md5(col(textCol)).as("__h"),
          col(srcCol).as("source")),
        "__h", "source", words)
      .select(col("source"), col("n_probed"), col("n_member"),
        col("n_bloom_pos"), col("n_false_pos"),
        when(col("n_probed") > col("n_member"), expr(
          "CAST((n_false_pos * 2000000 + (n_probed - n_member)) " +
            "div (2 * (n_probed - n_member)) AS BIGINT)"))
          .as("fp_ppm"))

  /** Cross-snapshot reciprocal best match — page identity across
    * crawls: for every OLD document its best NEW near-dup (highest
    * exact Jaccard over the banded-LSH candidates, ties to the
    * smaller id), kept only when the choice is MUTUAL. The admitted
    * pairs are the id-remap table an incremental pipeline carries so
    * a re-crawled page keeps its identity (and its dedup/quality
    * state) when its id changes — entity resolution for documents.
    *
    * Scale: candidates only from LSH buckets, restricted to
    * old→new pairs; both argmaxes are struct-max hash aggs over the
    * candidate table; the mutual check is a self-join of the two
    * SMALL best tables.
    */
  def reciprocalBestMatch(dfOld: DataFrame, dfNew: DataFrame,
                          idCol: String, srcCol: String,
                          textCol: String): DataFrame = {
    // Snapshot-tagged composite key 2·id+tag: a page that KEEPS its id
    // across crawls (the op's motivating scenario) must not collapse
    // into one shingle spine — without the tag, shingles() would merge
    // the two documents' shingle sets and the label spine would
    // duplicate, corrupting jaccard and join fan-out. The mapping is
    // injective per snapshot; shiftright/&1 decode it (floor semantics
    // hold for negative ids too). FAIL FAST on non-integral id types:
    // a string id would cast to null and silently corrupt the spine
    // instead of erroring (|id| must also stay < 2⁶²; doc ids do).
    Seq(("old", dfOld), ("new", dfNew)).foreach { case (tag, d) =>
      val dt = d.schema(idCol).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType).contains(dt),
        s"reciprocalBestMatch needs an integral $idCol ($tag side is $dt)")
    }
    val tagged = dfOld.select(col(idCol), col(srcCol), col(textCol))
      .withColumn("__new", lit(0))
      .unionAll(dfNew.select(col(idCol), col(srcCol), col(textCol))
        .withColumn("__new", lit(1)))
      .withColumn("__k",
        col(idCol).cast("long") * 2 + col("__new"))
    val side = tagged.select(col("__k"), col(idCol).as("__id"),
        col("__new"), col(srcCol).as("__src"))
      // LAZY localCheckpoint: both pair-side joins and the per-source
      // totals read the tagged spine.
      .localCheckpoint(false)
    val pairs = lshJaccard(shingles(tagged, "__k", textCol), "__k", 4, 2)
    // orient candidates old → new (tag lives in the key's low bit)
    val on = pairs
      .withColumn("__na", col("doc_a").bitwiseAND(1))
      .withColumn("__nb", col("doc_b").bitwiseAND(1))
      .filter(col("__na") =!= col("__nb"))
      .select(
        shiftright(when(col("__na") === 0, col("doc_a"))
          .otherwise(col("doc_b")), 1).as("__old"),
        shiftright(when(col("__na") === 0, col("doc_b"))
          .otherwise(col("doc_a")), 1).as("__nw"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("__jp"))
      .localCheckpoint(false)
    def best(key: String, other: String, out: String) = on
      .groupBy(col(key))
      .agg(max(struct(col("__jp"), (-col(other)).as("__neg"))).as("__m"))
      .select(col(key), (-col("__m.__neg")).as(out),
        col("__m.__jp").as(s"__j$out"))
    val bo = best("__old", "__nw", "__bn")
    val bn = best("__nw", "__old", "__bo")
    val mutual = bo.join(bn,
        bo("__bn") === bn("__nw") && bn("__bo") === bo("__old"))
      .select(col("__old"), col("__j__bn").as("__jp"))
    side.filter(col("__new") === 0)
      .join(mutual, col("__id") === col("__old"), "left")
      .groupBy(col("__src").as("source"))
      .agg(count(lit(1)).as("n_old"), count(col("__old")).as("n_matched"),
        coalesce(sum(col("__jp")), lit(0L)).as("__sj"))
      .select(col("source"), col("n_old"), col("n_matched"),
        expr("CAST((n_matched * 2000000 + n_old) div (2 * n_old) " +
          "AS BIGINT)").as("match_ppm"),
        when(col("n_matched") > 0, expr(
          "CAST((__sj * 2 + n_matched) div (2 * n_matched) AS BIGINT)"))
          .as("mean_match_jaccard_ppm"))
  }

  /** Snapshot content-rotation audit: per source, the exact Jaccard
    * between the OLD and NEW snapshots' distinct content-fingerprint
    * SETS — how much of a source's content actually rotated between
    * crawls, measured on content (the id-keyed [[MixtureOps.corpusDelta]]
    * cannot see a re-crawled page under a new id; this can). A source
    * at Jaccard ~1 re-serves yesterday's bytes; one near 0 churns
    * everything and invalidates any cached derived state.
    *
    * Scale: both sides reduce to distinct (source, hash) sets; the
    * overlap is one full-outer hash-keyed join and one per-source agg.
    */
  def snapshotRotation(dfOld: DataFrame, dfNew: DataFrame,
                       srcCol: String, textCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) = df
      .select(col(srcCol).as("source"), md5(col(textCol)).as("__h"))
      .distinct().withColumn(s"__$tag", lit(1L))
    side(dfOld, "o").join(side(dfNew, "n"), Seq("source", "__h"),
        "full_outer")
      .groupBy(col("source"))
      .agg(sum(coalesce(col("__o"), lit(0L))).as("n_old"),
        sum(coalesce(col("__n"), lit(0L))).as("n_new"),
        sum(when(col("__o").isNotNull && col("__n").isNotNull, 1L)
          .otherwise(0L)).as("n_common"),
        count(lit(1)).as("__u"))
      .select(col("source"), col("n_old"), col("n_new"),
        col("n_common"),
        expr("CAST((n_common * 2000000 + __u) div (2 * __u) " +
          "AS BIGINT)").as("jaccard_ppm"))
  }

  /** LSH candidate precision by band-agreement depth: every banded
    * MinHash candidate pair, bucketed by HOW MANY of the `bands`
    * bands agree, with the fraction passing the exact-Jaccard
    * verify at `threshold` and the mean exact Jaccard per bucket.
    * The measured complement of the banding advisor's theoretical
    * S-curve: if 1-band candidates verify at 2% while 4-band ones
    * verify at 95%, requiring ≥2 agreeing bands halves the verify
    * bill at negligible recall cost — measured on THIS corpus.
    *
    * Scale: candidates only from the banded join; band agreement is
    * a row expression over the two joined signatures; the verify is
    * the [[lshJaccard]] compact-array intersect; per-pair Jaccards
    * snap to 12 dp and sum DECIMAL(38,12).
    */
  def candidatePrecision(df: DataFrame, idCol: String, textCol: String,
                         bands: Int = 4, rows: Int = 2,
                         threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, textCol).localCheckpoint(false)
    val sig = minhashSignature(sh, idCol, bands, rows)
      .localCheckpoint(false)
    val cand = minhashCandidates(sig, idCol, bands, rows)
    val slices = for (b <- 0 until bands; r <- 0 until rows)
      yield s"h_${b}_$r"
    def side(tag: String) = sig.select(
      col(idCol).as(s"doc_$tag") +:
        slices.map(c => col(c).as(s"${c}_$tag")): _*)
    val bandAgree = (0 until bands).map { b =>
      (0 until rows).map(r =>
        col(s"h_${b}_${r}_a") === col(s"h_${b}_${r}_b"))
        .reduce(_ && _).cast("int")
    }.reduce(_ + _)
    val arr = setArrays(sh, idCol, "shingle").localCheckpoint(false)
    overlapVerify(
        cand.join(side("a"), "doc_a").join(side("b"), "doc_b"), arr, idCol)
      .withColumn("__bands", bandAgree)
      .withColumn("__j", col("__c").cast("double") /
        (col("__na") + col("__nb") - col("__c")))
      .groupBy(col("__bands").cast("long").as("n_bands"))
      .agg(count(lit(1)).as("n_cands"),
        sum((round(col("__j"), 6) >= threshold).cast("long"))
          .as("n_verified"),
        sum(round(col("__j"), 12).cast("decimal(38,12)")).as("__sj"))
      .select(col("n_bands"), col("n_cands"), col("n_verified"),
        expr("CAST((n_verified * 2000000 + n_cands) div (2 * n_cands) " +
          "AS BIGINT)").as("precision_ppm"),
        round(col("__sj").cast("double") / col("n_cands"), 6)
          .as("mean_jaccard"))
  }

  /** Cross-method near-dup agreement census: the same corpus swept by
    * three independent detectors — EXACT duplicate (identical text),
    * banded-MinHash candidates verified at exact Jaccard ≥ 1/2 (the
    * threshold is integer cross-multiplied, `3·common ≥ n_a + n_b`, so
    * no FP boundary can split between engines), and SimHash Hamming ≤
    * `maxHamming` — and the resulting doc-pair universes compared: one
    * row per detector-flag combination with its pair count. This is
    * the dedup-engineering "which detector finds what" audit: exact
    * duplicates should land in all three (short docs excepted — under
    * 3 tokens they have no shingles, so only the exact detector can
    * see them), and the off-diagonal masses price each detector's
    * unique contribution (bit-flip template spam only SimHash catches,
    * moderate shingle overlap only Jaccard catches).
    *
    * Scale: three bounded candidate streams (hash-key equi-joins — the
    * q24/q29/q69 shapes, never all-pairs) union into ONE (a, b) hash
    * agg and a ≤7-row census.
    */
  def dedupMethodCensus(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val ids = df.select(col(idCol).as("a"), md5(col(textCol)).as("__h"))
    val exact = ids.join(ids.select(col("a").as("b"), col("__h")), "__h")
      .filter(col("a") < col("b")).select(col("a"), col("b"))
    // ONE shingle derivation feeds both detectors (r14, guide §6 "read
    // once"): the per-doc set-array table is materialized first, and
    // the MinHash signature re-derives the (id, shingle) stream by
    // exploding the CHECKPOINTED arrays — set-identical to the direct
    // shingle scan (shingles() is distinct per doc, collect_set keeps
    // the set; the signature's per-slice min is order-independent) —
    // instead of re-running split/transform/explode/distinct over the
    // corpus a second time.
    val arr = setArrays(shingles(df, idCol, textCol), idCol, "shingle")
      .localCheckpoint(false)
    val sh = arr.select(col(idCol), explode(col("__arr")).as("shingle"))
    val cand = minhashCandidates(
      minhashSignature(sh, idCol, 4, 2), idCol, 4, 2)
    val mh = overlapVerify(cand, arr, idCol)
      .filter(col("__c") * 3 >= col("__na") + col("__nb"))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val sp = simhashNearDup(df, idCol, textCol, maxHamming)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val tagged = exact
      .select(col("a"), col("b"), lit(1L).as("__e"), lit(0L).as("__m"),
        lit(0L).as("__s"))
      .unionAll(mh.select(col("a"), col("b"), lit(0L), lit(1L), lit(0L)))
      .unionAll(sp.select(col("a"), col("b"), lit(0L), lit(0L), lit(1L)))
    tagged.groupBy(col("a"), col("b"))
      .agg(max(col("__e")).as("exact_dup"),
        max(col("__m")).as("minhash_j05"),
        max(col("__s")).as("simhash_h3"))
      .groupBy(col("exact_dup"), col("minhash_j05"), col("simhash_h3"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def clusterSizeSpectrum(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val pairs = minhashCandidates(
      minhashSignature(shingles(df, idCol, textCol), idCol, 4, 2),
      idCol, 4, 2)
    GraphOps.connectedComponents(df.select(col(idCol)), idCol,
        pairs, "doc_a", "doc_b")
      .groupBy(col("label")).agg(count(lit(1)).as("__sz"))
      .filter(col("__sz") > 1)
      .withColumn("octave", (length(bin(col("__sz"))) - 1).cast("int"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"),
        max(col("__sz")).as("max_cluster"))
  }

  /** Position-indexed n-gram fingerprints of the split-token array
    * column `t`: `keep` plus one (`pos`, `s`) row per gram start, where
    * `s` is the 16-byte `unhex(md5(gram))` digest (see
    * [[dupSubstringCensus]] for why the shuffle key is the digest, not
    * the gram text). Every row of `df` holds at least `n` tokens.
    */
  private def gramPositions(df: DataFrame, keep: Seq[Column],
                            n: Int): DataFrame =
    TextOps.windows(df, lit(0), size(col("t")) - n) { i =>
      keep ++ Seq(i.as("pos"),
        unhex(md5(TextOps.tokenGram(col("t"), i, n))).as("s"))
    }

  /** The corpus-global FIRST occurrence of every duplicated gram of
    * `pos` (an (`idCol`, `pos`, `s`) table): min(struct(doc, pos)) per
    * gram, a deterministic canonical keeper both engines agree on.
    * Output: (`s`, `__kid`, `__kpos`) for grams occurring ≥ 2 times;
    * linear in occurrences, never pairwise.
    */
  private def firstKeeper(pos: DataFrame, idCol: String): DataFrame =
    pos.groupBy(col("s"))
      .agg(min(struct(col(idCol), col("pos"))).as("__k"),
        count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select(col("s"), col(s"__k.$idCol").as("__kid"),
        col("__k.pos").as("__kpos"))

  /** True on an occurrence joined to its [[firstKeeper]] row that is
    * not the keeper itself — a redundant copy.
    */
  private def notKeeper(idCol: String): Column =
    col(idCol) =!= col("__kid") || col("pos") =!= col("__kpos")

  /** Overlap-aware gaps-and-islands over per-doc gram positions:
    * positions whose n-token intervals OVERLAP (gap ≤ n − 1) merge into
    * one span — the plain pos − row_number trick would count
    * overlapping interval tails twice and overshoot the doc length.
    * Output per (`idCol`, `__isl`) span: `__r` positions and `__cov`,
    * the exact token count of the interval union.
    */
  private def gramIslands(positions: DataFrame, idCol: String,
                          n: Int): DataFrame = {
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    positions
      .withColumn("__new", when(coalesce(col("pos") -
        lag(col("pos"), 1).over(wDoc), lit(n)) > n - 1, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(count(lit(1)).as("__r"),
        (max(col("pos")) - min(col("pos")) + n).as("__cov"))
  }

  /** Corpus-INTERNAL duplicated-substring census — the exact-substring
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed relationally: an
    * n-token gram is DUPLICATED if it occurs ≥2 times anywhere in the
    * corpus (across docs or repeated inside one); per doc, the
    * duplicated gram positions merge into maximal spans via
    * gaps-and-islands under the per-DOC window, and the span token
    * coverage over the doc length is the per-doc duplication load the
    * excision decision reads. Differs from [[contaminationSpans]]
    * (matches vs an EXTERNAL benchmark set) — this is the
    * train-on-itself redundancy measure.
    *
    * Scale: one tokenize pass (localCheckpoint'd — the global gram
    * census and the per-doc positions both read it); "duplicated" is a
    * groupBy(gram) count + semi-join back (never a pair join — a gram
    * in g docs costs g rows, not g²); islands are per-doc windows. The
    * gram shuffle key is the 16-byte `unhex(md5(gram))` FINGERPRINT,
    * not the gram text (same trick as [[exactDedup]]): at Lee et al.'s
    * L = 50 operating point a raw gram is ~50 tokens of UTF-8 per
    * occurrence row, the digest is 16 bytes at any L — and since no
    * output column exposes the gram, results are identical (128-bit
    * collisions are negligible at any corpus size) and the oracle can
    * keep grouping on the raw text. ppm note: dup_tokens * 2e6 wraps
    * int64 only past ~4.6e15 tokens in ONE doc — no document is that
    * long, so BIGINT is safe here (corpus-level ratios that could wrap
    * are the q443/q446 roll-ups, bounded the same way per source).
    */
  def dupSubstringCensus(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val base = df.withColumn("t", split(col(textCol), " "))
      .select(col(idCol), size(col("t")).as("n_tokens"), col("t"))
      .localCheckpoint(false)
    val pos = gramPositions(base.filter(col("n_tokens") >= n), Seq(col(idCol)), n)
      .localCheckpoint(false)
    val dup = pos.groupBy(col("s")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("s")
    val spans = gramIslands(pos.join(dup, Seq("s"), "left_semi"), idCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), max(col("__r")).as("longest_run"),
        sum(col("__cov")).as("dup_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ppm", expr(
        "CAST((dup_tokens * 2000000 + n_tokens) div (2 * n_tokens) " +
          "AS BIGINT)"))
  }

  /** Exact-substring EXCISION decision table (the other half of Lee
    * et al.): an n-gram OCCURRENCE is redundant iff it is not the
    * corpus-global FIRST occurrence of that gram — min(doc, pos) per
    * gram, a deterministic canonical keeper both engines agree on.
    * Redundant positions merge into per-doc spans (gaps-and-islands),
    * and the per-SOURCE roll-up reports how many tokens excising those
    * spans would remove — the before/after budget a substring-dedup
    * run is approved on.
    *
    * Scale: the keeper is one groupBy(gram) min(struct(doc, pos)) —
    * again linear in occurrences, never pairwise; everything after is
    * per-doc windows and one source-level agg. Grams shuffle as 16-byte
    * md5 fingerprints (see [[dupSubstringCensus]] — identical results,
    * L-independent shuffle width). ppm note: tokens_total * 2e6 wraps
    * int64 only past ~4.6e15 tokens in one SOURCE partition — at 100 TB
    * (~2e13 tokens corpus-wide) every per-source roll-up stays ≥200×
    * under the bound, so BIGINT ppm stays exact.
    */
  def dupSubstringExcise(df: DataFrame, idCol: String, textCol: String,
                         srcCol: String, n: Int = 3): DataFrame = {
    val base = df.withColumn("t", split(col(textCol), " "))
      .select(col(idCol), col(srcCol).as("source"),
        size(col("t")).as("n_tokens"), col("t"))
      .localCheckpoint(false)
    val pos = gramPositions(base.filter(col("n_tokens") >= n), Seq(col(idCol)), n)
      .localCheckpoint(false)
    val redundant = pos.join(firstKeeper(pos, idCol), Seq("s"))
      .filter(notKeeper(idCol))
      .select(col(idCol), col("pos"))
    val excised = gramIslands(redundant, idCol, n)
      .groupBy(col(idCol))
      .agg(sum(col("__cov")).as("__exc"))
    base.select(col(idCol), col("source"), col("n_tokens"))
      .join(excised, Seq(idCol), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__exc").isNotNull, 1L).otherwise(0L))
          .as("docs_affected"),
        sum(col("n_tokens").cast("long")).as("tokens_total"),
        sum(coalesce(col("__exc"), lit(0L))).as("tokens_excised"))
      .withColumn("retained_ppm", expr(
        "CAST(((tokens_total - tokens_excised) * 2000000 + tokens_total)" +
          " div (2 * tokens_total) AS BIGINT)"))
  }

  /** Substring PROVENANCE matrix — the directional who-copies-whom
    * census over duplicated n-grams: for every redundant occurrence,
    * one (origin source, copier source) edge, where origin is the
    * source holding the corpus-global FIRST occurrence of the gram
    * (the [[dupSubstringExcise]] keeper). The aggregated matrix is the
    * syndication read: a row-heavy source originates, a column-heavy
    * one mirrors; the DIRECTED sibling of the exact-dup source graph
    * (q421's PageRank input), at substring rather than whole-doc
    * granularity — boilerplate and partial copies show here that
    * whole-doc fingerprints never see.
    *
    * Scale: identical discipline to the excise op — one min(struct)
    * keeper per gram, one equi-join back, one (from, to) hash agg;
    * linear in gram occurrences, never pairwise. Grams shuffle as
    * 16-byte md5 fingerprints (see [[dupSubstringCensus]]); n_grams
    * counts distinct fingerprints = distinct grams.
    */
  def dupSubstringProvenance(df: DataFrame, idCol: String,
                             textCol: String, srcCol: String,
                             n: Int = 3): DataFrame = {
    val pos = gramPositions(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= n), Seq(col(idCol), col(srcCol).as("__src")), n)
      .localCheckpoint(false)
    val keeper = firstKeeper(pos, idCol)
      // re-attach the keeper's source via an id-keyed join with the
      // (small) distinct doc->source table, not by dragging source
      // through the min(struct) (struct order must stay (doc, pos))
      .join(df.select(col(idCol).as("__kid"),
        col(srcCol).as("src_from")).distinct(), Seq("__kid"))
    pos.join(keeper, Seq("s"))
      .filter(notKeeper(idCol))
      .groupBy(col("src_from"), col("__src").as("src_to"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("s")).as("n_grams"))
  }

  /** Substring-length survival LADDER — the "choose L" design table a
    * substring-dedup run is tuned on (Lee et al. used 50-token spans;
    * the right L is corpus-specific): for each candidate gram length
    * n, the corpus-level excision outcome — duplicated-gram count,
    * docs touched, tokens the global-first-keeper excision would
    * remove, retention ppm. Short n over-excises (every common phrase
    * matches); long n under-detects; this table shows the knee. The
    * q338/q339 advisor pattern applied to exact-substring dedup.
    *
    * Scale: one tokenize pass shared by every rung (localCheckpoint),
    * then per rung the same linear keeper/island machinery as
    * [[dupSubstringExcise]] — |ns| bounded corpus passes, no pair
    * joins anywhere. The md5-fingerprint shuffle key (see
    * [[dupSubstringCensus]]) is what makes the LONG rungs affordable:
    * the n = 25 rung shuffles the same 16 bytes per occurrence as
    * n = 3, where raw 25-token gram strings would shuffle ~25× the
    * corpus token mass. ppm note: the roll-up's tokens_total * 2e6
    * stays exact in int64 until ~4.6e15 corpus tokens (~200× a 100 TB
    * text corpus).
    */
  def dupSubstringLadder(df: DataFrame, idCol: String, textCol: String,
                         ns: Seq[Int] = Seq(3, 5, 7, 9, 25)): DataFrame = {
    val base = df.withColumn("t", split(col(textCol), " "))
      .select(col(idCol), size(col("t")).as("n_tokens"), col("t"))
      .localCheckpoint(false)
    val total = base.agg(sum(col("n_tokens").cast("long"))
      .as("tokens_total"))
    val rungs = ns.map { n =>
      val pos = gramPositions(base.filter(col("n_tokens") >= n), Seq(col(idCol)), n)
        .localCheckpoint(false)
      // NOT checkpointed by choice (r14 A/B): materializing keeper and
      // red to avoid their double evaluation (keeper feeds the join +
      // its own count; red feeds the island window + docs_affected)
      // REGRESSED the rung 4.1 → 6.6 s at sf0.1 — the per-checkpoint
      // AQE stage-materialization jobs and block writes cost more than
      // the saved re-aggregation from the pos checkpoint.
      val keeper = firstKeeper(pos, idCol)
      val red = pos.join(keeper, Seq("s"))
        .filter(notKeeper(idCol))
        .select(col(idCol), col("pos"))
      val exc = gramIslands(red, idCol, n)
      keeper.agg(count(lit(1)).as("n_dup_grams"))
        .crossJoin(red.agg(count_distinct(col(idCol))
          .as("docs_affected")))
        .crossJoin(exc.agg(coalesce(sum(col("__cov")), lit(0L))
          .as("tokens_excised")))
        .crossJoin(broadcast(total))
        .select(lit(n.toLong).as("n"), col("n_dup_grams"),
          col("docs_affected"), col("tokens_total"),
          col("tokens_excised"),
          expr("CAST(((tokens_total - tokens_excised) * 2000000 + " +
            "tokens_total) div (2 * tokens_total) AS BIGINT)")
            .as("retained_ppm"))
    }
    rungs.reduce(_ unionAll _)
  }

  /** Gram multiplicity SPECTRUM: how duplicated is the corpus at gram
    * granularity — octave histogram (⌊log2 count⌋ via bin-length, the
    * [[clusterSizeSpectrum]] idiom) of the per-gram occurrence counts.
    * Octave 0 = unique grams; a heavy high-octave tail is boilerplate
    * mass that dedup must handle (and exactly what makes naive
    * pair-joins explode — the Σ bucket² the banding design notes cite,
    * read directly off the data). Grams shuffle as 16-byte md5
    * fingerprints (see [[dupSubstringCensus]]) — and the count shuffle
    * is map-side combined, so shuffle rows track DISTINCT grams, not
    * occurrences (measured flat from sf0.1 to sf1 on the replicated
    * probe corpus).
    */
  def gramMultiplicitySpectrum(df: DataFrame, idCol: String,
                               textCol: String, n: Int = 5): DataFrame = {
    gramPositions(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= n), Seq(col(idCol)), n)
      .groupBy(col("s")).agg(count(lit(1)).as("__c"))
      .withColumn("octave", (length(bin(col("__c"))) - 1).cast("int"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__c")).as("n_occurrences"),
        max(col("__c")).as("max_count"))
  }
}

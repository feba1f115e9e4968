package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.JaroWinkler

/** Text-analysis operators for the large-scale training-data pipeline:
  * tokenization, term frequency, language ID, quality scoring, document
  * fingerprinting, sessionization, and JSON extraction.
  *
  * All operators are pure column expressions (whole-stage-codegen
  * friendly, no UDFs) and shuffle at most once on their natural key —
  * they hold at 100 TB because per-row work is O(tokens) and every
  * aggregation is partial-then-final hash aggregation.
  */
object TextOps {

  /** Whitespace tokenizer — the engine's canonical token column. */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** One row per window start i ∈ `sequence(lo, hi)`, selecting
    * `cols(i)`: the lambda-free form of exploding `transform` of
    * `sequence(lo, hi)` under `i -> w(i)`, with the same values in the
    * same order. Spark's `ArrayTransform` is `CodegenFallback`, so its
    * lambda runs interpreted once per element; `explode(sequence)` and
    * the per-row window expression stay inside whole-stage codegen.
    * When `lo` is 0, `i` is also the position `posexplode` would give.
    * The one window core of every token- and character-window site in
    * TextOps, DedupOps and SamplingOps.
    */
  private[operators] def windows(df: DataFrame, lo: Column, hi: Column)(
      cols: Column => Seq[Column]): DataFrame =
    df.select(col("*"), explode(sequence(lo, hi)).as("__wi"))
      .select(cols(col("__wi")): _*)

  /** The `n` tokens of array `t` from 0-based start `i`, joined by
    * single spaces: `concat_ws(' ', t[i], …, t[i + n - 1])`. */
  private[operators] def tokenGram(t: Column, i: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(j => t.getItem(i + j)): _*)

  /** Chunk `i` (0-based) of array `t` cut into runs of `w` tokens, joined
    * by single spaces: `concat_ws(' ', slice(t, i * w + 1, w))`. */
  private[operators] def tokenChunk(t: Column, i: Column, w: Int): Column =
    concat_ws(" ", slice(t, i * w + 1, lit(w)))

  /** SQL string literal with escaping — marker/stopword lists are
    * config values spliced into expr() lambdas; a word containing a
    * quote must not break plan compilation. Shared by every operator
    * that splices caller strings into SQL text.
    */
  private[operators] def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Global term frequency: explode tokens → hash-aggregate count.
    * Map-side partial aggregation keeps the shuffle at |vocab| per
    * partition, not |tokens|.
    */
  def termFrequency(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))

  /** Per-document token statistics: whitespace token count, distinct
    * tokens, regex word-tokenization count (the BPE-ish pre-tokenizer
    * split), and a chars/4 subword estimate (the standard
    * ~4-chars-per-token heuristic) — no model dependency.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      size(array_distinct(tokens(col(textCol)))).cast("long").as("n_distinct"),
      size(regexp_extract_all(col(textCol), lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("n_word_tokens"),
      ceil(length(col(textCol)) / 4.0).cast("long").as("bpe_est"))

  /** N-gram-overlap language ID: score each candidate profile by the
    * number of token occurrences found in that profile's marker list;
    * argmax with a fixed priority order on ties (deterministic).
    * Profiles are engine configuration, not data.
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
             profiles: Seq[(String, Seq[String])],
             keep: Seq[String] = Nil): DataFrame = {
    val t = tokens(col(textCol))
    val scored = profiles.foldLeft(
      df.select(col(idCol) +: keep.map(col) :+ t.as("__t"): _*)) {
      case (d, (name, marks)) =>
        d.withColumn(s"score_$name",
          size(expr(s"filter(__t, x -> array_contains(array(${marks.map(sqlStr).mkString(",")}), x))")).cast("long"))
    }
    // argmax with first-listed-profile priority on ties
    val pred = profiles.map(_._1).zipWithIndex.foldRight(lit(profiles.last._1)) {
      case ((name, i), acc) =>
        if (i == profiles.length - 1) acc
        else {
          val better = profiles.drop(i + 1)
            .map(o => col(s"score_$name") >= col(s"score_${o._1}"))
            .reduce(_ && _)
          when(better, lit(name)).otherwise(acc)
        }
    }
    scored.withColumn("lang_pred", pred).drop("__t")
  }

  /** Heuristic quality score: coverage (tokens vs a 100-token budget) ×
    * (1 − stopword ratio). Deterministic double arithmetic, rounded.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String]): DataFrame = {
    val t = tokens(col(textCol))
    val stopArr = s"array(${stopwords.map(sqlStr).mkString(",")})"
    df.select(
      col(idCol),
      size(t).cast("long").as("n_tokens"),
      round(size(expr(s"filter(${tokensSql(textCol)}, x -> array_contains($stopArr, x))")) /
        size(t).cast("double"), 4).as("stop_ratio"))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens") / 100.0) * (lit(1.0) - col("stop_ratio")), 4))
  }

  private def tokensSql(textCol: String): String = s"split($textCol, ' ')"

  /** Normalization for training corpora: lowercase, strip non-alnum
    * (keeping spaces), drop stopwords, re-join — with the removed-token
    * count carried as metadata (the P9-style warning surface).
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String,
                    stopwords: Seq[String]): DataFrame = {
    val stopArr = s"array(${stopwords.map(sqlStr).mkString(",")})"
    val toks = s"split(regexp_replace(lower($textCol), '[^a-z0-9 ]', ''), ' ')"
    df.select(col(idCol),
      expr(s"array_join(filter($toks, x -> NOT array_contains($stopArr, x)), ' ')")
        .as("clean_text"),
      expr(s"CAST(size(filter($toks, x -> array_contains($stopArr, x))) AS BIGINT)")
        .as("n_removed"))
  }

  /** PII redaction: apply (pattern → replacement-token) rules in order,
    * counting matches as each rule sees the text (so a rule never
    * re-counts spans an earlier rule already replaced). Pure
    * `regexp_replace`/`regexp_extract_all` column expressions — codegen
    * keeps the scan one pass per row regardless of rule count. Patterns
    * must stay in the RE2-portable subset (character classes, counted
    * repetition — no lookaround) so the same rules run in any engine.
    */
  def redact(df: DataFrame, idCol: String, textCol: String,
             rules: Seq[(String, String)]): DataFrame = {
    val (cleaned, counts) = rules.foldLeft((col(textCol), Seq.empty[Column])) {
      case ((txt, cnts), (pat, repl)) =>
        (regexp_replace(txt, pat, repl),
          cnts :+ size(regexp_extract_all(txt, lit(pat), lit(0))).cast("long"))
    }
    df.select(col(idCol), cleaned.as("clean_text"),
      counts.reduce(_ + _).as("n_redactions"))
  }

  /** Default redaction rules: emails, dashed phone-style numbers, long
    * digit runs (account/credit-card-like ids).
    */
  val piiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** Gopher-style repetition signals per document: token count, top-token
    * mass fraction, duplicate-bigram fraction, and the junk flag their
    * thresholds imply. Two hash aggregations on the doc key (token tf,
    * bigram distinct), joined back — no window over the corpus, so the
    * plan is the same at 500 docs or 500 billion. Fractions are rounded
    * to 6 dp BEFORE the threshold guard so the flag is reproducible
    * across engines (last-ulp differences cannot flip it).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      topTokMax: Double = 0.12,
                      dupBigramMax: Double = 0.3): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .groupBy(col(idCol))
      .agg(sum("tf").as("n_tokens"), max("tf").as("top_tf"))
    val bg = windows(df.withColumn("t", tokens(col(textCol)))
        .filter(size(col("t")) >= 2), lit(0), size(col("t")) - 2) { i =>
        Seq(col(idCol),
          concat(col("t").getItem(i), lit(" "), col("t").getItem(i + 1)).as("bg"))
      }
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bg"), countDistinct(col("bg")).as("d_bg"))
    tf.join(bg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        round(col("top_tf").cast("double") / col("n_tokens"), 6).as("top_tok_frac"),
        coalesce(round(lit(1.0) - col("d_bg").cast("double") / col("n_bg"), 6),
          lit(0.0)).as("dup_bigram_frac"))
      .withColumn("junk",
        (col("top_tok_frac") > topTokMax || col("dup_bigram_frac") > dupBigramMax)
          .cast("int"))
  }

  /** Content fingerprint: md5 over the case/punctuation-normalized text.
    * Identical normalization is expressible in any ANSI engine, so the
    * fingerprint doubles as a cross-system dedup key.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", "")).as("fp"))

  /** Sessionization: 30-min-gap (configurable) session ids per user via
    * lag + cumulative sum of boundary flags — the streaming-equivalent
    * batch form (SURVEY §2.9). One shuffle on the user key; state is one
    * previous timestamp per row — scales to any number of users.
    */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
                 tieCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(cum).cast("long"))
      .drop("__prev", "__new")
  }

  /** Corpus n-gram frequency (every occurrence, not per-doc distinct —
    * the contamination-check / memorization-audit counter). One explode
    * + one hash aggregation.
    */
  def ngramFrequency(df: DataFrame, textCol: String, n: Int): DataFrame = {
    windows(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= n), lit(0), size(col("t")) - n) { i =>
        Seq(tokenGram(col("t"), i, n).as("ngram"))
      }
      .groupBy("ngram").agg(count(lit(1)).as("freq"))
  }

  /** Per-document bigram cross-entropy under the corpus's own MLE
    * bigram language model: −avg ln P(w2|w1) with
    * P(w2|w1) = c(w1,w2)/c(w1·). The relational core of
    * perplexity-based quality filtering (high cross-entropy = unusual
    * token sequences = candidate junk). Counts come from the same
    * corpus, so every observed bigram has nonzero probability — no
    * smoothing needed; at scale the count tables are the "model
    * artifact" and join back broadcast/bucketed.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = windows(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= 2), lit(0), size(col("t")) - 2) { i =>
        Seq(col(idCol), col("t").getItem(i).as("w1"),
          col("t").getItem(i + 1).as("w2"))
      }
      // LAZY localCheckpoint: three subplans read the tokenized corpus
      // (bigram counts, context counts, the scoring join) — cut the
      // lineage so it tokenizes once (same shape as the r7 DSIR fix).
      .localCheckpoint(false)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col(idCol))
      .agg(round(-avg(log(col("c12").cast("double") / col("c1"))), 6)
        .as("cross_entropy"))
  }

  /** Sequence packing plan: assign documents to fixed token-budget bins
    * (the step that turns a curated corpus into training batches).
    * Contiguous greedy packing in (group, id) order: a doc's bin is its
    * group-local running token total BEFORE the doc, integer-divided by
    * the budget — docs straddling a boundary stay in the earlier bin
    * (bounded overflow ≤ one doc, the standard streaming-packing
    * approximation; exact bin-packing is NP-hard and needless here).
    *
    * Scale: the running sum is a window per GROUP (source/shard), so
    * packing parallelizes across groups — never a single global
    * cumulative sum. Pure integer arithmetic → engine-identical.
    */
  def packSequences(df: DataFrame, grpCol: String, idCol: String,
                    textCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(grpCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__n", size(tokens(col(textCol))).cast("long"))
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
      // integer div, not double division: exact past 2^53 total tokens
      .withColumn("bin", expr(s"__before div $budget"))
      .groupBy(col(grpCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
  }

  /** Packing-budget advisor: the context-length dial for
    * [[packSequences]]. For each candidate token budget it reports the
    * bins the greedy contiguous packing would produce and the fill
    * rate Σtokens / (bins·budget) — the utilization a training run
    * would actually see at that sequence length (straddling docs keep
    * the earlier bin, so the last bin per group may overfill slightly
    * and the rate can graze 1). Reading the table picks the budget
    * where utilization stays high before committing a corpus-wide
    * repack.
    *
    * Scale: the per-group running token total is computed ONCE (the
    * same per-group window as packSequences — never a global cumsum);
    * each row then explodes to |budgets| rows with bins derived by
    * integer division from the SAME running sum, and two hash aggs
    * reduce to the |budgets|-row report.
    */
  def packingAdvisor(df: DataFrame, grpCol: String, idCol: String,
                     textCol: String, budgets: Seq[Long]): DataFrame = {
    val w = Window.partitionBy(col(grpCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__n", size(tokens(col(textCol))).cast("long"))
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col(grpCol), col("__n"), col("__before"),
        explode(array(budgets.map(lit(_)): _*)).as("budget"))
      .withColumn("__bin", expr("__before div budget"))
      .groupBy(col("budget"), col(grpCol), col("__bin"))
      .agg(count(lit(1)).as("__nd"), sum(col("__n")).as("__nt"))
      .groupBy(col("budget")).agg(
        count(lit(1)).as("n_bins"),
        sum(col("__nd")).as("n_docs"),
        sum(col("__nt")).as("n_tokens"))
      .withColumn("fill_rate", round(
        col("n_tokens").cast("double") / (col("n_bins") * col("budget")), 6))
  }

  /** Per-source corpus datasheet — the one-stop summary shipped with
    * a training corpus (the "datasheet for datasets" habit, Gebru et
    * al. 2021, reduced to what is computable from the data alone):
    * volume (docs/tokens/chars, mean tokens per doc), language spread
    * (distinct langs), exact-duplicate load (docs whose text appears
    * more than once WITHIN the source, and the rate), and the
    * quality-gate pass rate under the [[gopherFlags]] rules. One row
    * per source; the table a mixture design ([[MixtureOps]]) or a
    * data audit reads first.
    *
    * Scale: the corpus is read once with row-local flag/token exprs;
    * the only keyed shuffles are the (source, text-hash) duplicate agg
    * and the final per-source reduce — both corpus-key bounded, no
    * windows, no joins wider than source.
    */
  def corpusDatasheet(df: DataFrame, srcCol: String, idCol: String,
                      textCol: String, langCol: String,
                      stopwords: Seq[String]): DataFrame = {
    val flags = gopherFlags(df, idCol, textCol, stopwords)
    val base = df.join(flags, Seq(idCol))
      .withColumn("__tok", size(split(col(textCol), " ")).cast("long"))
      .withColumn("__pass",
        (col("f_word_count") + col("f_mean_word_len") +
          col("f_top_word_share") + col("f_no_stopword") +
          col("f_distinct_ratio") === 0).cast("long"))
    val dup = df.groupBy(col(srcCol), md5(col(textCol)).as("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(srcCol))
      .agg(sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L)))
        .as("__dup_docs"))
    base.groupBy(col(srcCol)).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        sum(col("__pass")).as("n_pass"))
      // half-up mean at 2 dp via exact integer division — a double
      // quotient rounded post-hoc splits an ulp between engines (the
      // divide-then-round class); (200S + N) div 2N never does
      .withColumn("mean_tokens", expr(
        "CAST((n_tokens * 200 + n_docs) div (2 * n_docs) AS DOUBLE) / 100"))
      .join(dup, Seq(srcCol))
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("mean_tokens"), col("n_langs"),
        col("__dup_docs").as("n_dup_docs"),
        round(col("__dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        round(col("n_pass").cast("double") / col("n_docs"), 6)
          .as("gopher_pass_rate"))
  }

  /** TF-IDF per (document, token): tf × ln(N / df). Three hash
    * aggregations (doc-term tf, term df, corpus N) and one equi-join on
    * the term key — df and N are tiny relative to the tf table, and the
    * N scalar joins as a broadcast. The classic importance weighting for
    * keyword extraction / quality filtering over a training corpus.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("token"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
  }

  /** F7 — JSON field extraction from a semi-structured string column.
    * Ref: online/main/s1_server.py:27 (request parse).
    */
  def jsonExtractLong(df: DataFrame, jsonCol: String, path: String,
                      outCol: String): DataFrame =
    df.withColumn(outCol, get_json_object(col(jsonCol), path).cast("long"))

  /** Winnowing document fingerprints (the MOSS local-min rolling-hash
    * scheme): hash every k-token gram, slide a w-hash window over the
    * gram sequence, and keep the minimum hash of each window — the
    * selected set is position-robust (any shared substring of
    * w + k − 1 tokens forces at least one shared fingerprint), so two
    * docs' fingerprint sets overlap iff they share long verbatim spans.
    * A guarantee-by-construction complement to MinHash: MinHash
    * estimates whole-set resemblance; winnowing localizes copied spans.
    *
    * Determinism/portability: the gram hash is the first 8 hex chars of
    * md5 and window-min compares the hex STRINGS — lexicographic order
    * on fixed-width hex equals numeric order, identically in any
    * engine.
    *
    * Scale: one window (doc-key shuffle) + one hash agg; per-row state
    * is the w-row frame, never the whole doc. Docs shorter than
    * k + w − 1 tokens have no full window and produce no fingerprints.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 3, w: Int = 4): DataFrame = {
    val grams = windows(df.withColumn("t", tokens(col(textCol)))
        .filter(size(col("t")) >= k + w - 1), lit(0), size(col("t")) - k) { i =>
        Seq(col(idCol), col("t"), i.as("__pos"), tokenGram(col("t"), i, k).as("__g"))
      }
      .withColumn("__h", substring(md5(col("__g")), 1, 8))
      .withColumn("__ng", size(col("t")) - (k - 1))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__fp", min(col("__h")).over(frame))
      .filter(col("__pos") <= col("__ng") - w)
      .groupBy(col(idCol))
      .agg(expr("array_sort(collect_set(__fp))").as("__fps"))
      .select(col(idCol), size(col("__fps")).cast("long").as("n_fps"),
        array_join(col("__fps"), ",").as("fingerprints"))
  }

  /** Corpus-level token entropy in nats: H = −Σ p·ln p over the global
    * unigram distribution, plus the distinct/total counts and H
    * normalized by ln(distinct) (1.0 = uniform). The per-token terms are
    * rounded to 12 dp and summed as DECIMAL, so the scalar is
    * independent of summation order (the exact-regroup stance of
    * `MetricOps.psi`). One explode + one hash aggregation; the final
    * reduce sees |vocab| rows, never |tokens|.
    */
  def tokenEntropy(df: DataFrame, textCol: String): DataFrame = {
    // materialize the vocab histogram once (total + terms both reuse it)
    val tf = df.select(explode(tokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val n = tf.agg(sum("__c").cast("long").as("__n"))
    tf.crossJoin(broadcast(n))
      .withColumn("__term",
        round(-(col("__c").cast("double") / col("__n")) *
          log(col("__c").cast("double") / col("__n")), 12)
          .cast("decimal(28,14)"))
      .agg(max("__n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(sum("__term").cast("double"), 6).as("entropy_nats"),
        // single-token vocabulary → ln(1) = 0 divisor → null, not NaN
        when(count(lit(1)) > 1,
          round(sum("__term").cast("double") /
            log(count(lit(1)).cast("double")), 6)).as("norm_entropy"))
  }

  /** Tokenizer-vocabulary coverage: the top-`topN` tokens by corpus
    * frequency, each with its rank and the CUMULATIVE share of all
    * token occurrences the vocabulary covers up to that rank — the
    * vocabulary-size-vs-coverage curve every tokenizer build starts
    * from.
    *
    * Rank comes from [[MetricOps.globalRank]] on the negated frequency
    * (tf desc, token tie-break) — the distributed tie-broken rank, no
    * single-partition window even on a 10⁸-term vocabulary. The
    * cumulative sum then runs over only the ≤ topN kept rows via the
    * triangular broadcast join (the decileLift idiom).
    */
  def vocabCoverage(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val tf = termFrequency(df, textCol).localCheckpoint(false)
    val tot = tf.agg(sum(col("tf")).cast("double").as("__tot"))
    val top = MetricOps.globalRank(tf.withColumn("__neg", -col("tf")),
        "__neg", "token")
      .filter(col("r") <= topN)
      .select(col("token"), col("tf"), col("r"))
    top.as("a")
      .join(broadcast(top.as("b")), col("b.r") <= col("a.r"))
      .groupBy(col("a.token").as("token"), col("a.tf").as("tf"),
        col("a.r").as("rnk"))
      .agg(sum(col("b.tf")).as("cum_tf"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("tf"), col("rnk").cast("long").as("rnk"),
        col("cum_tf"),
        round(col("cum_tf").cast("double") / col("__tot"), 6).as("coverage"))
  }

  /** RAG-style document chunking: split each document's token stream
    * into fixed-size windows of `chunkSize` tokens advancing by
    * `stride` (< chunkSize ⇒ overlapping chunks), keeping 1-based start
    * offsets so chunks map back to source spans. Chunk count per doc =
    * 1 + ⌈(n − chunkSize)/stride⌉ (one chunk for short docs), so every
    * token is covered and the tail chunk may run short.
    *
    * Pure per-row expressions — tokenize once, `sequence` the chunk
    * ids, `slice` the token array per chunk. NO shuffle at all: at
    * 100 TB this is a map-only pass whose output partitioning follows
    * the input's. Emits the chunk md5 (the dedup/embedding key; the
    * text itself stays derivable from doc_id + start_pos).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val t = tokens(col(textCol))
    df.select(col(idCol), t.as("__t"), size(t).as("__n"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        when(col("__n") <= chunkSize, lit(0L)).otherwise(
          ceil((col("__n") - chunkSize) / lit(stride.toDouble))
            .cast("long")))))
      .withColumn("__chunk",
        slice(col("__t"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)))
      .select(col(idCol), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_pos"),
        size(col("__chunk")).cast("long").as("chunk_len"),
        md5(array_join(col("__chunk"), " ")).as("chunk_md5"))
  }

  /** Duplicated-span coverage — the substring-dedup signal of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (2022): per document, the fraction of token positions covered by
    * at least one `n`-gram that also occurs in ANOTHER document. High
    * coverage = boilerplate/mirror content that exact and near dedup
    * (whole-doc granularity) both miss.
    *
    * Shape: positioned n-grams (md5-keyed) → one gram hash-agg marking
    * cross-doc grams (min(doc) ≠ max(doc) — cheaper than a distinct
    * count, 2-row agreement is all "≥ 2 docs" needs) → semi-join back →
    * explode each dup gram into its n covered positions → per-doc
    * distinct-position count. Every join is an equi-join on the gram
    * hash; the position explode is bounded at n× the dup grams, never
    * n× the corpus.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val base = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__nt", size(col("__t")))
    val sh = base.filter(col("__nt") >= n)
      .select(col(idCol),
        explode(sequence(lit(1), col("__nt") - lit(n - 1))).as("__pos"),
        col("__t"))
      .select(col(idCol), col("__pos"),
        md5(array_join(slice(col("__t"), col("__pos"), lit(n)), " "))
          .as("__g"))
    val dup = sh.groupBy(col("__g"))
      .agg((min(col(idCol)) =!= max(col(idCol))).as("__x"))
      .filter(col("__x")).select("__g")
    val cov = sh.join(dup, Seq("__g"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1))).as("__p"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("__dup"))
    base.select(col(idCol), col("__nt").cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("__dup"), lit(0L)).cast("double")
          / col("n_tokens"), 4).as("dup_frac"))
  }

  /** Per-source boilerplate n-gram signal (the C4/RefinedWeb shape:
    * navigation chrome and legal footers repeat across one site's
    * pages, so grams shared by ≥ `minDocs` documents of the SAME
    * source are boilerplate candidates). Per document: distinct grams,
    * boilerplate grams, and the fraction — the filter signal; removal
    * is the same plan keeping non-flagged grams.
    *
    * Scale shape: distinct (doc, source, gram) → one (source, gram)
    * hash agg for document frequency → one equi-join back (each
    * doc-gram row meets exactly ONE frequency row, so the join never
    * multiplies) → one per-doc agg. The gram stream is O(corpus
    * tokens); nothing is pairwise.
    */
  def boilerplateGrams(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, n: Int = 3,
                       minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs > 0)
    val base = df.select(col(idCol), col(sourceCol),
        tokens(col(textCol)).as("__t"))
      .withColumn("__nt", size(col("__t")))
    val g = base.filter(col("__nt") >= n)
      .select(col(idCol), col(sourceCol),
        explode(sequence(lit(1), col("__nt") - lit(n - 1))).as("__pos"),
        col("__t"))
      .select(col(idCol), col(sourceCol),
        array_join(slice(col("__t"), col("__pos"), lit(n)), " ").as("__g"))
      .distinct()
    val dfreq = g.groupBy(col(sourceCol), col("__g"))
      .agg(count(lit(1)).as("__df"))
    g.join(dfreq, Seq(sourceCol, "__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).cast("long")
          .as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
  }

  /** N-gram novelty score per document: the fraction of the doc's
    * DISTINCT word n-grams that occur in no other document (global
    * df = 1) — high novelty marks fresh content, low marks templated
    * or copied text (the inverse signal of [[boilerplateGrams]],
    * which flags per-source df ≥ minDocs). Same machinery: one
    * explode into distinct (doc, gram) rows, one gram hash agg for
    * df, one join back + per-doc agg. A hot cross-corpus gram only
    * feeds partial-agg counts — never a pair join.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    require(n > 0)
    val base = df.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__nt", size(col("__t")))
    val g = base.filter(col("__nt") >= n)
      .select(col(idCol),
        explode(sequence(lit(1), col("__nt") - lit(n - 1))).as("__pos"),
        col("__t"))
      .select(col(idCol),
        array_join(slice(col("__t"), col("__pos"), lit(n)), " ").as("__g"))
      .distinct()
    val dfreq = g.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    g.join(dfreq, Seq("__g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_novel"))
      .withColumn("novel_frac",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Edit-distance-1 pair mining over a string column (vocabulary
    * typo clustering / entity-name near-dup) via SymSpell deletion
    * neighborhoods, refined so every candidate is ed = 1 BY
    * CONSTRUCTION and no verify pass runs at all:
    *
    *  - substitution pairs (equal length, one differing position p)
    *    are exactly the pairs whose deletion variants agree AT THE
    *    SAME index — joining on (variant, index) finds each such pair
    *    once, at p, and cannot admit an ed-2 collision ("ab"/"ba"
    *    share variant "a" but at different indices, so they never
    *    meet);
    *  - insert/delete pairs (length difference 1) are exactly
    *    identity-variant-of-the-shorter = deletion-variant-of-the-
    *    longer, i.e. an index-0 vs index->0 match.
    *
    * The naive formulation (join on the bare variant + exact
    * `levenshtein ≤ 1` verify) measured 2.5× slower at sf0.1: the
    * bare-variant buckets multiply under identical-character runs
    * (TPC-H's 7-zero names → 64× candidate inflation), and the
    * per-pair levenshtein was over half the wall clock. Tagging the
    * index makes both costs structurally zero.
    *
    * Scale: variants per string = length+1 (linear blowup); a
    * (variant, index) bucket holds only strings identical outside one
    * position — bounded by the alphabet, not the corpus, the same
    * bounded-candidate discipline as the MinHash/SimHash bands.
    */
  def typoPairs(df: DataFrame, strCol: String): DataFrame = {
    val names = df.select(col(strCol).as("__t")).distinct()
    val t = col("__t")
    val v = windows(names, lit(0), length(t)) { i =>
      Seq(t, i.as("__i"), when(i === 0, t).otherwise(concat(
        t.substr(lit(1), i - 1), t.substr(i + 1, length(t)))).as("__var"))
    }
    val dels = v.filter(col("__i") > 0)
    // substitutions: same deletion index, same variant, distinct names
    val subs = dels.as("a").join(dels.as("b"),
        col("a.__var") === col("b.__var") && col("a.__i") === col("b.__i") &&
          col("a.__t") < col("b.__t"))
      .select(col("a.__t").as("t1"), col("b.__t").as("t2"))
    // insert/delete: shorter string IS a deletion variant of the longer
    val idents = v.filter(col("__i") === 0).select(col("__t"), col("__var"))
    val indel = idents.as("a").join(dels.as("b"),
        col("a.__var") === col("b.__var") && col("a.__t") =!= col("b.__t"))
      .select(least(col("a.__t"), col("b.__t")).as("t1"),
        greatest(col("a.__t"), col("b.__t")).as("t2"))
    // distinct: identical-character runs make an indel pair match at
    // every deletion index inside the run
    subs.unionAll(indel).distinct()
  }

  /** Blocked fuzzy self-join: Jaro–Winkler similarity ≥ `minSim`
    * between distinct strings sharing a blocking key — the classic
    * entity-resolution shape (block → pair → score → threshold).
    *
    * Scoring runs on the codegen'd [[graft.functions.JaroWinkler]]
    * expression (`graft_jw` — Spark ships only `levenshtein`), so the
    * pair scorer stays inside whole-stage codegen. Scale discipline:
    * the equi-join on the block key is the ONLY pair generator — cost
    * is Σ block², bounded by the blocking scheme, never corpus²; the
    * string table is deduplicated per block before pairing so repeated
    * values can't square the bucket. The JW score is rounded to 6 dp
    * before the threshold so the kept-pair set is bit-identical vs the
    * oracle's `jaro_winkler_similarity`.
    */
  def fuzzyBlockJoin(df: DataFrame, blockCols: Seq[String], strCol: String,
                     minSim: Double = 0.8): DataFrame = {
    val base = df.select(blockCols.map(col) :+ col(strCol): _*).distinct()
    val a = base.withColumnRenamed(strCol, "name_a")
    val b = base.withColumnRenamed(strCol, "name_b")
    a.join(b, blockCols)
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", round(JaroWinkler(col("name_a"), col("name_b")), 6))
      .filter(col("jw") >= minSim)
  }

  /** Zipf-law fit of the corpus unigram distribution: OLS slope and
    * intercept of ln(freq) against ln(rank) — the one-number corpus
    * health readout (natural text sits near slope −1; synthetic or
    * templated corpora drift toward 0). Ranks come from
    * [[MetricOps.globalRank]] (range-partitioned — no single-partition
    * window at any vocabulary size); per-term ln products round to
    * 12 dp and accumulate as DECIMAL so the moment sums are
    * order-independent, then the closed-form OLS is fixed double
    * arithmetic.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val tf = termFrequency(df, textCol)
    val rk = MetricOps.globalRank(tf.withColumn("__neg", -col("tf")),
      "__neg", "token")
    val s = rk.select(
        round(log(col("r").cast("double")), 12).cast("decimal(28,14)")
          .as("__x"),
        round(log(col("tf").cast("double")), 12).cast("decimal(28,14)")
          .as("__y"))
      .withColumn("__xy",
        round(col("__x").cast("double") * col("__y").cast("double"), 12)
          .cast("decimal(28,14)"))
      .withColumn("__xx",
        round(col("__x").cast("double") * col("__x").cast("double"), 12)
          .cast("decimal(28,14)"))
      .agg(count(lit(1)).as("n_tokens"),
        sum("__x").cast("double").as("__sx"),
        sum("__y").cast("double").as("__sy"),
        sum("__xy").cast("double").as("__sxy"),
        sum("__xx").cast("double").as("__sxx"))
    s.withColumn("__slope",
        (col("n_tokens") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_tokens") * col("__sxx") - col("__sx") * col("__sx")))
      .select(col("n_tokens"),
        round(col("__slope"), 6).as("slope"),
        round((col("__sy") - col("__slope") * col("__sx")) /
          col("n_tokens"), 6).as("intercept"))
  }

  /** Jensen–Shannon divergence (nats) between the unigram distributions
    * of two corpus slices (`sideExpr` = boolean: true → side A). Tokens
    * absent from one side contribute only the present side's half-term
    * (p·ln 2 at q=0). Bounded in [0, ln 2]; the drift alarm that, unlike
    * PSI, needs no binning and never divides by zero. Counts are exact
    * BIGINTs from one hash aggregation over (token, side); per-token
    * terms round to 12 dp and sum as DECIMAL (order-independent).
    */
  def jsDivergence(df: DataFrame, textCol: String,
                   sideExpr: Column): DataFrame = {
    val tf = df.select(explode(tokens(col(textCol))).as("__tok"),
        sideExpr.cast("int").as("__side"))
      .groupBy("__tok")
      .agg(sum(when(col("__side") === 1, 1L).otherwise(0L)).cast("long").as("__ca"),
        sum(when(col("__side") === 0, 1L).otherwise(0L)).cast("long").as("__cb"))
      .localCheckpoint(true) // totals + terms reuse one materialization
    val tot = tf.agg(sum("__ca").cast("long").as("__na"),
      sum("__cb").cast("long").as("__nb"))
    val half = tf.crossJoin(broadcast(tot))
      .withColumn("__p", col("__ca").cast("double") / col("__na"))
      .withColumn("__q", col("__cb").cast("double") / col("__nb"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .withColumn("__term", round(
        (when(col("__ca") > 0, col("__p") * log(col("__p") / col("__m")))
          .otherwise(lit(0.0)) +
         when(col("__cb") > 0, col("__q") * log(col("__q") / col("__m")))
          .otherwise(lit(0.0))) / 2, 12).cast("decimal(28,14)"))
    half.agg(max("__na").as("n_tokens_a"), max("__nb").as("n_tokens_b"),
      round(sum("__term").cast("double"), 6).as("js_nats"))
  }

  /** "Fightin' words" corpus comparison (Monroe–Colaresi–Quinn log-odds
    * with an informative Dirichlet prior): per token,
    * δ = ln((yₐ+α)/(nₐ+αV−yₐ−α)) − ln((y_b+α)/(n_b+αV−y_b−α)) with
    * σ² ≈ 1/(yₐ+α) + 1/(y_b+α), z = δ/σ — the statistically-grounded
    * "which words characterize side A vs side B" screen (raw
    * frequency ratios overweight rare words; this doesn't).
    *
    * One token hash agg carrying both sides' counts; totals and vocab
    * size are a 1-row broadcast; z is a fixed double formula over exact
    * integer counts. Top-k by z (side-A-characteristic first).
    */
  def logOddsZ(df: DataFrame, textCol: String, sideCol: String,
               alpha: Double, topK: Int, roundTo: Int = 6): DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("__t"),
        col(sideCol).cast("int").as("__s"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__ya"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__yb"))
    val tot = counts.agg(sum(col("__ya")).as("__na"),
      sum(col("__yb")).as("__nb"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("__d",
        log((col("__ya") + alpha) /
            (col("__na") + lit(alpha) * col("__v") - col("__ya") - alpha)) -
          log((col("__yb") + alpha) /
            (col("__nb") + lit(alpha) * col("__v") - col("__yb") - alpha)))
      .withColumn("__z", col("__d") /
        sqrt(lit(1.0) / (col("__ya") + alpha) +
          lit(1.0) / (col("__yb") + alpha)))
      .select(col("__t").as("token"), col("__ya").as("count_a"),
        col("__yb").as("count_b"), round(col("__d"), roundTo).as("delta"),
        round(col("__z"), roundTo).as("z"))
      .orderBy(col("z").desc, col("token"))
      .limit(topK)
  }

  /** Good–Turing frequency-of-frequencies per group: the unseen-mass
    * estimate P₀ = N₁/N (what share of the next batch's tokens will be
    * NEW — the coverage dial a corpus curator watches) plus the
    * smoothed counts r* = (r+1)·N_{r+1}/N_r for small r.
    *
    * Two bounded collapses: corpus → per-(group, token) counts →
    * count-of-counts (≤ max-frequency rows per group). The r* join is
    * on (group, r+1) — tiny by construction.
    */
  def goodTuring(df: DataFrame, groupCol: String, textCol: String,
                 maxR: Int, roundTo: Int = 6): DataFrame = {
    val tf = df
      .select(col(groupCol).as("__g"), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__r"))
    val fof = tf.groupBy(col("__g"), col("__r"))
      .agg(count(lit(1)).as("__nr"))
    val tot = fof.groupBy(col("__g"))
      .agg(sum(col("__r") * col("__nr")).as("__n"),
        sum(when(col("__r") === 1, col("__nr")).otherwise(0L)).as("__n1"))
    fof.filter(col("__r") <= maxR)
      .join(fof.select(col("__g"), (col("__r") - 1).as("__r"),
        col("__nr").as("__nr1")), Seq("__g", "__r"), "left")
      .join(broadcast(tot), "__g")
      .select(col("__g").as(groupCol), col("__r").as("r"),
        col("__nr").as("n_r"),
        round((col("__r") + 1) * col("__nr1").cast("double") /
          col("__nr"), roundTo).as("r_star"),
        round(col("__n1").cast("double") / col("__n"), roundTo).as("p0"))
      .orderBy(groupCol, "r")
  }

  /** Normalized PMI of adjacent token pairs — collocation mining:
    * npmi = ln(p(ab)/(p(a)p(b))) / (−ln p(ab)) ∈ [−1, 1], the
    * frequency-bias-corrected association score (raw PMI overweights
    * rare pairs; npmi = 1 iff the tokens only occur together).
    *
    * Scale: one bigram hash agg + one unigram hash agg (both
    * vocabulary-bounded), totals broadcast; `minCount` prunes the
    * noise tail before ranking.
    */
  def npmiCollocations(df: DataFrame, textCol: String, minCount: Long,
                       topK: Int, roundTo: Int = 6): DataFrame = {
    val toks = df
      .select(posexplode(tokens(col(textCol)))).toDF("__doc_pos", "__t")
    // positions restart per row, so pair tokens via a per-document
    // window would need the doc id; use the split-array adjacency
    val arr = df.select(tokens(col(textCol)).as("__a"))
      .filter(size(col("__a")) >= 2) // sequence() must not descend
    val bi = arr
      .select(col("__a"),
        explode(sequence(lit(0), size(col("__a")) - 2)).as("__i"))
      .select(col("__a").getItem(col("__i")).as("__x"),
        col("__a").getItem(col("__i") + 1).as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__nab"))
    val uni = toks.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val totB = bi.agg(sum(col("__nab")).as("__tb"))
    val totU = uni.agg(sum(col("__n")).as("__tu"))
    bi.filter(col("__nab") >= minCount)
      .join(broadcast(uni.select(col("__t").as("__x"),
        col("__n").as("__nx"))), "__x")
      .join(broadcast(uni.select(col("__t").as("__y"),
        col("__n").as("__ny"))), "__y")
      .crossJoin(broadcast(totB)).crossJoin(broadcast(totU))
      .withColumn("__pab", col("__nab").cast("double") / col("__tb"))
      .withColumn("__pmi", log(col("__pab") /
        ((col("__nx").cast("double") / col("__tu")) *
          (col("__ny").cast("double") / col("__tu")))))
      .withColumn("__npmi", col("__pmi") / -log(col("__pab")))
      .select(col("__x").as("token_a"), col("__y").as("token_b"),
        col("__nab").as("n_pair"), round(col("__pmi"), roundTo).as("pmi"),
        round(col("__npmi"), roundTo).as("npmi"))
      .orderBy(col("npmi").desc, col("token_a"), col("token_b"))
      .limit(topK)
  }

  /** Flesch reading-ease per document — the classic readability screen
    * a curation pipeline uses next to [[qualityScore]]:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * syllables approximated as vowel-group runs ([aeiouy]+). All three
    * counts are per-row regex/array expressions — map-only, no shuffle,
    * fully codegen'd; vowel runs never span the space delimiter, so the
    * doc-level count equals the per-word sum without an explode.
    * Sentence count floors at 1 (fragments still read as one sentence).
    */
  /** BPE merge-pair mining — the first training iteration of a
    * byte-pair-encoding tokenizer: count adjacent CHARACTER pairs
    * inside words, weighted by corpus word frequency, and surface the
    * top merge candidates.
    *
    * Scale discipline: the corpus collapses to the |vocab|-row word-
    * frequency table FIRST; the per-character explode then runs over
    * distinct words only (bounded by vocabulary × word length, never
    * corpus size), with each pair weighted by the word's frequency.
    */
  def bpePairs(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val vocab = df
      .select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .groupBy(col("__w")).agg(count(lit(1)).as("__wf"))
    vocab
      .select(col("__w"), col("__wf"),
        explode(sequence(lit(1), length(col("__w")) - 1)).as("__i"))
      .select(expr("substr(__w, __i, 2)").as("pair"), col("__wf"))
      .groupBy(col("pair")).agg(sum(col("__wf")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(topK)
  }

  def readability(df: DataFrame, idCol: String, textCol: String,
                  roundTo: Int = 4): DataFrame = {
    val words = size(tokens(col(textCol))).cast("long")
    val sents = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]"), lit(0)))
        .cast("long"), lit(1L))
    val syl = size(regexp_extract_all(lower(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    df.select(col(idCol), words.as("n_words"), sents.as("n_sentences"),
        syl.as("n_syllables"))
      .withColumn("flesch", when(col("n_words") > 0, round(
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
        roundTo)))
  }

  /** Per-document Gopher rule flags in PURE row-local expression form:
    * the same five rules as [[gopherRules]] (identical integer
    * cross-multiplied guards) but computed entirely within one
    * projection — the top-word count, distinct count, and stopword
    * count come from array higher-order functions over the token list
    * instead of the (doc, word) shuffle. That makes the gate usable
    * unchanged on a STREAM (no state, no shuffle, no watermark — the
    * live ingestion filter) and as a map-only batch pre-filter; the
    * aggregate report form stays [[gopherRules]], and
    * Round19OpsSpec proves flag-for-flag agreement between the two.
    * O(n²) worst-case in tokens per doc (distinct × filter) — fine for
    * document-sized rows; the shuffle form wins only when single rows
    * are megabyte-scale.
    */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String],
                  keep: Seq[String] = Nil): DataFrame =
    gopherSignals(df, idCol, textCol, stopwords, keep).drop("__n")

  /** The row-local Gopher signal pass shared by [[gopherFlags]] and
    * [[gopherAblation]]: the five rule flags plus the document's token
    * count (kept as `__n` so the ablation can attribute token loss
    * without a second corpus scan). `keep` carries extra columns
    * through (the [[langId]] convention) so grouped consumers never
    * need a join back onto the corpus.
    */
  private def gopherSignals(df: DataFrame, idCol: String,
                            textCol: String,
                            stopwords: Seq[String],
                            keep: Seq[String] = Nil): DataFrame = {
    df.withColumn("__tk", split(col(textCol), " "))
      .withColumn("__n", size(col("__tk")).cast("long"))
      .withColumn("__ch",
        (length(col(textCol)) - (col("__n") - 1)).cast("long"))
      .withColumn("__maxc", expr(
        """CAST(array_max(transform(array_distinct(__tk),
          |  w -> size(filter(__tk, x -> x = w)))) AS LONG)""".stripMargin))
      .withColumn("__nd",
        size(array_distinct(col("__tk"))).cast("long"))
      .withColumn("__nstop", size(filter(col("__tk"),
        x => array_contains(typedLit(stopwords), x))).cast("long"))
      .select(col(idCol) +: keep.map(col) :+ col("__n") :+
        (col("__n") < 30 || col("__n") > 80).cast("long")
          .as("f_word_count") :+
        (col("__ch") * 2 < col("__n") * 7 ||
          col("__ch") * 2 > col("__n") * 12).cast("long")
          .as("f_mean_word_len") :+
        (col("__maxc") * 5 > col("__n")).cast("long")
          .as("f_top_word_share") :+
        (col("__nstop") === 0).cast("long").as("f_no_stopword") :+
        (col("__nd") * 5 < col("__n") * 2).cast("long")
          .as("f_distinct_ratio"): _*)
  }

  /** Gopher-style composite quality-rule report (Rae et al. 2021,
    * Gopher §A1.1 document filters, adapted to the corpus at hand):
    * five hard rules per document —
    *   r1_word_count:     30 ≤ |words| ≤ 80
    *   r2_mean_word_len:  3.5 ≤ chars/word ≤ 6   (7n ≤ 2c ≤ 12n)
    *   r3_top_word_share: most-frequent word ≤ 20%  (5·max ≤ n)
    *   r4_has_stopword:   ≥ 1 stopword present
    *   r5_distinct_ratio: distinct/total ≥ 40%   (5·d ≥ 2n)
    * reported as per-rule violation counts + rates and an `all_pass`
    * row. Every guard is an EXACT integer cross-multiplication — no
    * float thresholds, no rounding boundaries, engine-identical.
    *
    * Scale: one token shuffle (the (doc, word) histogram) feeding a
    * per-doc agg, then a single global reduce to the 6-row report —
    * the corpus never moves twice and no window ever appears.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String]): DataFrame = {
    val t = df
      .withColumn("__tk", split(col(textCol), " "))
      .withColumn("__n", size(col("__tk")).cast("long"))
      .withColumn("__ch",
        (length(col(textCol)) - (col("__n") - 1)).cast("long"))
    val dw = t.select(col(idCol), explode(col("__tk")).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    val ds = dw.groupBy(col(idCol)).agg(
      max(col("__c")).as("__maxc"),
      count(lit(1)).as("__nd"),
      sum(when(col("__w").isin(stopwords: _*), col("__c"))
        .otherwise(lit(0L))).as("__nstop"))
    val per = t.select(col(idCol), col("__n"), col("__ch"))
      .join(ds, Seq(idCol))
      .select(
        (col("__n") < 30 || col("__n") > 80).cast("long").as("f1"),
        (col("__ch") * 2 < col("__n") * 7 ||
          col("__ch") * 2 > col("__n") * 12).cast("long").as("f2"),
        (col("__maxc") * 5 > col("__n")).cast("long").as("f3"),
        (col("__nstop") === 0).cast("long").as("f4"),
        (col("__nd") * 5 < col("__n") * 2).cast("long").as("f5"))
      .withColumn("fa",
        (col("f1") + col("f2") + col("f3") + col("f4") + col("f5") > 0)
          .cast("long"))
    per.agg(count(lit(1)).as("nd"), sum(col("f1")).as("s1"),
        sum(col("f2")).as("s2"), sum(col("f3")).as("s3"),
        sum(col("f4")).as("s4"), sum(col("f5")).as("s5"),
        sum(col("fa")).as("sa"))
      .selectExpr("nd", """stack(6,
        'r1_word_count', s1, 'r2_mean_word_len', s2,
        'r3_top_word_share', s3, 'r4_has_stopword', s4,
        'r5_distinct_ratio', s5, 'all_pass', nd - sa)
        AS (rule, n)""")
      .select(col("rule"), col("n").as("n_docs"),
        round(col("n").cast("double") / col("nd"), 6).as("rate"))
  }

  /** Per-document trigram cross-entropy under a held-out "stupid
    * backoff" model (Brants et al. 2007, large-LM MT): the model trains
    * on the EVEN-doc_id half of the corpus, scores every document, and
    * unseen trigrams back off with fixed weight 0.4 —
    *   s(w3|w1w2) = c3/ctx3           if the trigram was seen,
    *              = 0.4·c2/ctx2       else if the (w2,w3) pair was,
    *              = 0.16·(c1+1)/(N+V) else (add-one unigram floor),
    * all counts taken over the train half's trigram positions (one
    * count source ⇒ the chain is self-consistent). The held-out split
    * is what makes backoff live: a corpus scored under its own counts
    * never leaves the first branch (cf. [[bigramCrossEntropy]]).
    *
    * Scale: the tokenized trigram-position table localCheckpoints once
    * and feeds all six consumers (five count tables + the scoring
    * join); every join is an equi-join on n-gram keys, the two scalars
    * broadcast. Each ln s snaps to 12 dp and sums as DECIMAL(38,12);
    * the per-doc mean rounds to 6 dp with the zero sign pinned
    * (an all-seen doc's −0.0 is the q210 hash class).
    */
  def trigramBackoffXent(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val occ = windows(df.withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= 3), lit(0), size(col("t")) - 3) { i =>
        Seq(col(idCol), col("t").getItem(i).as("w1"),
          col("t").getItem(i + 1).as("w2"), col("t").getItem(i + 2).as("w3"))
      }
      // LAZY localCheckpoint: six subplans read the trigram positions.
      .localCheckpoint(false)
    val tr = occ.filter(col(idCol) % 2 === 0)
    val c3 = tr.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("m3"))
    val n3 = tr.groupBy("w1", "w2").agg(count(lit(1)).as("k3"))
    val c2 = tr.groupBy("w2", "w3").agg(count(lit(1)).as("m2"))
    val n2 = tr.groupBy("w2").agg(count(lit(1)).as("k2"))
    val c1 = tr.groupBy("w3").agg(count(lit(1)).as("m1"))
    val tot = tr.agg(count(lit(1)).as("nn"),
      countDistinct(col("w3")).as("vv"))
    val score =
      when(col("m3").isNotNull, col("m3").cast("double") / col("k3"))
        .when(col("m2").isNotNull,
          lit(0.4) * (col("m2").cast("double") / col("k2")))
        .otherwise(lit(0.16) *
          ((coalesce(col("m1"), lit(0L)) + 1).cast("double") /
            (col("nn") + col("vv")).cast("double")))
    occ.join(c3, Seq("w1", "w2", "w3"), "left")
      .join(n3, Seq("w1", "w2"), "left")
      .join(c2, Seq("w2", "w3"), "left")
      .join(n2, Seq("w2"), "left")
      .join(c1, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("__lp", round(log(score), 12).cast("decimal(38,12)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pos"), sum(col("__lp")).as("__s"))
      .select(col(idCol), col("n_pos"),
        MetricOps.normZero(round(-col("__s").cast("double") /
          col("n_pos"), 6)).as("xent"))
  }

  /** Tokenizer-fertility report per language: whitespace words, BPE
    * token estimate (ceil(chars/4), the [[tokenStats]] convention),
    * and raw bytes per document, aggregated to per-language ratios —
    * tokens/word (fertility), bytes/token, and chars/word, the
    * numbers a tokenizer/mixture owner reads before setting
    * per-language sampling (high-fertility languages pay more compute
    * per word). One hash aggregation; every ratio is an exact
    * integer half-up division at 6 dp (the `(2a·10⁶+b) div 2b` house
    * trick) — no float boundary can split engines.
    */
  def tokenFertility(df: DataFrame, langCol: String,
                     textCol: String): DataFrame = {
    def ratio6(num: String, den: String): Column = expr(
      s"CAST((CAST($num AS DECIMAL(38,0)) * 2000000 + $den) " +
        s"div (2 * $den) AS DOUBLE) / 1000000")
    df.select(col(langCol).as("lang"),
        size(tokens(col(textCol))).cast("long").as("__w"),
        ceil(length(col(textCol)) / 4.0).cast("long").as("__b"),
        octet_length(col(textCol)).cast("long").as("__c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("words"),
        sum(col("__b")).as("bpe_tokens"), sum(col("__c")).as("bytes"))
      .select(col("lang"), col("n_docs"), col("words"),
        col("bpe_tokens"), col("bytes"),
        ratio6("bpe_tokens", "words").as("fertility"),
        ratio6("bytes", "bpe_tokens").as("bytes_per_token"),
        ratio6("bytes", "words").as("chars_per_word"))
  }

  /** CCNet-style perplexity terciles (Wenzek et al. 2020): score every
    * document with [[bigramCrossEntropy]], then split EACH language
    * into head/middle/tail thirds by cross-entropy (ntile(3) ordered
    * by (xent, doc_id) — the tie-break makes the assignment a total
    * order, hence engine-identical). Reports per (lang, tercile) the
    * doc count and the min/max/mean cross-entropy — the table read
    * before keeping "head+middle" as CCNet does.
    *
    * Scale: the xent scores carry one window per LANGUAGE partition
    * (never global), and the tercile stats are one hash agg. The mean
    * re-quantizes the 6 dp scores to integer micro-units and divides
    * half-up, so it is exact in both engines.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    val ce = bigramCrossEntropy(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol).as("lang")), Seq(idCol))
    val b = ce.withColumn("tercile", ntile(3).over(
      Window.partitionBy("lang")
        .orderBy(col("cross_entropy"), col(idCol))))
    b.groupBy("lang", "tercile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("cross_entropy")).as("min_xent"),
        max(col("cross_entropy")).as("max_xent"),
        sum(round(col("cross_entropy") * 1000000).cast("decimal(38,0)"))
          .as("__s6"))
      .select(col("lang"), col("tercile"), col("n_docs"),
        col("min_xent"), col("max_xent"),
        expr("CAST((__s6 * 2 + n_docs) div (2 * n_docs) AS DOUBLE)" +
          " / 1000000").as("mean_xent"))
  }

  /** Log₂-bucketed unigram frequency spectrum per source — the
    * count-of-counts table (the Good–Turing front-end): for every
    * source, how many token TYPES fall in each frequency octave
    * [2^b, 2^{b+1}) and how much token MASS they carry. Bucket 0 is the
    * hapax legomena — their type count n₁ is the Good–Turing estimate
    * of unseen-mass (P₀ ≈ n₁/N), the standard "how much novelty is
    * left in this source" dial a mixture owner reads next to [[zipfFit]].
    *
    * Scale: one token explode + two hash aggregations ((source, token)
    * then (source, bucket)); output is ≤ 64 rows per source whatever
    * the vocabulary size — the octave bucketing is what keeps the
    * report bounded at 100 TB. The bucket index is the BIT LENGTH of
    * the count (length(bin(c)) − 1), an exact integer path — never
    * floor(log2) whose FP boundary at exact powers of two could split
    * engines.
    */
  def freqSpectrum(df: DataFrame, srcCol: String,
                   textCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("__c"))
      .withColumn("bucket", (length(bin(col("__c"))) - 1).cast("int"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("__c")).as("n_tokens"))

  /** Moore–Lewis cross-entropy-difference selection (Moore & Lewis
    * 2010): score every document by
    *   mean[ ln P_in(w2|w1) − ln P_gen(w2|w1) ]
    * under add-one-smoothed bigram models — P_in trained on the
    * in-domain slice (`inDomainCol`), P_gen on the whole corpus, both
    * sharing the corpus successor vocabulary V as the smoothing
    * denominator. Positive score = the in-domain model likes the doc
    * more than the background model does — the classic "select web
    * data that looks like my target domain" filter; `selected` is the
    * score > 0 cut.
    *
    * Scale: the tokenized bigram-position table localCheckpoints once
    * and feeds all five count tables + the scoring join; every join is
    * an equi-join on the bigram/unigram key and the vocabulary scalar
    * broadcasts. Per-position log terms snap to 12 dp and sum as
    * DECIMAL(38,12); the per-doc mean rounds to 6 dp sign-pinned.
    */
  def mooreLewis(df: DataFrame, idCol: String, textCol: String,
                 inDomainCol: Column): DataFrame = {
    val occ = windows(df.withColumn("__in", inDomainCol)
        .withColumn("t", split(col(textCol), " "))
        .filter(size(col("t")) >= 2), lit(0), size(col("t")) - 2) { i =>
        Seq(col(idCol), col("__in"), col("t").getItem(i).as("w1"),
          col("t").getItem(i + 1).as("w2"))
      }
      // LAZY localCheckpoint: five count tables + the scoring join all
      // read the tokenized positions.
      .localCheckpoint(false)
    val ind = occ.filter(col("__in"))
    val ci2 = ind.groupBy("w1", "w2").agg(count(lit(1)).as("i12"))
    val ci1 = ind.groupBy("w1").agg(count(lit(1)).as("i1"))
    val cg2 = occ.groupBy("w1", "w2").agg(count(lit(1)).as("g12"))
    val cg1 = occ.groupBy("w1").agg(count(lit(1)).as("g1"))
    val voc = occ.agg(countDistinct(col("w2")).as("vv"))
    occ.join(ci2, Seq("w1", "w2"), "left")
      .join(ci1, Seq("w1"), "left")
      .join(cg2, Seq("w1", "w2"))
      .join(cg1, Seq("w1"))
      .crossJoin(broadcast(voc))
      .withColumn("__ld", round(
        log((coalesce(col("i12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("i1"), lit(0L)) + col("vv")).cast("double")) -
          log((col("g12") + 1).cast("double") /
            (col("g1") + col("vv")).cast("double")), 12)
        .cast("decimal(38,12)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pos"), sum(col("__ld")).as("__s"))
      .select(col(idCol), col("n_pos"),
        MetricOps.normZero(round(col("__s").cast("double") /
          col("n_pos"), 6)).as("score"))
      .withColumn("selected", (col("score") > 0).cast("long"))
  }

  /** Per-source yield funnel — the curation dashboard: how many
    * documents and tokens survive each gate of the standard pipeline
    * (raw → language allowlist → Gopher quality pass → exact dedup
    * keep-first). The tokens column is what matters at 100 TB: a
    * source whose token yield collapses at the quality gate is
    * mis-crawled, one that collapses at dedup is a mirror — the two
    * cases read identically in a doc-count-only report.
    *
    * Scale: ONE corpus pass computes every row-local flag (the Gopher
    * predicate is [[gopherFlags]], row-local HOFs), localCheckpointed
    * because the keep-first table and the final aggregate both read
    * it; dedup is a (hash → min id) hash aggregation joined back on
    * the hash — never a window over the corpus.
    */
  def yieldFunnel(df: DataFrame, srcCol: String, idCol: String,
                  textCol: String, langCol: String,
                  allowedLangs: Seq[String],
                  stopwords: Seq[String]): DataFrame = {
    val flags = gopherFlags(df, idCol, textCol, stopwords)
    val base = df.join(flags, Seq(idCol))
      .withColumn("__tok", size(split(col(textCol), " ")).cast("long"))
      .withColumn("__g1",
        array_contains(typedLit(allowedLangs), col(langCol)))
      .withColumn("__g2", col("__g1") &&
        (col("f_word_count") + col("f_mean_word_len") +
          col("f_top_word_share") + col("f_no_stopword") +
          col("f_distinct_ratio") === 0))
      .withColumn("__h", md5(col(textCol)))
      .select(col(srcCol).as("source"), col(idCol).as("__id"),
        col("__tok"), col("__g1"), col("__g2"), col("__h"))
      // LAZY localCheckpoint: the keep-first table and the final
      // aggregate both read the flagged corpus.
      .localCheckpoint(false)
    val keep = base.filter(col("__g2"))
      .groupBy(col("__h")).agg(min(col("__id")).as("__mid"))
    base.join(keep, Seq("__h"), "left")
      .withColumn("__g3", col("__g2") && col("__id") === col("__mid"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"), sum(col("__tok")).as("tok_raw"),
        sum(col("__g1").cast("long")).as("n_lang"),
        sum(when(col("__g1"), col("__tok")).otherwise(lit(0L)))
          .as("tok_lang"),
        sum(col("__g2").cast("long")).as("n_quality"),
        sum(when(col("__g2"), col("__tok")).otherwise(lit(0L)))
          .as("tok_quality"),
        sum(col("__g3").cast("long")).as("n_dedup"),
        sum(when(col("__g3"), col("__tok")).otherwise(lit(0L)))
          .as("tok_dedup"))
  }

  /** Content-defined chunking (the rsync/LBFS rolling-cut idea, on
    * token hashes): a chunk boundary falls AFTER every token whose
    * md5 starts with hex '0' (p = 1/16 ⇒ ~16-token expected chunks),
    * so chunk limits depend only on CONTENT — an insertion early in a
    * document shifts fixed-window chunks everywhere but re-aligns CDC
    * chunks at the next cut point, which is what makes cross-doc chunk
    * dedup robust to edits (the failure mode of [[DedupOps.chunkDedup]]'s
    * fixed windows). Reports per document the chunk count, mean chunk
    * size, and how many of its chunks also appear elsewhere.
    *
    * Scale: one token explode; the chunk index is a cumulative
    * boundary count under a per-DOCUMENT window, chunks re-assemble by
    * (doc, chunk) hash agg, and the cross-doc check is a count on the
    * chunk hash — never a self-join. Mean chunk size is an exact
    * half-up division at 2 dp.
    */
  def cdcChunks(df: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val pos = df.select(col(idCol), posexplode(split(col(textCol), " "))
        .as(Seq("pos", "w")))
      .withColumn("__b",
        (substring(md5(col("w")), 1, 1) === "0").cast("long"))
      .withColumn("__chunk", coalesce(sum(col("__b")).over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = pos.groupBy(col(idCol), col("__chunk"))
      .agg(count(lit(1)).as("__sz"),
        md5(concat_ws(" ", sort_array(collect_list(
          struct(col("pos"), col("w")))).getField("w"))).as("__ch"))
      // LAZY localCheckpoint: the cross-doc chunk census and the
      // per-doc report both read the chunk table.
      .localCheckpoint(false)
    val census = chunks.groupBy(col("__ch"))
      .agg(count(lit(1)).as("__n"))
    chunks.join(census, Seq("__ch"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"), sum(col("__sz")).as("__tok"),
        sum((col("__n") > 1).cast("long")).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"),
        expr("CAST((__tok * 200 + n_chunks) div (2 * n_chunks)" +
          " AS DOUBLE) / 100").as("mean_chunk_tokens"),
        col("n_dup_chunks"),
        expr("CAST((n_dup_chunks * 2000000 + n_chunks)" +
          " div (2 * n_chunks) AS DOUBLE) / 1000000")
          .as("dup_chunk_rate"))
  }

  /** Per-source quality-threshold transfer: the GLOBAL min-length
    * rule (`len ≥ globalMin`) keeps some global fraction g; this
    * table computes, per source, the strictest length threshold whose
    * within-source keep rate still ≥ g — i.e. the same selectivity
    * calibrated to each source's own length distribution. A single
    * global cutoff silently deletes entire short-form sources (the
    * disparate-impact failure of one-size thresholds); quantile-
    * matched per-source thresholds keep the filter's bite without the
    * skew, and this is the table that ships them.
    *
    * Scale: one (source, length) histogram agg; the descending
    * cumulative runs over that bounded histogram keyed by source
    * (never raw rows); the threshold pick is one struct-max argmax;
    * every rate is an exact cross-multiplied integer comparison.
    */
  def thresholdTransfer(df: DataFrame, srcCol: String, textCol: String,
                        globalMin: Int = 30): DataFrame = {
    val base = df.select(col(srcCol).as("source"),
        size(split(col(textCol), " ")).cast("long").as("__len"))
      // LAZY localCheckpoint: the global rate, the per-source totals
      // and the histogram all read the length pass.
      .localCheckpoint(false)
    val g = base.agg(count(lit(1)).as("__n"),
        sum((col("__len") >= globalMin).cast("long")).as("__kk"))
      .select(expr("CAST((__kk * 2000000 + __n) div (2 * __n) " +
        "AS BIGINT)").as("__kppm"))
    val ns = base.groupBy(col("source")).agg(count(lit(1)).as("__ns"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__len").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    base.groupBy(col("source"), col("__len"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__keep", sum(col("__c")).over(w))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(g))
      // keep-rate ≥ the global rate, exactly (cross-multiplied)
      .filter(col("__keep") * 1000000 >= col("__kppm") * col("__ns"))
      .groupBy(col("source"), col("__ns"), col("__kppm"))
      .agg(max(struct(col("__len"), col("__keep"))).as("__m"))
      .select(col("source"), col("__ns").as("n_docs"),
        col("__kppm").as("global_keep_ppm"),
        col("__m.__len").as("threshold_tokens"),
        expr("CAST((__m.__keep * 2000000 + __ns) div (2 * __ns) " +
          "AS BIGINT)").as("achieved_keep_ppm"))
  }

  /** Iterative phrase-merge training (the word2phrase / BPE training
    * loop at token granularity): `steps` rounds of [count all adjacent
    * token pairs → take the most frequent (count desc, pair asc) →
    * rewrite the corpus joining that pair with '@'], so later rounds
    * can merge previously-merged units into longer phrases. Returns
    * the merge table (step, pair, count-at-selection) — the artifact
    * a tokenizer/phrase vocabulary ships. This is tokenizer TRAINING
    * expressed as a declarative plan per round, not a specialized
    * external trainer.
    *
    * Scale: the corpus is deduplicated ONCE into a
    * multiplicity-weighted distinct-text table (identical texts
    * rewrite identically, so weighting each bigram occurrence by the
    * text's multiplicity yields the exact same pair counts and
    * therefore the identical merge table, on a corpus-shrunk input).
    * Each round is one weighted bigram hash agg (map-side partials)
    * plus a rewrite of ONLY the rows containing the selected pair —
    * the per-round eager checkpoint holds just that delta, so
    * materialized volume per round is bounded by affected rows, never
    * the corpus; untouched rows stay behind the round-0 checkpoint as
    * row-local `contains` filters. The rewrite uses non-overlapping
    * left-to-right replace with space sentinels — consecutive
    * overlapping occurrences keep word2phrase's greedy semantics,
    * identically in both engines. The selected pair is the ONLY
    * driver-side value per round (one row).
    */
  def phraseMerges(df: DataFrame, textCol: String,
                   steps: Int = 5): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    trainMerges(df, textCol, steps).toDF("step", "w1", "w2", "n_occ")
      .select(col("step").cast("long").as("step"), col("w1"),
        col("w2"), col("n_occ"))
  }

  /** Shared trainer for [[phraseMerges]] / [[phraseApply]]: the
    * weighted distinct-text merge loop. The selected pair is the ONLY
    * driver-side value per round (one row).
    */
  private def trainMerges(df: DataFrame, textCol: String,
                          steps: Int): Seq[(Int, String, String, Long)] = {
    var corpus = df
      .select(concat(lit(" "), col(textCol), lit(" ")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__w"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var done = false
    for (step <- 1 to steps if !done) {
      val tk = col("__tk")
      val top = windows(corpus
          .select(split(trim(col("__t")), " ").as("__tk"), col("__w"))
          .filter(size(tk) >= 2), lit(0), size(tk) - 2) { i =>
          Seq(col("__w"), tk.getItem(i).as("w1"), tk.getItem(i + 1).as("w2"))
        }
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("__w")).as("__c"))
        .orderBy(col("__c").desc, col("w1"), col("w2"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (w1, w2, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        out += ((step, w1, w2, c))
        val pat = s" $w1 $w2 "
        // Delta-only rewrite: checkpoint just the pair-containing rows.
        val hit = corpus.filter(col("__t").contains(pat))
          .select(expr(
            s"replace(__t, ${sqlStr(pat)}, " +
              s"${sqlStr(s" $w1@$w2 ")})").as("__t"), col("__w"))
          .localCheckpoint(true)
        corpus = corpus.filter(!col("__t").contains(pat)).union(hit)
      }
    }
    out.toSeq
  }

  /** Tokenizer APPLICATION: train `steps` phrase merges (the
    * [[phraseMerges]] loop) and apply the whole merge sequence to the
    * corpus in ONE row-local projection (the `steps` replaces nest, in
    * training order, so later merges see earlier merges' output —
    * exactly the per-round rewrite semantics), reporting per-source
    * whitespace-token counts before/after and the exact half-up
    * compression ppm. This is the "what does the trained vocabulary
    * buy" measurement a tokenizer ships with.
    *
    * Scale: training is the weighted distinct-text loop (bounded
    * per-round deltas); application + the census is one corpus scan
    * with a per-source hash agg — no joins, no windows.
    */
  def phraseApply(df: DataFrame, srcCol: String, textCol: String,
                  steps: Int = 5): DataFrame = {
    val merges = trainMerges(df, textCol, steps)
    val applied = merges.foldLeft(s"concat(' ', $textCol, ' ')") {
      case (e, (_, w1, w2, _)) =>
        s"replace($e, ${sqlStr(s" $w1 $w2 ")}, ${sqlStr(s" $w1@$w2 ")})"
    }
    df.select(col(srcCol).as("source"),
        size(split(trim(col(textCol)), " ")).cast("long").as("__tb"),
        size(split(trim(expr(applied)), " ")).cast("long").as("__ta"))
      .groupBy(col("source"))
      .agg(sum(col("__tb")).as("tokens_before"),
        sum(col("__ta")).as("tokens_after"))
      .select(col("source"), col("tokens_before"), col("tokens_after"),
        (col("tokens_before") - col("tokens_after")).as("merged_occ"),
        expr("CAST((tokens_after * 2000000 + tokens_before) div " +
          "(2 * tokens_before) AS BIGINT)").as("compression_ppm"))
  }

  /** Data-scaling proxy curve: held-out unigram cross-entropy as the
    * training corpus grows through its deterministic membership
    * slices (train on slices 0..s, evaluate on the last slice, for
    * every s) — the measured "is more of the same data still buying
    * loss" curve, the LOSS-space twin of the trigram-accretion
    * vocabulary curve. Unigram add-one models are crude but
    * MONOTONE-comparable across slices, which is all a marginal-value
    * decision needs; the smoothing vocabulary V is the full train
    * vocabulary, fixed across s, so curves differ only by data.
    *
    * Scale: one (slice, token) hash agg over the train side; the
    * cumulative-by-slice expansion joins the ≤nBuckets-row spine (≤
    * nBuckets copies of the vocab table, never the corpus); eval
    * terms join on the token key with the absent-token tail in closed
    * form (c=0 ⇒ every missing token shares ln 1/(N_s+V+1)). Terms
    * snap to 12 dp and sum DECIMAL(38,12).
    */
  def scalingProxy(df: DataFrame, idCol: String, textCol: String,
                   nBuckets: Int = 10): DataFrame = {
    val dec = (MixtureOps.membership(idCol) * nBuckets).cast("int")
    val toks = df.withColumn("__d", dec)
      .select(col("__d"), explode(split(col(textCol), " ")).as("__tok"))
    val evalD = nBuckets - 1
    val train = toks.filter(col("__d") < evalD)
      .groupBy(col("__d"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val spine = train.sparkSession.range(0, evalD.toLong)
      .select(col("id").cast("int").as("__s"))
    val cum = train
      .join(broadcast(spine), col("__d") <= col("__s"))
      .groupBy(col("__s"), col("__tok"))
      .agg(sum(col("__c")).as("__cs"))
      .localCheckpoint(false)
    val ns = cum.groupBy(col("__s")).agg(sum(col("__cs")).as("__ns"))
    val v = train.select(col("__tok")).distinct()
      .agg(count(lit(1)).as("__v"))
    val ev = toks.filter(col("__d") === evalD)
      .groupBy(col("__tok")).agg(count(lit(1)).as("__ce"))
      .localCheckpoint(false)
    val evTot = ev.agg(sum(col("__ce")).as("__ne"))
    val matched = cum.join(ev, Seq("__tok"))
      .join(broadcast(ns), Seq("__s"))
      .join(broadcast(v).crossJoin(broadcast(evTot)))
      .withColumn("__term", round(col("__ce") *
        log((col("__cs") + 1).cast("double") /
          (col("__ns") + col("__v") + 1)), 12).cast("decimal(38,12)"))
      .groupBy(col("__s"), col("__ns"), col("__v"), col("__ne"))
      .agg(sum(col("__term")).as("__sm"),
        sum(col("__ce")).as("__me"))
    matched
      .withColumn("__tail", round((col("__ne") - col("__me")) *
        log(lit(1.0) / (col("__ns") + col("__v") + 1)), 12)
        .cast("decimal(38,12)"))
      .select(col("__s").cast("long").as("train_slices"),
        col("__ns").as("n_train_tokens"), col("__ne").as("n_eval_tokens"),
        round(-(col("__sm") + col("__tail")).cast("double") /
          col("__ne"), 6).as("cross_entropy_nats"))
  }

  /** Chunking-scheme dedup census: the same corpus chunked two ways —
    * fixed `w`-token windows ([[DedupOps.chunkDedup]]'s grid) and
    * content-defined rolling cuts ([[cdcChunks]]' boundaries) — with
    * the duplicate-family census per scheme: families, family-member
    * chunks, distinct documents touched, implied verify pairs
    * Σ f·(f−1)/2, and the largest family. Fixed windows shatter under
    * edits (an early insertion shifts every later window) while CDC
    * re-aligns at the next cut; this table MEASURES how much dup mass
    * each scheme can actually see on this corpus, which prices the
    * chunk-dedup design before a 100 TB pass commits to one.
    *
    * Scale: each scheme is one explode into a chunk-hash agg (family
    * sizes, never pair materialization — the pair count is
    * arithmetic); the docs-touched census is one distinct semi-join
    * per scheme on the family key.
    */
  def chunkSchemeCensus(df: DataFrame, idCol: String, textCol: String,
                        w: Int = 20): DataFrame = {
    val fixed = windows(df.withColumn("t", split(col(textCol), " ")), lit(0),
        expr(s"CAST((size(t) - 1) / $w AS INT)")) { i =>
        Seq(lit("fixed").as("scheme"), col(idCol).as("__doc"),
          md5(tokenChunk(col("t"), i, w)).as("__h"))
      }
    val cdcPos = df
      .select(col(idCol).as("__doc"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .withColumn("__b",
        (substring(md5(col("__w")), 1, 1) === "0").cast("long"))
      .withColumn("__chunk", coalesce(sum(col("__b")).over(
        Window.partitionBy(col("__doc")).orderBy(col("__pos"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cdc = cdcPos.groupBy(col("__doc"), col("__chunk"))
      .agg(md5(concat_ws(" ", sort_array(collect_list(
        struct(col("__pos"), col("__w")))).getField("__w"))).as("__h"))
      .select(lit("cdc").as("scheme"), col("__doc"), col("__h"))
    val all = fixed.unionAll(cdc)
      // LAZY localCheckpoint: the family census and the docs-touched
      // semi-join both read the (scheme, doc, hash) stream.
      .localCheckpoint(false)
    val fam = all.groupBy(col("scheme"), col("__h"))
      .agg(count(lit(1)).as("__f"))
      .filter(col("__f") > 1)
      .localCheckpoint(false)
    val census = fam.groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_families"),
        sum(col("__f")).as("n_dup_chunks"),
        sum(expr("__f * (__f - 1) div 2")).as("n_verify_pairs"),
        max(col("__f")).as("max_family"))
    val docs = all.join(fam.select(col("scheme"), col("__h")),
        Seq("scheme", "__h"), "left_semi")
      .select(col("scheme"), col("__doc")).distinct()
      .groupBy(col("scheme")).agg(count(lit(1)).as("n_docs_touched"))
    census.join(docs, Seq("scheme"), "left")
      .select(col("scheme"), col("n_families"), col("n_dup_chunks"),
        coalesce(col("n_docs_touched"), lit(0L)).as("n_docs_touched"),
        col("n_verify_pairs"), col("max_family"))
  }

  /** Rank-average quality ensemble: three row-local signals — token
    * count, distinct-token ratio, stopword rate — each converted to a
    * global percentile via [[MetricOps.globalRank]] (token count and
    * distinct ratio rank ascending = longer/more-diverse is better;
    * stopword rate ranks descending = fewer is better), then averaged.
    * Rank-averaging is the standard way to blend signals with
    * incomparable scales (no z-score assumptions, immune to outliers);
    * `selected` keeps the top quartile of the blend.
    *
    * Scale: three bounded-histogram global ranks (broadcast back, no
    * single-partition window) over one row-local signal pass. All
    * percentiles are exact integer ppm (r·10⁶ div N); the blend is
    * their exact mean — no float appears anywhere.
    */
  def rankBlend(df: DataFrame, idCol: String,
                textCol: String, stopwords: Seq[String]): DataFrame = {
    val base = df.withColumn("__tk", split(col(textCol), " "))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("__n"),
        round(size(array_distinct(col("__tk"))).cast("double") /
          size(col("__tk")), 6).as("__dr"),
        round(size(filter(col("__tk"),
            x => array_contains(typedLit(stopwords), x))).cast("double") /
          size(col("__tk")), 6).as("__sr"))
      // LAZY localCheckpoint: three rank passes read the signal table.
      .localCheckpoint(false)
    def pct(scored: DataFrame, out: String): DataFrame =
      scored.withColumn(out, expr("(r * 1000000) div __nn")).drop("r")
    val n = base.agg(count(lit(1)).as("__nn"))
    val r1 = pct(MetricOps.globalRank(
      base.select(col(idCol), col("__n").cast("double").as("__s1"))
        .crossJoin(broadcast(n)), "__s1", idCol), "pct_len")
      .select(col(idCol), col("pct_len"))
    val r2 = pct(MetricOps.globalRank(
      base.select(col(idCol), col("__dr").as("__s2"))
        .crossJoin(broadcast(n)), "__s2", idCol), "pct_distinct")
      .select(col(idCol), col("pct_distinct"))
    val r3 = pct(MetricOps.globalRank(
      base.select(col(idCol), (-col("__sr")).as("__s3"))
        .crossJoin(broadcast(n)), "__s3", idCol), "pct_stop")
      .select(col(idCol), col("pct_stop"))
    base.select(col(idCol))
      .join(r1, Seq(idCol)).join(r2, Seq(idCol)).join(r3, Seq(idCol))
      .withColumn("blend_ppm", expr(
        "((pct_len + pct_distinct + pct_stop) * 2 + 3) div 6"))
      .withColumn("selected", (col("blend_ppm") >= 750000L).cast("long"))
  }

  /** First-iteration BPE merge statistics: the global adjacent
    * CHARACTER-pair counts inside whitespace tokens — exactly the
    * table byte-pair encoding consults for its first merge (Sennrich
    * et al. 2016). Reports the top 20 pairs with exact corpus share;
    * reading it per corpus shows what the first merges of a tokenizer
    * trained HERE would be — the sanity check before spending a real
    * BPE run on 100 TB.
    *
    * Scale: token explode → row-local char-pair explode → one hash
    * aggregation (key space bounded by the alphabet², not the corpus);
    * the top-20 is a TakeOrderedAndProject (bounded k, never a global
    * sort materialization). Ties break by pair string so the cut is
    * total-ordered.
    */
  def bpeMergeStats(df: DataFrame, textCol: String,
                    topK: Int = 20): DataFrame = {
    val w = col("w")
    val pairs = windows(df.select(explode(split(col(textCol), " ")).as("w"))
        .filter(length(w) >= 2), lit(1), length(w) - 1) { i =>
        Seq(w.substr(i, lit(2)).as("pair"))
      }
    val counts = pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occ"))
    val tot = counts.agg(sum(col("n_occ")).as("__t"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr(
        "CAST((n_occ * 2000000 + __t) div (2 * __t) AS BIGINT)"))
      .select(col("pair"), col("n_occ"), col("share_ppm"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topK)
  }

  /** Per-document KL novelty: KL(doc unigram ‖ corpus unigram) =
    * Σ_w (c_dw/n_d)·ln(c_dw·N / (n_d·c_w)) — how far a document's
    * word distribution sits from the corpus background. Low-KL docs
    * are boilerplate-average; high-KL docs are novel (or garbage —
    * read it against the quality gates). The diversity-aware
    * counterpart to frequency-only filters, used to keep selection
    * from collapsing onto the corpus mode.
    *
    * Scale: doc-term tf + corpus term counts (two hash aggs over one
    * token explode, lineage cut once), an equi-join on the term, and
    * the N scalar broadcast. Every vocabulary term of the doc
    * contributes exactly once; terms snap to 12 dp and sum as
    * DECIMAL(38,12), the result rounds half-up at 6 dp sign-pinned.
    */
  def klNovelty(df: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
        explode(split(col(textCol), " ")).as("w"))
      // LAZY localCheckpoint: tf, corpus counts, and N all read it.
      .localCheckpoint(false)
    val tf = tok.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("__c"))
    val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("__cw"))
    val nd = tf.groupBy(col(idCol)).agg(sum(col("__c")).as("__nd"))
    val nn = tok.agg(count(lit(1)).as("__N"))
    tf.join(cw, Seq("w")).join(nd, Seq(idCol))
      .crossJoin(broadcast(nn))
      .withColumn("__term", round(
        (col("__c").cast("double") / col("__nd")) *
          log((col("__c") * col("__N")).cast("double") /
            (col("__nd") * col("__cw")).cast("double")), 12)
        .cast("decimal(38,12)"))
      .groupBy(col(idCol))
      .agg(max(col("__nd")).as("n_tokens"),
        sum(col("__term")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        MetricOps.normZero(round(col("__s").cast("double"), 6))
          .as("kl"))
  }

  /** Heaps'-law vocabulary-growth fit per source: regress
    * ln(distinct tokens) on ln(tokens) across the documents of a
    * source (V = k·nᵝ ⇒ ln V = ln k + β ln n). β near 1 means every
    * document brings fresh vocabulary; β collapsing toward 0 means
    * the source repeats itself — and `growth_10x` = 10^β is the
    * vocabulary multiplier to expect from 10× more data of this
    * source, the number a 100 TB scale-up plan actually wants.
    *
    * Scale: the signals are row-local (one split per document), the
    * fit is five moment sums per source — per-row terms snap to 12 dp
    * and sum as DECIMAL(38,12) (the house OLS discipline), the closed
    * form runs on |sources| rows. Degenerate sources (all documents
    * the same length) yield null β.
    */
  def heapsLaw(df: DataFrame, srcCol: String,
               textCol: String): DataFrame = {
    def d12(c: Column): Column = round(c, 12).cast("decimal(38,12)")
    val sig = df.withColumn("__tk", tokens(col(textCol)))
      .filter(size(col("__tk")) >= 1)
      .select(col(srcCol).as("source"),
        round(log(size(col("__tk")).cast("double")), 12).as("__x"),
        round(log(size(array_distinct(col("__tk"))).cast("double")),
          12).as("__y"))
    sig.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(d12(col("__x"))).as("__sx"),
        sum(d12(col("__y"))).as("__sy"),
        sum(d12(col("__x") * col("__y"))).as("__sxy"),
        sum(d12(col("__x") * col("__x"))).as("__sxx"),
        sum(d12(col("__y") * col("__y"))).as("__syy"))
      .withColumn("__n", col("n_docs").cast("double"))
      .withColumn("__dx", col("__n") * col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double"))
      .withColumn("__dy", col("__n") * col("__syy").cast("double") -
        col("__sy").cast("double") * col("__sy").cast("double"))
      .withColumn("__cv", col("__n") * col("__sxy").cast("double") -
        col("__sx").cast("double") * col("__sy").cast("double"))
      .withColumn("beta",
        when(col("__dx") > 0, round(col("__cv") / col("__dx"), 6)))
      .withColumn("r2", when(col("__dx") > 0 && col("__dy") > 0,
        round(col("__cv") * col("__cv") / (col("__dx") * col("__dy")),
          6)))
      .withColumn("growth_10x", when(col("__dx") > 0,
        round(pow(lit(10.0), col("__cv") / col("__dx")), 6)))
      .select(col("source"), col("n_docs"), col("beta"), col("r2"),
        col("growth_10x"))
  }

  /** Self-repetition score per source (the mode-collapse audit for
    * synthetic / over-crawled data): the share of a source's trigram
    * OCCURRENCES whose trigram also appears in at least one OTHER
    * document of the same source. Natural text keeps most trigrams
    * document-local; a generator stuck on its modes (or a crawler
    * re-reading one template) pushes the share toward 1 long before
    * whole documents collide — the cross-document counterpart of the
    * within-document repetition gate.
    *
    * Scale: one trigram explode, then two stacked hash aggregations —
    * (source, trigram, doc) occurrence counts, re-aggregated to
    * (source, trigram) document spans — so the distinct-document count
    * is exact without any count-distinct shuffle of raw positions.
    * The score is an exact half-up integer ppm.
    */
  def selfRepetition(df: DataFrame, srcCol: String, idCol: String,
                     textCol: String): DataFrame = {
    val tri = windows(df.withColumn("__t", tokens(col(textCol)))
        .filter(size(col("__t")) >= 3), lit(1), size(col("__t")) - 2) { i =>
        Seq(col(srcCol).as("source"), col(idCol).as("__id"),
          concat_ws(" ", slice(col("__t"), i, lit(3))).as("__g"))
      }
    val perDoc = tri.groupBy(col("source"), col("__g"), col("__id"))
      .agg(count(lit(1)).as("__c"))
    val perTri = perDoc.groupBy(col("source"), col("__g"))
      .agg(count(lit(1)).as("__nd"), sum(col("__c")).as("__occ"))
    perTri.groupBy(col("source"))
      .agg(sum(col("__occ")).as("n_trigram_occ"),
        count(lit(1)).as("n_distinct_trigrams"),
        sum(when(col("__nd") > 1, col("__occ")).otherwise(lit(0L)))
          .as("__rep"))
      .select(col("source"), col("n_trigram_occ"),
        col("n_distinct_trigrams"),
        expr("CAST((__rep * 2000000 + n_trigram_occ) div " +
          "(2 * n_trigram_occ) AS BIGINT)").as("selfrep_ppm"))
  }

  /** Context-length truncation-loss sweep: for each candidate cap,
    * exactly how many documents would be cut and what fraction of the
    * corpus' tokens is lost — the table that picks a training context
    * length (every token past the cap is paid for in storage and
    * thrown away by the packer). Caps are token counts; loss is an
    * exact half-up ppm of total tokens.
    *
    * Scale: the length signal is one row-local pass; the sweep
    * explodes a constant |caps|-element array (bounded row growth)
    * into one hash aggregation keyed by cap — |caps| output rows, no
    * joins, no windows.
    */
  def truncationLoss(df: DataFrame, textCol: String,
                     caps: Seq[Int] = Seq(16, 32, 64, 128, 256))
      : DataFrame = {
    val n = df.select(size(tokens(col(textCol))).cast("long").as("__n"))
    n.select(col("__n"),
        explode(typedLit(caps.map(_.toLong))).as("cap"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("__n") > col("cap")).cast("long"))
          .as("docs_truncated"),
        sum(least(col("__n"), col("cap"))).as("tokens_kept"),
        sum(greatest(col("__n") - col("cap"), lit(0L)))
          .as("tokens_lost"))
      .select(col("cap"), col("n_docs"), col("docs_truncated"),
        col("tokens_kept"), col("tokens_lost"),
        expr("CAST((tokens_lost * 2000000 + tokens_kept + tokens_lost)" +
          " div (2 * (tokens_kept + tokens_lost)) AS BIGINT)")
          .as("loss_ppm"))
  }

  /** Term burstiness table (Church & Gale): for every term with
    * document frequency ≥ `minDf`, the conditional mean count per
    * CONTAINING document (burst = occ/df — "once a document uses the
    * term, how hard") and the variance-to-mean ratio over ALL
    * documents (VMR 1 = Poisson scatter; VMR ≫ 1 = the term lives in
    * template/boilerplate pockets). High-burst terms are what
    * boilerplate removal and stopword lists should be built FROM,
    * rather than guessed.
    *
    * Scale: one token explode into a (term, doc) hash aggregation,
    * re-aggregated to per-term moments — the classic two-level count
    * that never shuffles raw positions; the doc total is a 1-row
    * broadcast. Exact integer moments; two double divisions at 6 dp
    * per term at the very end.
    */
  def termBurstiness(df: DataFrame, idCol: String, textCol: String,
                     minDf: Int = 5): DataFrame = {
    val tf = df.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("__id"))
      .agg(count(lit(1)).as("__c"))
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("occ"),
        sum(col("__c") * col("__c")).as("__c2"))
      .filter(col("df") >= minDf)
    stats.crossJoin(broadcast(df.agg(count(lit(1)).as("__N"))))
      .withColumn("burst", round(col("occ").cast("double") /
        col("df"), 6))
      .withColumn("__mu", col("occ").cast("double") / col("__N"))
      .withColumn("vmr", round((col("__c2").cast("double") /
          col("__N") - col("__mu") * col("__mu")) / col("__mu"), 6))
      .select(col("term"), col("df"), col("occ"), col("burst"),
        col("vmr"))
  }

  /** Source-pair vocabulary overlap: Jaccard similarity of the
    * DISTINCT-token sets of every source pair — the vocabulary-level
    * companion to the passage-level duplicate-flow matrix (two
    * sources can share no passages yet be the same register, or share
    * passages across disjoint vocabularies). Pairs with an empty
    * intersection are absent (their Jaccard is 0).
    *
    * Scale: the unit is the (source, token) DISTINCT pair — one
    * row-local per-doc dedup, one distinct shuffle, checkpointed once
    * — and the pair stage is an equi-join on the token, so candidate
    * volume is Σ_t (sources carrying t)², bounded by |vocab|·S², never
    * doc-quadratic. Sizes broadcast back; Jaccard is an exact half-up
    * integer ppm.
    */
  def vocabOverlap(df: DataFrame, srcCol: String,
                   textCol: String): DataFrame = {
    val v = df.select(col(srcCol).as("__s"),
        explode(array_distinct(tokens(col(textCol)))).as("__t"))
      .distinct()
      // LAZY localCheckpoint: vocab sizes and both pair sides read
      // the distinct (source, token) table.
      .localCheckpoint(false)
    val sz = v.groupBy(col("__s")).agg(count(lit(1)).as("__v"))
    v.select(col("__t"), col("__s").as("source_a"))
      .join(v.select(col("__t"), col("__s").as("source_b")),
        Seq("__t"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sz.select(col("__s").as("source_a"),
        col("__v").as("v_a"))), Seq("source_a"))
      .join(broadcast(sz.select(col("__s").as("source_b"),
        col("__v").as("v_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        col("inter"),
        expr("CAST((inter * 2000000 + v_a + v_b - inter) div " +
          "(2 * (v_a + v_b - inter)) AS BIGINT)").as("jaccard_ppm"))
  }

  /** Topic × language composition grid: the heuristic topic of
    * [[langId]] crossed with the labeled language — per (lang,
    * predicted-topic) cell the document count and its exact ppm share
    * of the language's row. The curation coverage table: a language
    * whose topic profile diverges from the corpus' is under- or
    * over-supplied in some domain, which a per-language-only or
    * per-topic-only count cannot see.
    *
    * Scale: the topic signal is row-local (carried through [[langId]]
    * with the language column kept — no join back to the corpus), the
    * grid is one hash aggregation on ≤ |langs|·|topics| keys, and row
    * totals broadcast back.
    */
  def topicLangGrid(df: DataFrame, langCol: String, idCol: String,
                    textCol: String,
                    profiles: Seq[(String, Seq[String])]): DataFrame = {
    val pred = langId(df, idCol, textCol, profiles,
      keep = Seq(langCol))
    val g = pred.groupBy(col(langCol).as("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = g.groupBy(col("lang")).agg(sum(col("n_docs")).as("__t"))
    g.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        expr("CAST((n_docs * 2000000 + __t) div (2 * __t) AS BIGINT)")
          .as("share_ppm"))
  }

  /** Gopher-rule ablation: for each of the five quality rules, what it
    * removes ALONE (docs/tokens failing only that rule — its marginal
    * contribution) versus at all (its gross reach). The table that
    * tunes a filter stack: a rule with large gross reach but near-zero
    * solo loss is redundant with the others; a rule carrying a large
    * solo loss is the one to re-threshold before shipping.
    *
    * Scale: one row-local signal pass (the same five flags as
    * [[gopherFlags]], checkpointed once for the total and the melt), a
    * constant 5-way `stack` melt, and one hash aggregation on the rule
    * name. Loss shares are exact half-up integer ppm of total tokens.
    */
  def gopherAblation(df: DataFrame, idCol: String, textCol: String,
                     stopwords: Seq[String]): DataFrame = {
    val s = gopherSignals(df, idCol, textCol, stopwords)
      .withColumn("__tot", col("f_word_count") + col("f_mean_word_len")
        + col("f_top_word_share") + col("f_no_stopword")
        + col("f_distinct_ratio"))
      // LAZY localCheckpoint: the corpus token total and the melt
      // both read the flag pass.
      .localCheckpoint(false)
    val tot = s.agg(sum(col("__n")).as("__tt"))
    s.select(col("__n"), col("__tot"), expr(
        "stack(5, 'word_count', f_word_count, " +
          "'mean_word_len', f_mean_word_len, " +
          "'top_word_share', f_top_word_share, " +
          "'no_stopword', f_no_stopword, " +
          "'distinct_ratio', f_distinct_ratio) AS (rule, flag)"))
      .groupBy(col("rule"))
      .agg(sum(col("flag")).as("docs_fail"),
        sum(when(col("flag") === 1 && col("__tot") === 1, 1L)
          .otherwise(0L)).as("docs_fail_solo"),
        sum(col("__n") * col("flag")).as("tokens_lost_any"),
        sum(when(col("flag") === 1 && col("__tot") === 1, col("__n"))
          .otherwise(0L)).as("tokens_lost_solo"))
      .crossJoin(broadcast(tot))
      .select(col("rule"), col("docs_fail"), col("docs_fail_solo"),
        col("tokens_lost_any"), col("tokens_lost_solo"),
        expr("CAST((tokens_lost_any * 2000000 + __tt) div (2 * __tt)" +
          " AS BIGINT)").as("lost_any_ppm"))
  }

  /** Quality × length copula grid (selection-bias audit): documents
    * land in a 10×10 grid of (length decile, distinct-ratio decile)
    * and every cell reports its observed count and its LIFT over the
    * independence expectation rowtot·coltot/N. A quality filter that
    * claims to be length-neutral must show lift ≈ 1 down the columns;
    * the off-diagonal ridge is exactly the bias a length-confounded
    * "quality" signal smuggles into the corpus.
    *
    * Scale: the two deciles are [[MetricOps.globalRank]] histogram
    * ranks (bounded histograms broadcast back — never a
    * single-partition window), the signal pass is checkpointed once
    * for its four consumers, and the grid plus both marginals live on
    * ≤100 rows.
    */
  def qualityLengthGrid(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val base = df.withColumn("__tk", tokens(col(textCol)))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol),
        size(col("__tk")).cast("long").as("__len"),
        round(size(array_distinct(col("__tk"))).cast("double") /
          size(col("__tk")), 6).as("__dr"))
      // LAZY localCheckpoint: the count, both rank passes, and the
      // final spine all read the signal table.
      .localCheckpoint(false)
    val n = base.agg(count(lit(1)).as("__nn"))
    def decile(scoreCol: String, out: String): DataFrame =
      MetricOps.globalRank(
          base.select(col(idCol), col(scoreCol))
            .crossJoin(broadcast(n)), scoreCol, idCol)
        .withColumn(out, expr("((r - 1) * 10) div __nn"))
        .select(col(idCol), col(out))
    val g = base.select(col(idCol))
      .join(decile("__len", "len_decile"), Seq(idCol))
      .join(decile("__dr", "q_decile"), Seq(idCol))
      .groupBy(col("len_decile"), col("q_decile"))
      .agg(count(lit(1)).as("n_docs"))
      // LAZY localCheckpoint: ≤100 rows feed both marginals and the
      // final projection.
      .localCheckpoint(false)
    val rt = g.groupBy(col("len_decile")).agg(sum(col("n_docs")).as("__rt"))
    val ct = g.groupBy(col("q_decile")).agg(sum(col("n_docs")).as("__ct"))
    g.join(broadcast(rt), Seq("len_decile"))
      .join(broadcast(ct), Seq("q_decile"))
      .crossJoin(broadcast(n))
      .select(col("len_decile"), col("q_decile"), col("n_docs"),
        round(col("n_docs").cast("double") * col("__nn") /
          (col("__rt").cast("double") * col("__ct")), 6).as("lift"))
  }

  /** Standardized type-token ratio per source: TTR over the FIRST
    * `k` tokens of each (≥ k-token) document — the length-controlled
    * lexical-diversity metric (raw TTR falls with length, so
    * cross-source raw comparisons are confounded; fixing the window
    * makes them commensurable) — plus the source's hapax ratio
    * (share of its vocabulary appearing exactly once; a collapsing
    * generator loses its hapax mass first, long before mean TTR
    * moves).
    *
    * Scale: the prefix TTR is row-local and aggregates per source;
    * the hapax side is the standard two-level (source, token) count.
    * Both ratios and the mean are exact half-up integer ppm.
    */
  def sttr(df: DataFrame, srcCol: String, textCol: String,
           k: Int = 30): DataFrame = {
    val pref = df.withColumn("__tk", tokens(col(textCol)))
      .filter(size(col("__tk")) >= k)
      .select(col(srcCol).as("source"),
        expr(s"(CAST(size(array_distinct(slice(__tk, 1, $k))) " +
          s"AS LONG) * 2000000 + $k) div (2 * $k)").as("__ttr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_sttr"),
        expr("CAST((sum(__ttr) * 2 + count(1)) div (2 * count(1)) " +
          "AS BIGINT)").as("mean_sttr_ppm"))
    val voc = df.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("source"), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum((col("__c") === 1).cast("long")).as("__hapax"))
    pref.join(voc, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_docs_sttr"), lit(0L)).as("n_docs_sttr"),
        col("mean_sttr_ppm"), col("vocab"),
        expr("CAST((__hapax * 2000000 + vocab) div (2 * vocab) " +
          "AS BIGINT)").as("hapax_ppm"))
  }

  /** Within-document positional novelty curve: for every token
    * occurrence, is it the FIRST in-document occurrence of that token,
    * bucketed by the occurrence's position decile (0-based position ×
    * 10 div doc length). A healthy natural corpus keeps introducing
    * new tokens late in documents; generator mode-collapse (and
    * template boilerplate) shows up as a novelty curve that crashes
    * after the first decile — the within-doc complement of the
    * cross-doc [[selfRepetition]] audit.
    *
    * Scale: one token-level explode, one window partitioned by
    * (doc, token) — per-doc token groups, never a hot partition — and
    * one 10-row hash agg. The novelty ratio is exact half-up integer
    * ppm (no FP boundary can split engines).
    */
  def positionNovelty(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val t = df.withColumn("__tk", tokens(col(textCol)))
      .filter(size(col("__tk")) >= 1)
      .select(col(idCol), size(col("__tk")).cast("long").as("__n"),
        posexplode(col("__tk")).as(Seq("__pos", "__tok")))
    val firstW = Window.partitionBy(col(idCol), col("__tok"))
      .orderBy(col("__pos"))
    t.withColumn("__new",
        (row_number().over(firstW) === 1).cast("long"))
      .withColumn("decile",
        expr("CAST((CAST(__pos AS BIGINT) * 10) div __n AS BIGINT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__new")).as("n_new"))
      .select(col("decile"), col("n_tokens"), col("n_new"),
        expr("CAST((n_new * 2000000 + n_tokens) div (2 * n_tokens) " +
          "AS BIGINT)").as("novelty_ppm"))
  }

  /** Declared-language vs [[langId]]-predicted confusion grid: one row
    * per observed (declared, predicted) cell with its count and its
    * share of the declared language's row (half-up integer ppm). The
    * composition audit that catches a mislabeled ingest feed: a
    * declared language whose prediction mass concentrates off-profile
    * is a feed to quarantine, and the grid is the evidence table.
    *
    * Scale: the scoring pass is row-local (array HOFs over the token
    * split, no join, no shuffle); the grid is |langs × profiles| rows
    * out of one hash agg, and the row totals broadcast back.
    */
  def langConfusion(df: DataFrame, langCol: String, textCol: String,
                    profiles: Seq[(String, Seq[String])]): DataFrame = {
    val g = langId(df, langCol, textCol, profiles)
      .groupBy(col(langCol).as("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      // LAZY localCheckpoint: the grid feeds both the row totals and
      // the final projection (bounded: |langs × profiles| rows).
      .localCheckpoint(false)
    val rt = g.groupBy(col("lang")).agg(sum(col("n_docs")).as("__rt"))
    g.join(broadcast(rt), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n_docs"),
        expr("CAST((n_docs * 2000000 + __rt) div (2 * __rt) " +
          "AS BIGINT)").as("share_ppm"))
  }

  /** Per-source Gopher pass-rate drift between two corpus snapshots:
    * counts and exact half-up pass ppm on each side, plus the signed
    * ppm delta. The crawl-regression tripwire — a source whose pass
    * rate drops between refreshes changed its content mix (or its
    * extractor broke), and this is the per-source evidence. Sources
    * present in only one snapshot are dropped (no delta to report).
    *
    * Scale: each snapshot is one row-local [[gopherFlags]] pass
    * (source carried via `keep` — no join back onto the corpus) into
    * a per-source hash agg; everything after is |sources|-row
    * arithmetic, all exact integer ppm (deltas can never split a
    * rounding boundary, and integer zero has no sign).
    */
  def qualityDelta(dfOld: DataFrame, dfNew: DataFrame, srcCol: String,
                   idCol: String, textCol: String,
                   stopwords: Seq[String]): DataFrame = {
    def side(d: DataFrame, n: String, p: String) =
      gopherFlags(d, idCol, textCol, stopwords, keep = Seq(srcCol))
        .withColumn("__pass",
          (col("f_word_count") + col("f_mean_word_len") +
            col("f_top_word_share") + col("f_no_stopword") +
            col("f_distinct_ratio") === 0).cast("long"))
        .groupBy(col(srcCol).as("source"))
        .agg(count(lit(1)).as(n), sum(col("__pass")).as(p))
    side(dfOld, "n_old", "__po").join(side(dfNew, "n_new", "__pn"),
        Seq("source"))
      .select(col("source"), col("n_old"), col("n_new"),
        expr("CAST((__po * 2000000 + n_old) div (2 * n_old) AS BIGINT)")
          .as("pass_ppm_old"),
        expr("CAST((__pn * 2000000 + n_new) div (2 * n_new) AS BIGINT)")
          .as("pass_ppm_new"))
      .withColumn("delta_ppm", col("pass_ppm_new") - col("pass_ppm_old"))
  }

  /** Ingest-metadata consistency audit: per source, how often the
    * recorded character count disagrees with the recomputed
    * `length(text)`, and by how much at worst. The cheap tripwire for
    * extractor truncation, encoding damage, and metadata drift —
    * recorded-vs-recomputed disagreement is the first symptom of all
    * three, and it costs one row-local projection to check.
    *
    * Scale: row-local delta, one per-source hash agg; mismatch rate is
    * exact half-up integer ppm.
    */
  def metadataConsistency(df: DataFrame, srcCol: String,
                          textCol: String, charsCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        (col(charsCol).cast("long") - length(col(textCol)).cast("long"))
          .as("__d"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("__d") =!= 0).cast("long")).as("n_mismatch"),
        max(abs(col("__d"))).as("max_abs_delta"))
      .select(col("source"), col("n_docs"), col("n_mismatch"),
        expr("CAST((n_mismatch * 2000000 + n_docs) div (2 * n_docs) " +
          "AS BIGINT)").as("mismatch_ppm"),
        col("max_abs_delta"))

  /** Vocabulary-transfer OOV audit: build the top-`topV` token
    * vocabulary from one snapshot (count desc, token asc — fully
    * pinned ranks), then measure each source's out-of-vocabulary token
    * rate on the other snapshot. The train/serve transfer check for
    * anything with a frozen vocabulary (tokenizers, hash-free feature
    * maps, stopword machinery): a source whose OOV rate explodes on
    * the refresh is drifting away from the vocabulary the deployed
    * artifact was built on.
    *
    * Scale: one (token) count agg on the vocab side ranked via
    * [[MetricOps.globalRank]]'s histogram rank; the bounded top-V list
    * BROADCASTS onto the eval side's token stream (left join — OOV =
    * no match), then one per-source agg. OOV rate is exact half-up
    * integer ppm.
    */
  def oovTransfer(dfVocab: DataFrame, dfEval: DataFrame, srcCol: String,
                  textCol: String, topV: Int): DataFrame = {
    val tf = dfVocab.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__tf"))
    val vocab = MetricOps.globalRank(
        tf.withColumn("__neg", -col("__tf")), "__neg", "token")
      .filter(col("r") <= topV)
      .select(col("token"), lit(1L).as("__in"))
    dfEval.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("CAST((n_oov * 2000000 + n_tokens) div (2 * n_tokens) " +
          "AS BIGINT)").as("oov_ppm"))
  }

  /** Cross-source pack-contamination audit: greedy contiguous packing
    * (the [[packSequences]] rule) mixes consecutive documents into one
    * context window, and any window spanning >1 source exposes the
    * model to cross-document attention between unrelated corpora
    * unless the trainer masks document boundaries. For each candidate
    * token budget this reports how many packed windows mix sources
    * (rate as exact ppm) and the mean distinct sources per window —
    * the table that decides whether boundary masking (or per-source
    * repacking) is worth the engineering before a training run.
    *
    * Scale: packing is per-SHARD (id mod `nShards` — production packs
    * per output shard anyway), so the running token total is a keyed
    * window, never a global cumsum; each row then explodes to
    * |budgets| rows binned by integer division off the SAME running
    * sum, and two hash aggs reduce to the |budgets|-row report.
    * Distinct-source counting happens per (budget, shard, bin) group —
    * bounded by window capacity, not corpus width.
    */
  def packContamination(df: DataFrame, idCol: String, textCol: String,
                        srcCol: String, budgets: Seq[Long],
                        nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("__shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__shard", pmod(col(idCol), lit(nShards)))
      .withColumn("__n", size(tokens(col(textCol))).cast("long"))
      .withColumn("__before", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col("__shard"), col(srcCol), col("__before"),
        explode(array(budgets.map(lit(_)): _*)).as("budget"))
      .withColumn("__bin", expr("__before div budget"))
      .groupBy(col("budget"), col("__shard"), col("__bin"))
      .agg(countDistinct(col(srcCol)).as("__ns"), count(lit(1)).as("__nd"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("__nd")).as("n_docs"),
        sum((col("__ns") > 1).cast("long")).as("n_mixed"),
        sum(col("__ns")).as("__ss"))
      .select(col("budget"), col("n_windows"), col("n_docs"),
        col("n_mixed"),
        expr("CAST((n_mixed * 2000000 + n_windows) div (2 * n_windows) " +
          "AS BIGINT)").as("mixed_ppm"),
        // half-up mean at 2 dp via exact integer division (the
        // corpusDatasheet discipline — never divide-then-round)
        expr("CAST((__ss * 200 + n_windows) div (2 * n_windows) " +
          "AS DOUBLE) / 100").as("mean_sources"))
  }

  /** Filter selection-bias audit: for each Gopher quality rule (and
    * the composite all-rules gate), the Jensen–Shannon divergence
    * (nats) between the PASSING subset's unigram distribution and the
    * full corpus — what each filter does to content balance, not just
    * how much it drops. A rule whose survivors diverge hard from the
    * corpus isn't trimming noise, it's resculpting the topic mix (the
    * classic quality-filter side effect), and that's invisible in the
    * pass-rate ablation.
    *
    * Scale: ONE tokenize pass with the five row-local flags carried;
    * each token emits into its passing rules (plus a 'corpus'
    * pseudo-rule — the marginal comes from the same single scan, no
    * second pass); one (rule, token) hash agg bounded by
    * (rules+2)·|vocab|; JS runs over PRESENT pairs only with the
    * absent tail in closed form (ln2/2)·(N−C_r)/N (subset support is
    * contained in corpus support, so only the corpus side has a
    * tail). Terms snap to 12 dp and sum DECIMAL(38,12) — the
    * [[MixtureOps]] JS discipline.
    */
  def filterBiasAudit(df: DataFrame, idCol: String, textCol: String,
                      stopwords: Seq[String]): DataFrame = {
    val flags = Seq("f_word_count", "f_mean_word_len",
      "f_top_word_share", "f_no_stopword", "f_distinct_ratio")
    val sig = gopherFlags(df, idCol, textCol, stopwords,
      keep = Seq(textCol))
    val ruleArr = array(
      flags.map(f => struct(lit(f.stripPrefix("f_")).as("r"),
        (col(f) === 0).cast("int").as("p"))) :+
        struct(lit("all_rules").as("r"),
          (flags.map(col).reduce(_ + _) === 0).cast("int").as("p")) :+
        struct(lit("corpus").as("r"), lit(1).as("p")): _*)
    val st = sig
      .select(flags.map(col) :+
        explode(split(col(textCol), " ")).as("__tok"): _*)
      .select(col("__tok"), explode(ruleArr).as("__rp"))
      .filter(col("__rp.p") === 1)
      .groupBy(col("__rp.r").as("rule"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      // LAZY localCheckpoint: corpus marginals, rule totals, and the
      // JS join all read the (rule, token) counts.
      .localCheckpoint(false)
    val ct = st.filter(col("rule") === "corpus")
      .select(col("__tok"), col("__c").as("__ct"))
    val nn = ct.agg(sum(col("__ct")).as("__tn"))
    val ns = st.filter(col("rule") =!= "corpus")
      .groupBy(col("rule")).agg(sum(col("__c")).as("__ns"))
    st.filter(col("rule") =!= "corpus")
      .join(ct, Seq("__tok"))
      .join(broadcast(ns), Seq("rule"))
      .crossJoin(broadcast(nn))
      .withColumn("__p", col("__c").cast("double") / col("__ns"))
      .withColumn("__q", col("__ct").cast("double") / col("__tn"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .withColumn("__term", round(
        (col("__p") * log(col("__p") / col("__m")) +
          col("__q") * log(col("__q") / col("__m"))) / 2, 12)
        .cast("decimal(38,12)"))
      .groupBy(col("rule"))
      .agg(max(col("__ns")).as("n_tokens"), sum(col("__term")).as("__s"),
        sum(col("__ct")).as("__cp"), max(col("__tn")).as("__nn2"))
      .withColumn("__corr", round(
        (col("__nn2") - col("__cp")).cast("double") / col("__nn2") *
          log(lit(2.0)) / 2, 12).cast("decimal(38,12)"))
      .select(col("rule"), col("n_tokens"),
        MetricOps.normZero(round(
          (col("__s") + col("__corr")).cast("double"), 6)).as("js_nats"))
  }

  /** Character-bigram compressibility audit: per source, the
    * order-1 character entropy rate H(c₂|c₁) in bits/char and the
    * implied best-case compression ratio against raw 8-bit bytes —
    * the storage/IO cost planner for a 100 TB corpus (sources with
    * anomalously low entropy are also a template/mojibake tripwire,
    * since machine-generated chrome compresses far better than prose).
    * H(c₂|c₁) = H(pair) − H(first) computed from one bigram count
    * table: (Σm·ln m − Σc·ln c)/N/ln2, where c are bigram counts and m
    * their first-char marginals — the log2(N) terms cancel exactly.
    *
    * Scale: ONE explode over char positions into a (source, bigram)
    * hash agg (map-side partials absorb the stream; the result is
    * bounded by |alphabet|² per source); the marginal re-agg and the
    * entropy arithmetic run on that bounded table. ln terms snap to
    * 12 dp and sum as DECIMAL(38,12) (order-independent); the bits
    * conversion divides by the ln-2 double literal so both engines
    * share the exact constant.
    */
  def charCompressibility(df: DataFrame, srcCol: String,
                          textCol: String): DataFrame = {
    val ln2 = 0.6931471805599453 // the ln-2 double, shared with the oracle
    val bg = df.select(col(srcCol).as("source"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= 2)
      .select(col("source"),
        explode(sequence(lit(1), length(col("__t")) - 1)).as("__p"),
        col("__t"))
      .select(col("source"), expr("substr(__t, __p, 2)").as("__b"))
      .groupBy(col("source"), col("__b")).agg(count(lit(1)).as("__c"))
      // LAZY localCheckpoint: the joint and marginal passes both read
      // the bounded bigram count table.
      .localCheckpoint(false)
    val joint = bg.groupBy("source").agg(
      sum(col("__c")).as("n_bigrams"),
      count(lit(1)).as("n_distinct_bigrams"),
      sum(round(col("__c").cast("double") * log(col("__c")), 12)
        .cast("decimal(38,12)")).as("__sj"))
    val marg = bg
      .groupBy(col("source"), expr("substr(__b, 1, 1)").as("__c1"))
      .agg(sum(col("__c")).as("__m"))
      .groupBy("source").agg(
        sum(round(col("__m").cast("double") * log(col("__m")), 12)
          .cast("decimal(38,12)")).as("__sm"))
    joint.join(marg, Seq("source"))
      .select(col("source"), col("n_bigrams"), col("n_distinct_bigrams"),
        MetricOps.normZero(round(
          (col("__sm") - col("__sj")).cast("double") /
            (col("n_bigrams").cast("double") * lit(ln2)), 6)).as("cond_bits"),
        MetricOps.normZero(round(
          (col("__sm") - col("__sj")).cast("double") /
            (col("n_bigrams").cast("double") * lit(ln2) * lit(8.0)), 6))
          .as("compress_ratio"))
  }
}

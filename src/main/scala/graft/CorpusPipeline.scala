package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, MixtureOps, TextOps}
import graft.tables.Tables

/** End-to-end training-corpus curation — the LLM-pipeline counterpart
  * of [[Pipeline]] (which runs the reference's recsys flow). One lazy
  * DAG from raw documents to a mixture-sampled training set:
  *
  *   1. normalize + PII-redact (one codegen scan);
  *   2. repetition + quality gates (Gopher signals; per-source
  *      quantile bar so strict sources don't starve permissive ones);
  *   3. exact dedup (keep canonical min-id doc);
  *   4. cross-doc chunk dedup (C4 line-dedup shape);
  *   5. MinHash near-dup removal (banded LSH candidates, keep min id
  *      of each candidate pair's loser set);
  *   6. mixture sampling to target source proportions.
  *
  * Each stage is a DataFrame → DataFrame function; the per-stage row
  * counts every curation job must report come from `observe()`
  * (CollectMetrics) nodes, so ONE action materializes the curated set
  * AND the full funnel report — not one recount per stage. Catalyst
  * does not push filters through CollectMetrics, so each observed
  * count is exactly the rows that left its stage.
  *
  * At 100 TB every stage keeps the properties its operator documents:
  * no all-pairs joins (LSH buckets only), broadcast-only joins against
  * per-source metas, one window over the chunk-hash key, and
  * deterministic md5 sampling that re-runs identically under any
  * partitioning.
  */
object CorpusPipeline {

  case class Result(curated: DataFrame, report: Seq[(String, Long)])

  def run(spark: SparkSession, dir: String,
          weights: Map[String, Double] = Map(
            "src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.25)): Result = {
    import org.apache.spark.sql.Observation
    val stages = Seq("raw", "repetition_gate", "quality_gate",
      "exact_dedup", "chunk_dedup", "near_dedup")
    val obs = stages.map(s => s -> new Observation(s)).toMap
    def counted(df: DataFrame, stage: String): DataFrame =
      df.observe(obs(stage), count(lit(1)).as("n"))

    val docs = counted(Tables.documents(spark, dir), "raw")

    // 1. normalize + redact — both single-pass column transforms.
    val clean = TextOps.redact(docs, "doc_id", "text", TextOps.piiRules)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("clean_text").as("text"))
    // 2a. repetition gate (absolute thresholds, rounded-before-guard).
    val unrepeated = counted(clean.join(
      TextOps.repetitionStats(clean, "doc_id", "text")
        .filter(col("junk") === 0).select("doc_id"),
      Seq("doc_id"), "left_semi"), "repetition_gate")
    // 2b. per-source quality quantile gate (drop each source's worst 10%).
    val scored = TextOps.qualityScore(unrepeated, "doc_id", "text",
        Seq("the", "a"))
      .join(unrepeated.select("doc_id", "source", "text"), Seq("doc_id"))
    val thr = scored.groupBy("source")
      .agg(round(expr("percentile(quality, 0.1)"), 6).as("__thr"))
    val gated = counted(scored.join(broadcast(thr), Seq("source"))
      .filter(col("quality") >= col("__thr"))
      .select("doc_id", "source", "text"), "quality_gate")

    // 3. exact dedup — keep each text's min-id representative.
    val exact = counted(gated.join(
      DedupOps.exactDedup(gated, "doc_id", "text")
        .select(col("canonical_id").as("doc_id")),
      Seq("doc_id"), "left_semi"), "exact_dedup")

    // 4. cross-doc chunk dedup: rewrite texts, drop emptied docs.
    val chunked = counted(DedupOps.chunkDedup(exact, "doc_id", "text", 20)
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(exact.select("doc_id", "source"), Seq("doc_id")), "chunk_dedup")

    // 5. near-dup removal: from every banded-LSH candidate pair, the
    // larger id loses; survivors = docs never on the losing side.
    val sh = DedupOps.shingles(chunked, "doc_id", "text")
    val losers = DedupOps.minhashCandidates(
        DedupOps.minhashSignature(sh, "doc_id", 4, 2), "doc_id", 4, 2)
      .select(col("doc_b").as("doc_id")).distinct()
    val nearDeduped = counted(chunked.join(losers, Seq("doc_id"), "left_anti"),
      "near_dedup")

    // 6. mixture sampling — deterministic md5 draw to target weights.
    val rates = MixtureOps.mixtureSample(nearDeduped, "source", "doc_id",
      weights)
    val u = MixtureOps.membership("doc_id")
    val sampled = nearDeduped
      .join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(u < col("rate"))
      .select("doc_id", "source", "text")

    // ONE action populates every stage observation and the final count.
    val n6 = sampled.count()
    Result(sampled,
      stages.map(s => s -> obs(s).get("n").asInstanceOf[Long]) :+
        ("mixture_sample" -> n6))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, dir)
    r.report.foreach { case (stage, n) => println(f"$stage%-16s $n%8d") }
    spark.stop()
  }
}

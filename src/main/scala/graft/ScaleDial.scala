package graft

import graft.operators.SimilarityOps
import graft.tables.Tables

/** Scaling-probe tooling (BENCHLOG): times the sign-bucket candidate
  * stage at increasing `signBits` on $SPARK_GRAFT_SF_DIR, proving the
  * documented scale path — the fixed-cell quadratic pair growth is a
  * DIAL, not a wall: cells must grow with n (signBits ~ log2(n /
  * target_cell_size)), trading per-probe recall for Σ cell² cost.
  * Prints one JSON line {"signBits": {bits: seconds}, "pairs": ...}.
  */
object ScaleDial {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val bits = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(4, 6, 8)
    val spark = Sessions.builder(cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.embeddings(spark, sfDir)
    // warmup (codegen + file listing)
    Bench.drain(SimilarityOps.mutualKnnBucketed(emb.limit(200), "vec_id",
      "embedding", 5, 4))
    val out = bits.map { b =>
      val t0 = System.nanoTime()
      val df = SimilarityOps.mutualKnnBucketed(emb, "vec_id",
        "embedding", 5, b)
      Bench.drain(df)
      val secs = (System.nanoTime() - t0) / 1e9
      val pairs = df.count()
      (b, secs, pairs)
    }
    println("{\"signBits\":{" +
      out.map { case (b, s, _) => s""""$b":${math.round(s * 100) / 100.0}""" }
        .mkString(",") +
      "},\"mutual_pairs\":{" +
      out.map { case (b, _, p) => s""""$b":$p""" }.mkString(",") +
      s"""},"sf":"$sfDir"}""")
    spark.stop()
  }
}

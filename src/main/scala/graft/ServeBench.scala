package graft

import org.apache.spark.sql.functions._

import graft.functions.Md5Int
import graft.operators.SimilarityOps

/** Serving-latency bench for the 100 TB online-recall shape (q453 /
  * StreamingIvfServeSpec prove its CORRECTNESS; this main measures its
  * LATENCY): freeze the q441-dial sharded IVF index once, write it in
  * the cell-partitioned serving layout
  * ([[SimilarityOps.ivfServeIndexWrite]] — parquet partitioned by
  * pcell), then drive request micro-batches through the
  * partition-pruned serve core ([[SimilarityOps.ivfServeBatchPruned]])
  * and report per-batch / per-request p50/p99.
  *
  * The claim under test is corpus-size INDEPENDENCE of the request
  * path: per request the router computes kcPerShard broadcast
  * distances and the search reads nprobe probed CELLS back via parquet
  * partition pruning — data touched per batch is Σ probed cell sizes,
  * never a corpus scan. Run at sf0.1 and the 10× sf1 replica and
  * compare the p50s: flat-ish latency while the corpus grows 10× is
  * the measured form of the q453 declaration (cells deepen only with
  * the dial schedule, ~n / (2^bits·kcPerShard/32)).
  *
  * Before timing, ONE all-requests batch through the pruned path is
  * asserted row-identical to the declared q453 plan
  * ([[SimilarityOps.ivfServeSharded]] at the same dials) — the pruned
  * layout must be a pure layout change, not a semantics change.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ServeBench
  * Prints one JSON line; detail (every batch time) goes to
  * target/serve_bench_detail.json.
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_SERVE_BATCH", "8").toInt
    val spark = Sessions.bounded(Sessions.builder(cpus)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val bits = SimilarityOps.adaptiveSignBits(emb)
    val sb = math.max(1, bits - 5)
    val (kc, np, k, rounds) = (16, 8, 5, 2) // the shipped q441/q453 dials

    // ---- build phase (once, batch): train + freeze + write the layout
    val idxPath = s"/tmp/graft_serve_index_$n"
    val tB0 = System.nanoTime()
    val cb = SimilarityOps.ivfServeIndexWrite(emb, "vec_id", "embedding",
        kc, rounds, sb, idxPath)
      .localCheckpoint() // the router's frozen codebook — never re-train
    val buildSec = (System.nanoTime() - tB0) / 1e9
    // the serving layer's table handle: opened ONCE, partition listing
    // cached; every micro-batch prunes against it (see the note in
    // ivfServeBatchPruned)
    val index = spark.read.parquet(idxPath)
    val nCells = index.select("pcell").distinct().count()

    // ---- request sample: the q453 md5 1-in-10 draw
    val reqRows = emb
      .filter(pmod(Md5Int(col("vec_id").cast("string"), 1, 8), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    require(reqRows.length >= 2, s"fixture: only ${reqRows.length} requests")
    def mkDf(rows: Array[(Long, Seq[Float])]) =
      rows.toSeq.toDF("vec_id", "embedding")

    // ---- parity: pruned layout == the declared q453 plan, row for row
    val expected = SimilarityOps.ivfServeSharded(emb, "vec_id", "embedding",
        k, kc, np, rounds, sb, queryMod = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = SimilarityOps.ivfServeBatchPruned(mkDf(reqRows), "vec_id",
        "embedding", index, cb, sb, np, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    require(pruned == expected,
      s"pruned serve diverged: ${pruned.size} rows vs ${expected.size}")

    // ---- timed micro-batches: 3 passes over up to 128 requests
    val batches = reqRows.take(128).grouped(batchSize).toArray
    def serveOnce(b: Array[(Long, Seq[Float])]): Int =
      SimilarityOps.ivfServeBatchPruned(mkDf(b), "vec_id", "embedding",
        index, cb, sb, np, k).collect().length
    serveOnce(batches(0)) // warmup (plan + codegen + file index)
    serveOnce(batches(batches.length / 2))
    val times = (1 to 3).flatMap(_ => batches.map { b =>
      val t0 = System.nanoTime()
      val rows = serveOnce(b)
      require(rows > 0, "a serve batch must answer")
      (System.nanoTime() - t0) / 1e6 // ms
    }).sorted
    def pct(p: Double) =
      times(math.min(times.length - 1, (p * times.length).toInt))
    val p50 = pct(0.50); val p99 = pct(0.99)

    val detail = times.map(t => f"$t%.1f").mkString("[", ",", "]")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target", "serve_bench_detail.json"),
        s"""{"sf":"$sfDir","corpus":$n,"n_cells":$nCells,"batch_ms":$detail}"""
          .getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(
        s"[serve] serve_bench_detail.json write failed: ${e.getMessage}")
    }
    println(f"""{"metric":"serve_batch_p50_ms","value":$p50%.1f,"p99_ms":$p99%.1f,""" +
      f""""per_request_p50_ms":${p50 / batchSize}%.2f,""" +
      s""""batch_size":$batchSize,"n_batches":${times.length},""" +
      f""""build_sec":$buildSec%.1f,"corpus":$n,"n_cells":$nCells,""" +
      s""""shard_bits":$sb,"kc_per_shard":$kc,"nprobe":$np,"sf":"$sfDir"}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver bench contract: time every SparkEntry query on
  * $SPARK_GRAFT_SF_DIR, print one JSON line.
  *
  * Config notes (local[N] at sf0.1):
  *  - shuffle.partitions = cores (harness contract);
  *  - files.maxPartitionBytes lowered so the single-file parquet tables
  *    split across cores instead of scanning on one thread (at cluster
  *    scale the default 128 MB is right — this knob tracks the SF, per
  *    SURVEY §7.5.7);
  *  - one untimed warmup pass absorbs JVM/codegen/file-index startup so
  *    per-query numbers measure the queries, not the JVM.
  */
object Bench {
  /** Materialize through the noop sink: every output column is computed
    * and serialized (a bare .count() lets Catalyst prune final
    * projections — e.g. round(sim, 6) — and under-reports).
    */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warmup: exercise codegen + file listing on a cheap query.
    * A failure is logged to stderr, never swallowed.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      SparkEntry.queries.get("q03_group_count")
        .foreach(f => drain(f(spark, sfDir)))
      spark.range(1000000L).selectExpr("sum(id)").collect()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared session config lives in graft.Sessions (one builder for
    // all driver-contract mains — ADVICE r13); the 8 MB split size is
    // Bench-specific (tracks the SF so single-file tables split across
    // cores; at cluster scale the 128 MB default is right).
    val spark = Sessions.bounded(Sessions.builder(cpus)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)

    // min of 2 runs per query: measures the query, not GC/OS jitter
    // (single-run noise on a shared host is ±30%). A failed run records
    // -1, never its time-to-exception — a crashing query must show as
    // broken in the JSON, not as "fast".
    // Tuning aid: SPARK_GRAFT_BENCH_ONLY=q104_setsim_join,q26_cosine_topk
    // times just those queries (full map when unset — the driver path).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    def timeOnce(name: String,
                 fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { drain(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
      finally {
        // Operators that persist() compact intermediates (containment/
        // set-sim arrays) would otherwise leak cached blocks across
        // 133 queries — dead storage that steals execution memory from
        // later queries' sorts — AND let run 2 of the same query read
        // run 1's cache (its identical lineage hits the CacheManager),
        // which would turn min-of-2 into a cache-hit measurement.
        // Clearing OUTSIDE the timed window keeps every run cold and
        // isolated.
        spark.catalog.clearCache()
      }
    }

    val results = selected.map { case (name, fn) =>
      val times = (1 to 2).map(_ => timeOnce(name, fn))
      val ok = times.filter(_ >= 0)
      name -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0

    // Weather guard: one GC/compaction storm on a shared host can
    // poison a single query's committed number (round 11: the driver's
    // run read q207 at 42.26 s against three independent ~1.8 s
    // measurements). Against the committed prior-round detail
    // (bench_prior.json at the repo root, refreshed each round), any
    // query reading >3× its prior AND >= 1 s is re-timed once at end
    // of run — the quiet tail, after the storm — and BOTH numbers are
    // emitted (`retimed`), so a future comparison can spot the
    // outlier instead of trusting it.
    val prior: Map[String, Double] = try {
      val p = java.nio.file.Paths.get("bench_prior.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // priors only apply at THEIR scale factor: an sf1 probe run
        // against sf0.1 priors would otherwise re-time everything
        val priorSf = """"sf"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (priorSf.contains(sfDir)) {
          // Parse q-keys ONLY inside the prior's "queries" object: the
          // detail file also carries a "retimed" object whose entries
          // would otherwise shadow the committed times (later-match-wins
          // toMap), and a failed retime recorded as -1 would then
          // disable the guard for that query via the prior>0 check.
          // The queries object is flat (no nested braces), so [^}]* is
          // exact.
          val qobj = """"queries"\s*:\s*\{([^}]*)\}""".r
            .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
          """"(q[0-9][^"]*)"\s*:\s*([0-9.Ee+-]+)""".r
            .findAllMatchIn(qobj)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filter(_._2 > 0.0).toMap
        } else Map.empty
      } else Map.empty
    } catch { case _: Throwable => Map.empty }
    val retimed: Map[String, Double] = results.collect {
      case (name, t) if t >= 1.0 && prior.getOrElse(name, 0.0) > 0.0 &&
        t > 3.0 * prior(name) =>
        name -> timeOnce(name, selected(name))
    }.toMap.filter(_._2 > 0.0) // a FAILED retime (-1) is not a time —
    // dropping it keeps the original (suspect) number authoritative
    // rather than emitting -1 into the detail as if it were fast
    val retimedJson = retimed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")

    // Full-precision per-query detail → a file (for BENCHLOG analysis).
    val detail = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target", "bench_detail.json"),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$detail,"retimed":$retimedJson,"sf":"$sfDir"}""".getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_detail.json write failed: ${e.getMessage}")
    }

    // The stdout contract line MUST stay short: the harness keeps only the
    // last ~2000 chars of stdout (plus sbt's [success] footer) and parses
    // the JSON out of that window. At 150+ queries even compact keys +
    // 1-dp values outgrow it (round-9's line truncated to an unparseable
    // tail), so the line carries the TOTAL plus the 40 slowest queries —
    // the profile a reader acts on — and the full full-precision map
    // stays in target/bench_detail.json (committed per round as
    // bench_detail_r{N}_full.json).
    def fmt(v: Double, dp: Int): String = {
      val s = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
      s.bigDecimal.toPlainString
    }
    // FULL query names in the stdout line: the driver joins these keys
    // against its own query list to build the per-query PERF comparison
    // — truncated keys ("q452" for q452_ivf_dial_sweep) can never join
    // and left PERF_r*.per_query empty for 13 rounds. Full names at
    // 1 dp for the top 40 fit in ~1300 chars, inside the harness's
    // ~2000-char stdout tail window; the full-precision full map stays
    // in target/bench_detail.json.
    def compactLine(dp: Int, topN: Int): String = {
      val qs = results.toSeq.sortBy(-_._2).take(topN).map { case (k, v) =>
        s"\"" + k + "\":" + fmt(v, dp)
      }.mkString("{", ",", "}")
      // retimed outliers ride the stdout line too (few or none): a
      // reader of the contract line sees the weather flag directly
      val rt = retimed.map { case (k, v) =>
        s"\"" + k + "\":" + fmt(v, dp)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, dp)},"unit":"sec","n_queries":${results.size},"queries":$qs,"retimed":$rt,"sf":"$sfDir"}"""
    }
    val line1 = compactLine(1, 40)
    println(if (line1.length <= 1800) line1 else compactLine(1, 22))
    spark.stop()
  }
}

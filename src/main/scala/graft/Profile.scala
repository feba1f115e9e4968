package graft


/** Floor profiler (guide §1): decomposes a query's bench time into
  * driver-side plan construction+analysis vs execution, and measures
  * the per-read parquet metadata cost (listing + footer schema), so
  * optimization effort lands where the time actually goes.
  *
  * `runMain graft.Profile [sfDir] [query ...]` — same session config
  * as Bench so the numbers are comparable.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_scan_filter_project", "q03_group_count",
        "q13_dict_encode", "q15_const_prune", "q22_sessionize",
        "q49_percentiles", "q62_tfidf", "q108_tpch_q1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Same session as Bench (via the shared graft.Sessions builder) so
    // the numbers are comparable.
    val spark = Sessions.bounded(Sessions.builder(cpus)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmup(spark, dir)

    // parquet metadata cost: fresh read (listing + footer) per call
    val tnames = Seq("lineitem", "orders", "events", "documents",
      "embeddings", "customer", "part")
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      tnames.foreach { t => spark.read.parquet(s"$dir/$t.parquet").schema }
      println(f"[profile] 7 fresh table reads (metadata only), pass $i: ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    // same with an explicit schema (skips footer inference, keeps listing)
    val schemas = tnames.map(t => t -> spark.read.parquet(s"$dir/$t.parquet").schema).toMap
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      tnames.foreach { t =>
        spark.read.schema(schemas(t)).parquet(s"$dir/$t.parquet").queryExecution.analyzed
      }
      println(f"[profile] 7 schema-pinned reads (analyzed), pass $i: ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    // reusing one analyzed DataFrame: trivial transform + analyze only
    val cached = tnames.map(t => t -> spark.read.parquet(s"$dir/$t.parquet")).toMap
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      tnames.foreach { t =>
        cached(t).select(org.apache.spark.sql.functions.col(cached(t).columns.head)).queryExecution.analyzed
      }
      println(f"[profile] 7 cached-DF reuses (analyzed), pass $i: ${(System.nanoTime()-t0)/1e9}%.3f s")
    }

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to 2).foreach { run =>
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val j1 = jobs.get()
        df.queryExecution.executedPlan // optimize + initial physical plan
        val t2 = System.nanoTime()
        Bench.drain(df)
        val t3 = System.nanoTime()
        val j2 = jobs.get()
        spark.catalog.clearCache()
        println(f"[profile] $n run$run: construct+analyze ${(t1-t0)/1e9}%.3f s (${j1-j0} jobs), optimize+plan ${(t2-t1)/1e9}%.3f s, execute ${(t3-t2)/1e9}%.3f s (${j2-j1} jobs)")
      }
    }
    spark.stop()
  }
}

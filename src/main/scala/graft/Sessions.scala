package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** ONE SparkSession builder for every main (Bench, Verify, Explain,
  * Pipeline, CorpusPipeline, StreamPipeline, ServeBench) so their knobs
  * cannot drift (ADVICE r13 — a side profiler had already re-inlined
  * Bench's config by hand). Mains add only their own extras on top
  * (Bench's 8 MB split size).
  *
  * Config notes (local[N] at the gate SFs):
  *  - master/shuffle.partitions = `$SPARK_GRAFT_CPUS` (harness
  *    contract — the driver also runs at a lower core count to measure
  *    scaling, so nothing here may hard-code a core count);
  *  - UTC + nanosAsLong: events.parquet ships TIMESTAMP(NANOS);
  *  - UI off in all mains;
  *  - codegen cache = [[CodegenCacheEntries]], so each generated class
  *    is compiled once per JVM (see there).
  */
object Sessions extends Logging {
  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The engine's
    * working sets, in distinct generated classes: the nine perfbench
    * `floor` queries need 146; the `pipelines` JVM needs 308: 64 for
    * the sf0.1 IVF index write, 173 for a cold `Pipeline.run` and 71
    * for the sf0.1 probes after it. At 100 every repeated floor pass
    * recompiled 72–113 of its classes (~1 s of Janino time in a 5–6 s
    * pass). The cache is a Guava cache that bounds each segment
    * separately, so a cap near the working set still evicts; 1000
    * leaves headroom over all of them. The conf is static and read
    * once per JVM, when `CodeGenerator` is first initialized — a
    * session built after that cannot change it.
    */
  val CodegenCacheEntries = 1000

  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)

  /** Bounded-driver-state knobs for the LONG mains (Bench/Verify run
    * 450+ queries in one JVM; ServeBench repeats many jobs; one-shot
    * tools like Explain don't need these):
    *  - periodicGC 1min: localCheckpoint blocks are only reclaimed by
    *    the ContextCleaner after a full GC, and the default 30-min
    *    interval never fires inside one run — accumulated blocks turn
    *    the tail queries into eviction storms (r12 fix; ~100 ms/GC).
    *    Known benign side effect: the minute-boundary GC clears
    *    weak-ref'd accumulators of already-released plans, so late
    *    task-end events log "Failed to update accumulator" ERRORs
    *    (DAGScheduler) and "Attempted to access garbage collected
    *    accumulator" WARNs (AccumulatorContext) — log noise, not a
    *    correctness or timing hazard (diagnosed r14). Those two
    *    messages are filtered out of their loggers; every other line
    *    of either logger still prints.
    *  - retention caps: the UI is off but the AppStatus listener still
    *    retains per-job/stage state for every query — dead driver heap
    *    the tail pays for in GC (r13 fix). Values are generous for any
    *    single query at any scale.
    */
  def bounded(b: SparkSession.Builder): SparkSession.Builder = {
    accumulatorLogFilters
    b.config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
  }

  /** Installed once per JVM: a DENY-on-match RegexFilter per (logger,
    * message) pair, each logger's level left inherited. Spark swaps in
    * its own log4j configuration when its logging starts, so it is
    * started before the filters are added. */
  private lazy val accumulatorLogFilters: Unit = {
    initializeLogIfNecessary(false)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    Seq("org.apache.spark.scheduler.DAGScheduler" ->
        "(?s)Failed to update accumulator .*",
      "org.apache.spark.util.AccumulatorContext" ->
        "(?s)Attempted to access garbage collected accumulator .*")
      .foreach { case (name, regex) =>
        val lc = Option(cfg.getLoggers.get(name)).getOrElse {
          val c = new LoggerConfig(name, null, true)
          cfg.addLogger(name, c)
          c
        }
        lc.addFilter(RegexFilter.createFilter(regex, null, false,
          Filter.Result.DENY, Filter.Result.NEUTRAL))
      }
    ctx.updateLoggers()
  }
}

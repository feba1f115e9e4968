package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Driver bench contract: time every SparkEntry query on
  * $SPARK_GRAFT_SF_DIR (or only the comma list in
  * $SPARK_GRAFT_BENCH_ONLY), min of 2 runs after one untimed warmup;
  * write `target/bench_detail.json` (every time, plus one layer record
  * per query) and print the JSON contract line as the last stdout line.
  *
  * The 8 MB split size lets the single-file parquet tables split across
  * cores instead of scanning on one thread (at cluster scale the default
  * 128 MB is right — this knob tracks the SF, per SURVEY §7.5.7).
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Local property (and noop write option) naming the run and phase a
    * job or drain belongs to: `<query>#<run>/construct|execute`. */
  val Tag = "graft.bench.run"

  /** Materialize through the noop sink: every output column is computed
    * and serialized (a bare .count() lets Catalyst prune final
    * projections — e.g. round(sim, 6) — and under-reports). The tag
    * rides the write command so the drain's QueryExecution is found.
    */
  def drain(df: DataFrame, tag: String = ""): Unit =
    df.write.format("noop").mode("overwrite").option(Tag, tag).save()

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

  /** One successful timed run: `fn(spark, dir)`, then its drain, with
    * the classes codegen compiled in each phase. */
  final case class Run(tag: String, constructS: Double, executeS: Double,
                       constructCompiles: Long, executeCompiles: Long) {
    def seconds: Double = constructS + executeS
  }

  /** Charges every job, and the shuffle writes of its stages, to the
    * [[Tag]] it was started under (threads a query starts inherit the
    * property), and keeps the planner phases of each tagged drain.
    * Exact once the listener bus is drained — e.g. by `spark.stop()`.
    */
  final class Recorder extends SparkListener with QueryExecutionListener {
    private final class Counts {
      var jobs = 0
      var bytes, records = 0L
      var phases = Map.empty[String, Long]
    }
    private val byTag = mutable.Map.empty[String, Counts]
    private val stageTag = mutable.Map.empty[Int, String]
    private def counts(tag: String) = byTag.getOrElseUpdate(tag, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { t =>
        counts(t).jobs += 1
        e.stageIds.foreach(stageTag(_) = t)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val m = e.stageInfo.taskMetrics
      stageTag.get(e.stageInfo.stageId).filter(_ => m != null).foreach { t =>
        counts(t).bytes += m.shuffleWriteMetrics.bytesWritten
        counts(t).records += m.shuffleWriteMetrics.recordsWritten
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical match {
        case w: OverwriteByExpression => w.writeOptions.get(Tag).foreach { t =>
          val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
          synchronized(counts(t).phases = phases)
        }
        case _ =>
      }

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

    /** The layer record of one run: seconds, jobs and compiled classes
      * per phase, the drain's planner phase ms, and the run's shuffle
      * writes. */
    def record(r: Run): JObject = synchronized {
      val (c, x) = (counts(s"${r.tag}/construct"), counts(s"${r.tag}/execute"))
      ("construct_s" -> r.constructS) ~ ("execute_s" -> r.executeS) ~
        ("construct_jobs" -> c.jobs) ~ ("execute_jobs" -> x.jobs) ~
        ("construct_compiles" -> r.constructCompiles) ~ ("execute_compiles" -> r.executeCompiles) ~
        JObject(x.phases.toList.sorted.map { case (k, v) => s"${k}_ms" -> JLong(v) }) ~
        ("shuffle_write_bytes" -> (c.bytes + x.bytes)) ~
        ("shuffle_write_records" -> (c.records + x.records))
    }
  }

  /** Classes compiled by codegen so far in this JVM. JVM-wide, so a
    * delta around a phase is exact only while one query runs at a time
    * (as here: the compiles of its `Concurrent.run` threads are its own). */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Times run `run` of one query; None when it throws (a crashing
    * query must show as broken, never as its time-to-exception). */
  def timeOnce(spark: SparkSession, sfDir: String, name: String, fn: Query,
               run: Int): Option[Run] = {
    val sc = spark.sparkContext
    val tag = s"$name#$run"
    try {
      val (k0, t0) = (compiles(), System.nanoTime())
      sc.setLocalProperty(Tag, s"$tag/construct")
      val df = fn(spark, sfDir)
      val (k1, t1) = (compiles(), System.nanoTime())
      sc.setLocalProperty(Tag, s"$tag/execute")
      drain(df, s"$tag/execute")
      Some(Run(tag, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, k1 - k0, compiles() - k1))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
    } finally {
      sc.setLocalProperty(Tag, null)
      // Persisted intermediates would leak across queries and let run 2
      // read run 1's cache (identical lineage hits the CacheManager),
      // making min-of-2 a cache-hit measurement.
      spark.catalog.clearCache()
    }
  }

  /** The faster of two runs per query (single-run noise on a shared host
    * is ±30%); None when both failed. */
  def measure(spark: SparkSession, queries: Map[String, Query],
              sfDir: String): Map[String, Option[Run]] =
    queries.map { case (name, fn) =>
      name -> (1 to 2).flatMap(timeOnce(spark, sfDir, name, fn, _)).minByOption(_.seconds)
    }

  /** Prior per-query seconds from a bench detail file: only its
    * `queries` object, only when its `sf` is `sfDir` (priors apply at
    * their own scale), only values > 0; empty when malformed. */
  def priorTimes(json: String, sfDir: String): Map[String, Double] =
    try {
      val j = parse(json)
      if (j \ "sf" != JString(sfDir)) Map.empty
      else (j \ "queries" match {
        case JObject(fs) => fs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
        }
        case _ => Nil
      }).filter(_._2 > 0.0).toMap
    } catch { case _: Exception => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.bounded(Sessions.builder(cpus)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    warmup(spark, sfDir)

    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(n => SparkEntry.queries.filter(kv => n(kv._1)))
    val best = measure(spark, selected, sfDir)
    val results = best.map { case (k, r) => k -> r.fold(-1.0)(_.seconds) }
    val total = results.values.sum

    // Weather guard: one GC storm on a shared host can poison a single
    // query's number (round 11: q207 read 42.26 s against three ~1.8 s
    // measurements). A query >= 1 s and >3× its committed prior
    // (bench_prior.json) is re-timed once at the quiet end of the run and
    // both numbers are emitted; a failed retime keeps the original.
    val priorFile = Paths.get("bench_prior.json")
    val prior = if (!Files.exists(priorFile)) Map.empty[String, Double]
      else priorTimes(new String(Files.readAllBytes(priorFile), "UTF-8"), sfDir)
    val retimed = results.collect {
      case (name, t) if t >= 1.0 && prior.get(name).exists(t > 3.0 * _) =>
        timeOnce(spark, sfDir, name, selected(name), 3).map(name -> _.seconds)
    }.flatten.toMap
    // Stopping the context delivers every queued listener event.
    spark.stop()

    val records = best.collect { case (k, Some(r)) => k -> rec.record(r) }
    val detail = ("metric" -> "total") ~ ("value" -> total) ~ ("unit" -> "sec") ~
      ("queries" -> results) ~ ("retimed" -> retimed) ~ ("sf" -> sfDir) ~
      ("records" -> JObject(records.toList))
    // The contract line stays short: its reader parses it from the last
    // ~2000 chars of stdout, so it carries the total and the slowest
    // queries under their FULL names (per-query comparisons join on them)
    // at 1 dp; the full-precision map stays in bench_detail.json.
    def dp1(v: Double): Double = math.round(v * 10) / 10.0
    def line(topN: Int): String = compact(render(
      ("metric" -> "total") ~ ("value" -> dp1(total)) ~ ("unit" -> "sec") ~
        ("n_queries" -> results.size) ~
        ("queries" -> JObject(results.toList.sortBy(-_._2).take(topN)
          .map { case (k, v) => k -> JDouble(dp1(v)) })) ~
        ("retimed" -> retimed.map { case (k, v) => k -> dp1(v) }) ~ ("sf" -> sfDir)))
    val contract = Some(line(40)).filter(_.length <= 1800).getOrElse(line(22))
    try {
      Files.createDirectories(Paths.get("target"))
      Files.write(Paths.get("target", "bench_detail.json"), compact(render(detail)).getBytes("UTF-8"))
      Files.write(Paths.get("target", "bench_line.json"), (contract + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    System.out.println(contract)
    System.out.flush()
  }
}

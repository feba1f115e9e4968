package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, Sessions, SparkEntry}
import graft.operators.SimilarityOps

/** JVM side of the benchmark: runs one workload in one driver process
  * and writes what happened to `<out>/records.jsonl`. It times its own
  * calls into graft's public entry points and computes no metric; the
  * Python runner reads the records, checks outputs and derives metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * out, data (the sf0.1 tables), small (the sf0.01 tables), ops (comma-
  * separated query names for the query workloads).
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val out = a("out")
    val rec = new Records(s"$out/records.jsonl")
    val cpus = Runtime.getRuntime.availableProcessors
    // The one session every workload shares: graft's bounded builder
    // plus Bench's 8 MB split, so single-file tables split across cores.
    val spark = Sessions.bounded(Sessions.builder(cpus.toString)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a("trace") == "1") {
      val t = new Tracer(rec)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    val ctx = new Ctx(spark, rec, out, a("data"))
    val w: Workload = a("workload") match {
      case "pipelines" => new Pipelines(ctx, a("small"), a("seed").toLong)
      case "survey" => new Survey(ctx, SparkEntry.queries.keys.toSeq)
      case _ => new Queries(ctx, a("ops").split(",").toSeq)
    }
    w.setup()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    rec.emit("setup", "s" -> (System.currentTimeMillis() - jvmStart) / 1000.0,
      "cores" -> cpus)

    // Timed passes while the next one, as long as the last, ends inside
    // the window, so a run's pass count does not hinge on where the last
    // pass meets the deadline. A traced run traces the odd passes; its
    // overhead compares them with the even ones after pass 0, the
    // coldest, so each untraced pass sits between two traced ones and
    // passes speeding up as the JVM warms do not bias it.
    val rnd = new Random(a("seed").toLong)
    val minPasses = if (tracer.isDefined) 4 else 1
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var (pass, lastNs) = (0, 0L)
    while (pass < minPasses || (pass < w.maxPasses && System.nanoTime() + lastNs <= deadline)) {
      val traced = tracer.isDefined && pass % 2 == 1
      tracer.foreach(_.on = traced)
      val (t0, g0) = (System.currentTimeMillis(), Jvm.gcMs())
      val n0 = System.nanoTime()
      w.pass(pass, rnd)
      lastNs = System.nanoTime() - n0
      val (t1, ms, gcMs) = (System.currentTimeMillis(), lastNs / 1e6, Jvm.gcMs() - g0)
      rec.emit("pass", "pass" -> pass, "traced" -> traced, "start" -> t0, "end" -> t1,
        "ms" -> ms, "gc_ms" -> gcMs, "live_heap_mb" -> Jvm.liveHeapMb())
      pass += 1
    }
    tracer.foreach(_.on = false)
    w.finish()
    tracer.foreach(_ => Jvm.drainBus(spark))
    rec.close()
    spark.stop()
  }
}

/** What every workload shares: the session, the record sink, the run's
  * output directory and the sf0.1 tables. */
final class Ctx(val spark: SparkSession, val rec: Records, val out: String,
                val data: String) {
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times one op. `body` gets a callback that marks the end of the op's
    * first phase (query construction, or `run` of a pipeline); the rest
    * is its second phase (the drain). A failing op is recorded with its
    * error and site, never with a time. */
  def op(kind: String, name: String, pass: Int)(body: (() => Unit) => Unit): Boolean = {
    val (t0, g0, n0) = (System.currentTimeMillis(), Jvm.gcMs(), System.nanoTime())
    var (mid, nMid) = (t0, n0)
    val err = try {
      body { () => mid = System.currentTimeMillis(); nMid = System.nanoTime() }
      None
    } catch { case e: Throwable => Some(e) }
    finally spark.catalog.clearCache()
    val n1 = System.nanoTime()
    rec.emit("op", "type" -> kind, "name" -> name, "pass" -> pass,
      "start" -> t0, "mid" -> mid, "end" -> System.currentTimeMillis(),
      "ms" -> (n1 - n0) / 1e6, "first_ms" -> (nMid - n0) / 1e6,
      "ok" -> err.isEmpty, "error" -> err.map(Jvm.describe),
      "gc_ms" -> (Jvm.gcMs() - g0))
    err.isEmpty
  }

  def check(name: String, ok: Boolean, detail: (String, Any)*): Unit =
    rec.emit("check", (Seq("name" -> name, "ok" -> ok) ++ detail): _*)
}

trait Workload {
  /** Untimed: warm caches, write or check outputs. */
  def setup(): Unit
  def pass(i: Int, rnd: Random): Unit
  /** Passes of an untraced run, at most; a traced run makes at least four. */
  def maxPasses: Int = Int.MaxValue
  /** Untimed, after the timed passes: output checks, known-defect probes. */
  def finish(): Unit = ()
}

/** `floor`: a list of declared queries, each built through
  * `SparkEntry.queries(name)` and drained through the noop sink. The
  * set-up pass writes every output once for the DuckDB oracle check. */
final class Queries(c: Ctx, names: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries

  def setup(): Unit = {
    names.foreach { n =>
      c.op("check", n, -1) { _ =>
        queries(n)(c.spark, c.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${c.out}/check/$n")
      }
    }
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n))
    Files.write(Paths.get(c.out, "oracle.json"), Json.obj(oracle).getBytes("UTF-8"))
  }

  def pass(i: Int, rnd: Random): Unit = rnd.shuffle(names).foreach(time(_, i))

  def time(name: String, pass: Int): Unit =
    c.op("query", name, pass) { mark =>
      val df = queries(name)(c.spark, c.data)
      mark()
      c.drain(df)
    }
}

/** One cold and, when that took under 2 s, one warm run of each query,
  * in the first traced pass (pass 1, run with `--trace 1 --seconds 0`);
  * input to the pool freeze, not a benchmark workload. */
final class Survey(c: Ctx, names: Seq[String]) extends Workload {
  private val queries = new Queries(c, names)

  def setup(): Unit = ()

  def pass(i: Int, rnd: Random): Unit = if (i == 1) {
    names.foreach { n =>
      val t0 = System.nanoTime()
      queries.time(n, i)
      if (System.nanoTime() - t0 < 2000000000L) queries.time(n, i)
    }
  }
}

/** `pipelines`: the reference's offline → online shape. Set-up writes
  * the cell-partitioned IVF serving index at sf0.1 (the write path);
  * each pass runs the recsys pipeline (`Pipeline.run` + a drain of its
  * recommendations) at sf0.01. The two paths that fail at sf0.1 — the
  * recsys pipeline and the partition-pruned serve read — run once as
  * untimed probes after the passes, so their outcome is on record every
  * run. */
final class Pipelines(c: Ctx, small: String, seed: Long) extends Workload {
  import c.spark.implicits._

  // The shipped q441/q453 dials (see graft.ServeBench).
  private val (kc, nprobe, k, rounds) = (16, 8, 5, 2)
  private val index = s"${c.out}/serve_index"
  private lazy val emb = c.spark.read.parquet(s"${c.data}/embeddings.parquet")
  private lazy val shardBits = math.max(1, SimilarityOps.adaptiveSignBits(emb) - 5)
  private var codebook: DataFrame = _

  def setup(): Unit = {
    val n = emb.count()
    val built = c.op("serve_build", "ivfServeIndexWrite", -1) { _ =>
      codebook = SimilarityOps.ivfServeIndexWrite(emb, "vec_id", "embedding",
        kc, rounds, shardBits, index).localCheckpoint()
    }
    if (built) {
      val written = c.spark.read.parquet(index)
      val cells = Files.list(Paths.get(index)).iterator().asScala
        .count(_.getFileName.toString.startsWith("pcell="))
      val bytes = Files.walk(Paths.get(index)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      val (rows, ids) = (written.count(), written.select("id").distinct().count())
      c.rec.emit("serve_index", "cells" -> cells, "mb" -> bytes / 1048576.0)
      c.check("serve_index", rows == n && ids == n, "rows" -> rows,
        "distinct_ids" -> ids, "corpus" -> n)
    }
  }

  // The recsys pipeline is a batch job a user starts once per driver, so
  // an untraced run times its first run, cold, as it comes, whatever the
  // window: a warm second run would be another metric. The last run's
  // output is checked after the passes.
  private var last: Pipeline.Result = null

  override def maxPasses: Int = 1

  def pass(i: Int, rnd: Random): Unit =
    c.op("recsys", "recsys", i) { mark =>
      val r = Pipeline.run(c.spark, small)
      mark()
      c.drain(r.recommendations)
      last = r
    }

  override def finish(): Unit = {
    if (last != null) {
      val recs = last.recommendations.localCheckpoint()
      val perUser = recs.groupBy("user_id").count().agg(max("count")).head().getLong(0)
      c.check("recsys", ok = true, "user_vectors" -> last.userVectors.count(),
        "item_vectors" -> last.itemVectors.count(), "recommendations" -> recs.count(),
        "max_per_user" -> perUser)
    }
    c.op("probe", "recsys_sf0.1", -1) { _ =>
      c.drain(Pipeline.run(c.spark, c.data).recommendations)
    }
    if (codebook == null) return
    // A seeded micro-batch of 8 from the q453 1-in-10 request set; if the
    // pruned path answers, it must equal the declared q453 plan.
    val requests = emb
      .filter(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"))
    val served = c.spark.read.parquet(index)
    def serve(req: DataFrame): Set[(Long, Long, Double)] =
      SimilarityOps.ivfServeBatchPruned(req, "vec_id", "embedding", served,
          codebook, shardBits, nprobe, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = new Random(seed).shuffle(requests.collect().toSeq).take(8)
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
    val answered = c.op("probe", "serve_pruned_batch", -1) { _ =>
      require(serve(batch.toDF("vec_id", "embedding")).nonEmpty, "empty answer")
    }
    if (answered) {
      val pruned = serve(requests)
      val expected = SimilarityOps.ivfServeSharded(emb, "vec_id", "embedding",
          k, kc, nprobe, rounds, shardBits, queryMod = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      c.check("serve_parity", pruned == expected, "pruned" -> pruned.size,
        "q453" -> expected.size)
    }
  }
}

/** Driver-JVM readings and helpers. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs(): Long = gcs.map(_.getCollectionTime).sum

  /** Driver heap still reachable at this point: used heap right after a
    * full collection. Unlike the peak of used heap, it does not depend on
    * when the collector last ran. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Exception class, first message line and the innermost graft frame
    * (the error site), following the cause chain to its root. */
  def describe(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val root = chain.last
    val site = chain.flatMap(_.getStackTrace).find(_.getClassName.startsWith("graft."))
    val msg = Option(root.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${root.getClass.getName}: ${msg.take(160)}" + site.map(s => s" @ $s").getOrElse("")
  }

  /** Returns once the listener bus has delivered every event posted
    * before it: a marked one-task job's end is queued behind them. */
  def drainBus(spark: SparkSession): Unit = {
    val done = new java.util.concurrent.CountDownLatch(1)
    val sc = spark.sparkContext
    val barrier = new org.apache.spark.scheduler.SparkListener {
      @volatile var id = -1
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("perfbench.barrier") != null) id = e.jobId
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobId == id) done.countDown()
    }
    sc.addSparkListener(barrier)
    sc.setLocalProperty("perfbench.barrier", "1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty("perfbench.barrier", null)
    done.await(60, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(barrier)
  }
}

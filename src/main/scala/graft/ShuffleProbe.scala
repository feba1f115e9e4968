package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Shuffle-cost probe: drain named SparkEntry queries through the noop
  * sink with a stage listener attached and print, per query, one JSON
  * line `{"query":…,"sec":…,"shuffle_write_bytes":…,
  * "shuffle_write_records":…}`. The number that matters at 100 TB is
  * the BYTES a plan moves, not its local[32] latency — this is the
  * tool the BENCHLOG shuffle-bytes rows are measured with (e.g. the
  * round-11 gram-fingerprint migration, which leaves latency almost
  * flat at gate SFs but cuts the substring-dedup family's shuffled
  * bytes by the gram-string/16-byte-digest ratio).
  *
  * Attribution is BEST-EFFORT: stage-completed events drain through
  * the async listener bus, so the probe polls the counters until they
  * are stable for a quiet period (rather than trusting one fixed
  * sleep) before crediting them to the query — on a loaded host a
  * straggler stage could otherwise bleed into the next query's row.
  *
  * Besides declared SparkEntry queries, the probe accepts the
  * pseudo-targets `excise_n<3|5|7|9|25>` — the q443 substring-excision
  * machinery at a single gram length — so the q446 ladder's per-rung
  * shuffle cost is measurable rung by rung (the BENCHLOG
  * bytes-per-occurrence table that separates generator replication
  * artifacts from real superlinearity).
  *
  * Usage: runMain graft.ShuffleProbe <sfDir> <query> [query ...]
  */
object ShuffleProbe {
  /** Per-rung pseudo-queries: the q443 excise plan at one gram length. */
  private val rungProbes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Seq(3, 5, 7, 9, 25).map { n =>
      s"excise_n$n" -> ((s: SparkSession, d: String) =>
        graft.operators.DedupOps.dupSubstringExcise(
          graft.tables.Tables.documents(s, d), "doc_id", "text",
          "source", n))
    }.toMap

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ShuffleProbe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val names = args.drop(1)
    val targets = SparkEntry.queries ++ rungProbes
    val unknown = names.filterNot(targets.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // bounded block store across probes — see the Sessions.bounded note
    val spark = Sessions.bounded(Sessions.builder(cpus)
        .config("spark.sql.files.maxPartitionBytes", "8m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new AtomicLong(0L)
    val records = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    names.foreach { name =>
      bytes.set(0L); records.set(0L)
      val t0 = System.nanoTime()
      Bench.drain(targets(name)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events drain asynchronously (the bus is private[spark],
      // so no waitUntilEmpty here): poll until the counters are stable
      // for 600 ms (max 10 s) instead of trusting one fixed sleep — a
      // straggler stage on a loaded host would otherwise be credited
      // to the NEXT query's row
      var last = (-1L, -1L)
      var stableMs = 0
      var waitedMs = 0
      while (stableMs < 600 && waitedMs < 10000) {
        Thread.sleep(100)
        waitedMs += 100
        val cur = (bytes.get, records.get)
        stableMs = if (cur == last) stableMs + 100 else 0
        last = cur
      }
      // Snapshot ONCE at poll exit so the printed pair is coherent, and
      // flag rows where the 10 s cap fired before stability: a straggler
      // stage completing after the cap still bleeds into the NEXT row
      // (best-effort attribution) — the flag makes a bled row visible in
      // the output instead of silently trusted.
      val (bSnap, rSnap) = (bytes.get, records.get)
      val capHit = stableMs < 600
      println(f"""{"query":"$name","sec":$sec%.3f,""" +
        s""""shuffle_write_bytes":$bSnap,""" +
        s""""shuffle_write_records":$rSnap""" +
        (if (capHit) ""","stability_cap_hit":true}""" else "}"))
    }
    spark.stop()
  }
}

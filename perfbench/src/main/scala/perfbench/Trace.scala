package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the flat records the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString // Int, Long, Boolean
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** The run's record file: one JSON object per line, appended from the
  * harness thread and from the listener-bus thread. */
final class Records(path: String) {
  private val w = new BufferedWriter(new FileWriter(path))
  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(Json.obj(("kind" -> kind) +: fields))
    w.newLine()
  }
  def close(): Unit = synchronized(w.close())
}

/** Reads Spark's listener bus from outside the program: one record per
  * job (span and stage ids), per stage attempt (span and the totals of
  * its tasks) and per query execution (planner phases and the number of
  * Exchanges in the final plan). Events are kept only while `on`, so
  * untraced passes of a traced run pay for nothing but the bus delivery.
  */
final class Tracer(rec: Records) extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  // Touched only from the listener-bus thread.
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private final class StageTotals {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, writeB, readB, spillB, inputB = 0L
  }
  private val stages = mutable.Map.empty[(Int, Int), StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) jobStart(e.jobId) = (e.time, e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (start, stageIds) =>
      rec.emit("job", "id" -> e.jobId, "start" -> start, "end" -> e.time,
        "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on) stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = new StageTotals

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { t =>
      t.tasks += 1
      if (!e.taskInfo.successful) t.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.writeB += m.shuffleWriteMetrics.bytesWritten
        t.readB += m.shuffleReadMetrics.totalBytesRead
        t.spillB += m.diskBytesSpilled
        t.inputB += m.inputMetrics.bytesRead
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.remove((i.stageId, i.attemptNumber())).foreach { t =>
      rec.emit("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime, "end" -> i.completionTime,
        "tasks" -> t.tasks, "failed_tasks" -> t.failed,
        "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1000000L, "gc_ms" -> t.gcMs,
        "shuffle_write_b" -> t.writeB, "shuffle_read_b" -> t.readB,
        "spill_b" -> t.spillB, "input_b" -> t.inputB,
        "failed" -> i.failureReason.isDefined)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) queryExecution(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (on) queryExecution(funcName, qe, ok = false)

  private def queryExecution(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
    val exchanges = if (ok) Tracer.exchanges(qe.executedPlan) else 0
    // Planned-at time places the execution inside the op phase that
    // issued it; delivery on the bus can come later.
    val planned = phases.values.map(_.endTimeMs).maxOption
      .getOrElse(System.currentTimeMillis())
    rec.emit("qe", "func" -> funcName, "at" -> planned,
      "analysis_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
      "physical_ms" -> ms("planning"), "exchanges" -> exchanges, "ok" -> ok)
  }
}

object Tracer {
  /** Exchanges in the plan as it finally ran: adaptive plans are read
    * through their current physical plan and query stages through the
    * plan they wrap, so AQE's re-planned shape is what gets counted. */
  def exchanges(p: SparkPlan): Int = {
    val self = p match {
      case _: Exchange => 1
      case _ => 0
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children ++ p.subqueries
    }
    self + inner.map(exchanges).sum
  }
}

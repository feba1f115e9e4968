package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.Concurrent
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._

/** Bench's per-run layer record (jobs, shuffle writes, planner phases
  * charged through the run tag; compiles per phase), its prior parse,
  * and the log messages `Sessions.bounded` filters.
  */
class BenchSpec extends SparkSpec {

  /** Returns once the listener bus has delivered every event posted
    * before it: a marked one-task job's end is queued behind them. */
  private def drainBus(spark: SparkSession): Unit = {
    val done = new CountDownLatch(1)
    val sc = spark.sparkContext
    val barrier = new SparkListener {
      @volatile var id = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("bench.barrier") != null) id = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == id) done.countDown()
    }
    sc.addSparkListener(barrier)
    sc.setLocalProperty("bench.barrier", "1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty("bench.barrier", null)
    assert(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    sc.removeSparkListener(barrier)
  }

  test("records charge jobs and shuffle writes to the run that started them") {
    val queries: Map[String, Bench.Query] = Map(
      "shuffle" -> ((s, _) => s.range(2000).groupBy(col("id") % 7).count()),
      "scan" -> ((s, _) => s.range(2000).filter(col("id") % 3 === 0).toDF()),
      "checkpoint" -> ((s, _) => s.range(500).toDF().localCheckpoint()),
      "concurrent" -> ((s, _) => {
        val n = Concurrent.run(Seq(() => s.range(10).count(),
          () => s.range(20).groupBy(col("id") % 2).count().count()))
        s.range(n.sum).toDF()
      }))
    val rec = new Bench.Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val best = try Bench.measure(spark, queries, "") finally drainBus(spark)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)

    assert(best.values.forall(_.isDefined), s"a run failed: $best")
    val r = best.map { case (k, run) => k -> rec.record(run.get) }
    def long(q: String, f: String): Long = (r(q) \ f) match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case other => fail(s"$q.$f = $other")
    }
    assert(long("shuffle", "shuffle_write_bytes") > 0)
    assert(long("shuffle", "shuffle_write_records") > 0)
    assert(long("scan", "shuffle_write_bytes") == 0)
    assert(long("scan", "construct_jobs") == 0)
    assert(long("checkpoint", "construct_jobs") >= 1)
    // both Concurrent.run tasks' jobs land on their query, and the
    // second task's shuffle with them
    assert(long("concurrent", "construct_jobs") >= 2)
    assert(long("concurrent", "shuffle_write_bytes") > 0)
    r.foreach { case (q, o) =>
      assert(long(q, "execute_jobs") >= 1, s"$q drained without a job")
      assert(long(q, "optimization_ms") >= 0 && long(q, "planning_ms") >= 0)
      assert((o \ "construct_s").isInstanceOf[JDouble] && (o \ "execute_s").isInstanceOf[JDouble])
      assert(long(q, "construct_compiles") >= 0 && long(q, "execute_compiles") >= 0)
    }
  }

  test("a query's second run records no compiles") {
    val q: Bench.Query = (s, _) => s.range(100).selectExpr("id * 104729 + 3 AS v").filter("v % 5 = 1")
    val Seq(first, second) = (1 to 2).map(Bench.timeOnce(spark, "", "compiles", q, _).get)
    assert(first.constructCompiles + first.executeCompiles > 0)
    assert(second.constructCompiles == 0 && second.executeCompiles == 0)
  }

  test("priorTimes reads only `queries`, at a matching sf, values > 0") {
    val txt = """{"metric":"total","value":9,"sf":"/d/sf0.1",""" +
      """"queries":{"q01_a":1.5,"q02_b":-1.0,"q03_c":0,"q04_d":2},""" +
      """"retimed":{"q01_a":9.9,"q05_e":3.0}}"""
    assert(Bench.priorTimes(txt, "/d/sf0.1") == Map("q01_a" -> 1.5, "q04_d" -> 2.0))
    assert(Bench.priorTimes(txt, "/d/sf1").isEmpty)
    assert(Bench.priorTimes("""{"queries":{"q01_a":1.5""", "/d/sf0.1").isEmpty)
    assert(Bench.priorTimes("""{"sf":"/d/sf0.1","queries":[1]}""", "/d/sf0.1").isEmpty)
  }

  test("Sessions.bounded filters DAGScheduler's accumulator ERROR and nothing else") {
    Sessions.bounded(SparkSession.builder())
    val cfg = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
    def verdict(name: String, level: Level, msg: String) = {
      val lc = cfg.getLoggerConfig(name)
      assert(lc.getName == name && lc.getExplicitLevel == null)
      lc.getFilter.filter(Log4jLogEvent.newBuilder()
        .setLoggerName(name).setLevel(level).setMessage(new SimpleMessage(msg)).build())
    }
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    assert(verdict(dag, Level.ERROR, "Failed to update accumulator 12 (LongAccumulator) for task 3") ==
      Filter.Result.DENY)
    assert(verdict(dag, Level.ERROR, "Failed to update accumulators for task 3") != Filter.Result.DENY)
    assert(verdict(dag, Level.ERROR, "Job aborted due to stage failure") != Filter.Result.DENY)
    val acc = "org.apache.spark.util.AccumulatorContext"
    assert(verdict(acc, Level.WARN, "Attempted to access garbage collected accumulator 4711") ==
      Filter.Result.DENY)
    assert(verdict(acc, Level.WARN, "Attempted to access accumulator 4711") != Filter.Result.DENY)
    // each message is filtered only on its own logger
    assert(verdict(dag, Level.WARN, "Attempted to access garbage collected accumulator 4711") !=
      Filter.Result.DENY)
  }
}

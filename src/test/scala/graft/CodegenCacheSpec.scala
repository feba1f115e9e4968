package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's codegen cache holds more than Spark's default 100
  * generated classes, so a working set that size is compiled once, and
  * its class names carry no codegen stage number, so a query that
  * adaptive execution re-plans is compiled once too.
  * The compile counter is JVM-wide; test suites run one at a time.
  */
class CodegenCacheSpec extends SparkSpec {
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("150 distinct generated classes, collected twice, compile once") {
    // each literal is inlined into its plan's generated code
    val plans = (1 to 150).map(i => spark.range(10).selectExpr(s"id * $i + 7919"))
    plans.foreach(_.collect())
    val before = compiles
    val again = plans.map(_.collect().map(_.getLong(0)).sum)
    assert(compiles - before == 0, "the second pass recompiled generated classes")
    assert(again == (1 to 150).map(i => 45L * i + 10 * 7919))
  }

  test("a multi-stage adaptive query, drained twice, compiles nothing the " +
    "second time") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // the q446 shape: a lazily checkpointed token table, five n-gram
    // rungs of shuffles and window joins, a union and a sort. Adaptive
    // execution numbers each query stage's codegen stages afresh, in an
    // order that varies from run to run; with the number in the class
    // name the second drain recompiled 40-80 classes
    val docs = spark.createDataFrame((1 to 60).map(i => (i.toLong,
      (0 until 30).map(j => s"w${(i * 7 + j * j) % 23}").mkString(" "))))
      .toDF("doc_id", "text")
    def drain(): Unit = graft.operators.DedupOps
      .dupSubstringLadder(docs, "doc_id", "text").orderBy("n")
      .write.format("noop").mode("overwrite").save()
    drain()
    val before = compiles
    drain()
    assert(compiles - before == 0,
      s"the second drain compiled ${compiles - before} classes")
  }
}

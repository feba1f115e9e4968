package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's codegen cache holds more than Spark's default 100
  * generated classes, so a working set that size is compiled once.
  * The compile counter is JVM-wide; test suites run one at a time.
  */
class CodegenCacheSpec extends SparkSpec {

  test("150 distinct generated classes, collected twice, compile once") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each literal is inlined into its plan's generated code
    val plans = (1 to 150).map(i => spark.range(10).selectExpr(s"id * $i + 7919"))
    plans.foreach(_.collect())
    val before = compiles
    val again = plans.map(_.collect().map(_.getLong(0)).sum)
    assert(compiles - before == 0, "the second pass recompiled generated classes")
    assert(again == (1 to 150).map(i => 45L * i + 10 * 7919))
  }
}

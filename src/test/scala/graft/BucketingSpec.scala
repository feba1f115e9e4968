package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.sources.BucketedTables

/** Bucketed join: both sides bucketed on the join key ⇒ zero shuffle
  * exchanges in the physical plan (the co-location contract).
  */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("join of two tables bucketed on the key plans no shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val dir = Files.createTempDirectory("graft_bkt").toString
    try {
      val a = (0 until 1000).map(i => (i.toLong % 50, i.toLong)).toDF("k", "v")
      val b = (0 until 500).map(i => (i.toLong % 50, i.toDouble)).toDF("k", "w")
      BucketedTables.writeBucketed(a, "bkt_a", "k", 8, s"$dir/a")
      BucketedTables.writeBucketed(b, "bkt_b", "k", 8, s"$dir/b")

      val joined = BucketedTables.read(spark, "bkt_a")
        .join(BucketedTables.read(spark, "bkt_b"), "k")
      joined.count()   // materialize so AQE finalizes the plan

      val shuffles = collectWithSubqueries(joined.queryExecution.executedPlan) {
        case s: ShuffleExchangeLike => s
      }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle, found: $shuffles")

      // sanity: co-located join still computes the right result
      assert(joined.count() == 1000L * 500 / 50 / 50 * 50)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}

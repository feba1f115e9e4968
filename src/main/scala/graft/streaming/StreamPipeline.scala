package graft.streaming

import org.apache.spark.sql.functions._

/** Runnable streaming pipeline over the real events parquet: file
  * stream → bounded-state PIT counters (ST1) + watermarked tumbling
  * counts — the streaming form of the offline preprocess stage, driven
  * synchronously for local smoke (`runMain
  * graft.streaming.StreamPipeline [sfDir]`).
  *
  * On a cluster this exact topology runs continuously: the file source
  * becomes Kafka, the memory sinks become keyed parquet/state stores,
  * and state stays bounded (≤10 rows per user for PIT; one aggregate
  * per open window).
  */
object StreamPipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream source wants a directory: stream the sf dir, filtered
    // to the events table
    // ts physical type varies by generator vintage: raw nanos (read as
    // long) divide down; TIMESTAMP_NTZ micros cast through the pinned
    // UTC session zone — same normalization as Tables.events.
    val tsMicro = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val events = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts_micro", tsMicro)
      .withColumn("label", when(col("value") > 100, 1).otherwise(0))

    // ST1: bounded-state PIT
    val pit = StatefulPit(
      events.select(col("user_id"), col("event_id"),
        col("ts_micro").as("ts"), col("label"))
        .as[StatefulPit.Ev], frameLen = 10)
    val q1 = pit.writeStream.format("memory").queryName("stream_pit")
      .outputMode("append").start()

    // watermarked tumbling behavior counts
    val counts = EventTimeWindows.tumblingCounts(
      events.withColumn("ts", timestamp_micros(col("ts_micro"))),
      "ts", "user_id", "label", "1 hour", "10 minutes")
    val q2 = counts.writeStream.format("memory").queryName("stream_counts")
      .outputMode("append").start()

    // offline→online export leg: each micro-batch refreshes the keyed
    // serving snapshot via foreachBatch (the streaming form of the
    // Redis/Feast export — at scale this is an idempotent overwrite of
    // a keyed table per trigger).
    val snapDir = "target/stream_snapshot"
    val q3 = pit.groupBy("user_id")
      .agg(max("pit_imp").as("last_imp"), max("pit_clk").as("last_clk"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.DelimitedText.writeKeyedArtifact(batch, "user_id", snapDir)
      }.start()

    q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
    val pitRows = spark.table("stream_pit").count()
    val lastPit = spark.table("stream_pit").orderBy(desc("event_id")).limit(3)
      .collect().mkString(" ")
    val winRows = spark.table("stream_counts").count()
    val snapRows = spark.read.parquet(snapDir).count()
    q1.stop(); q2.stop(); q3.stop()

    println(s"[stream] pit rows: $pitRows (tail: $lastPit)")
    println(s"[stream] closed windows: $winRows")
    println(s"[stream] exported snapshot users: $snapRows")
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws does not stop the dump; after everything else is written the
  * run lists every failed query in failed.json (`[]` on a clean run, else
  * one {name, error} per failure), names them on stderr and exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional subset for fast local iteration; the driver passes none.
    val only = args.drop(2).toSet
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shared session config (incl. the periodicGC + status-store
    // bounds with their rationale) lives in graft.Sessions.
    val spark = Sessions.bounded(Sessions.builder(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[(String, Throwable)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> e
      }
      // operators now localCheckpoint (GC-cleaned) instead of persist;
      // clearCache stays as a belt-and-braces guard for any cached plan
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failures = failed.result()
    Files.writeString(Paths.get(s"$outDir/failed.json"), failures
      .map { case (name, e) => s"""{"name": ${q(name)}, "error": ${q(e.toString)}}""" }
      .mkString("[", ",", "]"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}

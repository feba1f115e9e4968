package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps two slow per-row idioms out of the engine's sources:
  *  - `transform(sequence(…), i -> …)` exploded into windows: Spark's
  *    `ArrayTransform` is `CodegenFallback`, so its lambda runs
  *    interpreted per element (use `TextOps.windows`);
  *  - `conv(substring(md5(…), s, k), 16, 10)`: formats 32 hex
  *    characters and parses strings twice per row (use
  *    `graft.functions.Md5Int`).
  * A site that must keep an idiom sits on the allow-list with its
  * reason. Runs from the repository root, as `sbt test` does.
  */
class InterpretedIdiomGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private val idioms = Seq(
    "transform(sequence(" -> """transform\(\s*sequence\(""".r,
    "conv(substring(md5(" -> """conv\(\s*substring\(\s*md5\(""".r)

  /** (file under `root`, idiom) → why the file keeps it. */
  private val allowed: Map[(String, String), String] = Map(
    ("streaming/StreamingScore.scala", "transform(sequence(") ->
      ("__ks is array-valued: the row-local fold reads the bucket array, " +
        "nothing is exploded"),
    ("SparkEntry.scala", "transform(sequence(") ->
      ("declared query bodies are query text, left as written (q91's " +
        "array-valued max_err)"),
    ("functions/Md5Int.scala", "conv(substring(md5(") ->
      "the kernel's scaladoc names the string form it replaces")

  private def sources: Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no exploded transform(sequence) windows or md5 hex-string reads " +
    "outside the allow-list") {
    val files = sources
    assert(files.exists(_.endsWith("operators/TextOps.scala")),
      s"no sources under ${root.toAbsolutePath}")
    val hits = for {
      f <- files
      rel = root.relativize(f).toString
      text = Files.readString(f)
      (name, re) <- idioms
      if !allowed.contains((rel, name))
      m <- re.findAllMatchIn(text)
    } yield s"$rel:${text.substring(0, m.start).count(_ == '\n') + 1}: $name"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("every allow-list entry still holds its idiom") {
    val stale = allowed.keys.filterNot { case (rel, name) =>
      val f = root.resolve(rel)
      Files.exists(f) && idioms.toMap.apply(name)
        .findFirstIn(Files.readString(f)).isDefined
    }
    assert(stale.isEmpty, s"stale allow-list entries: $stale")
  }
}

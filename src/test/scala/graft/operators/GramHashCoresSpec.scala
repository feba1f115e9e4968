package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
import graft.SparkSpec
import graft.functions.Md5Int

/** The two per-row text cores of the operators, pinned to the SQL
  * forms they replace: [[Md5Int]] to the hex-string read of an md5
  * window, and the token/character window helper
  * ([[TextOps.windows]]) to exploding a `transform` of `sequence`.
  */
class GramHashCoresSpec extends SparkSpec {
  import spark.implicits._

  private val inputs = Seq[(Int, String)](
    (1, "a"), (2, ""), (3, "héllo wörld ✓"), (4, "日本語テキスト"),
    (5, null), (6, "the quick brown fox"), (7, "0"), (8, "-1"))

  /** The string form every rewritten site read: 32 hex characters cut
    * to a window and parsed as a base-16 BIGINT. */
  private def stringForm(c: Column, s: Int, k: Int): Column =
    conv(substring(md5(c), s, k), 16, 10).cast("long")

  private def windowsOf(k: Int) = (1 to 33 - k).map(s => (s, k))

  test("Md5Int equals the md5 hex-string read for every window of 1..15 " +
    "digits, on empty, non-ASCII and null strings") {
    val df = inputs.toDF("id", "x")
    val pairs = (1 to 15).flatMap(windowsOf)
    // every (start, digits) pair an operator reads
    Seq((1, 4), (1, 8), (9, 8), (17, 8), (25, 8), (1, 12))
      .foreach(p => assert(pairs.contains(p)))
    val cols = pairs.flatMap { case (s, k) =>
      Seq(stringForm(col("x"), s, k), Md5Int(col("x"), s, k))
    }
    val rows = df.select(cols: _*).collect()
    assert(rows.length == inputs.size)
    rows.foreach { r =>
      pairs.indices.foreach { j =>
        assert(r.get(2 * j) == r.get(2 * j + 1), s"window ${pairs(j)}")
      }
    }
    val nulls = df.filter(col("x").isNull).select(Md5Int(col("x"), 1, 15))
      .as[Option[Long]].collect()
    assert(nulls.toSeq == Seq(None))
  }

  test("Md5Int: binary input hashes its bytes, like md5; interpreted " +
    "eval equals generated code") {
    val bytes = Seq[Array[Byte]](Array(), Array(0, -1, 127, -128),
      "héllo".getBytes("UTF-8"))
    val df = bytes.map(Tuple1(_)).toDF("b")
    assert(df.schema("b").dataType == BinaryType)
    for ((s, k) <- Seq((1, 15), (18, 15), (9, 8), (32, 1))) {
      val got = df.select(stringForm(col("b"), s, k), Md5Int(col("b"), s, k))
        .as[(Long, Long)].collect()
      got.foreach { case (want, have) => assert(want == have) }
      bytes.zip(got).foreach { case (b, (want, _)) =>
        assert(Md5Int(Literal(b), s, k).eval() == want)
      }
    }
    assert(Md5Int(Literal.create(null, BinaryType), 1, 8).eval() == null)
  }

  test("Md5Int keeps the type each rewritten site resolved to") {
    val df = inputs.toDF("id", "x")
    def typeOf(c: Column) = df.select(c).schema.head.dataType
    assert(typeOf(Md5Int(col("x"), 1, 8)) == LongType)
    assert(typeOf(SamplingOps.hashUnit(col("id"))) == LongType)
    assert(typeOf(SamplingOps.featureHash(col("id"), 7)) == LongType)
    assert(typeOf(MixtureOps.membership("id")) == DoubleType)
    val old = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    assert(df.select(old).as[Double].collect().toSeq ==
      df.select(MixtureOps.membership("id")).as[Double].collect().toSeq)
    intercept[IllegalArgumentException](Md5Int(col("x"), 1, 16))
    intercept[IllegalArgumentException](Md5Int(col("x"), 30, 4))
  }

  // -- the window helper

  private val texts = Seq[(Long, String)](
    (1L, "a b c"),             // exactly n = 3 tokens
    (2L, "solo"),              // a single token
    (3L, "x x x x x y"),       // repeated tokens, repeated grams
    (4L, null),                // null text
    (5L, "the cat sat on the mat and the cat sat"))

  private def tokenized = texts.toDF("id", "text")
    .withColumn("t", split(col("text"), " "))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("windows: token n-grams equal the exploded transform lambda " +
    "(size n, one token, repeats, null text)") {
    for (n <- Seq(1, 2, 3, 5)) {
      val base = tokenized.filter(size(col("t")) >= n)
      val grams = (0 until n).map(j => s"t[i + $j]").mkString(", ")
      val lambda = base.select(col("id"), explode(expr(
        s"transform(sequence(0, size(t) - $n), i -> concat_ws(' ', $grams))")))
      val helper = TextOps.windows(base, lit(0), size(col("t")) - n) { i =>
        Seq(col("id"), TextOps.tokenGram(col("t"), i, n))
      }
      assert(sorted(helper) == sorted(lambda), s"n = $n")
    }
    val tri = TextOps.windows(tokenized.filter(size(col("t")) >= 3), lit(0),
      size(col("t")) - 3)(i => Seq(col("id"), TextOps.tokenGram(col("t"), i, 3)))
    assert(tri.filter(col("id") === 1).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a b c")))
    assert(tri.filter(col("id") === 3).count() == 4L)
  }

  test("windows: the index equals posexplode's position, start to end") {
    val base = tokenized.filter(size(col("t")) >= 2)
    val lambda = base.select(col("id"), posexplode(expr(
      "transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i + 1]))")))
    val helper = TextOps.windows(base, lit(0), size(col("t")) - 2) { i =>
      Seq(col("id"), i, TextOps.tokenGram(col("t"), i, 2))
    }
    assert(sorted(helper) == sorted(lambda))
    val five = helper.filter(col("id") === 5).collect().map(_.getInt(1))
    assert(five.sorted.toSeq == (0 to 8))
  }

  test("windows: fixed chunks and character pairs equal their lambdas, " +
    "null text included") {
    for (w <- Seq(2, 3, 20)) {
      val last = s"CAST((size(t) - 1) / $w AS INT)"
      val lambda = tokenized.select(col("id"), explode(expr(
        s"transform(sequence(0, $last), i -> struct(i AS idx, " +
          s"concat_ws(' ', slice(t, i * $w + 1, $w)) AS chunk))")).as("c"))
        .select(col("id"), col("c.idx"), col("c.chunk"))
      val helper = TextOps.windows(tokenized, lit(0), expr(last)) { i =>
        Seq(col("id"), i, TextOps.tokenChunk(col("t"), i, w))
      }
      assert(sorted(helper) == sorted(lambda), s"w = $w")
    }
    // size(null) is null, so a null text has no sequence and no chunk
    val nullChunks = TextOps.windows(tokenized.filter(col("id") === 4), lit(0),
      expr("CAST((size(t) - 1) / 20 AS INT)")) { i =>
      Seq(i, TextOps.tokenChunk(col("t"), i, 20))
    }
    assert(nullChunks.count() == 0L)

    val words = Seq("ab", "abc", "aaaa", "é✓x", null).toDF("w")
      .filter(length(col("w")) >= 2)
    val pairLambda = words.select(explode(expr(
      "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")))
    val pairHelper = TextOps.windows(words, lit(1), length(col("w")) - 1) {
      i => Seq(col("w").substr(i, lit(2)))
    }
    assert(sorted(pairHelper) == sorted(pairLambda))
    assert(pairHelper.count() == 1L + 2 + 3 + 2)
  }
}

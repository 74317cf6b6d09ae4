package graft

import java.awt.image.BufferedImage
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Curation, Heuristics, Normalize, Sketches, Text, ThetaSketch, VectorExpressions}
import graft.multimodal.Multimodal

/** Column functions and kernels that the registered queries reach only
  * through larger pipelines, each checked directly on small hand-built
  * inputs whose answer is known. */
class FunctionsSpec extends SparkSpec {

  /** `f` applied to each input string, in input order (null stays null). */
  private def evalOn(inputs: Seq[String])(f: Column => Column): Seq[Any] = {
    import spark.implicits._
    inputs.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
      .orderBy("i").select(f(col("s"))).collect().map(_.get(0)).toSeq
  }

  test("C4 page flags: braces and lorem ipsum, javascript in any case, null text is clean") {
    val in = Seq("fn() { x }", "Lorem Ipsum dolor sit", "Enable JavaScript to view.",
      "plain text", null)
    assert(evalOn(in)(Heuristics.hasBrace) === Seq(true, false, false, false, false))
    assert(evalOn(in)(Heuristics.hasLorem) === Seq(false, true, false, false, false))
    assert(evalOn(in)(Heuristics.hasJavascript) === Seq(false, false, true, false, false))
  }

  test("punctCount counts sentence enders; patternHits matches the lowercased text; null counts 0") {
    val in = Seq("Wait... what?! Yes.", "The THE the", "", null)
    assert(evalOn(in)(Text.punctCount) === Seq(6L, 0L, 0L, 0L))
    assert(evalOn(in)(c => Text.patternHits(c, Text.EnStop).cast("long")) ===
      Seq(0L, 3L, 0L, 0L))
  }

  test("langId: CJK-dominant is zh, no stopword is und, else most stopword hits, ties en > es > de > fr") {
    val in = Seq(
      "这是一个中文句子",
      "xyz qrs",
      "the cat and the dog",
      "el gato y la casa de la abuela",
      "der Hund und die Katze",
      "le chat et les chiens",
      "the el",
      "la die",
      "der les",
      null)
    assert(evalOn(in)(Text.langId) ===
      Seq("zh", "und", "en", "es", "de", "fr", "en", "es", "de", "und"))
  }

  test("qualityScore: length, size band, stopword and punctuation credits add bit-exactly") {
    val long = (Seq("the") ++ Seq.fill(149)("word")).mkString(" ") + "."
    val in = Seq("", "x", "x.", "word " * 11 + "and", long, null)
    // (tokens, chars, has stopword, has punctuation) of each input
    val parts = Seq((0, 0, false, false), (1, 1, false, false), (1, 2, false, true),
      (12, 58, true, false), (150, long.length, true, true), (0, 0, false, false))
    val want = parts.map { case (n, chars, stop, punct) =>
      math.min(n / 100.0, 1.0) * 0.4 +
        (if (chars >= 50 && chars <= 5000) 0.3 else 0.0) +
        (if (stop) 0.2 else 0.0) + (if (punct) 0.1 else 0.0)
    }
    val got = evalOn(in)(Text.qualityScore).map(_.asInstanceOf[Double])
    assert(got.map(java.lang.Double.doubleToLongBits) === want.map(java.lang.Double.doubleToLongBits),
      s"$got vs $want")
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("nfc: decomposed text composes; composed text and null pass through") {
    val acute = 0x301.toChar; val tilde = 0x303.toChar
    val composed = s"Caf${0xe9.toChar} ${0xf1.toChar}o"
    val in = Seq(s"Cafe$acute n${tilde}o", composed, null)
    assert(in.head.length === composed.length + 2)
    assert(evalOn(in)(Normalize.nfc) === Seq(composed, composed, null))
  }

  test("PII counts: a phone needs '+' and 7 to 15 digits; emails and IPv4 shapes counted; null is 0") {
    val in = Seq("call +4915112345678 or +1234567",
      "no plus 4915112345678, short +123456",
      "a@b.io and x.y@mail.example.org from 10.0.0.1",
      null)
    assert(evalOn(in)(Curation.phoneCount) === Seq(2L, 0L, 0L, 0L))
    assert(evalOn(in)(Curation.emailCount) === Seq(0L, 0L, 2L, 0L))
    assert(evalOn(in)(Curation.ipv4Count) === Seq(0L, 0L, 1L, 0L))
  }

  test("bloom sketch: zero false negatives, FP within bound, partition-independent build") {
    def keys(prefix: String, n: Int): DataFrame = spark.range(n)
      .select(md5(concat(lit(prefix), col("id").cast("string"))).as("k"))
    def build(df: DataFrame): Array[Byte] =
      df.agg(Sketches.bloomFilterAgg(col("k"), 1000L, 1L << 14)).head().getAs[Array[Byte]](0)
    val stored = keys("doc:", 1000)
    val bf = build(stored)
    // every stored key probes true: the no-false-negative guarantee
    assert(stored.filter(!Sketches.mightContain(bf, col("k"))).count() === 0L)
    // disjoint probe keys: measured false positives within 5 % (16 bits a key)
    val n = 20000
    val fp = keys("fresh:", n).filter(Sketches.mightContain(bf, col("k"))).count()
    assert(fp <= n / 20, s"false-positive rate ${fp.toDouble / n}")
    // the merge is a bitwise OR: the same bytes under any partitioning
    assert(java.util.Arrays.equals(bf, build(stored.repartition(7))))
    // an empty build side aggregates to SQL NULL
    assert(stored.filter(lit(false))
      .agg(Sketches.bloomFilterAgg(col("k"), 10L, 64L)).head().isNullAt(0))
  }

  test("bloom sketch arguments: non-positive sizes and an empty sketch are rejected up front") {
    intercept[IllegalArgumentException](Sketches.bloomFilterAgg(col("k"), 0L, 64L))
    intercept[IllegalArgumentException](Sketches.bloomFilterAgg(col("k"), 10L, 0L))
    intercept[IllegalArgumentException](Sketches.mightContain(Array.emptyByteArray, col("k")))
    intercept[IllegalArgumentException](Sketches.mightContain(null, col("k")))
  }

  test("theta pairwise algebra in exact mode: union, intersection and difference are exact counts") {
    import ThetaSketch._
    val a = spark.range(0, 300).agg(thetaSketchAgg(col("id")).as("a"))   // 0..299
    val b = spark.range(200, 450).agg(thetaSketchAgg(col("id")).as("b")) // 200..449
    val r = a.crossJoin(b).select(
      thetaEstimate(col("a")), thetaEstimate(col("b")),
      thetaEstimate(thetaUnion(col("a"), col("b"))),
      thetaEstimate(thetaIntersect(col("a"), col("b"))),
      thetaEstimate(thetaDiff(col("a"), col("b")))).head()
    assert((0 until 5).map(r.getLong) === Seq(300L, 250L, 450L, 100L, 200L))
  }

  test("simhash32Md5: empty sets all 32 bits; one token is its md5 prefix; bits are majority votes") {
    def arr(ts: String*) = new GenericArrayData(ts.map(t => UTF8String.fromString(t): Any).toArray)
    def md5Prefix(t: String): Long = {
      val d = MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val Seq(a, b, c) = Seq("alto", "bass", "tenor").map(md5Prefix)
    assert(VectorExpressions.simhash32Md5(arr()) === 0xffffffffL)
    assert(VectorExpressions.simhash32Md5(arr("alto")) === a)
    // two tokens: a 1-1 vote rounds up, so the fingerprint is the bitwise OR
    assert(VectorExpressions.simhash32Md5(arr("alto", "bass")) === (a | b))
    // three tokens: a bit is set iff at least two of them carry it
    assert(VectorExpressions.simhash32Md5(arr("alto", "bass", "tenor")) ===
      ((a & b) | (a & c) | (b & c)))
  }

  /** A grey raster whose luminance at (x, y) is `lum(x, y)` (0..255). */
  private def grey(w: Int, h: Int)(lum: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = lum(x, y)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("dHash64: brightness falling left to right sets all 64 bits; rising or flat sets none") {
    assert(Multimodal.dHash64(grey(90, 80)((x, _) => 255 - 2 * x)) === -1L)
    assert(Multimodal.dHash64(grey(90, 80)((x, _) => 2 * x)) === 0L)
    assert(Multimodal.dHash64(grey(90, 80)((_, _) => 128)) === 0L)
  }

  test("dHash64 reads cell averages only: a 2x nearest-neighbour upscale hashes identically") {
    val rnd = new scala.util.Random(7)
    val px = Array.fill(80, 90)(rnd.nextInt(256))
    val small = grey(90, 80)((x, y) => px(y)(x))
    val big = grey(180, 160)((x, y) => px(y / 2)(x / 2))
    val h = Multimodal.dHash64(small)
    assert(Multimodal.dHash64(big) === h)
    assert(h != 0L && h != -1L, "a noise raster has both bit values")
  }
}

package graft.expr

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class StringMetricsSpec extends AnyFunSuite {

  private def goldens: Seq[(String, String, Double)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/string_metrics_golden.csv"), "UTF-8")
    try {
      val lines = src.getLines().drop(1).toList
      lines.map { line =>
        // csv written by python csv module; quotes only when needed. Parse
        // minimally: fields never contain commas except none in our vocab.
        val parts = parseCsvLine(line)
        (parts(0), parts(1), parts(2).toDouble)
      }
    } finally src.close()
  }

  private def parseCsvLine(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else {
        if (c == '"') inQ = true
        else if (c == ',') { out += cur.toString; cur.clear() }
        else cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toArray
  }

  test("jaccard_char_distance matches goldens exactly") {
    var n = 0
    goldens.foreach { case (a, b, jd) =>
      assert(math.abs(StringMetrics.jaccardCharDistance(a, b) - jd) < 1e-12,
        s"jaccard('$a','$b')")
      n += 1
    }
    assert(n > 400)
  }

  test("metric axioms: symmetry, identity, bounds") {
    val gs = Gen.chooseNum(0, 14).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString)
    val pairs = for {
      i <- 0 until 500
      a <- gs(Gen.Parameters.default, Seed(i.toLong))
      b <- gs(Gen.Parameters.default, Seed(i.toLong + 100000))
    } yield (a, b)
    assert(pairs.size > 400)
    pairs.foreach { case (a: String, b: String) =>
      val j = StringMetrics.jaccardCharDistance(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == StringMetrics.jaccardCharDistance(b, a))
      assert(StringMetrics.jaccardCharDistance(a, a) == 0.0)
    }
  }

  // chars of 1 (ASCII, a small alphabet so that matches are common), 2, 3
  // and 4 UTF-8 bytes
  private val ascii = Gen.choose(0, 127).map(_.toChar.toString)
  private val small = Gen.oneOf("a", "b", "c", " ")
  private val wide = Gen.oneOf("é", "ß", "日", "本", "€", "😀", "𝒜")
  private val words = Gen.frequency(3 -> small, 1 -> Gen.alphaNumChar.map(_.toString))
  private val mixed = Gen.frequency(4 -> words, 2 -> wide)
  private def str(chars: Gen[String], n: Gen[Int]): Gen[String] =
    n.flatMap(Gen.listOfN(_, chars)).map(_.mkString)
  /** `s` after 0-8 random edits (insert, delete or substitute a char). */
  private def edited(s: String, chars: Gen[String]): Gen[String] = {
    val cps = s.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector
    Gen.chooseNum(0, 8).flatMap(k => Gen.listOfN(k, Gen.zip(Gen.chooseNum(0, 2),
        Gen.chooseNum(0, Int.MaxValue), chars)))
      .map(_.foldLeft(cps) { case (v, (op, at, c)) =>
        val i = if (v.isEmpty) 0 else at % v.length
        if (op == 0 || v.isEmpty) v.patch(i, Seq(c), 0)
        else if (op == 1) v.patch(i, Nil, 1)
        else v.updated(i, c)
      }.mkString)
  }
  /** A random string and either an independent one or an edited copy. */
  private def related(chars: Gen[String], n: Gen[Int]): Gen[(String, String)] =
    str(chars, n).flatMap(a => Gen.oneOf(str(chars, n), edited(a, chars)).map(a -> _))
  private def utf8(g: Gen[(String, String)]): Gen[(UTF8String, UTF8String)] =
    g.map { case (a, b) => (UTF8String.fromString(a), UTF8String.fromString(b)) }
  /** An ASCII pair whose shorter side has exactly `n` chars: the
    * bit-vector's 64-char limit. */
  private def shorterOf(n: Int): Gen[(String, String)] = for {
    a <- str(words, Gen.const(n))
    b <- Gen.oneOf(str(words, Gen.chooseNum(n, n + 30)), edited(a, words))
    if b.codePointCount(0, b.length) >= n
    swap <- Gen.prob(0.5)
  } yield if (swap) (b, a) else (a, b)
  /** Random bytes, some ending in a truncated 2-, 3- or 4-byte sequence.
    * The string is a view that stops before 3 more random bytes, which
    * Spark's DP reads past its end unless the string is made valid first. */
  private val bytes: Gen[UTF8String] = for {
    body <- Gen.chooseNum(0, 24).flatMap(Gen.listOfN(_, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    tail <- Gen.oneOf(Seq.empty[Int], Seq(0xC3), Seq(0xE6), Seq(0xE6, 0x97), Seq(0xF0),
      Seq(0xF0, 0x9F), Seq(0xF0, 0x9F, 0x98))
    pad <- Gen.listOfN(3, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield {
    val data = (body ++ tail.map(_.toByte)).toArray
    UTF8String.fromBytes(data ++ pad, 0, data.length)
  }

  private val cases: Seq[(String, Gen[(UTF8String, UTF8String)])] = Seq(
    "random ASCII" -> utf8(Gen.zip(str(ascii, Gen.chooseNum(0, 40)), str(ascii, Gen.chooseNum(0, 40)))),
    "small ASCII alphabet" -> utf8(related(small, Gen.chooseNum(0, 40))),
    "2-, 3- and 4-byte chars" -> utf8(related(mixed, Gen.chooseNum(0, 40))),
    "an empty side" -> utf8(str(mixed, Gen.chooseNum(0, 80))
      .flatMap(a => Gen.oneOf(a -> "", "" -> a))),
    "shorter side of 63 chars" -> utf8(shorterOf(63)),
    "shorter side of 64 chars" -> utf8(shorterOf(64)),
    "shorter side of 65 chars" -> utf8(shorterOf(65)),
    "both sides over 64 chars" -> utf8(related(words, Gen.chooseNum(65, 130))
      .filter { case (a, b) => a.codePointCount(0, a.length) > 64 && b.codePointCount(0, b.length) > 64 }),
    "random bytes" -> Gen.zip(bytes, bytes))

  test("property: edit_distance equals UTF8String.levenshteinDistance and is symmetric") {
    def hex(s: UTF8String): String = s.getBytes.map(b => f"${b & 0xFF}%02x").mkString(" ")
    for ((name, pairs) <- cases) {
      val prop = Prop.forAllNoShrink(pairs) { case (a, b) =>
        val want = a.makeValid().levenshteinDistance(b.makeValid())
        val (ab, ba) = (StringMetrics.editDistance(a, b), StringMetrics.editDistance(b, a))
        Prop(ab == want && ba == want) :|
          s"[${hex(a)}] vs [${hex(b)}]: edit_distance $ab / $ba, levenshtein $want"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000), prop)
      assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }

  test("edit_distance does not read past a string that ends inside a multi-byte char") {
    // the 1-byte view [e6] of '日' (e6 97 a5) and of [e6 00 00]: Spark's DP
    // read the bytes after the view and gave 0 and 1
    val seed = UTF8String.fromString("日")
    val d = Seq(Array(0xE6, 0x97, 0xA5), Array(0xE6, 0x00, 0x00)).map { buf =>
      StringMetrics.editDistance(UTF8String.fromBytes(buf.map(_.toByte), 0, 1), seed)
    }
    assert(d == Seq(1, 1), d)
  }
}

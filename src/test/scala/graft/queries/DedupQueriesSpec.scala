package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Unit coverage for the dedup operators (r18 verdict: dedup shipped with no
  * scalatest; ADVICE: degenerate shingle branches and null text untested).
  * Exercises q16/q17 end-to-end on a tiny fixture written to a temp dir,
  * including texts shorter than 3 tokens, an empty string, and a null. */
class DedupQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Fixture: 0/1 exact dups, 2 near-dup of them (9 of 10 tokens shared),
    * 3 unrelated, 4/5 identical 2-token texts (degenerate shingle branch),
    * 6 empty string, 7 null text. */
  private def writeFixture(): String = {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val near = "alpha bravo charlie delta echo foxtrot golf hotel india kilo"
    val rows = Seq(
      Row(0L, base, "en", "s", 10L),
      Row(1L, base, "en", "s", 10L),
      Row(2L, near, "en", "s", 10L),
      Row(3L, "totally different words here made up unrelated text stream", "en", "s", 9L),
      Row(4L, "two tokens", "en", "s", 2L),
      Row(5L, "two tokens", "en", "s", 2L),
      Row(6L, "", "en", "s", 0L),
      Row(7L, null, "en", "s", 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_test").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docsSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q16 exact dedup groups identical texts, keeps min id, fingerprints nulls") {
    val dir = writeFixture()
    val out = DedupQueries.queries("q16_exact_dedup")(spark, dir).collect()
    val byKeep = out.map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(byKeep(0L) == 2)  // docs 0 and 1 are exact copies
    assert(byKeep(4L) == 2)  // docs 4 and 5
    assert(byKeep(2L) == 1 && byKeep(3L) == 1 && byKeep(6L) == 1)
    // null text: md5(null) is null — one null-fingerprint group, counted
    val nullGroup = out.find(r => r.isNullAt(0)).get
    assert(nullGroup.getLong(1) == 7L && nullGroup.getLong(2) == 1L)
    assert(out.length == 6) // base, near, unrelated, "two tokens", "", null
  }

  test("q17 near-dup finds exact and near pairs, skips null text, handles short texts") {
    val dir = writeFixture()
    val out = DedupQueries.queries("q17_minhash_neardup")(spark, dir).collect()
    val pairs = out.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getDouble(2), r.getInt(3)))).toMap
    // exact dups: jaccard 1.0 via all 4 band collisions
    assert(pairs((0L, 1L)) == ((1.0, 1)))
    assert(pairs((4L, 5L)) == ((1.0, 1)))
    // near-dup of the 10-token pair: 8 shingles, 7 shared -> 7/9
    assert(pairs((0L, 2L))._1 == math.rint(7.0 / 9 * 1e6) / 1e6)
    assert(pairs((0L, 2L))._2 == 1)
    assert(pairs.contains((1L, 2L)))
    // null text produced no candidate pairs at all
    assert(!pairs.keys.exists { case (a, b) => a == 7L || b == 7L })
    // unrelated and empty-string docs don't pair with anything
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L || a == 6L || b == 6L })
  }

  /** Distinct word 3-shingles of a space-tokenized text (whole text when
    * shorter than 3 tokens): the column formulation the DuckDB oracle
    * replays, and the reference for the `minhash_text` and
    * `shingle_jaccard` kernels. */
  private def shingles(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i => concat_ws(" ", slice(toks, i, lit(3)))))
        .otherwise(array(text)))
  }

  /** (id, text) rows -> id -> minhash_text signature. */
  private def kernelSigs(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("id"), graft.expr.GraftFunctions.minhash_text(col("t")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** (id, text) rows -> id -> signature via the hex/conv HOF formulation the
    * DuckDB oracle replays: md5 -> 15 hex chars -> base16 -> mod P per
    * shingle, then 12 affine minima via transform + array_min. */
  private def hofSigs(df: DataFrame): Map[Long, Seq[Long]] = {
    val P = graft.expr.MinHash.P
    val A = graft.expr.MinHash.A
    val B = graft.expr.MinHash.B
    val hs = transform(shingles(col("t")), x =>
      conv(substring(md5(x), 1, 15), 16, 10).cast("long") % P)
    df.select(col("id"), hs.as("hs"))
      .select(col("id") +: A.indices.map(i =>
        array_min(transform(col("hs"), h => (lit(A(i)) * h + lit(B(i))) % P))): _*)
      .collect()
      .map(r => r.getLong(0) -> A.indices.map(i => r.getLong(i + 1)).toSeq)
      .toMap
  }

  private def textsDf(texts: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("t", StringType, nullable = false))))

  /** Non-null texts of the q16/q17 fixture. */
  private def fixtureTexts(): Seq[String] =
    spark.read.parquet(s"${writeFixture()}/documents.parquet")
      .where(col("text").isNotNull).collect().map(_.getString(1)).toSeq

  // `minhash_sigs(shingles(text))` below is the signature of the text's
  // shingle array: the hex/conv HOF formulation of `hofSigs`, which the
  // DuckDB oracle replays. The kernel, `MinHash.signaturesFromText`,
  // computes it from the raw text bytes; `minhash_text` wraps the kernel.

  test("minhash_sigs kernel is bit-identical to the hex/conv HOF formulation") {
    // the kernel called directly (as perfbench's kernel layer calls it)
    // on the fixture texts
    val texts = fixtureTexts()
    val want = hofSigs(textsDf(texts))
    for ((t, i) <- texts.zipWithIndex) {
      val sig = graft.expr.MinHash.signaturesFromText(UTF8String.fromString(t)).toLongArray.toSeq
      assert(sig == want(i.toLong), s"text '$t' signature mismatch")
    }
  }

  test("minhash_text kernel equals minhash_sigs(shingles(text)) slot-for-slot") {
    // adversarial tokenization cases: consecutive/leading/trailing spaces
    // (split keeps empty tokens at limit -1), exactly 2 and 3 tokens, empty
    // string, single char, multi-byte UTF-8 (byte-level 0x20 splitting must
    // equal char-level), repeated shingles (array_distinct vs multiset min),
    // a long realistic sentence, and the q16/q17 fixture's non-null texts.
    val texts = Seq(
      "alpha bravo charlie delta echo",
      "a  b c",            // double space -> empty token inside
      " lead space",       // leading space -> empty first token
      "trail space ",      // trailing space -> empty last token kept
      "  ",                // only spaces -> 3 empty tokens
      "two tokens",
      "exactly three tokens",
      "",
      "x",
      "héllo wörld ünïcode ça va bien",  // multi-byte UTF-8
      "dup dup dup dup dup",             // identical shingles repeated
      "the quick brown fox jumps over the lazy dog again and again") ++ fixtureTexts()
    val df = textsDf(texts)
    val want = hofSigs(df)
    val got = kernelSigs(df)
    assert(got.keySet == want.keySet)
    for ((id, sigs) <- want)
      assert(got(id) == sigs, s"text '${texts(id.toInt)}' signature mismatch")
  }

  // words, runs of spaces (leading, trailing, doubled) and multi-byte
  // UTF-8 (2-, 3- and 4-byte sequences), plus empty and all-space texts
  private val word = Gen.frequency(
    2 -> Gen.alphaLowerStr.map(_.take(5)),
    1 -> Gen.oneOf("é", "ünï", "ça", "日本", "\uD83D\uDE00"))
  private val atom = Gen.frequency(6 -> word, 3 -> Gen.const(" "), 1 -> Gen.const("   "))
  private val text = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.chooseNum(1, 4).map(" " * _),
    8 -> Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, atom)).map(_.mkString))

  test("property: minhash_text equals the HOF reference") {
    val corpus = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, text))
    // one DataFrame per property run: the whole generated corpus at once
    val prop = Prop.forAllNoShrink(corpus) { texts =>
      val df = textsDf(texts)
      val want = hofSigs(df)
      val bad = kernelSigs(df).collect { case (id, sig) if sig != want(id) => texts(id.toInt) }
      Prop(bad.isEmpty) :| s"signature mismatch on ${bad.map(t => s"'$t'").mkString(", ")}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("shingles: degenerate branches — short, empty") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("a b c d"), Row("a b"), Row("solo"), Row(""))),
      StructType(Seq(StructField("t", StringType, nullable = false))))
    val got = df.select(shingles(col("t")).as("sh"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.contains(List("a b c", "b c d")))
    assert(got.contains(List("a b")))   // <3 tokens: whole text
    assert(got.contains(List("solo")))
    assert(got.contains(List("")))      // empty string: single empty shingle
  }

  /** (id, a, b) rows -> id -> (shingle_jaccard(a, b), the reference
    * |A∩B| / |A∪B| over `shingles`, unrounded). */
  private def jaccards(pairs: Seq[(String, String)]): Map[Long, (Double, Double)] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        pairs.zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) }, 2),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("a", StringType, nullable = false),
        StructField("b", StringType, nullable = false))))
    val (sa, sb) = (shingles(col("a")), shingles(col("b")))
    df.select(col("id"),
        graft.expr.GraftFunctions.shingle_jaccard(col("a"), col("b")),
        size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
  }

  test("shingle_jaccard: fixed cases equal the reference and their exact values") {
    // 300-token texts sharing their first 150 tokens: 298 shingles a side,
    // the 148 that start below token 148 shared
    val long = (0 until 300).map(i => s"w$i")
    val longB = long.take(150) ++ long.drop(150).map(_ + "x")
    val cases = Seq(
      (long.mkString(" "), longB.mkString(" ")) -> 148.0 / (298 + 298 - 148),
      ("alpha bravo charlie delta", "alpha bravo charlie delta") -> 1.0,
      ("", "") -> 1.0,
      ("", "a b c") -> 0.0,
      ("two tokens", "two tokens") -> 1.0,        // < 3 tokens: whole text
      ("two tokens", "two  tokens") -> 0.0,       // 3 tokens (one empty)
      ("solo", "solo word here") -> 0.0,
      ("dup dup dup dup", "dup dup dup") -> 1.0,  // repeats count once
      ("dup dup dup dup", "dup dup dup x") -> 0.5,
      ("a b c d e", "a b c d f") -> 2.0 / 4,
      ("héllo wörld ça va", "héllo wörld ça") -> 1.0 / 2)
    val got = jaccards(cases.map(_._1))
    for ((((a, b), want), i) <- cases.zipWithIndex) {
      val (k, ref) = got(i.toLong)
      assert(k == want && ref == want, s"'$a' vs '$b': kernel $k, reference $ref, want $want")
    }
  }

  test("property: shingle_jaccard equals |A∩B| / |A∪B| over the shingle arrays, unrounded") {
    // half the pairs are a text and a copy with 1-3 words substituted, so
    // the intersection is usually non-empty; the rest are independent texts
    val substituted = (t: String) => {
      val toks = t.split(" ", -1)
      Gen.chooseNum(1, 3)
        .flatMap(k => Gen.listOfN(k, Gen.zip(Gen.chooseNum(0, toks.length - 1), word)))
        .map { subs =>
          val out = toks.clone()
          subs.foreach { case (i, w) => out(i) = w }
          out.mkString(" ")
        }
    }
    val pair = Gen.frequency(
      1 -> Gen.zip(text, text),
      1 -> text.flatMap(t => substituted(t).map(t -> _)))
    val corpus = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, pair))
    val prop = Prop.forAllNoShrink(corpus) { pairs =>
      val bad = jaccards(pairs).collect {
        case (id, (k, ref)) if java.lang.Double.doubleToLongBits(k) !=
          java.lang.Double.doubleToLongBits(ref) =>
          val (a, b) = pairs(id.toInt)
          s"'$a' vs '$b': $k != $ref"
      }
      Prop(bad.isEmpty) :| bad.mkString("; ")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("q17 on a 1,000-copy hot cluster returns every copy pair once, nothing else") {
    val copies = 1000
    val unrelated = Seq(
      "navy wool coat with hood",
      "silver ring set of three",
      "kids rain boots yellow",
      "linen table cloth round white")
    val rows = Seq.tabulate(copies)(i => Row(i.toLong, "red cotton shirt slim fit", "en", "s", 25L)) ++
      unrelated.zipWithIndex.map { case (t, i) => Row((copies + i).toLong, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_hot").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docsSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupQueries.queries("q17_minhash_neardup")(spark, dir)
    val copyPair = col("doc_a") < col("doc_b") && col("doc_b") < copies
    val r = out.agg(count(lit(1)), count_distinct(col("doc_a"), col("doc_b")),
        sum(when(copyPair, 1).otherwise(0)), min(col("jaccard")), max(col("jaccard")),
        min(col("near_dup")), max(col("near_dup")))
      .head()
    val nPairs = copies.toLong * (copies - 1) / 2  // 499,500
    assert(r.getLong(0) == nPairs, "row count")
    assert(r.getLong(1) == nPairs, "distinct (doc_a, doc_b) count")
    assert(r.getLong(2) == nPairs, "copy pairs (doc_a < doc_b < 1,000)")
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0, "jaccard")
    assert(r.getInt(5) == 1 && r.getInt(6) == 1, "near_dup")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
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
    val hs = transform(DedupQueries.shingles(col("t")), x =>
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

  test("property: minhash_text equals the HOF reference") {
    import org.scalacheck.{Gen, Prop, Test}
    // words, runs of spaces (leading, trailing, doubled) and multi-byte
    // UTF-8 (2-, 3- and 4-byte sequences), plus empty and all-space texts
    val atom = Gen.frequency(
      4 -> Gen.alphaLowerStr.map(_.take(5)),
      3 -> Gen.const(" "),
      1 -> Gen.const("   "),
      2 -> Gen.oneOf("é", "ünï", "ça", "日本", "\uD83D\uDE00"))
    val text = Gen.frequency(
      1 -> Gen.const(""),
      1 -> Gen.chooseNum(1, 4).map(" " * _),
      8 -> Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, atom)).map(_.mkString))
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
    val got = df.select(DedupQueries.shingles(col("t")).as("sh"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.contains(List("a b c", "b c d")))
    assert(got.contains(List("a b")))   // <3 tokens: whole text
    assert(got.contains(List("solo")))
    assert(got.contains(List("")))      // empty string: single empty shingle
  }
}

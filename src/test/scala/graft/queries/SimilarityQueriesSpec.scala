package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.expr.GraftFunctions.{edit_distance, jaccard_char_distance, modal_label}

/** q10 against its cross-join + GROUP BY formulation over generated
  * `documents` tables. */
class SimilarityQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import SimilarityQueries.{jacAccept, jacNeg, levAccept, levNeg, seeds}

  /** q10 as a broadcast cross join of the documents with the seed list,
    * scored per (doc, seed) pair and aggregated per doc_id: the reference the
    * per-row projection must equal (doc_id is the documents key). */
  private def reference(docs: DataFrame): DataFrame = {
    val seedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(seeds.map(Row(_))),
      StructType(Seq(StructField("seed", StringType, nullable = false))))
    docs.crossJoin(broadcast(seedDf))
      .select(
        col("doc_id"),
        edit_distance(lower(col("text")), lower(col("seed"))).as("lev"),
        jaccard_char_distance(lower(col("text")), lower(col("seed"))).as("jac"),
        when(lower(col("text")).contains(lower(col("seed"))), 1).otherwise(0).as("sub"))
      .groupBy(col("doc_id"))
      .agg(
        min(col("lev")).as("min_lev"),
        max(col("lev")).as("max_lev"),
        round(min(col("jac")), 6).as("min_jac"),
        round(max(col("jac")), 6).as("max_jac"),
        max(col("sub")).as("has_sub"))
      .withColumn("label_edit",
        when(col("min_lev") < levAccept, 1)
          .when(col("max_lev") > levNeg, 0).otherwise(-1))
      .withColumn("label_jaccard",
        when(col("min_jac") < jacAccept, 1)
          .when(col("max_jac") > jacNeg, 0).otherwise(-1))
      .withColumn("label_sub", when(col("has_sub") === 1, 1).otherwise(-1))
      .withColumn("label_fuzzy",
        modal_label(array(col("label_edit"), col("label_jaccard"), col("label_sub"))))
      .select(col("doc_id"), col("min_lev"), col("min_jac"),
        col("label_edit"), col("label_jaccard"), col("label_sub"), col("label_fuzzy"))
  }

  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ").toSeq
  private val word = Gen.oneOf(vocab)
  private def words(lo: Int, hi: Int): Gen[String] =
    Gen.chooseNum(lo, hi).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val mixedCase = (s: String) =>
    Gen.listOfN(s.length, Gen.oneOf(true, false))
      .map(up => s.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString)
  // 2-, 3- and 4-byte chars, and upper-case ones that `lower` rewrites
  private val wide = Gen.oneOf("é", "Ünï", "ça", "日本", "😀", "ÉCOLE", "ß")

  // every corpus holds one text of each family; the label thresholds need
  // lengths from a few chars to past levNeg + the longest seed
  private val families: Seq[Gen[String]] = Seq(
    Gen.const[String](null),
    Gen.const(""),
    Gen.oneOf(seeds),
    // a seed in mixed case inside other words: contains() after lower()
    for (a <- words(0, 4); s <- Gen.oneOf(seeds).flatMap(mixedCase); b <- words(0, 4))
      yield Seq(a, s, b).filter(_.nonEmpty).mkString(" "),
    Gen.listOfN(6, Gen.oneOf(word, wide)).map(_.mkString(" ")),
    // over 64 chars: longer than one 64-bit word of the bit-parallel step
    words(30, 120))
  private val text = Gen.oneOf(families).flatMap(identity)

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  test("property: q10 equals the cross-join + GROUP BY formulation") {
    val corpus = for {
      fixed <- Gen.sequence[Seq[String], String](families)
      extra <- Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, text))
    } yield fixed ++ extra
    val prop = Prop.forAllNoShrink(corpus) { texts =>
      val dir = java.nio.file.Files.createTempDirectory("graft_q10_test").toString
      spark.createDataFrame(
          spark.sparkContext.parallelize(
            texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
          docsSchema)
        .write.parquet(s"$dir/documents.parquet")
      def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r).toMap
      val got = byId(SimilarityQueries.queries("q10_seed_label_fuzzy")(spark, dir))
      val want = byId(reference(spark.read.parquet(s"$dir/documents.parquet")))
      val bad = want.collect {
        case (id, r) if !got.get(id).contains(r) =>
          s"'${texts(id.toInt)}': ${got.get(id)} != $r"
      }
      Prop(got.keySet == want.keySet && bad.isEmpty) :| bad.mkString("; ")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}

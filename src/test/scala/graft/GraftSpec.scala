package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** `Graft.bucketPairs`, q17's LSH candidate generator, against a
  * brute-force pair enumeration. */
class GraftSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** id -> one bucket key per table. */
  private type Assignment = Seq[(Long, Seq[Int])]

  private def bruteForce(a: Assignment, tables: Int): Set[(Long, Long)] =
    (for {
      (x, kx) <- a; (y, ky) <- a
      if x < y && (0 until tables).exists(t => kx(t) == ky(t))
    } yield (x, y)).toSet

  /** Why bucketPairs' output (duplicates kept) differs from the brute
    * force, if it does. */
  private def mismatch(tables: Int, a: Assignment): Option[String] = {
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      (0 until tables).map(t => StructField(s"k$t", IntegerType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(a.map { case (id, ks) => Row(id +: ks: _*) }, 3), schema)
    val got = Graft.bucketPairs(df, "id", (0 until tables).map(t => col(s"k$t")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = bruteForce(a, tables)
    if (got.size == got.toSet.size && got.toSet == want) None
    else Some(s"tables=$tables assignment=$a got=${got.sorted} want=${want.toSeq.sorted}")
  }

  test("property: bucketPairs equals the brute-force same-bucket pairs") {
    // few buckets per table (1 puts every id in one bucket), or many
    // (mostly singletons); ids are distinct but not contiguous or ordered
    val assignment = for {
      tables <- Gen.chooseNum(1, 4)
      buckets <- Gen.oneOf(1, 2, 3, 50)
      n <- Gen.chooseNum(0, 15)
      ids <- Gen.listOfN(n, Gen.chooseNum(-40L, 40L)).map(_.distinct)
      keys <- Gen.listOfN(ids.size, Gen.listOfN(tables, Gen.chooseNum(0, buckets - 1)))
    } yield (tables, ids.zip(keys))
    // fixed cases: one bucket holding every id next to a table of
    // singletons, and a pair (3, 7) that collides in every table
    val fixed = Seq(
      2 -> (0L until 6L).map(i => i -> Seq(0, i.toInt)),
      3 -> Seq(7L -> Seq(1, 1, 1), 3L -> Seq(1, 1, 1), 5L -> Seq(2, 3, 4), 9L -> Seq(0, 0, 2)))
    val prop = Prop.forAllNoShrink(assignment) { case (tables, a) =>
      val m = mismatch(tables, a)
      Prop(m.isEmpty) :| m.getOrElse("")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for ((tables, a) <- fixed) assert(mismatch(tables, a).isEmpty, mismatch(tables, a))
  }
}

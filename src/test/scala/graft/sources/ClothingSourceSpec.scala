package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The clothing readers on small files written in the reference's formats:
  * the Latin-1 product CSV and the {label_id -> [seed, ...]} JSON. */
class ClothingSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def dirWith(file: String, text: String, charset: java.nio.charset.Charset): String = {
    val dir = Files.createTempDirectory("graft_clothing_test")
    Files.write(dir.resolve(file), text.getBytes(charset))
    dir.toString
  }

  test("clothing reads a Latin-1 CSV with the fixed schema and fails fast on a bad label") {
    val header = "category,division,name,subcategory,true_label\n"
    val dir = dirWith("clothing_mock_data.csv",
      header + "Tops,Women,café blouse,Blouses,3\nSocks,Men,wool socks,Socks,7\n", ISO_8859_1)
    val df = ClothingSource.clothing(spark, dir)
    assert(df.schema == ClothingSource.schema)
    assert(df.collect().toSet == Set(
      Row("Tops", "Women", "café blouse", "Blouses", 3),
      Row("Socks", "Men", "wool socks", "Socks", 7)))
    val bad = dirWith("clothing_mock_data.csv", header + "Tops,Women,shirt,Shirts,three\n", ISO_8859_1)
    val e = intercept[Exception](ClothingSource.clothing(spark, bad).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("FAILFAST")),
      causes.map(_.getMessage).mkString(" <- "))
  }

  test("seedLabels orders label ids numerically and rejects a non-integer id") {
    val dir = dirWith("seed_labels.json",
      """{"10": ["ten"], "2": ["two", "deux"], "0": ["zero"]}""", UTF_8)
    val got = ClothingSource.seedLabels(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq(0 -> "zero", 2 -> "two", 2 -> "deux", 10 -> "ten"))
    val bad = dirWith("seed_labels.json", """{"0": ["zero"], "tops": ["shirt"]}""", UTF_8)
    intercept[IllegalArgumentException](ClothingSource.seedLabels(spark, bad))
  }
}

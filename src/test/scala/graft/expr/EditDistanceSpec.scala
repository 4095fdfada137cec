package graft.expr

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** `edit_distance` as a Catalyst expression: row for row equal to Spark's
  * `levenshtein`, whole-stage codegen'd and interpreted. */
class EditDistanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val long = "wool blend duffle coat with a hood " * 3   // 105 chars
  private val pairs = Seq(
    ("table scan fast", "table scan fast"),
    ("customer query join", "the customer queries a join"),
    (null, "seed"), ("text", null), (null, null),
    ("", ""), ("", "abc"), ("naïve café", ""),
    ("café au lait", "cafe au lait"), ("日本語のテキスト", "日本のテキスト"),
    ("😀 smile", "smile 😀"),
    (long, long.reverse), (long, "hooded coat"), (long.take(64), long.take(65)),
    ("x" * 70 + "é", "é" + "x" * 70))

  private def distances(s: SparkSession): Seq[(Option[Int], Option[Int])] = {
    val df = s.createDataFrame(
      s.sparkContext.parallelize(pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }, 2),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("a", StringType), StructField("b", StringType))))
      .select(col("id"), GraftFunctions.edit_distance(col("a"), col("b")),
        levenshtein(col("a"), col("b")))
    val codegen = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    assert(codegen == s.conf.get("spark.sql.codegen.wholeStage").toBoolean)
    df.collect().sortBy(_.getInt(0)).toSeq.map(r =>
      (Option(r.get(1)).map(_.asInstanceOf[Int]), Option(r.get(2)).map(_.asInstanceOf[Int])))
  }

  private def check(got: Seq[(Option[Int], Option[Int])]): Unit = {
    assert(got.size == pairs.size)
    for (((ed, lev), (a, b)) <- got.zip(pairs))
      assert(ed == lev, s"'$a' vs '$b': edit_distance $ed, levenshtein $lev")
    assert(got.count(_._1.isEmpty) == 3)
  }

  test("edit_distance equals levenshtein row for row, whole-stage codegen'd") {
    check(distances(spark))
  }

  test("edit_distance equals levenshtein row for row, interpreted") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    check(distances(interpreted))
  }

  test("the SQL name edit_distance resolves on a Graft.session") {
    assert(spark.sql("SELECT edit_distance('kitten', 'sitting')").head().getInt(0) == 3)
  }
}

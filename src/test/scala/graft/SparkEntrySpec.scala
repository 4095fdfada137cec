package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's inventory and the `graft.materialize` policy. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("queries and oracleSql declare the same names") {
    // tools/check.py counts an oracle name without a dump as a failure
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  /** Tiny embeddings (two clusters) and documents (a near-dup pair). */
  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_entry_test").toString
    val emb = (0 until 20).map { i =>
      val v = Array.fill(4)(0.01f * (i % 7))
      v(i % 2) = 1f
      Row(i.toLong, v.toSeq, i % 2)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(emb, 2), StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
      .write.parquet(s"$dir/embeddings.parquet")
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(Row(0L, base), Row(1L, base + " kilo"), Row(2L, "unrelated words in here"))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 2), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType))))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRDD])
  private def scansFiles(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists(_.isInstanceOf[FileSourceScanExec])
  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("materialize: checkpoints by default, full plans under none") {
    val dir = writeFixture()
    val names = Seq("q12_label_propagation", "q17_minhash_neardup")
    val byDefault = names.map(n => SparkEntry.queries(n)(spark, dir))
    for ((n, df) <- names.zip(byDefault)) {
      assert(readsCheckpoint(df), s"$n should read checkpointed data")
      assert(!scansFiles(df), s"$n should not rescan its input")
    }
    spark.conf.set("graft.materialize", "none")
    try {
      val full = names.map(n => SparkEntry.queries(n)(spark, dir))
      for ((n, df) <- names.zip(full)) {
        assert(!readsCheckpoint(df), s"$n should keep its full plan")
        assert(scansFiles(df), s"$n plan should reach the parquet scan")
      }
      for ((n, (a, b)) <- names.zip(byDefault.zip(full)))
        assert(rows(a) == rows(b), s"$n rows differ between policies")
    } finally spark.conf.unset("graft.materialize")
  }

  test("materialize rejects an unknown policy") {
    spark.conf.set("graft.materialize", "persist")
    try intercept[IllegalArgumentException](Graft.materialize(spark.range(1).toDF()))
    finally spark.conf.unset("graft.materialize")
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.LabelSpreading

/** The query inventory, the sessions it runs on, the checkpoints that
  * `Graft.materialize` puts into q12 and q17, the plans `Explain` prints,
  * and the generated code a session keeps across runs. */
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

  test("materialize: checkpoints by default") {
    val dir = writeFixture()
    for (n <- Seq("q12_label_propagation", "q17_minhash_neardup")) {
      val df = SparkEntry.queries(n)(spark, dir)
      assert(readsCheckpoint(df), s"$n should read checkpointed data")
      assert(!scansFiles(df), s"$n should not rescan its input")
    }
  }

  test("Explain prints the final plan of every execution a query performs") {
    val dir = writeFixture()
    val expected = Seq(
      "q12_label_propagation" -> Seq("localCheckpoint", "localCheckpoint", "overwrite"),
      "q17_minhash_neardup" -> Seq("localCheckpoint", "localCheckpoint", "overwrite"))
    for ((n, actions) <- expected) {
      val plans = Explain.executedPlans(spark, dir, n)
      assert(plans.map(_._1) == actions, n)
      // a plan without an exchange (q12's thresholding) is not adaptive
      for ((action, plan) <- plans) {
        assert(!plan.contains("isFinalPlan=false"), s"$n $action: initial plan printed")
        assert(!plan.contains("AdaptiveSparkPlan") || plan.contains("isFinalPlan=true"),
          s"$n $action: no final plan")
        // q17 reads its scan directly: nothing round-robins the documents
        assert(n != "q17_minhash_neardup" || !plan.contains("RoundRobinPartitioning"),
          s"$n $action: round-robin exchange")
      }
      val runs = plans.map(_._2)
      assert(runs.head.contains("isFinalPlan=true"), s"$n: first checkpoint not final")
      assert(runs.head.contains("Scan parquet"), s"$n: first checkpoint should scan the input")
      assert(!runs.head.contains("Scan ExistingRDD"), s"$n: first checkpoint reads a checkpoint")
      for (plan <- runs.tail)
        assert(plan.contains("Scan ExistingRDD"), s"$n: later plans should read a checkpoint")
    }
    // q10 scores each document against the constant seeds in one map-only stage
    val q10 = Explain.executedPlans(spark, dir, "q10_seed_label_fuzzy")
    assert(q10.map(_._1) == Seq("overwrite"), q10.toString)
    for (op <- Seq("Exchange", "Join", "CartesianProduct"))
      assert(!q10.head._2.contains(op), s"q10 plan holds $op:\n${q10.head._2}")
    val missing = Explain.executedPlans(spark, s"$dir/absent", "q17_minhash_neardup")
    assert(missing.size == 1 && missing.head._1 == "failed", missing.toString)
  }

  test("queries run on a session graft did not build") {
    // a fresh function registry and SQL conf, so no graft SQL names
    val foreign = spark.newSession()
    val dir = writeFixture()
    for (n <- Seq("q10_seed_label_fuzzy", "q11_cosine_topk", "q12_label_propagation",
                  "q16_exact_dedup", "q17_minhash_neardup"))
      assert(rows(SparkEntry.queries(n)(foreign, dir)) == rows(SparkEntry.queries(n)(spark, dir)),
        s"$n rows differ on a foreign session")
    assert(spark.catalog.functionExists("dot_product"))
    assert(!foreign.catalog.functionExists("dot_product"), "queries registered SQL names")
  }

  /** q12's composition over the LSH k-NN graph (q12's seeds and
    * hyperparameters), as perfbench's `approx_spread` builds it. */
  private def approxSpread(s: SparkSession, dir: String): DataFrame = {
    val e = Graft.table(s, dir, "embeddings")
    val revealed = col("vec_id") % 5 === 0
    val y = e.select(col("vec_id"),
      when(revealed && col("label") === 0, 1.0).otherwise(0.0).as("y1"),
      when(revealed && col("label") =!= 0, 1.0).otherwise(0.0).as("y0"))
    val edges = LabelSpreading.normalizedEdges(
      LabelSpreading.knnEdgesApprox(e, "vec_id", "embedding", 6))
    LabelSpreading.thresholdLabels(LabelSpreading.spread(edges, y, "vec_id", 0.01, 5), "vec_id", 0.7)
  }

  test("a second run of the label-spreading and dedup queries compiles no code") {
    // their working set is over Spark's default codegen cache of 100 classes
    val dir = writeFixture()
    val queries = Seq(SparkEntry.queries("q12_label_propagation"), SparkEntry.queries("q11_cosine_topk"),
      approxSpread _, SparkEntry.queries("q17_minhash_neardup"))
    def run(): Unit = queries.foreach(_(spark, dir).write.format("noop").mode("overwrite").save())
    run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    run()
    assert(compiles.getCount == before, s"${compiles.getCount - before} classes compiled again")
  }
}

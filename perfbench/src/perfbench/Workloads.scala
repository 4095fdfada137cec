package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry}
import graft.graph.LabelSpreading

/** One query of a workload: a short id for metric names, the engine's query
  * name (the key of `SparkEntry.oracleSql`, if it has an oracle), the input
  * tables it reads, and how to build it. */
final case class Query(id: String, oracleName: String, tables: Seq[String],
                       build: (SparkSession, String) => DataFrame)

object Workloads {
  val Names: Seq[String] = Seq("label_spread", "text_dedup", "relational")

  // q12's hyperparameters, reused by approx_spread
  val K = 6
  val Alpha = 0.01
  val Iters = 5
  val Thresh = 0.7

  private def declared(id: String, name: String, tables: String*): Query =
    Query(id, name, tables, SparkEntry.queries(name))

  /** q12's one-vs-rest seeds: class 0 is positive, labels revealed on
    * `vec_id % 5 == 0`. */
  def seeds(e: DataFrame): DataFrame = {
    val revealed = col("vec_id") % 5 === 0
    e.select(col("vec_id"),
      when(revealed && col("label") === 0, 1.0).otherwise(0.0).as("y1"),
      when(revealed && col("label") =!= 0, 1.0).otherwise(0.0).as("y0"))
  }

  /** q12's composition over the LSH k-NN graph instead of the exact one. */
  def approxSpread(s: SparkSession, dir: String): DataFrame = {
    val e = Graft.table(s, dir, "embeddings")
    val edges = LabelSpreading.normalizedEdges(
      LabelSpreading.knnEdgesApprox(e, "vec_id", "embedding", K))
    LabelSpreading.thresholdLabels(
      LabelSpreading.spread(edges, seeds(e), "vec_id", Alpha, Iters), "vec_id", Thresh)
  }

  /** The queries of one pass. `seed` sets only the relational query order. */
  def apply(name: String, seed: Long): Seq[Query] = name match {
    case "label_spread" => Seq(
      declared("q12", "q12_label_propagation", "embeddings"),
      Query("approx_spread", "", Seq("embeddings"), approxSpread),
      declared("q11", "q11_cosine_topk", "embeddings"))
    case "text_dedup" => Seq(
      declared("q10", "q10_seed_label_fuzzy", "documents"),
      declared("q16", "q16_exact_dedup", "documents"),
      declared("q17", "q17_minhash_neardup", "documents"))
    case "relational" => new scala.util.Random(seed).shuffle(Seq(
      declared("q01", "q01_pricing_summary", "lineitem"),
      declared("q02", "q02_filter_pushdown", "lineitem"),
      declared("q03", "q03_star_join_revenue", "lineitem", "orders", "customer", "nation", "region"),
      declared("q04", "q04_brand_volume_topk", "lineitem", "part"),
      declared("q05", "q05_order_rank_window", "orders"),
      declared("q06", "q06_events_hourly", "events"),
      declared("q07", "q07_events_json", "events"),
      declared("q08", "q08_semi_anti", "customer", "orders"),
      declared("q09", "q09_rollup", "orders")))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

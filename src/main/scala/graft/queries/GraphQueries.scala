package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.graph.LabelSpreading

/** G1 label propagation as an oracle-checked query (SURVEY §2.7; reference
  * /root/reference/src/labelling_pipeline.py:432-475).
  *
  * One-vs-rest on the embeddings table's ground-truth `label` column:
  * positive class = label 0, seeds revealed only on vec_id % 5 == 0 (20% of
  * rows), the rest unlabelled — the spread must recover labels for the 80%
  * from graph structure alone. Reference hyperparameters: knn k=6,
  * alpha=0.01, posterior threshold 0.7; 5 fixed iterations (alpha=0.01
  * means the update is 99% clamped — movement is <1e-10 after ~4 rounds,
  * so extra iterations are pure shuffle cost; see LabelSpreading scaladoc
  * for why fixed beats tol-based here).
  *
  * The DuckDB oracle replays the identical spec — brute-force k-NN with the
  * same rounded-sim ranking, the same symmetrization/normalization, and the
  * 5 iterations unrolled as chained CTEs — so CORRECTNESS hash-checks the
  * whole algorithm end to end, not just its shape.
  */
object GraphQueries {

  private val K = 6
  private val Alpha = 0.01
  private val Iters = 5
  private val Thresh = 0.7

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_label_propagation" -> q12
  )

  private def q12(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    val edges = LabelSpreading.normalizedEdges(
      LabelSpreading.knnEdges(e, "vec_id", "embedding", K))
    val y = e.select(col("vec_id"),
      when(col("vec_id") % 5 === 0 && col("label") === 0, 1.0).otherwise(0.0).as("y1"),
      when(col("vec_id") % 5 === 0 && col("label") =!= 0, 1.0).otherwise(0.0).as("y0"))
    LabelSpreading.thresholdLabels(
      LabelSpreading.spread(edges, y, "vec_id", Alpha, Iters), "vec_id", Thresh)
  }

  /** The iteration unrolled as CTEs it1..itN, each one
    * F_k = alpha * S * F_{k-1} + (1 - alpha) * Y. */
  private def iterCtes: String = (1 to Iters).map { i =>
    s"""it$i AS (
       SELECT y.vec_id,
         $Alpha::DOUBLE * coalesce(m.m1, 0.0::DOUBLE) + ${1.0 - Alpha}::DOUBLE * y.y1 AS f1,
         $Alpha::DOUBLE * coalesce(m.m0, 0.0::DOUBLE) + ${1.0 - Alpha}::DOUBLE * y.y0 AS f0
       FROM y LEFT JOIN (
         SELECT e.src, sum(e.s * f.f1) AS m1, sum(e.s * f.f0) AS m0
         FROM sedges e JOIN it${i - 1} f ON e.dst = f.vec_id GROUP BY e.src) m
       ON y.vec_id = m.src)"""
  }.mkString(",\n")

  val oracleSql: Map[String, String] = Map(
    "q12_label_propagation" ->
      s"""WITH pairs AS (
           SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
         knn AS (
           SELECT src, dst FROM (
             SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rnk
             FROM pairs) t
           WHERE rnk <= $K),
         wedges AS (
           SELECT src, dst, sum(w) AS w FROM (
             SELECT src, dst, 0.5::DOUBLE AS w FROM knn
             UNION ALL
             SELECT dst AS src, src AS dst, 0.5::DOUBLE AS w FROM knn) u
           GROUP BY src, dst),
         deg AS (SELECT src, sum(w) AS deg FROM wedges GROUP BY src),
         sedges AS (
           SELECT w.src, w.dst, w.w / sqrt(d1.deg * d2.deg) AS s
           FROM wedges w
           JOIN deg d1 ON w.src = d1.src
           JOIN deg d2 ON w.dst = d2.src),
         y AS (
           SELECT vec_id,
             CASE WHEN vec_id % 5 = 0 AND label = 0
                  THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y1,
             CASE WHEN vec_id % 5 = 0 AND label <> 0
                  THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y0
           FROM embeddings),
         it0 AS (SELECT vec_id, y1 AS f1, y0 AS f0 FROM y),
         $iterCtes
         SELECT vec_id, round(f1, 6) AS f1, round(f0, 6) AS f0,
           CASE WHEN f1 + f0 > 0 AND f1 / (f1 + f0) >= $Thresh::DOUBLE THEN 1
                WHEN f1 + f0 > 0 AND f0 / (f1 + f0) >= $Thresh::DOUBLE THEN 0
                ELSE -1 END AS label_prop
         FROM it$Iters"""
  )
}

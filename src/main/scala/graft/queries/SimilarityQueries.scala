package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Graft.table
import graft.expr.GraftFunctions.{cosine_sim, dot_product, edit_distance, jaccard_char_distance,
  modal_label}

/** Oracle-checked queries exercising graft's custom Catalyst expressions:
  * the fuzzy seed-labelling pipeline shape (SURVEY §2.3 F1/F5/F6 — reference
  * /root/reference/src/Label_matching.py:24-130 and
  * /root/reference/src/labelling_pipeline.py:256-277) over `documents`, and
  * cosine top-k similarity search (E7 generalized, SURVEY §7 scale ops) over
  * `embeddings`.
  *
  * Scale notes:
  *  - Seed scoring is map-only: the constant-size seed list is inlined as
  *    literals, so each document row is scored in one codegen'd stage with
  *    no join and no shuffle. Survives 1000 executors.
  *  - Top-k per query pre-aggregates a local top-k per input partition
  *    before the per-query global window, so the final shuffle carries
  *    O(queries * k * partitions) rows, not O(N * queries) — the window key
  *    (query_id) is low-cardinality and would otherwise hot-spot at scale.
  *  - All doubles are rounded identically in both engines; DuckDB's list
  *    kernels are float-precision on FLOAT[], so oracles cast ::DOUBLE[] to
  *    match graft's double accumulation exactly.
  */
object SimilarityQueries {

  /** Seed phrases scored against documents.text (vocabulary of the synthetic
    * corpus). Thresholds tuned on sf0.01 so all of {1, 0, -1} occur for each
    * metric label (find_label_fuzzy semantics: best-over-seeds past accept
    * threshold -> 1, else worst-over-seeds past negative threshold -> 0,
    * else -1). */
  private[queries] val seeds = Seq(
    "table scan fast", "group key agg row",
    "stream window sort", "customer query join")

  private[queries] val levAccept = 150
  private[queries] val levNeg = 420
  private[queries] val jacAccept = 0.43
  private[queries] val jacNeg = 0.58

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F1 per-row seed scoring + F5 threshold labelling + F6 modal vote,
    // with custom edit_distance (F3, Spark's levenshtein computed
    // bit-parallel), jaccard_char_distance (F4) and a substring-containment
    // label (P8) as the third voter.
    "q10_seed_label_fuzzy" -> ((s, dir) => {
      // one kernel call per (doc, seed) pair, each its own column: the
      // second select reads lev/jac twice, so Catalyst keeps the two
      // projections apart instead of inlining every call into both `least`
      // and `greatest`
      val text = lower(col("text"))
      val perSeed = seeds.indices.flatMap { i =>
        val seed = lower(lit(seeds(i)))
        Seq(edit_distance(text, seed).as(s"lev$i"),
          jaccard_char_distance(text, seed).as(s"jac$i"),
          text.contains(seed).as(s"sub$i"))
      }
      def over(metric: String) = seeds.indices.map(i => col(s"$metric$i"))
      val scored = table(s, dir, "documents")
        .select(col("doc_id") +: perSeed: _*)
        .select(
          col("doc_id"),
          least(over("lev"): _*).as("min_lev"),
          greatest(over("lev"): _*).as("max_lev"),
          round(least(over("jac"): _*), 6).as("min_jac"),
          round(greatest(over("jac"): _*), 6).as("max_jac"),
          greatest(over("sub"): _*).as("has_sub"))
      scored
        .withColumn("label_edit",
          when(col("min_lev") < levAccept, 1)
            .when(col("max_lev") > levNeg, 0).otherwise(-1))
        .withColumn("label_jaccard",
          when(col("min_jac") < jacAccept, 1)
            .when(col("max_jac") > jacNeg, 0).otherwise(-1))
        .withColumn("label_sub", when(col("has_sub"), 1).otherwise(-1))
        .withColumn("label_fuzzy",
          modal_label(array(col("label_edit"), col("label_jaccard"), col("label_sub"))))
        .select(col("doc_id"), col("min_lev"), col("min_jac"),
          col("label_edit"), col("label_jaccard"), col("label_sub"), col("label_fuzzy"))
    }),

    // Brute-force cosine top-k (the correctness oracle for the ANN path):
    // 5 query vectors against the full embedding table. Ranking uses the
    // ROUNDED similarity with a vec_id tie-break so both engines rank
    // identically. The low-cardinality window key (query_id) does NOT
    // hot-spot at scale: Spark's InferWindowGroupLimit rewrites
    // `row_number() ... filter rnk <= k` into a partial WindowGroupLimit
    // before the shuffle, so each input partition ships only its local
    // top-k per query (verified on the physical plan).
    "q11_cosine_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(cosine_sim(col("embedding"), col("query_vec")), 6).as("sim"),
          round(dot_product(col("embedding"), col("query_vec")), 6).as("dot"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("sim"), asc("vec_id"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id"), col("sim"), col("dot"), col("rnk"))
    })
  )

  private def seedValues: String =
    seeds.map(x => s"('${x.replace("'", "''")}')")
      .mkString("(VALUES ", ", ", ") s(seed)")

  val oracleSql: Map[String, String] = Map(
    // Parity note: graft's jaccard_char_distance sets are UTF-16 chars while
    // DuckDB's jaccard() operates on bytes, and graft's edit_distance (like
    // Spark's levenshtein) counts code points while DuckDB 1.0.0's
    // levenshtein() counts bytes (levenshtein('é', 'e') is 2 there, 1 here)
    // — identical on the ASCII synthetic corpus (and the reference's Latin-1
    // retail names), divergent on multi-byte text. Documented assumption,
    // revisit if non-ASCII fixtures are introduced.
    "q10_seed_label_fuzzy" ->
      s"""WITH scored AS (
           SELECT doc_id,
             min(levenshtein(lower(text), lower(seed))) AS min_lev,
             max(levenshtein(lower(text), lower(seed))) AS max_lev,
             round(min(1.0 - jaccard(lower(text), lower(seed))), 6) AS min_jac,
             round(max(1.0 - jaccard(lower(text), lower(seed))), 6) AS max_jac,
             max(CASE WHEN contains(lower(text), lower(seed)) THEN 1 ELSE 0 END) AS has_sub
           FROM documents, $seedValues GROUP BY doc_id),
         lab AS (
           SELECT doc_id, min_lev, min_jac,
             CASE WHEN min_lev < $levAccept THEN 1
                  WHEN max_lev > $levNeg THEN 0 ELSE -1 END AS label_edit,
             CASE WHEN min_jac < $jacAccept THEN 1
                  WHEN max_jac > $jacNeg THEN 0 ELSE -1 END AS label_jaccard,
             CASE WHEN has_sub = 1 THEN 1 ELSE -1 END AS label_sub
           FROM scored)
         SELECT doc_id, min_lev, min_jac, label_edit, label_jaccard, label_sub,
           CASE WHEN label_edit = label_jaccard OR label_edit = label_sub THEN label_edit
                WHEN label_jaccard = label_sub THEN label_jaccard
                ELSE -1 END AS label_fuzzy
         FROM lab""",
    "q11_cosine_topk" ->
      """SELECT query_id, vec_id, sim, dot, rnk FROM (
           SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim,
             round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS dot,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                        e.vec_id ASC) AS rnk
           FROM embeddings e
           JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
             ON e.vec_id <> q.vec_id) t
         WHERE rnk <= 10"""
  )
}

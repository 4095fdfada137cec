package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table

/** Deduplication operators over the `documents` table — the dedup pillar of
  * a training-data pipeline (builder brief; SURVEY §7 scale ops).
  *
  *  - q16 exact dedup: fingerprint = md5(text), one shuffle on the
  *    fingerprint, keep the minimum doc_id per group. At 100 TB this is THE
  *    way to dedup: the shuffle carries (16-byte hash, id) pairs, never the
  *    document bodies, and the aggregation is a partial/map-side combine.
  *  - q17 MinHash-LSH near-dup: word 3-shingles -> K=12 minhash signature
  *    (one codegen'd kernel pass, graft.expr.MinHash) -> 4 bands x 3 rows
  *    -> bucket on (band, key) and emit in-bucket pairs -> exact Jaccard
  *    verify on candidates only. The LSH banding replaces the O(N^2)
  *    all-pairs comparison with ONE shuffle keyed on band signatures; the
  *    shingle-set Jaccard (one codegen'd kernel, `shingle_jaccard`) runs
  *    only on colliding pairs. All hashing is plain integer arithmetic on
  *    md5 prefixes so the DuckDB oracle reproduces it bit-for-bit (no
  *    engine-private hash).
  *
  * MinHash scheme: h_i(x) = (A_i * (x mod P) + B_i) mod P over the Mersenne
  * prime P = 2^31 - 1, x = first 15 hex chars (60 bits) of md5(shingle).
  * A_i * x < 2^62 so the arithmetic never overflows a signed 64-bit int in
  * either engine.
  *
  * Null texts are excluded from q17 (a null document has no shingles; its
  * band key would degenerate to the empty string and false-cluster all null
  * rows). q16 still fingerprints nulls (null group counts the copies).
  *
  * Skew note (100 TB): exact-duplicate clusters share all 4 band keys, so a
  * cluster of n exact copies yields O(n^2) candidate pairs (streamed by
  * `Graft.bucketPairs`, never held in one row). At production scale run q16
  * upstream and near-dup only the exact-dedup keepers — band buckets are
  * then bounded by the NEAR-dup cluster size. The queries are kept
  * independent here so each is separately oracle-checked.
  */
object DedupQueries {

  // MinHash constants live with the codegen'd kernel (graft.expr.MinHash);
  // referenced here only to build the DuckDB oracle SQL, which replays the
  // same arithmetic through the hex/conv formulation.
  private val P = graft.expr.MinHash.P
  private val A = graft.expr.MinHash.A.toSeq
  private val B = graft.expr.MinHash.B.toSeq
  private val bands = 4
  private val rowsPerBand = 3
  private val nearDupThreshold = 0.5

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: group on content hash, keep min id. One partial-agg
    // shuffle of (hash, id); document bodies never move.
    "q16_exact_dedup" -> ((s, dir) => {
      table(s, dir, "documents")
        .groupBy(md5(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // MinHash-LSH near-dup candidate generation + exact Jaccard verify.
    "q17_minhash_neardup" -> q17
  )

  /** The two provably-tiny intermediates — candidate pairs and candidate
    * docs — go through `Graft.materialize`, so the expensive MinHash
    * pipeline and the corpus scan each run exactly ONCE (still fully
    * computed from parquet on every invocation). `graft.Explain` prints
    * one execution each for candidates, candidate docs and the verify. */
  private def q17(s: SparkSession, dir: String): DataFrame = {
      // The corpus is scanned exactly twice per invocation: once by the
      // signature pipeline and once by the candidate semi-join below.
      val docsText = table(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      // One codegen'd pass fuses tokenization, word-3-shingling and all K
      // signature slots (MinHashFromText kernel): each shingle is a byte
      // range of the raw text, so the pass allocates nothing per shingle.
      // Identical arithmetic slot-for-slot to the hex/conv formulation over
      // the shingle array (unit parity test), which the DuckDB oracle
      // replays, so the oracle matches bit-for-bit.
      val sig = docsText.select(col("doc_id"),
        graft.expr.GraftFunctions.minhash_text(col("text")).as("sig"))
      // band keys: r consecutive signature slots joined into one string key
      val bandKeys = (0 until bands).map { j =>
        concat_ws("_", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), j * rowsPerBand + r + 1)): _*)
      }
      // candidates: bucket once on (band, key) and emit each bucket's
      // id-ordered pairs; the minhash pipeline runs once. Its plan shuffles
      // twice: the (band, key) aggregation and the pair distinct. Same pair
      // set as the oracle's banded self-join: within one bucket each doc_id
      // appears once.
      val candPlan = graft.Graft.bucketPairs(sig, "doc_id", bandKeys).toDF("doc_a", "doc_b")
      // cand is referenced three times below (pair attach + both ends of
      // the id list); eagerly materializing it guarantees the MinHash
      // pipeline runs exactly once per invocation instead of gambling on
      // runtime exchange reuse across duplicated subtrees (guide §3.3:
      // materialize an intermediate to truncate the plan). It is tiny by
      // LSH construction (colliding pairs only).
      val cand = graft.Graft.materialize(candPlan)
      // exact verify on the (small) candidate set only, in the shape that
      // survives 100 TB (guide §3.1/§8): the corpus is streamed ONCE past a
      // broadcast of the candidate doc_ids (a left-semi join — ids only,
      // never document bodies), and every later join touches only the
      // surviving O(|cand|) rows — so no join below ever broadcasts or
      // shuffles full documents of more than ~2|cand| rows: document bodies
      // move exactly once (§8: decide with small rows, move big rows once).
      // The verify is one `shingle_jaccard` call per candidate pair: it
      // builds both texts' shingle sets from byte ranges of the texts, so
      // no token or shingle array is materialized.
      val candIds = cand
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val candDocsPlan = docsText
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      // candDocs feeds both the text_a and text_b side; checkpointing it
      // keeps the verify at exactly one corpus pass. Its plan shuffles only
      // the ids, for the candIds distinct.
      val candDocs = graft.Graft.materialize(candDocsPlan)
      val withA = candDocs
        .join(broadcast(cand), col("doc_id") === col("doc_a"))
        .select(col("doc_a"), col("doc_b"), col("text").as("text_a"))
      candDocs.select(col("doc_id"), col("text").as("text_b"))
        .join(withA, col("doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(graft.expr.GraftFunctions.shingle_jaccard(col("text_a"), col("text_b")), 6)
            .as("jaccard"))
        .withColumn("near_dup", (col("jaccard") >= nearDupThreshold).cast("int"))
  }

  // DuckDB replica of the identical scheme (same constants, same md5-prefix
  // hashing), so the compare checks signature math, banding and the verify.
  private def sigExprs: String =
    A.indices.map { i =>
      s"list_min([(${A(i)} * h + ${B(i)}) % $P for h in hs]) AS sig_$i"
    }.mkString(",\n             ")

  private def bandSelects: String =
    (0 until bands).map { j =>
      val key = (0 until rowsPerBand).map(r => s"sig_${j * rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('_', $key) AS key FROM sigs"
    }.mkString("\n           UNION ALL ")

  val oracleSql: Map[String, String] = Map(
    "q16_exact_dedup" ->
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
           count(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "q17_minhash_neardup" ->
      s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
               ELSE [text] END) AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t
                 FROM documents WHERE text IS NOT NULL)),
         hashed AS (
           SELECT doc_id, sh,
             [('0x' || substr(md5(x), 1, 15))::BIGINT % $P for x in sh] AS hs
           FROM docs),
         sigs AS (
           SELECT doc_id,
             $sigExprs
           FROM hashed),
         bands AS (
           $bandSelects),
         cand AS (
           SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM bands l JOIN bands r
             ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
         SELECT doc_a, doc_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard,
           CASE WHEN round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) >= $nearDupThreshold
             THEN 1 ELSE 0 END AS near_dup
         FROM cand
         JOIN docs a ON cand.doc_a = a.doc_id
         JOIN docs b ON cand.doc_b = b.doc_id"""
  )
}

package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions.dot_product

/** Label spreading over a k-NN similarity graph — the reference's namesake
  * algorithm (G1), re-expressed as declarative DataFrame joins.
  *
  * Reference semantics: /root/reference/src/labelling_pipeline.py:432-475 —
  * sklearn `LabelSpreading(kernel='knn', n_neighbors=6, alpha=0.01)` fit on
  * (embeddings, labels in {1, 0, -1}), then the binary posterior thresholded
  * at 0.7: `P(pos) >= 0.7 -> 1`, `P(neg) >= 0.7 -> 0`, else -1.
  *
  * The spread iterates `F <- alpha * S * F + (1 - alpha) * Y` where
  * `S = D^{-1/2} W D^{-1/2}` is the normalized affinity, W the symmetrized
  * k-NN connectivity `0.5 * (A + A^T)` (so mutual edges weigh 1.0, one-way
  * edges 0.5), and Y the clamped seed distribution. We run a FIXED number of
  * iterations instead of sklearn's tol-based stop: with alpha = 0.01 the
  * update is 99% clamped and converges to <1e-10 movement within ~4
  * iterations, and a fixed count makes the operator deterministic and
  * oracle-checkable (the DuckDB oracle unrolls the same iterations as CTEs).
  *
  * Deviation from sklearn's `kernel='knn'`: sklearn builds
  * `kneighbors_graph` over the fit set itself, so each point's k neighbors
  * INCLUDE the point (a self-loop contributing weight 1 to W and to the
  * degrees, leaving k-1 distinct others); this implementation excludes self
  * and takes k DISTINCT nearest others, so posteriors do not numerically
  * match sklearn on identical data — the thresholded labels agree in
  * practice (self-loop mass is redistributed proportionally), and both the
  * Spark side and the DuckDB oracle implement the same (self-excluded)
  * spec.
  *
  * Determinism across engines: the only non-associative step is the
  * per-neighbor sum inside an iteration (<= 12 terms of O(1) doubles), whose
  * cross-engine error is ~1e-16 relative and is damped (row sums of S are
  * <= 1, and alpha = 0.01 scales messages down 100x), so outputs agree far
  * below the 1e-6 rounding applied to the reported scores. k-NN selection
  * ranks by cosine ROUNDED to 6 dp with an id tie-break so both engines pick
  * identical neighbor sets.
  *
  * Scale path (100 TB): the exact k-NN build is the O(N^2) correctness
  * oracle; `knnEdgesApprox` is the LSH-bucketed scale path (same output
  * schema, no crossJoin / corpus broadcast) — the spread itself is linear
  * in edges per iteration (one shuffle on dst, one on src). The seeded edge
  * table is eagerly materialized so the iterated plan reuses one
  * materialization instead of recomputing the N^2 scan per iteration, and
  * so the logical plan the optimizer sees stays iteration-sized.
  */
object LabelSpreading {

  /** Directed k-NN edge list (src, dst, sim) by cosine similarity: for each
    * vector the k most similar others, ranked on round(sim, 6) desc with
    * ascending-id tie-break. Input: (id, vec) columns.
    *
    * Candidates are every unordered pair (a cross join filtered to
    * src < dst), verified by `topK`. The streamed side is widened
    * (Graft.widen) so the N^2 stage parallelizes even off a single-row-group
    * scan; the build side is explicitly broadcast while its estimated size
    * fits `spark.sql.autoBroadcastJoinThreshold` (negative: never), so the
    * planner can never flip the sides and serialize the stage again, and an
    * oversized vector table is never broadcast (a driver OOM at real N).
    * Past the threshold the cross join streams both sides; past any
    * practical N, use knnEdgesApprox — the O(N^2) scorer is the correctness
    * oracle, not the scale path. */
  def knnEdges(vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val l = graft.Graft.widen(withNorm(vectors, idCol, vecCol, "src"))
    val r0 = withNorm(vectors, idCol, vecCol, "dst")
    val bcastMax = vectors.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val r = if (bcastMax >= 0 && r0.queryExecution.optimizedPlan.stats.sizeInBytes <= bcastMax)
              broadcast(r0)
            else r0
    topK(l.crossJoin(r).filter(col("src") < col("dst")), k)
  }

  /** Approximate k-NN edge list via random-hyperplane LSH — the 100 TB
    * scale path for the graph build (same output schema as `knnEdges`, so
    * `normalizedEdges`/`spread` compose unchanged). `knnEdges` stays the
    * declared q12 oracle: exact, O(N^2), and only viable while a corpus
    * fits a broadcast; this path never broadcasts or cross-joins the corpus.
    *
    * Shape (guide §8: decide with small rows, move big rows once):
    *  1. each vector is hashed into `nTables` sign-bit bucket keys (one
    *     codegen'd projection — `nTables * nPlanes` dot products against
    *     CONSTANT hyperplanes, no join);
    *  2. `Graft.bucketPairs`, the candidate generator q17's LSH shares,
    *     emits each (table, bucket)'s id pairs, de-duplicated across tables;
    *  3. only candidate pairs re-attach vectors (two equi-joins on id) and
    *     go through the exact path's `topK` (identical round/tie-break, so
    *     any true neighbor that survives bucketing ranks exactly as in
    *     `knnEdges`).
    *
    * Cost: O(N * nTables) hashing + O(sum of bucket^2) scoring instead of
    * O(N^2); recall is tunable with nPlanes (bucket granularity) and
    * nTables (number of independent chances to collide). Hyperplanes are
    * seeded and deterministic: same inputs, same edges, every run.
    *
    * The hyperplanes take the first vector's dimension, so every vector is
    * assumed to share it: one of another dimension projects to NULL, lands
    * in bucket 0 of every table and scores a NULL sim. An empty corpus gives
    * an empty edge list.
    */
  def knnEdgesApprox(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                     nPlanes: Int = 6, nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val first = vectors.select(size(col(vecCol))).head(1)
    if (first.isEmpty)
      return vectors.select(col(idCol).as("src"), col(idCol).as("dst"),
        lit(null).cast("double").as("sim"))
    val dim = first.head.getInt(0)
    val rnd = new java.util.Random(seed)
    // float hyperplanes: the embedding columns are array<float>, and
    // dot_product requires matching element types — bucketing only needs
    // the SIGN of the projection, so float precision is irrelevant here.
    val planes: IndexedSeq[IndexedSeq[Array[Float]]] =
      (0 until nTables).map(_ => (0 until nPlanes).map(_ =>
        Array.fill(dim)(rnd.nextGaussian().toFloat)))
    def bucketKey(t: Int): Column =
      (0 until nPlanes).map { p =>
        when(dot_product(col(vecCol), typedLit(planes(t)(p))) >= 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    // 1.-2. in-bucket pairs over the nTables sign-bit keys, deduped across
    // tables; only (table, bucket, id) crosses the shuffle, never the vector.
    val candPairs = graft.Graft.bucketPairs(
      graft.Graft.widen(vectors.select(col(idCol), col(vecCol))), idCol,
      (0 until nTables).map(bucketKey)).toDF("src", "dst")
    // 3. re-attach vectors to candidates only, then the shared verify step.
    topK(candPairs
      .join(withNorm(vectors, idCol, vecCol, "src"), "src")
      .join(withNorm(vectors, idCol, vecCol, "dst"), "dst"), k)
  }

  /** One end of a candidate pair: (end, vec_end, n2_end) with the squared
    * norm hoisted out of the pair loop. */
  private def withNorm(vectors: DataFrame, idCol: String, vecCol: String,
                       end: String): DataFrame =
    vectors.select(col(idCol).as(end), col(vecCol).as(s"vec_$end"),
      dot_product(col(vecCol), col(vecCol)).as(s"n2_$end"))

  /** The verify step both k-NN builders share. `half` holds each unordered
    * candidate pair once (src < dst) with both ends' `withNorm` columns.
    *
    * cosine(a,b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), guarded
    * exactly like VectorMath.cosineFloat/Double (dim mismatch -> NULL, zero
    * norm -> 0.0). dot_product shares cosine's accumulation loop and the
    * combining expression is the kernel's own (sqrt * sqrt, not
    * sqrt(na*nb)), so round(sim, 6) is bit-identical to cosine_sim while
    * each pair costs d multiply-adds instead of 3d plus two sqrts.
    *
    * Each pair is scored once and mirrored by an explode (column `m`):
    * cosine is symmetric bit-for-bit, so this halves the kernel evaluations
    * without changing any ranked value. Then row_number + filter <= k:
    * InferWindowGroupLimit inserts a partial group-limit before the
    * shuffle, so each map partition ships at most k candidates per src. */
  private def topK(half: DataFrame, k: Int): DataFrame = {
    val scored = half.select(col("src"), col("dst"),
      round(
        when(size(col("vec_src")) =!= size(col("vec_dst")), lit(null).cast("double"))
          .when(col("n2_src") === 0.0 || col("n2_dst") === 0.0, 0.0)
          .otherwise(
            dot_product(col("vec_src"), col("vec_dst")) /
              (sqrt(col("n2_src")) * sqrt(col("n2_dst")))), 6).as("sim"))
    val pairs = scored
      .select(col("src"), col("dst"), col("sim"),
        explode(array(lit(0), lit(1))).as("m"))
      .select(
        when(col("m") === 0, col("src")).otherwise(col("dst")).as("src"),
        when(col("m") === 0, col("dst")).otherwise(col("src")).as("dst"),
        col("sim"))
    val w = Window.partitionBy(col("src")).orderBy(desc("sim"), asc("dst"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Symmetrize + degree-normalize a directed edge list into
    * S = D^{-1/2} W D^{-1/2} with W = 0.5 * (A + A^T): (src, dst, s).
    *
    * Single-pass shape: the A + A^T union is an explode (each directed edge
    * emits itself and its mirror), and the two degree lookups are window
    * sums instead of self-joins — the original union referenced the k-NN
    * subtree twice and the deg join three more times, leaving AQE exchange
    * reuse to deduplicate five copies of the O(N^2) build; now every
    * subtree appears exactly once, and no broadcast/driver round-trips are
    * needed. Degrees are sums of exact binary fractions (multiples of 0.5),
    * so groupBy-vs-window accumulation order cannot change any value. */
  def normalizedEdges(directed: DataFrame): DataFrame = {
    val wEdges = directed
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), lit(0.5).as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    wEdges
      .withColumn("deg_src", sum(col("w")).over(Window.partitionBy(col("src"))))
      .withColumn("deg_dst", sum(col("w")).over(Window.partitionBy(col("dst"))))
      .select(col("src"), col("dst"),
        (col("w") / sqrt(col("deg_src") * col("deg_dst"))).as("s"))
  }

  /** Iterate F <- alpha * S * F + (1 - alpha) * Y for `iters` rounds.
    *
    * @param sEdges normalized edges (src, dst, s)
    * @param y      clamped seeds (id, y1, y0): 1.0/0.0 one-hot for labelled
    *               rows, 0.0/0.0 for unlabelled; must contain every id that
    *               appears in sEdges (the seed term rides the edge table)
    * @return (id, f1, f0) raw (unrounded) label distributions, one row per
    *         id of `y`; an id without edges keeps f = (1 - alpha) * y
    *
    * The seeded edge table and the result are materialized with
    * `Graft.materialize`: under the default localCheckpoint the 5-iteration
    * plan would otherwise embed the O(N^2) k-NN subtree 5x (~1 s of
    * analyzer/optimizer time per run, r21 event-log audit).
    */
  def spread(sEdges: DataFrame, y: DataFrame, idCol: String,
             alpha: Double, iters: Int): DataFrame = {
    // Materialize ONE loop invariant: the seeded edge table (src, dst, s,
    // y1, y0) — the seed distribution is joined onto the edges ONCE here,
    // so each iteration is a single join + a single partial-agg shuffle
    // (see iterate). The iteration joins are left to the planner: an r21
    // A/B showed pre-partitioning the invariants + merge-hinting the joins
    // LOSES (3.97 s vs 2.78 s) because AQE's partition coalescing re-keys
    // the tiny exchanges and breaks the intended co-partitioning, while the
    // planner's broadcast choice needs no exchange at all on the join side
    // — the only shuffle per iteration is the groupBy(src). Everything is
    // still computed from parquet on every invocation — the
    // materializations happen inside this call.
    val e2 = graft.Graft.materialize(seededEdges(sEdges, y, idCol))
    val out = graft.Graft.materialize(iterate(e2, y, idCol, alpha, iters))
    // out is materialized, so the invariant's blocks are dead weight now —
    // free them eagerly instead of waiting for a GC-driven ContextCleaner.
    org.apache.spark.sql.graftbridge.Bridge.dropCheckpointBlocks(e2)
    out
  }

  /** Edge invariant with the seed term attached: (src, dst, s, y1, y0)
    * where (y1, y0) are the SOURCE node's clamped seeds. Computed once per
    * spread; carrying the seeds on the edges lets each iteration fold the
    * `(1 - alpha) * Y` term into the message aggregation (y1/y0 are
    * constant within a src group) instead of a second per-iteration join.
    * A zero-weight self-loop per id of `y` makes every id a src, so a node
    * with no edge (e.g. an LSH outlier) still gets its row; the loop adds an
    * exact 0.0 to every sum, so no other value moves. */
  private def seededEdges(sEdges: DataFrame, y: DataFrame, idCol: String): DataFrame =
    sEdges.join(y, sEdges("src") === y(idCol))
      .select(col("src"), col("dst"), col("s"), col("y1"), col("y0"))
      .unionByName(y.select(col(idCol).as("src"), col(idCol).as("dst"),
        lit(0.0).as("s"), col("y1"), col("y0")))

  /** One join + one aggregation per iteration:
    * F_k(src) = alpha * sum(s * F_{k-1}(dst)) + (1 - alpha) * Y(src),
    * with Y(src) read back via max(y1)/max(y0) over the src group (constant
    * within the group, so max is exact). Every id appears as a src
    * (seededEdges' self-loops), so every id gets a row without a join back
    * onto Y (r22 event-log audit: a warm q12 run was ~25 sequential sub-0.1 s
    * jobs with ~40 ms driver gaps — job latency, not compute, so removing
    * jobs is the lever). Per-group sum order depends on partitioning (under
    * AQE), so agreement with the re-join formulation is to ~1 ulp, which the
    * 6 dp output rounding absorbs — see LabelSpreadingSpec's parity test and
    * the oracle hash. */
  private def iterate(e2: DataFrame, y: DataFrame, idCol: String,
                      alpha: Double, iters: Int): DataFrame = {
    var f = y.select(col(idCol), col("y1").as("f1"), col("y0").as("f0"))
    for (_ <- 1 to iters) {
      f = e2.join(f, e2("dst") === f(idCol))
        .groupBy(e2("src"))
        .agg(
          (lit(alpha) * sum(col("s") * col("f1")) + lit(1.0 - alpha) * max(col("y1"))).as("f1"),
          (lit(alpha) * sum(col("s") * col("f0")) + lit(1.0 - alpha) * max(col("y0"))).as("f0"))
        .withColumnRenamed("src", idCol)
    }
    f
  }

  /** Threshold the normalized posterior (labelling_pipeline.py:460-466):
    * P(1) >= thresh -> 1, P(0) >= thresh -> 0, else -1 (incl. zero-mass rows
    * — nodes the spread never reached stay unlabelled, matching sklearn's
    * NaN-posterior rows failing both comparisons). */
  def thresholdLabels(f: DataFrame, idCol: String, thresh: Double): DataFrame = {
    val tot = col("f1") + col("f0")
    f.select(col(idCol),
      round(col("f1"), 6).as("f1"),
      round(col("f0"), 6).as("f0"),
      when(tot > 0 && col("f1") / tot >= thresh, 1)
        .when(tot > 0 && col("f0") / tot >= thresh, 0)
        .otherwise(-1).as("label_prop"))
  }
}

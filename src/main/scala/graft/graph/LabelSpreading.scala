package graft.graph

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

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
  * schema, scores only rows that share a bucket) — the spread itself is
  * linear in edges per iteration. The seeded edge table is eagerly
  * materialized, and its measured bytes pick the iteration's home: a table
  * within `LocalMaxBytes` (graphs of thousands of nodes, like the
  * reference's per-category fits) is collected once and iterated in driver
  * arrays, with no job per iteration; a larger one iterates as distributed
  * joins over the checkpoint (one shuffle on dst, one on src), so the
  * logical plan the optimizer sees stays iteration-sized.
  */
object LabelSpreading {

  /** Directed k-NN edge list (src, dst, sim) by cosine similarity: for each
    * vector the k most similar others, ranked on round(sim, 6) desc with
    * ascending-id tie-break. Input: (id, vec) columns; the id column must be
    * byte/short/int/long (the scorer carries ids as long), the vector column
    * array<float> or array<double>.
    *
    * Every row is a candidate of every other: the whole corpus is ONE group
    * of `tiledTopK`, held in one task's memory and cut into tiles there —
    * the exact, O(n^2) correctness oracle, not the scale path (that is
    * knnEdgesApprox). */
  def knnEdges(vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    mergeTopK(tiledTopK(vectors, idCol, vecCol, _ => Iterator.single(0L), k), idType(vectors, idCol), k)

  /** Approximate k-NN edge list via random-hyperplane LSH — the 100 TB
    * scale path for the graph build (same output schema as `knnEdges`, so
    * `normalizedEdges`/`spread` compose unchanged). `knnEdges` stays the
    * declared q12 oracle. The vector column may be array<float> or
    * array<double>.
    *
    * `tiledTopK`'s typed step hashes each vector into `nTables` sign-bit
    * bucket keys (`bucketKeys`: `nPlanes` dot products per table against
    * CONSTANT hyperplanes, no join), and each (table, bucket) is a group of
    * `tiledTopK`: only rows sharing a bucket are scored, with the exact
    * path's rounding and tie-break, so any true neighbor that survives
    * bucketing ranks exactly as in `knnEdges`. A pair colliding in several
    * tables comes back from each, so the candidates are de-duplicated before
    * the final merge. One bucket is held in one task's memory.
    *
    * Cost: O(N * nTables * nPlanes * d) hashing + O(sum of bucket^2) scoring
    * instead of O(N^2); recall is tunable with nPlanes (bucket granularity)
    * and nTables (number of independent chances to collide). Hyperplanes
    * are seeded and deterministic: same inputs, same edges, every run.
    *
    * The hyperplanes take the first non-NULL vector's dimension, so every
    * vector is assumed to share it: a NULL vector or one of another
    * dimension sets no bit, lands in bucket 0 of every table and scores
    * a NULL sim, which ranks last. A corpus with no non-NULL vector gives an
    * empty edge list.
    */
  def knnEdgesApprox(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                     nPlanes: Int = 6, nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val ids = idType(vectors, idCol)
    val first = vectors.where(col(vecCol).isNotNull).select(size(col(vecCol))).head(1)
    if (first.isEmpty)
      return vectors.limit(0).select(col(idCol).as("src"), col(idCol).as("dst"),
        lit(null).cast("double").as("sim"))
    val rnd = new java.util.Random(seed)
    // float-valued planes, drawn table by table, then plane by plane: a float
    // vector's keys are the signs of `VectorMath.dotFloat` against them
    val planes = Array.fill(nTables, nPlanes, first.head.getInt(0))(rnd.nextGaussian().toFloat.toDouble)
    mergeTopK(tiledTopK(vectors, idCol, vecCol, bucketKeys(planes), k).distinct(), ids, k)
  }

  /** The LSH bucket key of `vec` in each table t: bit p is set when
    * `dot(vec, planes(t)(p)) >= 0` as Spark compares doubles (NaN is
    * highest, -0.0 equals 0.0), packed as `(t << nPlanes) | bits` so keys of
    * different tables differ. A NULL vector or one of another dimension
    * sets no bit. */
  private[graph] def bucketKeys(planes: Array[Array[Array[Double]]])(vec: Array[Double]): Iterator[Long] =
    planes.iterator.zipWithIndex.map { case (table, t) =>
      var bits = 0L
      for (p <- table.indices if vec != null && vec.length == table(p).length && !(dot(vec, table(p)) < 0.0))
        bits |= 1L << p
      (t.toLong << table.length) | bits
    }

  /** The id column's type, which the scorer carries as a long: an integral
    * type converts exactly, any other (a string cast to long gives NULL)
    * is rejected up front. */
  private def idType(vectors: DataFrame, idCol: String): DataType = {
    val t = vectors.schema(idCol).dataType
    if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(t))
      throw new IllegalArgumentException(
        s"k-NN id column '$idCol' must be byte/short/int/long, got ${t.simpleString}")
    t
  }

  /** Rows per tile side: a tile scores at most TileRows^2 pairs, so a hot
    * group (the corpus, or a big bucket) spreads over many tasks. */
  private[graph] val TileRows = 128

  /** The scorer both k-NN builders share: candidates (src, dst, sim), at
    * most k per source per tile, holding every source's true top k.
    *
    *  1. rows become typed (id: long, vec: array<double>) — float to double
    *     is exact, so every product below is bit-identical to
    *     `VectorMath.dotFloat`'s — and each is emitted once per key of
    *     `keys(vec)` (one per LSH table; one constant for the exact path);
    *  2. each group is gathered in one task (groups of one row dropped), cut
    *     into slices of at most `TileRows` rows, and each slice pair (i <= j)
    *     becomes one tile row, spread over `defaultParallelism` partitions
    *     (AQE does not coalesce a repartition to an explicit number);
    *  3. each tile is scored in a tight loop with a k-slot heap per row,
    *     updating both ends of each pair, and each heap emits its rows.
    *
    * cosine(a,b) = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), guarded like
    * `cosine_sim`: a NULL vector or a dim mismatch scores NULL (even against
    * a zero-norm vector), else a zero norm scores 0.0; rounded as Spark's
    * round(x, 6). A group is held in one task's memory, O(n * d). */
  private def tiledTopK(vectors: DataFrame, idCol: String, vecCol: String,
                        keys: Array[Double] => Iterator[Long], k: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("vec")).as[Vec]
      .flatMap(v => keys(v.vec).map(_ -> v))
      .groupByKey(_._1)
      .flatMapGroups { (_, kvs) =>
        val s = kvs.map(_._2).toArray.grouped(TileRows).toArray
        if (s.head.length < 2) Iterator.empty
        else for (i <- s.indices.iterator; j <- (i until s.length).iterator)
          yield Tile(s(i), if (i == j) Array.empty[Vec] else s(j))
      }
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap(scoreTile(_, k))
      .toDF()
  }

  /** Merge each source's candidates: row_number over (sim desc NULLS LAST,
    * dst asc) <= k, ids cast back to the input's type. */
  private def mergeTopK(cands: DataFrame, ids: DataType, k: Int): DataFrame =
    cands.withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("sim"), asc("dst"))))
      .filter(col("rnk") <= k)
      .select(col("src").cast(ids), col("dst").cast(ids), col("sim"))

  /** One tile: rows `a` against rows `b`, or `a` against itself when `b`
    * is empty. Self-pairs (equal ids) are skipped. */
  private def scoreTile(t: Tile, k: Int): Iterator[Edge] = {
    val vs = t.a ++ t.b
    val (na, diag) = (t.a.length, t.b.isEmpty)
    val norm = vs.map(v => if (v.vec == null) 0.0 else math.sqrt(dot(v.vec, v.vec)))
    val heaps = Array.fill(vs.length)(new TopK(k))
    for (p <- 0 until na; q <- (if (diag) p + 1 else na) until vs.length if vs(p).id != vs(q).id) {
      val (x, y) = (vs(p).vec, vs(q).vec)
      if (x == null || y == null || x.length != y.length) {
        heaps(p).offer(vs(q).id, Double.NaN, isNull = true)
        heaps(q).offer(vs(p).id, Double.NaN, isNull = true)
      } else {
        val raw = if (norm(p) == 0.0 || norm(q) == 0.0) 0.0 else dot(x, y) / (norm(p) * norm(q))
        if (heaps(p).admits(raw) || heaps(q).admits(raw)) {
          val sim = round6(raw)
          heaps(p).offer(vs(q).id, sim, isNull = false)
          heaps(q).offer(vs(p).id, sim, isNull = false)
        }
      }
    }
    vs.indices.iterator.flatMap(i => heaps(i).edges(vs(i).id))
  }

  /** `VectorMath.dotFloat`'s accumulation: sequential, index order, in double. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Spark's round(x, 6) on a double: decimal HALF_UP, NaN and +-Inf kept. */
  private[graph] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** One source's k best candidates, sorted best first in the window's
    * order: non-NULL sims by `Double.compare` desc (NaN highest, as Spark
    * orders it), then NULL sims, ties by dst asc. A total order, so the
    * result does not depend on the order candidates are offered in. */
  private final class TopK(k: Int) {
    private val dst = new Array[Long](k)
    private val sim = new Array[Double](k)
    private val nul = new Array[Boolean](k)
    private var n = 0
    private def before(d: Long, s: Double, isNull: Boolean, i: Int): Boolean =
      if (isNull != nul(i)) !isNull
      else {
        val c = if (isNull) 0 else java.lang.Double.compare(s, sim(i))
        c > 0 || (c == 0 && d < dst(i))
      }
    /** False only when an unrounded score cannot enter: round6 moves a
      * value by at most 5e-7, so one more than 1e-6 below the kth rounded
      * sim rounds below it, and its rounding is skipped. */
    def admits(raw: Double): Boolean = n < k || nul(k - 1) || !(raw + 1e-6 < sim(k - 1))
    def offer(d: Long, s: Double, isNull: Boolean): Unit =
      if (n < k || before(d, s, isNull, k - 1)) {
        var i = if (n < k) { n += 1; n - 1 } else k - 1
        while (i > 0 && before(d, s, isNull, i - 1)) {
          dst(i) = dst(i - 1); sim(i) = sim(i - 1); nul(i) = nul(i - 1); i -= 1
        }
        dst(i) = d; sim(i) = s; nul(i) = isNull
      }
    def edges(src: Long): Iterator[Edge] =
      (0 until n).iterator.map(i => Edge(src, dst(i), if (nul(i)) None else Some(sim(i))))
  }

  private[graph] case class Vec(id: Long, vec: Array[Double])
  private[graph] case class Tile(a: Array[Vec], b: Array[Vec])
  private[graph] case class Edge(src: Long, dst: Long, sim: Option[Double])

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
    *               rows, 0.0/0.0 for unlabelled; its ids must be unique (a
    *               duplicate multiplies its messages) and must include every
    *               id that appears in sEdges (the seed term rides the edge
    *               table)
    * @return (id, f1, f0) raw (unrounded) label distributions, one row per
    *         non-NULL id of `y`; an id without edges keeps
    *         f = (1 - alpha) * y
    *
    * The seeded edge table is materialized with `Graft.materialize`, so the
    * iterations read the edges from a checkpoint instead of embedding the
    * O(N^2) k-NN subtree once per iteration. When `iteratesLocally` holds
    * for the checkpoint (its measured bytes within `LocalMaxBytes`), the
    * edges are collected once and the iterations run in driver arrays
    * (`iterateLocal`), returning a local relation; otherwise they run as
    * distributed joins (`iterate`) whose result is materialized too. For
    * q12, `graft.Explain` prints the seeded-edge checkpoint, then the edge
    * `collect` (or, for a larger graph, the iteration checkpoint), then the
    * thresholding.
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
    val out =
      if (iteratesLocally(e2.schema("src").dataType, Bridge.checkpointBytes(e2)))
        iterateLocal(e2, idCol, alpha, iters)
      else graft.Graft.materialize(iterate(e2, y, idCol, alpha, iters))
    // out is materialized or local, so the invariant's blocks are dead
    // weight now — free them eagerly instead of waiting for a GC-driven
    // ContextCleaner.
    Bridge.dropCheckpointBlocks(e2)
    out
  }

  /** The largest seeded edge table, in block-manager bytes, that `spread`
    * iterates in driver memory: about 150k edges at the ~107 bytes an edge
    * measures (perfbench's 16.7k-edge graphs measure 1.8 MB). Collected and
    * boxed, a table takes several times its block bytes, which at this
    * bound stays far under `spark.driver.maxResultSize`'s 1 GB default. */
  private[graph] val LocalMaxBytes: Long = 16L << 20

  /** Whether `spread` iterates in driver memory: the checkpoint's measured
    * bytes (None when it is no stored RDD) are within `LocalMaxBytes`, and
    * its ids are of a type whose collected values compare and hash by value
    * as the join's keys do (`iterateLocal` numbers them in sorted order). */
  private[graph] def iteratesLocally(idType: DataType, bytes: Option[Long]): Boolean =
    bytes.exists(_ <= LocalMaxBytes) && (idType match {
      case ByteType | ShortType | IntegerType | LongType | StringType | DateType => true
      case _: DecimalType => true
      case _ => false
    })

  /** Edge invariant with the seed term attached: (src, dst, s, y1, y0)
    * where (y1, y0) are the SOURCE node's clamped seeds. Computed once per
    * spread; carrying the seeds on the edges lets each iteration fold the
    * `(1 - alpha) * Y` term into the message aggregation (y1/y0 are
    * constant within a src group) instead of a second per-iteration join.
    * A zero-weight self-loop per id of `y` makes every id a src, so a node
    * with no edge (e.g. an LSH outlier) still gets its row; the loop adds an
    * exact 0.0 to every sum, so no other value moves. */
  private[graph] def seededEdges(sEdges: DataFrame, y: DataFrame, idCol: String): DataFrame =
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
  private[graph] def iterate(e2: DataFrame, y: DataFrame, idCol: String,
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

  /** `iterate` in driver arrays over the collected seeded edges: the same
    * update, the same fixed `iters`, and one row per id of `y` (the
    * non-NULL srcs; a NULL id gets no row and a dst that is no src sends no
    * message, as the join drops both). Ids are numbered in ascending order
    * (`iteratesLocally` admits only id types that sort and compare by
    * value), and each source sums its messages in ascending dst order, so
    * the result does not depend on the order in which partitions arrive. Ids
    * keep the edge table's type, which is `y`'s when the edges share it. */
  private[graph] def iterateLocal(e2: DataFrame, idCol: String, alpha: Double, iters: Int): DataFrame = {
    val rows = e2.collect().filterNot(_.isNullAt(0))
    val ids = rows.map(_.get(0)).distinct
      .sortWith((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
    val index = ids.zipWithIndex.toMap
    val (y1, y0) = (new Array[Double](ids.length), new Array[Double](ids.length))
    val edges = rows.flatMap { r =>
      val i = index(r.get(0))
      y1(i) = r.getDouble(3); y0(i) = r.getDouble(4)
      index.get(r.get(1)).map(j => (i, j, r.getDouble(2)))
    }.sortBy(e => (e._1, e._2))
    var (f1, f0) = (y1, y0)
    for (_ <- 1 to iters) {
      val (m1, m0) = (new Array[Double](ids.length), new Array[Double](ids.length))
      for ((i, j, s) <- edges) { m1(i) += s * f1(j); m0(i) += s * f0(j) }
      f1 = Array.tabulate(ids.length)(i => alpha * m1(i) + (1.0 - alpha) * y1(i))
      f0 = Array.tabulate(ids.length)(i => alpha * m0(i) + (1.0 - alpha) * y0(i))
    }
    val schema = StructType(Seq(e2.schema("src").copy(name = idCol),
      StructField("f1", DoubleType), StructField("f0", DoubleType)))
    e2.sparkSession.createDataFrame(ids.indices.map(i => Row(ids(i), f1(i), f0(i))).asJava, schema)
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

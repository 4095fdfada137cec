package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entry helpers shared by the engine: session construction, table access,
  * and the one materialization policy the iterative operators use.
  *
  * Scale notes (100 TB target): every knob here is also correct on a real
  * cluster — AQE (on by default) handles skew/coalescing at runtime, shuffle
  * partitions are overridden by AQE's coalescing, and broadcast threshold
  * stays default so dimension tables (region/nation/supplier/part at TPC-H
  * ratios) broadcast.
  */
object Graft {

  /** The engine's session: `master`, `shufflePartitions` shuffle
    * partitions, UTC session time zone, UI off, graft functions registered.
    * Every other conf stays at Spark's default. */
  def session(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.registerAll(spark)
    spark
  }

  /** Materialize an intermediate that a plan reuses, per the session conf
    * `graft.materialize`:
    *  - `localCheckpoint` (default): eager, truncates the logical plan and the
    *    lineage, so later operators neither recompute nor re-optimize it. The
    *    blocks are executor-local and not replicated: losing an executor
    *    fails the job, which is acceptable for short jobs, not for long runs.
    *  - `none`: returns `df` unchanged, so the full plan stays visible (what
    *    `graft.Explain` prints). */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("graft.materialize", "localCheckpoint") match {
      case "localCheckpoint" => df.localCheckpoint()
      case "none" => df
      case other => throw new IllegalArgumentException(
        s"graft.materialize must be localCheckpoint or none, got '$other'")
    }

  /** Spread a CPU-heavy per-row stage across all cores when the upstream
    * scan cannot: the harness fixtures are single-row-group parquet files,
    * which plan as ONE scan task regardless of `maxPartitionBytes` or core
    * count, serializing every downstream computation (guide §2 — make
    * partitioning scale-adaptive, not a constant). No-op when the input
    * already has at least default-parallelism partitions, so on a real
    * cluster (where a big scan yields many splits) this never adds a
    * shuffle. Row order is NOT preserved; callers must be order-insensitive
    * (rank with deterministic tie-breaks, min/max/count, per-row kernels).
    */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** LSH candidate generation shared by q17 and `knnEdgesApprox`: the
    * distinct `(lo, hi)` pairs of `idCol` values, lo < hi, that share the
    * value of any one of `bucketKeys` (one key per hash table or band).
    *
    * One row per (table, bucket, id) goes into the only shuffle — ids, never
    * the payload — which collects each bucket's sorted id list. Pairs come
    * from a TWO-LEVEL explode (posexplode the list, then explode each
    * element's higher partners), so no row ever holds more than a bucket's
    * O(n) id list: a single explode of the flattened pair array would build
    * a hot bucket's whole O(n^2) pair array in ONE row, an aggregation-buffer
    * OOM (guide §2.5/§5). A pair colliding in several tables is kept once. */
  def bucketPairs(df: DataFrame, idCol: String, bucketKeys: Seq[Column]): DataFrame = {
    val keyed = bucketKeys.zipWithIndex.map { case (k, t) => struct(lit(t).as("t"), k.as("bkt")) }
    df.select(col(idCol).as("id"), explode(array(keyed: _*)).as("tb"))
      .select(col("id"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
      .groupBy(col("t"), col("bkt"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("lo"),
        explode(slice(col("ids"), col("pos") + lit(2), size(col("ids")))).as("hi"))
      .distinct()
  }

  /** Read one harness table (TESTDATA.md layout: `<dir>/<name>.parquet`).
    * `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
    * default — read as long nanos and floor-convert to microseconds
    * (identical to DuckDB's ns->us handling for positive epochs). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      else d
    }
  }
}

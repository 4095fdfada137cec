package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entry helpers shared by the engine: session construction, table access,
  * and the one materialization policy the iterative operators use.
  *
  * Scale notes (100 TB target): the session settings are also correct on a
  * real cluster — AQE (on by default) handles skew/coalescing at runtime,
  * shuffle partitions are overridden by AQE's coalescing, and broadcast
  * threshold stays default so dimension tables (region/nation/supplier/part
  * at TPC-H ratios) broadcast. The engine reads no session conf.
  */
object Graft {

  /** The engine's session: `master`, `shufflePartitions` shuffle
    * partitions, UTC session time zone, UI off, a generated-code cache of
    * 1,000 classes, graft functions registered. Every other conf stays at
    * Spark's default.
    *
    * The cache size is a static conf: Spark builds `CodeGenerator`'s cache
    * once per JVM, at its first compile. It holds wherever this method
    * builds the JVM's first session, which every main, perfbench and the
    * test session do. */
  def session(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // perfbench's three workloads need 223 distinct generated classes, a
      // label_spread pass 115 (q12 82); Spark's default of 100 recompiled
      // 71-77 per label_spread pass. Guava splits the maximum over 4
      // segments and evicts per segment (relational's 82 classes recompiled
      // 18-22 per pass in some query orders), so leave about 4x headroom.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.expr.GraftFunctions.registerAll(spark)
    spark
  }

  /** Materialize an intermediate that a plan reuses: an eager
    * `localCheckpoint`, which truncates the logical plan and the lineage, so
    * later operators neither recompute nor re-optimize it. The blocks are
    * executor-local and not replicated: losing an executor fails the job,
    * which is acceptable for short jobs, not for long runs. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint()

  /** q17's LSH candidate generation: the distinct `(lo, hi)` pairs of
    * `idCol` values, lo < hi, that share the value of any one of
    * `bucketKeys` (one key per hash table or band).
    *
    * Two shuffles, both of ids, never the payload: one row per (table,
    * bucket, id) goes into the aggregation that collects each bucket's sorted
    * id list, and the pairs go into the final `distinct`. Pairs come
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

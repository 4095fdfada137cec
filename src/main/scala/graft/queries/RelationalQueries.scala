package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table

/** Core relational operators over the harness tables (SURVEY §2.2/§2.4/§2.5
  * generalized + the window/join/set ops Spark gives for free, §2.9).
  *
  * Conventions for DuckDB-oracle parity:
  *  - every computed double is `round(x, N)` in BOTH engines so accumulation
  *    order can't flip the hash;
  *  - every aggregate/computed column is aliased identically in both;
  *  - ties in top-k are broken by a deterministic key.
  *
  * Scale notes: filters/projections sit directly on the parquet scan
  * (pushdown + pruning), dimension joins are broadcast, aggregations are
  * partial (map-side) by construction. These plans survive 1000 executors:
  * the only shuffles are the groupBy keys and the window partition key.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P6/P7 filters + A3/A4 aggregation, TPC-H Q1 shape: one scan, one
    // shuffle on (returnflag, linestatus) — 6 groups at any scale.
    "q01_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // P6-P8 projection+filter pushed to the scan; raw columns, no arithmetic.
    "q02_filter_pushdown" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
          && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
    }),

    // J1-style equi-join chain: fact ⋈ 4 dims. Dims broadcast (region 5 rows
    // … customer 150k rows at sf100 still < 10 MB threshold? customer is the
    // one genuinely growing dim — left as a shuffle join under AQE, which
    // picks broadcast when it fits).
    "q03_star_join_revenue" -> ((s, dir) => {
      // NO repartition here: the single-row-group fixture does serialize
      // scan+joins+agg into one task, but an r22 alternating A/B measured
      // the round-robin exchange of the 600k projected rows at a LOSS
      // (0.77 s -> 1.16 s @32c) — decode dominates the stage and the exchange
      // cannot parallelize the scan itself, only the cheap join/agg tail
      // (same lesson as q05's r21 repartition regression).
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // A1-shape top-k with deterministic tie-break; broadcast part dim.
    "q04_brand_volume_topk" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val p = broadcast(table(s, dir, "part"))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy(desc("total_qty"), asc("p_brand"))
        .limit(10)
    }),

    // Window function (absent from the reference, free in Spark — §2.9):
    // top-3 orders per customer by recency. Single shuffle on o_custkey.
    "q05_order_rank_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_orderdate"), asc("o_orderkey"))
      // NO repartition here (r21 added one; driver bench regressed 1.7x and
      // the r22 in-JVM A/B confirms 0.77 s -> 0.36 s without): the window's own
      // hash exchange on o_custkey already fans the sort kernel out to every
      // core, so a round-robin repartition upstream only ships the full rows
      // through one extra exchange to parallelize a trivial scan+project.
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
    }),

    // Time bucketing on the events stream table.
    "q06_events_hourly" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // JSON scalar extraction (S2 generalized): props is a JSON string.
    // from_json with an explicit schema, not get_json_object: the latter
    // re-parses per call at ~66 µs/row (round-2 bench), while a schema'd
    // parse is a single pass that stays inside whole-stage codegen — the
    // difference is linear CPU at 100 TB.
    "q07_events_json" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val propsSchema = StructType(Seq(StructField("k", IntegerType)))
      table(s, dir, "events")
        .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"), max(col("k")).as("max_k"),
          count(col("k")).as("n_k"))
    }),

    // Set ops + semi/anti joins (§2.9 / J3): customers with orders over
    // threshold that never placed a low-priority order. Computed as ONE
    // scan + ONE partial aggregation of orders (per-custkey has_big /
    // has_low flags) + ONE semi join, instead of the original two scans and
    // two joins (semi + anti): EXISTS(big) AND NOT EXISTS(lowpri) ==
    // max(big)=1 AND max(lowpri)=0 over the customer's orders. The
    // aggregation is map-side partial, so the shuffle carries distinct
    // custkeys, not the filtered order rows (guide §2.3 "aggregate before
    // you shuffle", §2.4 "remove shuffles outright").
    "q08_semi_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val keep = o.groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_totalprice") > 100000, 1).otherwise(0)).as("has_big"),
          max(when(col("o_orderpriority") === "5-LOW", 1).otherwise(0)).as("has_low"))
        .where(col("has_big") === 1 && col("has_low") === 0)
        .select(col("o_custkey"))
      c.join(keep, col("c_custkey") === keep("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // Grouping-sets style multi-level aggregate (rollup) — free from Spark.
    "q09_rollup" -> ((s, dir) => {
      table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
           AND l_quantity < 10""",
    "q03_star_join_revenue" ->
      """SELECT r_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q04_brand_volume_topk" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS total_qty, count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand
         ORDER BY total_qty DESC, p_brand ASC
         LIMIT 10""",
    "q05_order_rank_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey ASC) AS rnk
           FROM orders) t
         WHERE rnk <= 3""",
    "q06_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q07_events_json" ->
      """SELECT event_type,
         round(avg(k), 4) AS avg_k, max(k) AS max_k, count(k) AS n_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
               FROM events) t
         GROUP BY event_type""",
    "q08_semi_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_totalprice > 100000)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                             AND o_orderpriority = '5-LOW')""",
    "q09_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
         count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ClothingSource

/** Queries over the reference's own dataset (S1/S2 + A3 prevalence) —
  * the engine reads the exact files the reference pipeline reads
  * (`data/clothing_mock_data.csv`, `data/seed_labels.json`), so results are
  * directly comparable to the published notebook outputs (BASELINE.md:
  * 3,995 rows, 9 classes with junk=1104 ... socks=261).
  *
  * The oracle reads the same files through DuckDB's `read_csv`/`read_json`
  * with an explicit column list, so the compare checks graft's CSV/JSON
  * decode as well as the aggregation.
  */
object ClothingQueries {

  // Engine and oracle both read ClothingSource.dataDir, never the harness
  // sf-dir argument (which holds only parquet tables).
  private def dir = ClothingSource.dataDir

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A3 prevalence over the real CSV (notebook cell 7 @ line 125). The
    // groupBy key is 9 values — one partial-agg shuffle at any scale.
    "q13_clothing_prevalence" -> ((s, _) => {
      ClothingSource.clothing(s, dir)
        .groupBy(col("true_label"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("name")).as("n_names"),
          countDistinct(col("division")).as("n_divisions"))
    }),

    // S2: the seed-label config as a relational (item_id, seed) table with
    // per-item seed counts attached (window over a 92-row config table).
    "q14_seed_labels" -> ((s, _) => {
      val seeds = ClothingSource.seedLabels(s, dir)
      val counts = seeds.groupBy(col("item_id")).agg(count(lit(1)).as("n_seeds"))
      seeds.join(counts, "item_id")
        .select(col("item_id"), col("seed"), col("n_seeds"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q13_clothing_prevalence" ->
      s"""SELECT true_label, count(*) AS n,
          count(DISTINCT name) AS n_names,
          count(DISTINCT division) AS n_divisions
          FROM read_csv('${ClothingSource.csvPath(dir)}', header=true,
            columns={'category':'VARCHAR','division':'VARCHAR','name':'VARCHAR',
                     'subcategory':'VARCHAR','true_label':'INT'})
          GROUP BY true_label""",
    "q14_seed_labels" ->
      s"""WITH seeds AS (
            SELECT item_id::INT AS item_id, unnest(seeds) AS seed
            FROM (UNPIVOT (FROM read_json('${ClothingSource.seedPath(dir)}'))
                  ON COLUMNS(*) INTO NAME item_id VALUE seeds))
          SELECT item_id, seed, count(*) OVER (PARTITION BY item_id) AS n_seeds
          FROM seeds"""
  )
}

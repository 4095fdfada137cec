package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/S2 — ingestion of the reference's own dataset: the Latin-1 mock CSV
  * and the seed-label JSON config.
  *
  * Reference semantics:
  *  - CSV: `pd.read_csv(path, encoding="ISO-8859-1")` (notebook cell 5 @
  *    line 107) — header row, 5 columns, no quoting surprises. We read with
  *    an EXPLICIT schema (never infer — a second pass over 100 TB just to
  *    guess types is wrong) and FAILFAST so a malformed row surfaces
  *    immediately instead of silently nulling.
  *  - JSON: `json.load(f)` of `data/seed_labels.json` (notebook cell 3 @
  *    line 89) — a {label_id -> [seed phrase, ...]} dict. Re-expressed
  *    relationally as an exploded (item_id, seed) table.
  *
  * Scale notes: the CSV scan is a plain FileScan with the schema pushed
  * down — splittable, parallel, no driver involvement. The JSON is a
  * one-row multiLine read (config-sized by definition).
  */
object ClothingSource {

  /** Root of the reference's data directory. */
  val defaultDir = "/root/reference/data"
  /** Where the clothing CSV and seed JSON live: `GRAFT_CLOTHING_DIR`, else
    * `defaultDir`. */
  def dataDir: String = sys.env.getOrElse("GRAFT_CLOTHING_DIR", defaultDir)
  def csvPath(dir: String): String = s"$dir/clothing_mock_data.csv"
  def seedPath(dir: String): String = s"$dir/seed_labels.json"

  /** Fixed by the reference data's header (SURVEY §1.2). */
  val schema: StructType = StructType(Seq(
    StructField("category", StringType),
    StructField("division", StringType),
    StructField("name", StringType),
    StructField("subcategory", StringType),
    StructField("true_label", IntegerType)))

  /** S1: the mock product table. `name` is unique in the shipped data and
    * serves as the stable row key (the reference leans on the pandas row
    * index; a content key is the distributed-safe equivalent). */
  def clothing(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .option("mode", "FAILFAST")
      .csv(csvPath(dir))

  /** S2 relational view: (item_id, seed), one row per seed phrase. */
  def seedLabels(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(seedPath(dir))
    // keys are label ids ("0".."7" today) — sort NUMERICALLY so a 10th label
    // doesn't land between 1 and 2, and fail loudly on a non-numeric key
    val entries = raw.columns.toIndexedSeq
      .map { c =>
        val id = try c.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"seed_labels.json keys must be integer label ids, got '$c'")
        }
        id -> c
      }
      .sortBy(_._1)
      .flatMap { case (id, c) => Seq(lit(id), col(c)) }
    raw.select(explode(map(entries: _*)).as(Seq("item_id", "seeds")))
      .select(col("item_id"), explode(col("seeds")).as("seed"))
  }
}

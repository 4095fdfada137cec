package graft
import graft.sources.ClothingSource
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Oracle SQL for the clothing queries must resolve the same data dir the
    // engine queries will resolve for this run (see ClothingSource.oracleDir).
    ClothingSource.harnessDirHint = Some(sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (graft.queries.ClothingQueries.queries.contains(name)) {
          val d = ClothingSource.resolveDir(sfDir)
          System.err.println(s"[verify] $name expects ${ClothingSource.csvPath(d)} and " +
            s"${ClothingSource.seedPath(d)} (in $sfDir, else GRAFT_CLOTHING_DIR, " +
            s"default ${ClothingSource.defaultDir})")
        }
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

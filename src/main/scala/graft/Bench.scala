package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: a FULL-SUITE warm-up pass before any timing, then median
  * of 5 timed runs per query in a fixed order (alphabetical, except q12 —
  * the most GC-heavy query — forced last so its pressure can't contaminate
  * the sub-second queries). Round-4 verdict: per-query warm-up still let the first
  * timed query absorb one-time costs (JIT of shared codegen paths, parquet
  * footer/file-listing caches shared across queries) and HashMap iteration
  * order shuffled which query paid them — q01 swung 2.3 s vs 0.63 s on an
  * identical binary. Warming the whole suite first pays those costs outside
  * every timing window. At sf0.1 the warm-up compiles the suite's 202
  * generated classes, and the session's codegen cache (`Graft.session`)
  * keeps them all, so no timed run compiles. Under Spark's default cache of
  * 100 classes the first timed run of each query recompiled 199 of them,
  * and q12 recompiled 21-22 in each later run. A failed query is reported
  * with time = -1.0 so a crash can never masquerade as a fast run; the
  * exception goes to stderr.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)

    // noop sink: fully materializes every output column (count() would let
    // Catalyst prune the select list and time a cheaper plan than the query)
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // q12 (label propagation, ~1/3 of suite time) is timed LAST so its GC +
    // shuffle pressure can't contaminate the sub-second queries that would
    // otherwise follow it — r14→r15 showed 3.7-4.3x identical-binary swings.
    val ordered = SparkEntry.queries.toSeq.sortBy { case (k, _) =>
      (if (k == "q12_label_propagation") 1 else 0, k)
    }
    // full-suite warm-up: JIT + codegen + file-listing caches for EVERY
    // query before ANY timing starts
    ordered.foreach { case (_, fn) =>
      try runOnce(fn)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val results = ordered.map { case (name, fn) =>
      val t =
        try {
          val times = Seq.fill(5)(runOnce(fn)).sorted
          times(2) // median of 5
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            -1.0
        }
      name -> t
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}

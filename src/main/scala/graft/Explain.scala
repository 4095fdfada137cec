package graft

/** Plan-audit main: prints the formatted physical plan of the named queries
  * (all of them by default) at the given sf dir. Used to verify pushdown /
  * broadcast / WindowGroupLimit / codegen spans after every change. Runs
  * with `graft.materialize=none`, so q12's spread and q17's candidate set
  * print their full plans instead of a checkpoint scan.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Graft.session("local[4]", 4)
    spark.conf.set("graft.materialize", "none")
    names.foreach { n =>
      println(s"\n================ $n ================")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Exception => println(s"[explain] $n failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

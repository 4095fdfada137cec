package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit main: runs each named query (all of them by default) at the
  * given sf dir into the noop sink, as `Bench` does, and prints the formatted
  * final adaptive plan of every execution the run performed, in order and
  * labelled with its action name. `Graft.materialize` is an execution of its
  * own (`localCheckpoint`), so q12 and q17 print one plan per checkpoint,
  * then the final write (`overwrite`), the later ones reading the
  * checkpoints as `Scan ExistingRDD`; q12's spread iterates its small graph
  * in the driver, so there the second execution is the edges' `collect` and
  * the write reads a `LocalTableScan`. Used to verify
  * pushdown / broadcast / WindowGroupLimit / codegen spans and per-stage row
  * counts after every change. Sized like `Verify` (`SPARK_GRAFT_CPUS`).
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(s"local[$cpus]", cpus)
    names.foreach { n =>
      println(s"\n================ $n ================")
      executedPlans(spark, sfDir, n).foreach { case (action, plan) =>
        println(s"---------------- $action ----------------\n$plan")
      }
    }
    spark.stop()
  }

  /** (action name, formatted plan) of every execution that sinking query
    * `name` on `sfDir` to `noop` performs, in order. A run that throws ends
    * the list with ("failed", its message). */
  def executedPlans(spark: SparkSession, sfDir: String, name: String): Seq[(String, String)] =
    executedPlans(spark, name)(SparkEntry.queries(name)(spark, sfDir))

  /** The same for sinking `query`, named `name` in a failure. */
  def executedPlans(spark: SparkSession, name: String)(query: => DataFrame): Seq[(String, String)] = {
    val plans = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += action -> qe.explainString(FormattedMode) }
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events of earlier runs must not reach this listener
    Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val failure = Try(query.write.format("noop").mode("overwrite").save())
      .failed.toOption.map(e => "failed" -> s"$name failed: ${e.getMessage}")
    Bridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq) ++ failure
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (tests fork a single JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Graft.session("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Minimal access bridge: a few Catalyst APIs graft needs (Column <->
  * Expression, AbstractDataType for ExpectsInputTypes) are `private[sql]`
  * in Spark 4.x and the listener bus is `private[spark]`, so this one object
  * lives under the org.apache.spark.sql namespace — the conventional
  * pattern for Spark extension libraries.
  * Everything else in graft stays in its own packages. */
object Bridge {
  type AbstractType = AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def typeCollection(types: AbstractDataType*): AbstractDataType = TypeCollection(types: _*)
  def asAbstract(t: DataType): AbstractDataType = t

  /** Drop the storage blocks behind a `localCheckpoint()`ed DataFrame once
    * its consumers are themselves materialized. localCheckpoint blocks are
    * otherwise freed only when the ContextCleaner notices the RDD is
    * unreachable (GC-driven), which in a long benchmark session lets dead
    * MEMORY_AND_DISK blocks pile up between collections. No-op for plans
    * that are not a checkpoint scan. */
  def dropCheckpointBlocks(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The bytes a `localCheckpoint()`ed DataFrame's blocks hold, memory plus
    * disk, summed over its partitions as the block manager master reports
    * them. The read is synchronous, unlike `SparkContext.getRDDStorageInfo`,
    * whose status store the listener bus fills later. None for a plan that
    * is not a scan of a stored RDD. */
  def checkpointBytes(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getStorageLevel.isValid =>
        Some(l.rdd.partitions.indices.map { p =>
          SparkEnv.get.blockManager.master
            .getBlockStatus(RDDBlockId(l.rdd.id, p), askStorageEndpoints = true)
            .values.map(s => s.memSize + s.diskSize).sum
        }.sum)
      case _ => None
    }

  /** Block until every event posted so far has reached its listeners, so a
    * `QueryExecutionListener`'s results can be read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

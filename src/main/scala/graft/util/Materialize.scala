package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one release policy for the relations an operator caches: a scope
  * releases everything it registered — [[persist]]ed frames, [[adopt]]ed
  * local checkpoints — when it exits, by a return or a throw, so no cache
  * outlives its operator in a long-lived session.
  *
  *   Materialize { m =>
  *     val shared = m.persist(expensive) // read by several consumers
  *     m.result(pairs(shared))           // eager checkpoint, then release
  *   }
  *
  * A plain return releases only (scalar results, frames that are already
  * materialized). A checkpoint is released by unpersisting its RDD:
  * `Dataset.unpersist` consults only the cache manager, which never saw
  * it.
  */
final class Materialize private {
  private val persisted = ArrayBuffer.empty[DataFrame]
  private val checkpoints = ArrayBuffer.empty[RDD[_]]

  /** `df` persisted (memory and disk) until the scope exits. */
  def persist(df: DataFrame): DataFrame = {
    persisted += df
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Release a local checkpoint made elsewhere — a loop state once its
    * successor is filled — when the scope exits.
    */
  def adopt(checkpoint: DataFrame): Unit =
    checkpoints += (checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a local checkpoint: ${p.nodeName}")
    })

  /** `df` computed now into an eager local checkpoint, so the release
    * cannot reach what it reads.
    */
  def result(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def release(): Unit = {
    persisted.foreach(_.unpersist())
    checkpoints.foreach(_.unpersist(blocking = false))
  }
}

object Materialize {
  def apply[T](body: Materialize => T): T = {
    val m = new Materialize
    try body(m) finally m.release()
  }
}

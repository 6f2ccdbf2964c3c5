package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Checkpoint-block bridge. `Dataset.localCheckpoint()` persists an internal
 * RDD and wraps it in a `LogicalRDD` — but `Dataset.unpersist()` only talks
 * to the CacheManager, so there is NO public way to release a superseded
 * checkpoint's blocks before driver GC gets around to it. Iterative
 * algorithms ([[graft.operators.ConnectedComponents]]) would otherwise pin
 * up to `MaxIters` copies of their state in executor storage. `LogicalRDD` is
 * `private[sql]`; same one-object remedy as [[ColumnBridge]].
 */
object RddBridge {
  /** The persisted RDD behind a localCheckpoint'ed Dataset, if that is what
    * the Dataset is (None for any other plan — callers must not guess). */
  def checkpointRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
}

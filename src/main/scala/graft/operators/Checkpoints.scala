package graft.operators

import org.apache.spark.sql.{DataFrame, GraftLeaf}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way graft pins an intermediate: `pin` persists `df`'s physical
  * rows MEMORY_AND_DISK as `UnsafeRow` copies under a one-node plan, so
  * iterative rounds keep a constant-size plan, every consumer reads one
  * materialization, and a block lost with its executor is recomputed from
  * lineage. Under AQE the call runs `df`'s shuffle stages; the first
  * action (or `eager`'s count) stores the rows. */
private[graft] object Checkpoints {

  def pin(df: DataFrame, eager: Boolean = false): DataFrame = {
    val rows = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (eager) rows.count()
    GraftLeaf.over(df, rows)
  }

  /** Frees the blocks of a pinned frame. Call on a superseded round once
    * the next one is materialized; the frame must not be read again. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}

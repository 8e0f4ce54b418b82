package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** The leaf `graft.operators.Checkpoints.pin` returns: a frame that scans
  * `rows` and carries `origin`'s output, partitioning, ordering and
  * statistics, the shape Spark's local checkpoint builds over its own RDD.
  * `LogicalRDD.fromDataset` and `Dataset.ofRows` are package-private to
  * Spark's SQL module, so this one call lives in its package. */
object GraftLeaf {
  def over(origin: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, ds.isStreaming).newInstance())
  }
}

package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The one way the engine turns an RDD back into a DataFrame: its
  * InternalRows under a `LogicalRDD` leaf that reports the exact row
  * count and a size from it, so sorts and joins over the frame plan as
  * over any relation of that size ([[graft.GatherSmallPlan]]), and no row
  * passes through a Row encoder. `classic.Dataset.ofRows` is private to
  * this package, hence the object's place.
  */
object GraftFrames {
  /** `rdd`'s `n` rows of `schema` as a DataFrame. */
  def ofRows(s: SparkSession, schema: StructType, rdd: RDD[InternalRow], n: Long): DataFrame = {
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(output) * n, rowCount = Some(n))
    val session = s.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(output, rdd)(session, Some(stats), None))
  }
}

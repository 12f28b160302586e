package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The package-private planner hooks graft's superstep results need.
  * [[sized]]: a DataFrame over an RDD whose row count the caller
  * bounds. A public `createDataFrame` or `toDF` over an RDD is sized at
  * `spark.sql.defaultSizeInBytes`, so the planner never broadcasts it and
  * every join reading it plans a shuffle of both sides; this frame is
  * sized at `maxRows` rows of its schema's width, as a local checkpoint
  * of a planned frame carries that plan's estimate. [[local]]: rows
  * already on the driver, planned as a `LocalTableScan`, as a `toDF`
  * over a `Seq` is. */
object GraftFrames {
  def sized(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      maxRows: Long): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * maxRows,
      Some(BigInt(maxRows)))
    classic.Dataset.ofRows(session, LogicalRDD(output, rows)(session, Some(stats)))
  }
  def local(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

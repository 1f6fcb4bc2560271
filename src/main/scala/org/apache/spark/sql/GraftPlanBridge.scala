package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Dataset.ofRows that Spark 4 keeps out
  * of the public API. Lives in the `org.apache.spark.sql` package
  * solely to let graft materialize a DataFrame from a hand-built
  * LogicalPlan (the manifest-backed HadoopFsRelation scan, the vector
  * kernels' row passes); no Spark internals are modified.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an executor-side `InternalRow` pass (a
    * `LogicalRDD`): rows stay in Catalyst's format, so columns of any
    * type pass through unconverted.
    */
  def ofInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
                     schema: StructType): DataFrame =
    ofRows(spark, LogicalRDD(DataTypeUtils.toAttributes(schema), rdd)(
      spark.asInstanceOf[classic.SparkSession]))

  /** A DataFrame over driver-side `InternalRow`s (a `LocalRelation`). */
  def ofLocalRows(spark: SparkSession, rows: Seq[InternalRow],
                  schema: StructType): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

package org.apache.spark.sql.graftinterop

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.StructType

/** `Dataset.ofRows` / the analyzed plan are `private[sql]` in Spark 4;
  * this shim exposes just enough to wrap a custom `LogicalPlan` node
  * around an existing DataFrame (see graft.plans.GroupedTopKNode), and
  * to turn an RDD of Catalyst rows back into a DataFrame without a
  * per-row conversion (see graft.operators.GraphOps).
  */
object PlanInterop {
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A DataFrame over `rows`, whose values must already be Catalyst
    * values of `schema` (UTF8String, boxed primitives, ...). Lazy: the
    * RDD runs when the DataFrame's first action does.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession]
      .internalCreateDataFrame(rows, schema)
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The `private[sql]` doorways the store and the custom-plan tier need:
  * turn a hand-built [[LogicalPlan]] into a user-facing DataFrame
  * (`Dataset.ofRows` — package-private to `org.apache.spark.sql`,
  * which is why this object lives under it), and make a schema
  * nullable as Spark's Parquet writer does (`StructType.asNullable`),
  * and give a file reader the session's Hadoop conf.
  * Everything else in the custom-operator stack (logical node,
  * strategy, exec node, `extraStrategies` registration) uses public
  * APIs.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** `schema` with every field nullable, at every depth. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** A new Hadoop conf with the session's SQL settings, as a file scan
    * of `spark` gets it. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[ClassicSparkSession].sessionState.newHadoopConf()
}

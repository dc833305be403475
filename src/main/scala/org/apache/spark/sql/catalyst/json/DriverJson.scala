package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.DataType

/** Two `private[sql]` members of Spark's JSON source, for reading a
  * request body on the driver (`graft.api.RequestParser`). */
object DriverJson {

  /** `JsonInferSchema.canonicalizeType`: the step of schema inference
    * that turns null types into strings and drops empty structs. */
  def canonicalize(inference: JsonInferSchema, dt: DataType,
                   options: JSONOptions): Option[DataType] =
    inference.canonicalizeType(dt, options)

  /** A DataFrame over `plan`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

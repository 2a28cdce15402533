package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** Rows already in Spark's internal format as a DataFrame. The public
  * `createDataFrame` takes external `Row`s and converts each one again; the
  * internal entry point is package-private to Spark, and this shim is the
  * engine's only use of it.
  */
object InternalRows {
  def toDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rows, schema)
}

package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame straight over an RDD of catalyst rows (a `LogicalRDD`
  * scan): no encoder, no per-row object serialization. The converter
  * is `private[sql]`, hence this subpackage — the same idiom as
  * [[ColumnShim]].
  */
object FrameShim {
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** RDD shim: an RDD's checkpoint data, `SparkContext.unpersistRDD` and
  * `SparkSession.internalCreateDataFrame` are private to Spark. */
object RddBridge {
  /** Unpersist `rdd` and wait for its blocks to go. A locally
    * checkpointed RDD is released through the context, which drops the
    * same blocks and persistence entry as `rdd.unpersist` without its
    * warning that the truncated lineage cannot be recomputed (the caller
    * is dropping it on purpose). */
  def release(rdd: RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: LocalRDDCheckpointData[_]) => rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
    case _ => rdd.unpersist(blocking = true)
  }

  /** A DataFrame over Catalyst rows that already match `schema`, planned
    * as a `LogicalRDD`: no `Row` encoder, and no per-row conversion, since
    * the scan node projects each row straight into its own buffer. */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    castToImpl(spark).internalCreateDataFrame(rows, schema)
}

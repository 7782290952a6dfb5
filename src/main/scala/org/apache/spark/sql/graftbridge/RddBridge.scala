package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** RDD lifecycle shim: an RDD's checkpoint data and
  * `SparkContext.unpersistRDD` are `private[spark]`. */
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
}

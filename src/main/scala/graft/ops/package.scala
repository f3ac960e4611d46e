package graft

import org.apache.spark.sql.SparkSession

package object ops {

  /** The session's `spark.sql.shuffle.partitions`, or 32 when it is unset:
    * the default width of the ops that size their own range partitioning,
    * row/time blocks or output files. */
  private[graft] def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
}

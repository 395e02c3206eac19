package graft

import org.apache.spark.sql.SparkSession

/** Runs a block under one session conf value and restores the old value
  * after, for specs that compare a result across settings. */
object SessionConf {
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` at `spark.sql.shuffle.partitions` 4 and 8. */
  def atPartitions4And8[T](spark: SparkSession)(body: => T): (T, T) =
    (withConf(spark, "spark.sql.shuffle.partitions", "4")(body),
      withConf(spark, "spark.sql.shuffle.partitions", "8")(body))
}

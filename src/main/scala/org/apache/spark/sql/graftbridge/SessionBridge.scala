package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Session cloning and plan rebinding, `private[sql]` in Spark 4 and
  * reached from this subpackage like [[ColumnBridge]]'s conversions.
  */
object SessionBridge {
  /** A new session sharing `spark`'s SparkContext, CacheManager and
    * catalog, with a copy of its runtime conf, temp views, functions and
    * `QueryExecutionListener`s taken now. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of `spark`: it plans and executes
    * under `spark`'s conf. The plan is re-analyzed there, so persisted
    * subplans still match the shared CacheManager. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.logical)
}

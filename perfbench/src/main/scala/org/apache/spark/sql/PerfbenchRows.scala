package org.apache.spark.sql

import org.apache.spark.sql.classic.{SparkSession => CSparkSession}

/** The rows of a query's already-planned physical plan as a DataFrame, so
  * that writing them out executes the plan once without planning it again
  * under a write command. */
object PerfbenchRows {
  def executed(df: DataFrame): DataFrame =
    df.sparkSession.asInstanceOf[CSparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
}

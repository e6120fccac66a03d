package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Minimal bridge to Spark's `private[sql]` entry points, so it lives
  * in the sql namespace (the established pattern for Spark-native
  * extension libraries): `ofRows` (a hand-built [[LogicalPlan]] as a
  * DataFrame), `cloneSession` (see `graft.engine.QuerySession`) and
  * `rebind`, which takes the command-executed plan so a frame made by
  * an INSERT or DELETE statement is not executed again. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    Dataset.ofRows(spark, plan)

  def cloneSession(spark: SparkSession): SparkSession = spark.cloneSession()

  def rebind(df: DataFrame, spark: SparkSession): Dataset[Row] =
    Dataset.ofRows(spark, df.asInstanceOf[Dataset[Row]].logicalPlan)
}

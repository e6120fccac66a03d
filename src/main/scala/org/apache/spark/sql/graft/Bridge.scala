package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Minimal bridge to Spark's `private[sql]` entry points, so it lives
  * in the sql namespace (the established pattern for Spark-native
  * extension libraries): `ofRows` (a hand-built [[LogicalPlan]] as a
  * DataFrame), `cloneSession` (see `graft.engine.QuerySession`),
  * `rebind`, which takes the command-executed plan so a frame made by
  * an INSERT or DELETE statement is not executed again, and the two
  * hooks `graft.engine.QueryMetrics` reads events through. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    Dataset.ofRows(spark, plan)

  def cloneSession(spark: SparkSession): SparkSession = spark.cloneSession()

  def rebind(df: DataFrame, spark: SparkSession): Dataset[Row] =
    Dataset.ofRows(spark, df.asInstanceOf[Dataset[Row]].logicalPlan)

  /** The executed query of a SQL execution's end event (null when
    * Spark did not attach one). */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Blocks until every event posted to the context's listener bus so
    * far has been delivered (at most 10 s). */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

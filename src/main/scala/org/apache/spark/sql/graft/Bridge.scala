package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession,
  StreamingQueryManager}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.internal.SessionState
import org.apache.spark.sql.streaming.StreamingQuery

/** Minimal bridge to Spark's `private[sql]` entry points, so it lives
  * in the sql namespace (the established pattern for Spark-native
  * extension libraries): `ofRows` (a hand-built [[LogicalPlan]] as a
  * DataFrame), `column` (a hand-built Catalyst expression as a
  * Column: graft's native functions), `cloneSession` (see
  * `graft.engine.QuerySession`),
  * `rebind`, which takes the command-executed plan so a frame made by
  * an INSERT or DELETE statement is not executed again, the two
  * hooks `graft.engine.QueryMetrics` reads events through, and the
  * two that drop a finished stream's listener buses. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    Dataset.ofRows(spark, plan)

  /** The column of the expression `node` builds over `args`' own
    * expressions: a native function call the analyzer resolves like a
    * built-in, with no function registry. */
  def column(args: Column*)(node: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(node(args.map(ExpressionUtils.expression)))

  def cloneSession(spark: SparkSession): SparkSession = spark.cloneSession()

  def rebind(df: DataFrame, spark: SparkSession): Dataset[Row] =
    Dataset.ofRows(spark, df.asInstanceOf[Dataset[Row]].logicalPlan)

  /** The executed query of a SQL execution's end event (null when
    * Spark did not attach one). */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Blocks until every event posted to the context's listener bus so
    * far has been delivered (at most 10 s). */
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes the listener bus `spark` added to its context's on the
    * first touch of its `streams` (Spark never removes it); a no-op
    * for a session that never touched them. An event posted before
    * reaches `spark`'s streaming listeners only if [[awaitListeners]]
    * delivered it first. */
  def dropStreamBus(spark: SparkSession): Unit = {
    val manager = classOf[SessionState].getDeclaredField("streamingQueryManager")
    manager.setAccessible(true)
    val bus = classOf[StreamingQueryManager].getDeclaredField("listenerBus")
    bus.setAccessible(true)
    Option(manager.get(spark.sessionState)).foreach(m =>
      spark.sparkContext.listenerBus.removeListener(
        bus.get(m).asInstanceOf[SparkListenerInterface]))
  }

  /** The session Spark cloned to run `q`'s batches on. */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
}

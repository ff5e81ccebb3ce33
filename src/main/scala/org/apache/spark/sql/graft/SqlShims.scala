package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** Bridge into `private[sql]` Spark surface: wrap a raw Catalyst
  * [[Expression]] as a user-facing [[Column]] and register expression
  * builders in the session function registry. This is the same mechanism
  * third-party Spark libraries use to expose native (codegen) expressions
  * without going through slow black-box UDFs. Also the classic-session
  * helpers a driver-side thread pool needs (`private[spark]` utilities).
  */
object SqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a logical plan as a DataFrame (the hook every library with
    * custom logical operators needs; `Dataset.ofRows` is private[sql]). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** Run `body` on `pool` with the calling thread's SparkContext local
    * properties (job tags, job group, description, scheduler pool) and
    * active session, as Spark's own broadcast and AQE threads do. */
  def withThreadLocalCaptured[T](spark: SparkSession, pool: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(classic(spark), pool)(body)

  /** An unbounded pool of daemon threads named `prefix-N`, idle ones
    * retired after 60 s. */
  def daemonCachedPool(prefix: String): ExecutorService =
    ThreadUtils.newDaemonCachedThreadPool(prefix)

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column↔Expression bridge `private[sql]`
  * (Connect-compatible facade); custom Catalyst expressions still need
  * it.  This shim lives in the `org.apache.spark.sql` package tree to
  * re-export the two conversions — the standard pattern for Spark
  * extension libraries. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** EAGER Column→Expression conversion: a real catalyst tree
    * (UnresolvedAttribute / SortOrder / …) instead of the lazy
    * `ColumnNodeExpression` wrapper `expression` returns.  Required
    * when the expression embeds in a CUSTOM logical node — the
    * analyzer resolves generic expression trees inside unknown nodes,
    * but never forces the lazy wrapper, which then reaches execution
    * unevaluable. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a raw logical plan (`Dataset.ofRows` is
    * `private[sql]`) — needed by operators that inject a custom
    * LogicalPlan node (e.g. [[graft.plans.TopKPerKey]]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `body` with `spark` as the calling thread's active session and
    * restore the previous one afterwards (`SparkSession.withActive` is
    * `private[sql]`). */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    spark.withActive(body)

  /** The RDD ids a checkpointed/cached DataFrame itself pins (the
    * `LogicalRDD` that `localCheckpoint()` leaves in the analyzed
    * plan).  Lets a caller unpersist exactly the blocks it created —
    * diffing the session-global persistent-RDD set instead would
    * evict blocks pinned concurrently by another job or streaming
    * query on the same SparkSession. */
  def pinnedRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  /** Release exactly the blocks `df`'s own checkpoint pins (async).
    * The targeted form of "unpersist what I created" — iterative
    * operators that checkpoint per round use it to keep live blocks
    * at O(current round), not O(rounds). */
  def unpersistPinned(spark: org.apache.spark.sql.SparkSession,
                      df: org.apache.spark.sql.DataFrame): Unit = {
    val ids = pinnedRddIds(df).toSet
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}

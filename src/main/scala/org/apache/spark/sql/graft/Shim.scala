package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API (which in Spark 4.x wraps a
  * `ColumnNode`, not a catalyst `Expression`) and custom catalyst
  * expressions. Lives under `org.apache.spark.sql` to reach the
  * `private[sql]` conversion helpers — the standard technique for
  * libraries shipping native expressions.
  */
object Shim {
  /** Public alias for the `private[sql]` abstract-type lattice, so the
    * engine's expressions can declare `ExpectsInputTypes.inputTypes`
    * from their own package.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session-scoped Hadoop configuration (fs.* settings, credentials) —
    * what a connector must hand its readers/writers so paths resolve the
    * same way the rest of the session resolves them.
    */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** Whether a SQL conf was EXPLICITLY set in this session — the public
    * `RuntimeConfig.getOption` answers with registered defaults, which
    * cannot distinguish "caller never chose" from "caller pinned the
    * default".
    */
  def confExplicitlySet(spark: org.apache.spark.sql.SparkSession, key: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(key)

  /** The analyzed logical plan behind a DataFrame, and a DataFrame over
    * a logical plan — how an operator outside `org.apache.spark.sql`
    * wraps a custom logical node.
    */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  def frame(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Whether the session's planner runs `strategy`. */
  def plansWith(spark: org.apache.spark.sql.SparkSession, strategy: AnyRef): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies.contains(strategy)
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface, the standard pattern for
  * Spark extension libraries: converts between the public Column API and
  * catalyst Expressions so graft's native expressions (graft.plans.*) can be
  * exposed as Columns.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a registry
    * (test/introspection hook; sessions do this at build time). */
  def registerFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** The analyzed LogicalPlan of a DataFrame (for embedding as a scalar
    * subquery — e.g. a bloom filter built by one plan and probed by
    * another, Spark's own runtime-filter shape). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The session's UUID (classic runtime): unique per session for the
    * JVM's life, so a key built from it never aliases a dead session. */
  def sessionId(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Build a DataFrame from a catalyst LogicalPlan (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's rows in Spark's internal form (classic `toRdd`): the
    * values a file writer's `OutputWriter` receives. */
  def internalRows(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd
}

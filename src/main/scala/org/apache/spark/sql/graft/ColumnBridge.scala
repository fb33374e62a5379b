package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression and session ⇄ session bridges.
  *
  * Spark 4 moved the Column API onto ColumnNode, making the
  * Expression-backed constructor `private[sql]`; libraries that ship
  * native Catalyst expressions conventionally bridge it from an
  * `org.apache.spark.sql` subpackage (the same approach used by
  * published Spark extension libraries). This is the only file outside
  * the `graft` namespace, and it contains no logic — just the
  * visibility-restricted conversions graft's typed Column API and its
  * isolated-session scope ([[graft.GraftConf.isolated]]) need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s analyzed plan as a frame of `session`: it is planned and run
    * under that session's conf, and reads the same shared cache. */
  def ofRows(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)
}

package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression, session ⇄ session and SparkConf → Hadoop conf
  * bridges.
  *
  * Spark 4 moved the Column API onto ColumnNode, making the
  * Expression-backed constructor `private[sql]`; libraries that ship
  * native Catalyst expressions conventionally bridge it from an
  * `org.apache.spark.sql` subpackage (the same approach used by
  * published Spark extension libraries). This is the only file outside
  * the `graft` namespace, and it contains no logic — just the
  * visibility-restricted conversions graft's typed Column API, its
  * isolated-session scope ([[graft.GraftConf.isolated]]) and its shared
  * Hadoop conf ([[graft.sources.HadoopFs]]) need.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s analyzed plan as a frame of `session`: it is planned and run
    * under that session's conf, and reads the same shared cache. */
  def ofRows(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.analyzed)

  /** The Hadoop conf Spark builds from `conf`, as it builds
    * `SparkContext.hadoopConfiguration`: Hadoop's defaults plus the
    * `spark.hadoop.*` keys. */
  def hadoopConf(conf: SparkConf): Configuration = SparkHadoopUtil.get.newConfiguration(conf)
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs — one local[4] session per suite. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftConf.builder("local[4]", 4)
    .appName(getClass.getSimpleName)
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()
}

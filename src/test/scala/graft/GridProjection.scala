package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

/** Row assembly of the file-grid connectors under column pruning. */
object GridProjection {

  /** `full.select(cols)` scans with exactly `cols` as its read schema,
    * and its rows equal `cols` taken from `full`'s complete rows (as
    * multisets). Returns those rows. */
  def check(full: DataFrame, cols: Seq[String]): Seq[Seq[Any]] = {
    val pruned = full.select(cols.map(col): _*)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }
    assert(scan.exists(_.output.map(_.name).toSet == cols.toSet),
      pruned.queryExecution.executedPlan.toString)
    val got = pruned.collect().map(_.toSeq).toSeq
    val want = full.collect()
      .map(r => cols.map(c => r.get(r.fieldIndex(c)))).toSeq
    assert(want.nonEmpty)
    def key(row: Seq[Any]) = row.mkString("\u0001")
    assert(got.map(key).sorted == want.map(key).sorted,
      s"pruned ${got.take(5)} vs full ${want.take(5)}")
    got
  }
}

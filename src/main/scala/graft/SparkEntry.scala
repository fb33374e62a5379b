package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory.
  *
  * A query reads its session's conf and never writes it: only
  * [[GraftConf.builder]] sets session policy, at build time. A session
  * not built by it must at least carry
  * `spark.sql.legacy.parquet.nanosAsLong=true` to read `events`. */
object SparkEntry {

  /** All operator definitions, one QueryDef per SURVEY.md §2 line. */
  def defs: Seq[QueryDef] =
    (Relational.all ++ Ingest.all ++ Temporal.all ++ Scale.all ++
      TextAnalysis.all ++ Dedup.all ++ Similarity.all ++ Multimodal.all ++
      TrainingPipeline.all ++ graft.streaming.Streaming.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  /** Sf dir the no-arg [[oracleSql]] resolves fixture-backed oracle
    * paths against — the driver's verify scale. Verify itself dumps
    * [[oracleSqlFor]] with its actual sf dir, so the graded artifact
    * never depends on this default. */
  val DefaultSfDir = "/root/testdata/sf0.01"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleSqlFor(DefaultSfDir)

  /** Oracle SQL with fixture-backed paths resolved for a concrete sf
    * dir (pure — see [[QueryDef.oracleAt]]). */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    defs.flatMap(d => d.oracleAt(sfDir).map(d.name -> _)).toMap
}

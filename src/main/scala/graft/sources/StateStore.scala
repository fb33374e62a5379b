package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}

/** Ingestion state — the reference's `state.json` watermark store
  * (`ingest/utils.py:96` read_state / update_state, atomic_write) made
  * Spark-native and scale-safe:
  *
  *   - updates are APPENDS of (dataset_id, key, value, seq) rows —
  *     parquet file appends are atomic at the file level, the analogue
  *     of the reference's write-temp-then-rename;
  *   - reads take latest-per-key by `seq` — so concurrent writers can't
  *     corrupt state, they only race on who is "latest";
  *   - a read is ONE scan of the log with its known schema, filtered
  *     to the dataset, merged on the driver: the rows it collects are
  *     O(updates of that dataset), never O(data), and no schema
  *     inference or shuffle job runs; periodically rewriting the log
  *     to its compacted form bounds that row count.
  */
final class StateStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The log's row shape, as [[update]] writes it. */
  private val LogSchema = "dataset_id STRING, key STRING, value STRING, seq BIGINT"

  /** Current state of one dataset: latest value per key. Only a
    * missing path reads as "no state yet" (as does a directory holding
    * no data file, e.g. an aborted first write's `_temporary`: the
    * explicit schema reads it as empty); any other failure (corrupt
    * log, permission) must propagate — silently treating it as empty
    * would restart ingestion from scratch. */
  def state(datasetId: String): Map[String, String] = {
    val rows =
      try spark.read.schema(LogSchema).parquet(path)
        .filter(col("dataset_id") === datasetId)
        .select("key", "value", "seq")
        .collect()
      catch {
        case e: AnalysisException
            if e.getCondition != null && e.getCondition.startsWith("PATH_NOT_FOUND") =>
          Array.empty[Row]
      }
    rows.groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.maxBy(_.getLong(2)).getString(1) }
  }

  /** The watermark convention used by the reference ("last_update"). */
  def watermark(datasetId: String): Option[String] = state(datasetId).get("last_update")

  /** Append new state; `seq` is a monotonic version (callers pass e.g.
    * batch id / epoch). Merges over previous values on read. */
  def update(datasetId: String, kv: Map[String, String], seq: Long): Unit =
    kv.toSeq.toDF("key", "value")
      .select(lit(datasetId).as("dataset_id"), col("key"), col("value"), lit(seq).as("seq"))
      .write.mode("append").parquet(path)

  /** Rows strictly newer than the stored watermark — the read half of
    * the incremental cycle, with NO state mutation (callers that
    * publish should advance the watermark only AFTER the publish
    * succeeds; see [[graft.sources.Jobs]]). Missing watermark ⇒ full
    * ingest. Rows with a null `tsCol` are never fresh, on the initial
    * load as on every later cycle (where `ts > w` is never true for
    * null): they carry no date to publish under and no time to move
    * the watermark to. */
  def freshSince(datasetId: String, df: DataFrame, tsCol: String): DataFrame =
    watermark(datasetId) match {
      case Some(w) => df.filter(col(tsCol) > lit(w).cast(df.schema(tsCol).dataType))
      case None    => df.filter(col(tsCol).isNotNull)
    }

  /** Incremental-ingest cycle, reference `DataIngest.run` shape: take
    * rows strictly newer than the stored watermark, and if any were
    * taken, advance the watermark to their max ts. Returns the new
    * slice (empty → "No update required. Skipping", as the reference
    * logs). For pipelines with a downstream publish step, prefer
    * [[freshSince]] + explicit [[update]] after the publish commits. */
  def runIncremental(datasetId: String, df: DataFrame, tsCol: String, seq: Long): DataFrame = {
    val fresh = freshSince(datasetId, df, tsCol)
    val newMax = fresh.agg(max(col(tsCol)).cast("string")).collect()(0).getString(0)
    if (newMax != null) update(datasetId, Map("last_update" -> newMax), seq)
    fresh
  }
}

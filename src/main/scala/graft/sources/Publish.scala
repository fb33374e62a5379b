package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Publish stage — the reference's output contract
  * (`{output_dir}/{namespace}/{namespace}_{ISO_DATE}.tif` per-date COG
  * files + webhook ingest command, `ingest/__init__.py:96`
  * send_ingest_command) re-expressed as a date-partitioned parquet
  * layout plus a returned ingest payload for the caller's notifier.
  */
object Publish {

  /** The reference's webhook payload shape (`ecmwf_opendata:333`). */
  final case class IngestPayload(namespace: String, path: String, datatype: String)

  /** Write one namespace's data partitioned by date key with dynamic
    * partition overwrite: re-publishing a date replaces exactly that
    * partition (idempotent re-runs, never a full-table rewrite).
    * Returns the payload the reference would POST to its webhook. */
  def writeDatePartitioned(df: DataFrame, outDir: String, namespace: String,
      dateCol: String): IngestPayload = {
    val path = s"$outDir/$namespace"
    df.withColumn("date_key", date_format(col(dateCol), "yyyy-MM-dd"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("date_key").parquet(path)
    IngestPayload(namespace, path, "parquet")
  }

  /** PHYSICAL retention on the published layout — actually deletes the
    * date-partition directories older than `cutoffDateKey` (reference
    * `delete_past_data_files`, `ingest/utils.py:141`, and the vector
    * table's `DELETE WHERE date < latest`, `raster_vector.py:170`).
    * Partition-dir deletion is O(#dropped partitions) metadata work —
    * never a table rewrite. Returns the dropped date keys. */
  def dropOldPartitions(spark: SparkSession, outDir: String, namespace: String,
      cutoffDateKey: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(s"$outDir/$namespace")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Seq.empty
    else {
      val dropped = fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
        .filter { p =>
          p.getName.startsWith("date_key=") &&
            p.getName.stripPrefix("date_key=") < cutoffDateKey
        }
      dropped.foreach(p => fs.delete(p, true))
      dropped.map(_.getName.stripPrefix("date_key=")).toSeq.sorted
    }
  }
}

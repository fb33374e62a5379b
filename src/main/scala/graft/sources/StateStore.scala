package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Ingestion state — the reference's `state.json` watermark store
  * (`ingest/utils.py:96` read_state / update_state, atomic_write) as an
  * append-only parquet log of (dataset_id, key, value, seq) rows:
  *
  *   - an update writes its rows to a hidden `.tmp-<uuid>.parquet` in
  *     the log directory and renames it to `part-<uuid>.parquet`: the
  *     file-level atomic append, the analogue of the reference's
  *     write-temp-then-rename. A crash before the rename leaves only a
  *     hidden file, which no read lists;
  *   - a read lists the log directory once and takes latest-per-key by
  *     `seq` on the driver — so concurrent writers can't corrupt state,
  *     they only race on who is "latest";
  *   - both run on the driver through parquet-mr, with no Spark job: a
  *     log holds a few rows per data cycle, so a query's planning, job
  *     and file-commit protocol would cost far more than the rows;
  *   - log files are immutable, so each instance caches the rows it
  *     parsed per file, keyed by name, length and modification time. A
  *     read costs one listing plus the files it has not seen yet; a file
  *     another writer appends is read when first listed, and a deleted
  *     file drops out. Nothing compacts the log: it grows by one file
  *     per update, and a read's listing grows with it.
  *
  * The files stay readable by Spark as
  * `spark.read.schema(StateStore.LogSchema).parquet(path)`, and logs
  * Spark wrote with that schema read the same.
  */
final class StateStore(spark: SparkSession, path: String) {
  import StateStore._

  private val dir = new Path(path)
  /** Parsed rows of each log file seen, by file name. */
  private val seen = TrieMap.empty[String, LogFile]

  /** Current state of one dataset: latest value per key. Only a
    * missing path reads as "no state yet" (as does a directory holding
    * no data file, e.g. an aborted first write's `_temporary`); any
    * other failure (corrupt log, permission) must propagate — silently
    * treating it as empty would restart ingestion from scratch. */
  def state(datasetId: String): Map[String, String] =
    logRows().filter(_.datasetId == datasetId).groupBy(_.key)
      .map { case (k, rs) => k -> rs.maxBy(_.seq).value }

  /** The watermark convention used by the reference ("last_update"). */
  def watermark(datasetId: String): Option[String] = state(datasetId).get("last_update")

  /** Append new state; `seq` is a monotonic version (callers pass e.g.
    * batch id / epoch). Merges over previous values on read. */
  def update(datasetId: String, kv: Map[String, String], seq: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    val id = UUID.randomUUID()
    val tmp = new Path(dir, s".tmp-$id.parquet")
    val dst = new Path(dir, s"part-$id.parquet")
    val rows = kv.toVector.map { case (k, v) => LogRow(datasetId, k, v, seq) }
    val factory = new SimpleGroupFactory(MessageType)
    try {
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        .withConf(conf).withType(MessageType).build()
      try rows.foreach { r =>
        w.write(factory.newGroup().append("dataset_id", r.datasetId)
          .append("key", r.key).append("value", r.value).append("seq", r.seq))
      } finally w.close()
      if (!fs.rename(tmp, dst)) throw new IOException(s"could not rename $tmp to $dst")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }
    val st = fs.getFileStatus(dst)
    seen.put(dst.getName, LogFile(st.getLen, st.getModificationTime, rows))
  }

  /** Every row of the listed log files, parsing only the files this
    * instance has not seen at their listed length and modification time. */
  private def logRows(): Seq[LogRow] = {
    val conf = spark.sessionState.newHadoopConf()
    val listed =
      try dir.getFileSystem(conf).listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Nil }
    // the names Spark's file index skips: metadata, staging, hidden files
    val files = listed.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val names = files.map(_.getPath.getName).toSet
    seen.filterInPlace((name, _) => names(name))
    files.flatMap { s =>
      val name = s.getPath.getName
      seen.get(name).filter(f => f.len == s.getLen && f.mtime == s.getModificationTime)
        .getOrElse {
          val f = LogFile(s.getLen, s.getModificationTime, readFile(s.getPath, conf))
          seen.put(name, f)
          f
        }.rows
    }
  }

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
}

object StateStore {
  /** The log's row shape, as [[StateStore.update]] writes it. */
  private[graft] val LogSchema = "dataset_id STRING, key STRING, value STRING, seq BIGINT"

  private val MessageType = PublishedTable.toMessageType(StructType.fromDDL(LogSchema))

  private final case class LogRow(datasetId: String, key: String, value: String, seq: Long)
  private final case class LogFile(len: Long, mtime: Long, rows: Seq[LogRow])

  /** One log file's rows, columns found by name; a file that is not
    * parquet throws. */
  private def readFile(file: Path, conf: Configuration): Vector[LogRow] = {
    val reader = HadoopFs.parquetReader(new GroupReadSupport(), file, conf)
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      LogRow(g.getString("dataset_id", 0), g.getString("key", 0), g.getString("value", 0),
        g.getLong("seq", 0))
    }.toVector
    finally reader.close()
  }
}

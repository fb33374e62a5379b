package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.types.StringType
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-dataset job definition — the reference's `DataIngest` subclass
  * config (`ingest/jobs.py`: one job per dataset wiring source,
  * transform, output namespace, retention).
  *
  * `transform` must preserve `tsCol` — the publish layout partitions
  * on its date key. `index`, when set, maintains the dataset's
  * [[DedupIndex]] alongside the data: each cycle indexes ONLY the
  * published slice (cost ∝ slice) with the same per-date overwrite
  * idempotency as the data itself. */
final case class DedupIndexSpec(
    indexDir: String,
    idCol: String = "doc_id",
    textCol: String = "text")

/** Optional JDBC vector-table leg (`raster_vector.py`'s Postgres
  * products): the transformed slice also upserts into `table` keyed by
  * the `yyyy-MM-dd` date of `tsCol` (column `dateCol`), one
  * delete+insert transaction per date, with retention riding the same
  * cutoff as the file layout. The table's columns must be the
  * transform's output plus `dateCol`. */
final case class JdbcSinkSpec(
    url: String,
    table: String,
    dateCol: String = "date_key")

final case class JobConfig(
    datasetId: String,
    source: SparkSession => DataFrame,
    tsCol: String,
    transform: DataFrame => DataFrame,
    outDir: String,
    retentionDays: Int,
    index: Option[DedupIndexSpec] = None,
    transactional: Boolean = false,
    jdbc: Option[JdbcSinkSpec] = None)

/** Outcome of one job cycle: the reference either logs
  * "No update required. Skipping", publishes + notifies, or (isolated
  * per dataset) fails and retries the same slice next cycle. */
final case class JobResult(
    datasetId: String,
    ingested: Long,
    skipped: Boolean,
    payload: Option[Publish.IngestPayload],
    publishedDates: Seq[String] = Nil,
    error: Option[String] = None)

/** Post-publish notification hook — the reference's webhook "ingest"
  * command (`ingest/__init__.py:96` send_ingest_command POSTs one
  * command per uploaded per-date file). Invoked once per published
  * (dataset, dateKey) AFTER the partition committed and BEFORE the
  * watermark advances, so notifications are at-least-once: a crashed
  * notify leaves the watermark untouched and the next cycle re-publishes
  * (idempotent partition overwrite) and re-notifies. */
trait Notifier {
  def notifyIngest(datasetId: String, dateKey: String,
      payload: Publish.IngestPayload): Unit
}

object Notifier {
  /** Default: publish without side channels. */
  object Noop extends Notifier {
    override def notifyIngest(datasetId: String, dateKey: String,
        payload: Publish.IngestPayload): Unit = ()
  }

  /** File-backed double for tests/audit: one line per notification,
    * `dataset\tdateKey\tpath\tdatatype`, append-only — the shape a real
    * HTTP poster would send (payload fields are the reference's webhook
    * body, `ecmwf_opendata/__init__.py:333`). */
  final class FileNotifier(path: String) extends Notifier {
    override def notifyIngest(datasetId: String, dateKey: String,
        payload: Publish.IngestPayload): Unit = {
      val line = s"$datasetId\t$dateKey\t${payload.path}\t${payload.datatype}\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(path), line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** Real HTTP webhook poster — the reference's ingest-command POST
    * (`ingest/__init__.py:94` send_ingest_command: form-encoded
    * payload, HMAC-SHA256 of the body in a signature header when a
    * shared secret is configured). Mirrors [[FileNotifier]]'s payload
    * fields exactly (the notifier-equality spec pins the two), and
    * THROWS on any non-2xx or transport failure: the Jobs contract is
    * at-least-once — a failed notify must leave the watermark
    * untouched so the next cycle re-publishes (idempotent partition
    * overwrite) and re-notifies, never silently dropping the command.
    * Built on java.net.http — no library dependency. */
  final class HttpNotifier(url: String, secret: Option[String] = None,
      timeoutMs: Long = 10000L) extends Notifier {
    private val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

    /** Form-encoded body, fields in a fixed order so the signature is
      * reproducible by the receiver. */
    private[graft] def bodyFor(datasetId: String, dateKey: String,
        payload: Publish.IngestPayload): String = {
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      Seq("dataset_id" -> datasetId, "date_key" -> dateKey,
        "namespace" -> payload.namespace, "path" -> payload.path,
        "datatype" -> payload.datatype)
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    }

    private[graft] def signatureOf(body: String, s: String): String = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(s.getBytes("UTF-8"), "HmacSHA256"))
      mac.doFinal(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    override def notifyIngest(datasetId: String, dateKey: String,
        payload: Publish.IngestPayload): Unit = {
      val body = bodyFor(datasetId, dateKey, payload)
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      secret.foreach(s => b.header("X-Ingest-Signature", signatureOf(body, s)))
      val resp = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new IllegalStateException(
          s"ingest notify POST failed: HTTP ${resp.statusCode()} " +
            s"for $datasetId/$dateKey — watermark must not advance")
    }
  }
}

/** Multi-dataset incremental job driver — the composition the
  * reference runs from its scheduler (`main.py:36` BlockingScheduler
  * firing `ingest/jobs.py` per dataset): for each registered dataset,
  *
  *   state check → incremental ingest (rows newer than the stored
  *   watermark) → transform → date-partitioned publish → notify per
  *   published date → PHYSICAL retention → watermark advance,
  *
  * skipping idempotently when nothing is new. Each stage is one of the
  * library's verified pieces ([[StateStore.freshSince]], [[StateStore.update]],
  * [[Publish.writeDatePartitioned]], [[Publish.dropOldPartitions]]);
  * this class only sequences them, so a scheduler (cron, Airflow, or a
  * Structured Streaming trigger) can call [[runAll]] on any cadence
  * and re-runs never duplicate data (upsert layout + watermark).
  */
final class Jobs(spark: SparkSession, statePath: String,
    notifier: Notifier = Notifier.Noop) {

  private val state = new StateStore(spark, statePath)
  private val registry = mutable.LinkedHashMap.empty[String, JobConfig]

  def register(cfg: JobConfig): this.type = {
    registry += cfg.datasetId -> cfg
    this
  }

  def datasets: Seq[String] = registry.keys.toSeq

  /** One incremental cycle for every registered dataset, in
    * registration order, with PER-DATASET failure isolation — the
    * reference registers each dataset as an independent scheduler job
    * (`main.py:23`, `ingest/jobs.py:28`), so one dataset crashing can
    * never starve the others. A failing source/transform/publish yields
    * a failed [[JobResult]] and the cycle moves on; the failed
    * dataset's watermark is untouched (advance happens only after its
    * publish commits), so the SAME slice retries next cycle.
    * `seq` is the cycle's monotonic version (the reference uses
    * wall-clock run time). */
  def runAll(seq: Long): Seq[JobResult] = registry.values.map { cfg =>
    try run(cfg, seq)
    catch {
      case NonFatal(e) =>
        JobResult(cfg.datasetId, 0L, skipped = false, None, Nil, Some(e.toString))
    }
  }.toSeq

  def run(cfg: JobConfig, seq: Long): JobResult = {
    // each materialization below is ONE Spark job that also returns what
    // the cycle needs of it. `fresh` is a local checkpoint, not a
    // persist(): with AQE on cached plans the first action on a cache
    // pays its own table-cache stage job, and a count + max aggregate
    // over it adds a shuffle map job and a result job
    val (fresh, freshBlocks) = checkpoint(
      state.freshSince(cfg.datasetId, cfg.source(spark), cfg.tsCol))
    try summarize(fresh, cfg.tsCol, withKeys = false) match {
      case (_, None, _) => JobResult(cfg.datasetId, 0L, skipped = true, None) // "No update required"
      case (n, Some(newMax), _) =>
        // the transformed slice is computed ONCE, up front, into
        // executor blocks whose plan no longer reads the transform's
        // sources: the date keys, publish, index and JDBC legs all see
        // the slice that was decided. A write to a path the transform
        // reads (a curation transform dedups against the corpus it
        // publishes into) can no longer change what gets indexed or
        // upserted. Date keys come from this slice (a curation
        // transform may drop whole dates — a date that published no
        // file must not notify), in the same pass that fills it.
        // Trade-off: a local checkpoint has no lineage, so losing an
        // executor's blocks fails this dataset's cycle; the watermark
        // has not moved, so the next cycle retries the slice.
        val (transformed, blocks) = checkpoint(cfg.transform(fresh))
        val (payload, dateKeys) = try {
          val (_, _, keys) = summarize(transformed, cfg.tsCol, withKeys = true)
          // transactional = the manifest-committed DSv2 writer
          // (PublishedTable): per-date upsert lands as ONE atomic
          // manifest swap, so a concurrent reader's snapshot is never
          // half-overwritten; default = the filesystem-level layout
          val p = if (cfg.transactional)
            PublishedTable.publishSlice(transformed, cfg.outDir, cfg.datasetId, cfg.tsCol)
          else Publish.writeDatePartitioned(
            transformed, cfg.outDir, cfg.datasetId, cfg.tsCol)
          // dedup-index maintenance rides the same commit window as the
          // data (after publish, before watermark advance): a crashed
          // cycle re-publishes data AND index for the same dates next
          // time — both per-date overwrites, so the retry is idempotent
          cfg.index.foreach(ix => DedupIndex.publishSlice(
            transformed, ix.indexDir, cfg.tsCol, ix.idCol, ix.textCol))
          // the JDBC vector leg rides the same commit window: per-date
          // delete+insert transactions, so a crashed cycle's retry
          // replays the same dates to the same end state
          cfg.jdbc.foreach(j => JdbcUpsert.upsertByDate(
            transformed.withColumn(j.dateCol,
              date_format(col(cfg.tsCol), "yyyy-MM-dd")),
            j.url, j.table, j.dateCol))
          (p, keys)
        } finally blocks.unpersist()
        // notify per published date AFTER the partition committed,
        // BEFORE the watermark advances (reference: send_ingest_command
        // after upload, update_state after) — at-least-once delivery
        dateKeys.foreach(k => notifier.notifyIngest(cfg.datasetId, k, payload))
        // the watermark advances ONLY after the publish committed — a
        // failed transform/publish/notify leaves it untouched, so the
        // next cycle retries the same slice instead of losing it forever
        state.update(cfg.datasetId, Map("last_update" -> newMax), seq)
        val cutoff = java.time.LocalDate.parse(newMax.substring(0, 10))
          .minusDays(cfg.retentionDays).toString
        if (cfg.transactional)
          // logical drop (one manifest commit); files are reclaimed by
          // vacuum after the reader grace window
          PublishedTable.dropPartitionsOlderThan(s"${cfg.outDir}/${cfg.datasetId}", cutoff)
        else Publish.dropOldPartitions(spark, cfg.outDir, cfg.datasetId, cutoff)
        // the vector table retains over the SAME cutoff (the
        // reference's `date < latest` delete, raster_vector.py:164)
        cfg.jdbc.foreach(j => JdbcUpsert.dropBefore(j.url, j.table, j.dateCol, cutoff))
        // index housekeeping rides the same retention step: drop the
        // dates the data dropped (the index must never dedup against
        // expired content) and compact any fragmented partitions —
        // both bounded, so the stored index stays ∝ the retained corpus
        cfg.index.foreach { ix =>
          DedupIndex.dropOldPartitions(spark, ix.indexDir, cutoff)
          DedupIndex.compactFragmented(spark, ix.indexDir)
        }
        JobResult(cfg.datasetId, n, skipped = false, Some(payload), dateKeys)
    } finally freshBlocks.unpersist()
  }

  /** `df` as a local checkpoint that no action has filled yet, and the
    * checkpointed RDD. Unpersisting the Dataset does not release a
    * local checkpoint: callers release the RDD's blocks themselves, also
    * when filling it fails. */
  private def checkpoint(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.head)
  }

  /** One pass over `df` (one Spark job; for a local checkpoint, the job
    * that fills it): its row count, the max of `tsCol` as
    * `max(col(tsCol)).cast("string")` renders it under the session time
    * zone (None when no row has a `tsCol`), and, when `withKeys`, the
    * sorted distinct `yyyy-MM-dd` keys of `tsCol`. The max is compared
    * in the column's own type, per partition and then on the driver. */
  private def summarize(df: DataFrame, tsCol: String,
      withKeys: Boolean): (Long, Option[String], Seq[String]) = {
    val dt = df.schema(tsCol).dataType
    val cols = col(tsCol) +: (if (withKeys) Seq(date_format(col(tsCol), "yyyy-MM-dd")) else Nil)
    val parts = df.select(cols: _*).queryExecution.toRdd.mapPartitions { rows =>
      val ord = TypeUtils.getInterpretedOrdering(dt)
      var n = 0L
      var max: Any = null
      val keys = mutable.HashSet.empty[String]
      rows.foreach { r =>
        n += 1
        if (!r.isNullAt(0)) {
          val v = r.get(0, dt)
          if (max == null || ord.gt(v, max)) max = InternalRow.copyValue(v)
          if (withKeys) keys += r.getUTF8String(1).toString
        }
      }
      Iterator((n, max, keys.toSet))
    }.collect()
    val maxes = parts.map(_._2).filter(_ != null)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val newMax = if (maxes.isEmpty) None
      else Some(Cast(Literal(maxes.max(TypeUtils.getInterpretedOrdering(dt)), dt),
        StringType, Some(tz)).eval().toString)
    (parts.map(_._1).sum, newMax, parts.flatMap(_._3).distinct.sorted.toSeq)
  }
}

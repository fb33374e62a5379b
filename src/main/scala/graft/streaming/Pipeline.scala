package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** D-family: Structured Streaming re-expression of the reference's
  * scheduler + state pipeline (SURVEY.md §2.D).
  *
  * The reference polls remote sources on an interval, keeps a
  * `last_update` watermark in state.json, and idempotently upserts
  * date slices (`ingest/jobs.py`, `ingest/utils.py:96`,
  * `ingest/raster_vector.py:158`). Spark-first that is: a file/stream
  * source + event-time watermark + windowed aggregation + an
  * idempotent foreachBatch partition-overwrite sink.
  *
  * Each query runs the streaming pipeline to completion on the static
  * test file (file source → memory/parquet sink, processAllAvailable)
  * and returns the materialized result, so the driver's DuckDB oracle
  * checks the STREAMING path against batch SQL.
  */
object Streaming {

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over the documents parquet — the continuous
    * document-ingestion side of the curation pipelines. The driver
    * testdata ships one FILE named documents.parquet (streamed via a
    * leaf-name glob on the SF dir); Spark-written corpora (Sf1Data /
    * SkewData / user tables) are DIRECTORIES of part files, which the
    * leaf glob would silently match to ZERO files — stream the
    * directory itself in that layout. */
  private def docStream(spark: SparkSession, dir: String): DataFrame =
    if (new java.io.File(s"$dir/documents.parquet").isDirectory)
      spark.readStream.schema(docsSchema).parquet(s"$dir/documents.parquet")
    else
      spark.readStream
        .schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)

  /** File-source stream over the events parquet. Driver data
    * generations encode `ts` differently (INT64 TIMESTAMP(NANOS) read
    * as long vs TIMESTAMP_NTZ) — probe the file's batch schema once and
    * normalize to the session-zone TIMESTAMP, same convention as
    * [[graft.Tables]]. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val physical = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    // the file source wants a directory: stream the SF dir, filtered to
    // the events file
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physical) else f))
    // docStream's layout split: a single driver FILE streams via the
    // leaf-name glob; a Spark-written DIRECTORY streams directly (the
    // glob would match zero part files)
    val raw =
      if (new java.io.File(s"$dir/events.parquet").isDirectory)
        spark.readStream.schema(schema).parquet(s"$dir/events.parquet")
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
    physical match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Stateful streaming operators latch their state-store partitioning
    * from `spark.sql.shuffle.partitions` when the query STARTS (it is
    * snapshotted into the offset metadata), and every micro-batch then
    * pays a fixed per-partition cost: store instances, delta-file
    * commits, snapshot maintenance. Plan that count from the STREAM's
    * volume, not the session default — measured locally, the st06
    * stream-stream join drops ~4× (12.9 s → 2.8 s) going from 32 state
    * partitions to 4 over a 2 MB source. At 100 TB rates the same
    * formula fans back out to the cluster cap.
    *
    * The stream is BUILT inside `body` on a [[graft.GraftConf.isolated]]
    * session holding that width — the conf is latched from the
    * DataFrame's own session at query start — so concurrent batch
    * queries on the caller's session never observe the stream's sizing.
    * A checkpoint-resumed query ignores the session value entirely
    * (restored from checkpoint metadata). */
  private def withStreamParallelism[T](spark: SparkSession, dir: String)(
      body: SparkSession => T): T = {
    val bytes = new java.io.File(s"$dir/events.parquet").length()
    val parts = math.max(1L,
      math.min(spark.sparkContext.defaultParallelism.toLong, bytes >> 20)).toInt
    // state-store DURABILITY rung: the default HDFSBackedStateStore
    // keeps state on the JVM heap and snapshots the FULL store at each
    // maintenance pass — fine at driver SFs, but at 100 TB ingest
    // rates the per-batch snapshot + heap pressure dominate a stateful
    // stream. Setting [[StateStoreProviderConf]] on the CALLER session
    // routes every graft stream in that session through RocksDB
    // (off-heap, incremental changelog+snapshot) — same results,
    // spec'd streamed==batch under both providers. The conf applies to
    // the isolated session only; a durable fp-keyed checkpoint
    // (st03/st10) must not flip providers within a staged generation —
    // their state formats differ on disk — so flip only against a
    // fresh source generation (the spec uses fresh-checkpoint queries).
    val provider = spark.conf.getOption(StateStoreProviderConf).map {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case fqcn => fqcn
    }
    graft.GraftConf.isolated(spark, parts,
      provider.map("spark.sql.streaming.stateStore.providerClass" -> _).toSeq: _*)(body)
  }

  /** Session conf selecting the streaming state-store backend for
    * graft streams: "rocksdb", "hdfs" (the Spark default), or a fully
    * qualified provider class. Unset ⇒ Spark's session default. */
  val StateStoreProviderConf = "spark.graft.stream.stateStoreProvider"

  /** CONTENT-keyed fingerprint of a source file: md5 over (length, head
    * 64 KiB, tail 64 KiB), O(1) I/O regardless of file size. The tail
    * covers the parquet footer (row counts, column stats, row-group
    * offsets), so a regenerated file with the same byte length inside
    * mtime granularity still changes the fingerprint — the failure mode
    * of the previous lastModified ^ length key, which silently reused
    * stale staged slices, checkpoints, and accumulated state. Two JVMs
    * racing the same SOURCE also race the same content, so the staged
    * artifacts they overwrite are identical — content keying makes the
    * _SUCCESS-check race converge instead of corrupt. */
  private[graft] def contentFingerprint(f: java.io.File): String = {
    // a missing source is a configuration error, not a stale-cache case:
    // fail with a clear message instead of the raw FileNotFoundException
    // the RandomAccessFile below would throw mid-hash. A Spark-written
    // table is a DIRECTORY of part files — fingerprint the parts in
    // name order, content only (no names: identical content must key
    // identically wherever it lives — the convergence contract below).
    val md = java.security.MessageDigest.getInstance("MD5")
    def hashOne(p: java.io.File): Unit = {
      val len = p.length()
      md.update(java.nio.ByteBuffer.allocate(8).putLong(len).array())
      val in = new java.io.RandomAccessFile(p, "r")
      try {
        val head = new Array[Byte](math.min(65536L, len).toInt)
        in.readFully(head)
        md.update(head)
        if (len > 65536L) {
          in.seek(len - 65536L)
          val tail = new Array[Byte](65536)
          in.readFully(tail)
          md.update(tail)
        }
      } finally in.close()
    }
    if (f.isFile) hashOne(f)
    else {
      val parts =
        if (f.isDirectory)
          f.listFiles().filter(p => p.isFile && p.getName.endsWith(".parquet"))
            .sortBy(_.getName)
        else Array.empty[java.io.File]
      require(parts.nonEmpty,
        s"source file missing or unreadable: $f — cannot derive a content fingerprint")
      md.update(java.nio.ByteBuffer.allocate(4).putInt(parts.length).array())
      parts.foreach(hashOne)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Drop SUPERSEDED fingerprint generations: every tmpdir entry with
    * this dataset's prefix but a different fingerprint (stage dirs and
    * their -state/-ckpt siblings) is deleted when a new fingerprint
    * stages — staged slices, checkpoints, and state versions no longer
    * accumulate for the lifetime of java.io.tmpdir.
    *
    * Ownership guard: only entries whose tree has been QUIET for
    * [[GenerationGraceMs]] are deleted. A concurrent JVM still
    * mid-query on the previous source generation keeps touching its
    * sink/checkpoint/state files (every committed batch and parquet
    * write bumps mtimes), so its generation survives the sweep; truly
    * dead generations age past the grace window and are collected by
    * the next rollover. Concurrent runs racing the SAME generation are
    * already safe (content keying makes staged artifacts identical). */
  private[graft] val GenerationGraceMs: Long = 60 * 60 * 1000L
  private[graft] def dropOldGenerations(prefix: String, keepFp: String,
      graceMs: Long = GenerationGraceMs): Unit = {
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +:
        Option(f.listFiles()).getOrElse(Array.empty).map(newestMtime).toSeq).max
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete()
    }
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && !f.getName.startsWith(prefix + keepFp))
      .filter(f => System.currentTimeMillis() - newestMtime(f) > graceMs)
      .foreach(deleteRec)
  }

  private def runToCompletion(df: DataFrame, name: String): DataFrame = {
    val q = df.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }

  /** st01: watermarked event-time window aggregation — the streaming
    * twin of i17; the oracle is the identical batch SQL. */
  val st01 = QueryDef(
    "st01_stream_window_agg",
    """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_v"))
      runToCompletion(agg, "st01_out")
    }.orderBy(col("window_start"), col("event_type"))
  }

  /** st02: streaming dedup (dropDuplicatesWithinWatermark keyed on
    * event_id) + running counts. The *WithinWatermark* variant matters
    * for the 100 TB story: plain dropDuplicates("event_id") keeps every
    * key forever (the watermark can't expire state that has no
    * event-time column), so an unbounded stream OOMs; within-watermark
    * dedup evicts keys once they age past the horizon. */
  val st02 = QueryDef(
    "st02_stream_dedup_state",
    """SELECT event_type, COUNT(*) AS n FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      runToCompletion(agg, "st02_out")
    }.orderBy(col("event_type"))
  }

  /** st03: idempotent date-partitioned upsert sink via foreachBatch +
    * dynamic partition overwrite — the reference's delete-then-insert
    * by date (`raster_vector.py:158`) as a partition overwrite that
    * never rewrites the whole table. Result: re-read of the sink. */
  val st03 = QueryDef(
    "st03_stream_upsert_sink",
    """SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS d, event_type,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    // sink + checkpoint are keyed by a SOURCE-CONTENT fingerprint:
    // re-runs over unchanged data reuse the checkpoint (exactly-once
    // no-op resume), while a regenerated source gets a fresh sink +
    // checkpoint instead of the stale already-processed state answering
    // for new data; superseded generations are deleted on rollover.
    val fp = contentFingerprint(new java.io.File(s"$dir/events.parquet"))
    val prefix = s"graft_upsert_${dir.hashCode.toHexString}_"
    dropOldGenerations(prefix, fp)
    val sinkDir = s"${System.getProperty("java.io.tmpdir")}/$prefix$fp"
    // partition key as a yyyy-MM-dd string: partition-value type
    // inference on read is config-dependent, a string key is stable.
    val src = eventStream(spark, dir)
      .withColumn("d_key", date_format(col("ts"), "yyyy-MM-dd"))
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("d_key")
          .parquet(sinkDir)
      }
      .trigger(Trigger.AvailableNow())
      // STABLE checkpoint path: a fresh path per run would forfeit the
      // exactly-once resume semantics the checkpoint exists for. Re-runs
      // over the same static source are no-ops (already-committed
      // batches are skipped) and the sink re-read stays correct.
      .option("checkpointLocation", s"$sinkDir-ckpt")
      .start()
    q.awaitTermination()
    spark.read.parquet(sinkDir)
      .groupBy(to_timestamp(col("d_key").cast("string"), "yyyy-MM-dd").as("d"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("d"), col("event_type"))
  }

  /** Per-key running state for st04. */
  final case class UserState(n_events: Long, last_micros: Long)
  final case class UserUpdate(user_id: Long, n_events: Long, last_micros: Long)

  /** st04: custom managed state via flatMapGroupsWithState — the
    * reference's per-dataset `{"last_update": ...}` state machine
    * (`ingest/utils.py:96`) keyed per user: each batch folds new events
    * into (count, last-seen) state and emits the updated snapshot.
    * One batch on the static file → one snapshot per user, so the
    * batch-SQL oracle applies. */
  val st04 = QueryDef(
    "st04_stream_custom_state",
    """SELECT user_id, COUNT(*) AS n_events, MAX(CAST(ts AS TIMESTAMP)) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    withStreamParallelism(spark, dir) { s =>
      import s.implicits._
      val updates = eventStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("micros"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(UserState(0L, Long.MinValue))
            val (n, lastM) = rows.foldLeft((prev.n_events, prev.last_micros)) {
              case ((c, m), (_, micros)) => (c + 1, math.max(m, micros))
            }
            state.update(UserState(n, lastM))
            Iterator.single(UserUpdate(user, n, lastM))
        }
      val q = updates.toDF().writeStream
        .outputMode("update")
        .format("memory")
        .queryName("st04_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // memory-sink temp views are session-scoped: read on the stream's
      // own (isolated) session
      s.table("st04_out")
    }.select(col("user_id"), col("n_events"),
        timestamp_micros(col("last_micros")).as("last_ts"))
      .orderBy(col("user_id"))
  }

  /** st05: built-in session windows in streaming — gap-merged sessions
    * per user (the streaming twin of j02's batch sessionization;
    * session end = last event + gap per session_window semantics). */
  val st05 = QueryDef(
    "st05_stream_session_window",
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |g AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL THEN 1
      |                     WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
      |                     ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS session_num
      |      FROM g)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_v
      |FROM s GROUP BY user_id, session_num
      |ORDER BY user_id, session_start""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n"), col("sum_v"))
      runToCompletion(agg, "st05_out")
    }.orderBy(col("user_id"), col("session_start"))
  }

  /** st06: stream-stream INTERVAL join — purchases matched to the
    * clicks that preceded them within 1 hour, per user. Both sides
    * carry event-time watermarks, so the join state is bounded: a
    * click older than (watermark − 1 h) can never match a future
    * purchase and is evicted — the requirement for an unbounded
    * correlation join at 100 TB. Inner join emits matches eagerly, so
    * the append-mode memory sink materializes every pair; the
    * deterministic per-user rollup happens in batch on the sink and
    * the oracle is the identical batch SQL. */
  val st06 = QueryDef(
    "st06_stream_stream_join",
    """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, value AS cv
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id AS user_id, COUNT(*) AS n_pairs, ROUND(SUM(c.cv), 2) AS sum_click_v
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c.cts BETWEEN p.pts - INTERVAL 1 HOUR AND p.pts
      |GROUP BY p.user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      val clicks = eventStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("cts"), col("value").as("cv"))
        .withWatermark("cts", "2 hours")
      val purchases = eventStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"))
        .withWatermark("pts", "2 hours")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND cts BETWEEN pts - INTERVAL 1 HOUR AND pts"))
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName("st06_out")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("st06_out")
    }.groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), round(sum(col("cv")), 2).as("sum_click_v"))
      .orderBy(col("user_id"))
  }

  /** st07: stream-static enrichment — each streamed event is joined to
    * a STATIC dimension (per-user profile aggregated from history),
    * the reference's "join incoming slice to the climatology table"
    * shape in streaming form. The static side is a bounded batch
    * DataFrame, so Spark broadcasts it and the stream never shuffles
    * for the join; only the downstream aggregation keeps state.
    * Oracle: the identical batch SQL. */
  val st07 = QueryDef(
    "st07_stream_static_join",
    """WITH dim AS (SELECT user_id, COUNT(*) AS user_n FROM events GROUP BY user_id)
      |SELECT e.event_type AS event_type, COUNT(*) AS n,
      |  CAST(SUM(d.user_n) AS BIGINT) AS sum_user_n
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      val dim = graft.Tables(s, dir).events
        .groupBy(col("user_id")).agg(count(lit(1)).as("user_n"))
      val enriched = eventStream(s, dir)
        .join(dim, Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_n")).as("sum_user_n"))
      runToCompletion(enriched, "st07_out")
    }.orderBy(col("event_type"))
  }

  /** st08: streaming dedup against the STATIC published corpus — the
    * d07/d09 incremental-dedup shape in streaming form: documents
    * stream in, anti-join on the normalized-prefix content key against
    * the (static, bounded) corpus, and only non-duplicates land in the
    * per-source intake stats. The static side broadcasts, so the stream
    * never shuffles for the dedup itself; only the downstream intake
    * aggregation keeps state. The static side IS the corpus's STORED
    * dedup index ([[graft.sources.DedupIndex]] `pk` column, staged per
    * source-content fingerprint; Jobs-maintained per slice in
    * production): Spark re-resolves static relations per micro-batch,
    * so every batch re-reads a tiny key column instead of re-hashing
    * the corpus text. Oracle: the identical batch anti-join SQL. */
  val st08 = QueryDef(
    "st08_stream_dedup_corpus",
    """WITH d AS (SELECT doc_id, source, n_chars,
      |    MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:8], ' ')) AS pk
      |  FROM documents),
      |corpus AS (SELECT pk FROM d WHERE doc_id % 2 = 0),
      |batch AS (SELECT * FROM d WHERE doc_id % 2 = 1)
      |SELECT source, COUNT(*) AS n_landed,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_landed
      |FROM batch WHERE pk NOT IN (SELECT pk FROM corpus)
      |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val pk = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
    val idx = graft.operators.Dedup.stagedCorpusIndex(spark, dir)
    withStreamParallelism(spark, dir) { s =>
      val corpus = graft.sources.DedupIndex.readHashes(s, idx).select(col("pk"))
      val landed = docStream(s, dir)
        .filter(col("doc_id") % 2 === 1)
        .withColumn("pk", pk)
        .join(corpus, Seq("pk"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_landed"), sum(col("n_chars")).as("chars_landed"))
      runToCompletion(landed, "st08_out")
    }.orderBy(col("source"))
  }

  /** st09: streaming QUALITY gate — p01's scalar intake gates run LIVE
    * on the document stream (the reference's transform step as a
    * continuous job): token-count, stopword-ratio, and language-marker
    * checks are pure map-side projections on each micro-batch, so the
    * stream shuffles only the per-source fate aggregation. Rejected
    * docs are tallied, not dropped silently — the intake monitor every
    * production curation stream runs. Oracled against the identical
    * batch SQL over the same table. */
  val st09 = QueryDef(
    "st09_stream_quality_gate",
    """WITH g AS (SELECT source, STRING_SPLIT(text, ' ') AS tk FROM documents),
      |m AS (SELECT source, LEN(tk) AS n_tok,
      |    LEN(tk) >= 20
      |    AND CAST(LEN(LIST_FILTER(tk, t -> t = 'a' OR t = 'the')) AS DOUBLE)
      |        / LEN(tk) < 0.5
      |    AND LEN(LIST_FILTER(tk, t -> t = 'the' OR t = 'a' OR t = 'is')) > 0 AS pass
      |  FROM g)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
      |  CAST(COALESCE(SUM(n_tok) FILTER (WHERE pass), 0) AS BIGINT) AS tokens_landed
      |FROM m GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import graft.functions.Text
    withStreamParallelism(spark, dir) { s =>
      val gated = docStream(s, dir)
        .withColumn("tk", Text.tokens(col("text")))
        .withColumn("n_tok", size(col("tk")))
        .withColumn("pass",
          col("n_tok") >= 20 &&
            Text.countIn(col("tk"), Seq("a", "the")).cast("double") / col("n_tok") < 0.5 &&
            Text.countIn(col("tk"), Seq("the", "a", "is")) > 0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pass"), 1)).as("n_pass"),
          coalesce(sum(when(col("pass"), col("n_tok"))), lit(0L)).as("tokens_landed"))
      runToCompletion(gated, "st09_out")
    }.orderBy(col("source"))
  }

  /** One-time staging for st10: the events table split into three
    * slice files so the file source delivers a REAL multi-batch stream
    * (one parquet file per micro-batch) instead of a single batch —
    * the incremental merge then runs across three epochs, not one.
    *
    * The staging path is DETERMINISTIC (source-content fingerprint,
    * st03's discipline), not a fresh temp dir: the streaming
    * checkpoint remembers processed files BY PATH, so a per-run
    * staging path would make every new JVM re-feed the same rows into
    * the accumulated state (observed: N reruns → N× totals). With a
    * stable path, reruns find the files already committed and the
    * merge stays exactly-once. */
  private val st10Stage = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedSlices(spark: SparkSession, dir: String): String = {
    // memo keyed on the CONTENT fingerprint, not the dir: a source
    // regenerated in-session gets a fresh staging generation instead of
    // silently reusing the first one the JVM ever saw
    val fp = contentFingerprint(new java.io.File(s"$dir/events.parquet"))
    st10Stage.getOrElseUpdate(s"$dir@$fp", {
      val prefix = s"graft_st10stage_${dir.hashCode.toHexString}_"
      dropOldGenerations(prefix, fp)
      val stage = s"${System.getProperty("java.io.tmpdir")}/$prefix$fp"
      val done = (0 until 3).forall(k => new java.io.File(s"$stage/slice_$k/_SUCCESS").exists())
      if (!done) {
        val ev = graft.Tables(spark, dir).events
        (0 until 3).foreach { k =>
          ev.filter(pmod(col("event_id"), lit(3)) === k)
            .coalesce(1).write.mode("overwrite").parquet(s"$stage/slice_$k")
        }
      }
      stage
    })
  }

  /** st10: STREAMING incremental-aggregate maintenance — q26's
    * materialized-view merge running live (the reference's climatology
    * accumulation as a continuous job): every micro-batch reduces to
    * its associative (sum, count) partial states, which merge with the
    * stored state table by re-aggregation — history is NEVER rescanned,
    * each epoch shuffles |state| + |batch groups| rows only.
    *
    * The state table is written to a VERSIONED path per epoch
    * (state_v{batchId}): a retried batch overwrites its own version
    * idempotently rather than corrupting a shared file, and the
    * previous version stays readable while the new one commits — the
    * poor-engine's ACID swap, same role as the reference's
    * post-publish watermark commit (`ingest/utils.py:96`). Oracled
    * against the one-shot batch SQL over the full table. */
  val st10 = QueryDef(
    "st10_stream_incremental_agg",
    """SELECT event_type, DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS d,
      |  ROUND(SUM(value), 2) AS total_v, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(ROUND(SUM(value), 2) / COUNT(*) + 1e-9, 4) AS avg_v
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val stage = stagedSlices(spark, dir)
    // state + checkpoint derive from the staging path: they live and die
    // with the staged source they index
    val stateRoot = s"$stage-state"
    def versionPath(v: Long) = s"$stateRoot/state_v$v"
    val tsType = graft.Tables(spark, dir).events.schema // ts already micros timestamp
    // built under withStreamParallelism like st01–st09: the stream is
    // STATELESS (merge state lives in the versioned parquet table, not
    // a state store), so no checkpoint latch applies, but the
    // foreachBatch merge aggregations shuffle at the isolated session's
    // volume-derived partition count instead of the session default
    withStreamParallelism(spark, dir) { s =>
      val src = s.readStream
        .schema(tsType)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1") // one slice file = one epoch
        .parquet(stage)
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          val delta = batch
            .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
            .agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
          val merged =
            if (batchId == 0) delta
            else ss.read.parquet(versionPath(batchId - 1))
              .unionByName(delta)
              .groupBy(col("event_type"), col("d"))
              .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
          merged.write.mode("overwrite").parquet(versionPath(batchId))
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$stateRoot-ckpt")
        .start()
      q.awaitTermination()
    }
    val versions = Option(new java.io.File(stateRoot).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("state_v"))
      .map(_.stripPrefix("state_v").toLong)
    require(versions.nonEmpty,
      s"st10: no state version committed under $stateRoot — the stream produced no epoch")
    val latest = versions.max
    spark.read.parquet(versionPath(latest))
      .select(col("event_type"), col("d"),
        round(col("s"), 2).as("total_v"), col("n"),
        graft.QueryDef.roundBiased(round(col("s"), 2) / col("n"), 4).as("avg_v"))
      .orderBy(col("event_type"), col("d"))
  }

  /** Bounded top-k state for st11: the buffer plus an update EPOCH —
    * a per-key counter of how many batches have touched the key. Each
    * emission carries its epoch, so the final read can keep only the
    * LATEST leaderboard per key even when the source lands in several
    * micro-batches (an update-mode memory sink appends every batch's
    * emissions; without the epoch a multi-batch run would leave stale
    * leaderboard rows beside the refreshed ones). */
  final case class TopK(entries: Seq[(Double, Long)], epoch: Long)

  /** st11's state fold: merge a micro-batch into the per-key top-k
    * buffer (value desc, id tie-break) and emit the refreshed
    * leaderboard. State is ≤ k rows per key forever. */
  private[graft] def topKFold(k: Int)(
      key: String, rows: Iterator[(String, Long, Double)],
      state: org.apache.spark.sql.streaming.GroupState[TopK]): Iterator[(String, Int, Long, Double, Long)] = {
    val prev = state.getOption.getOrElse(TopK(Seq.empty, 0L))
    val merged = (prev.entries ++ rows.map(r => (r._3, r._2)))
      .sortBy { case (v, id) => (-v, id) }.take(k)
    val epoch = prev.epoch + 1
    state.update(TopK(merged, epoch))
    merged.iterator.zipWithIndex.map { case ((v, id), i) => (key, i + 1, id, v, epoch) }
  }

  /** st11: STREAMING top-k with BOUNDED state — q19's
    * TypedImperativeAggregate argument running live: each key's state
    * is AT MOST k rows no matter how much history streams through
    * (contrast st02, whose dedup state is bounded by the watermark
    * horizon, and a naive "keep all events, rank at the end", whose
    * state is the stream). Every micro-batch folds its rows into the
    * per-key top-5 buffer (value desc, event_id tie-break — fully
    * deterministic) and emits the refreshed leaderboard — the live
    * dashboard query every event pipeline runs. One batch on the
    * static file → one snapshot per key, so the batch rank-window SQL
    * is the oracle. */
  val st11 = QueryDef(
    "st11_stream_topk",
    """WITH ranked AS (SELECT event_type, event_id, value,
      |  ROW_NUMBER() OVER (PARTITION BY event_type
      |                     ORDER BY value DESC, event_id) AS rnk
      |  FROM events)
      |SELECT event_type, CAST(rnk AS INTEGER) AS rnk, event_id,
      |  ROUND(value, 2) AS value
      |FROM ranked WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin) {
    (spark, dir) =>
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      withStreamParallelism(spark, dir) { s =>
        import s.implicits._
        val updates = eventStream(s, dir)
          .select(col("event_type"), col("event_id"), col("value"))
          .as[(String, Long, Double)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Update,
            GroupStateTimeout.NoTimeout)(topKFold(5))
        val q = updates.toDF("event_type", "rnk", "event_id", "value", "epoch")
          .writeStream
          .outputMode("update").format("memory").queryName("st11_out")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table("st11_out")
      } // keep only each key's LATEST leaderboard (multi-batch-safe read)
        .withColumn("mx", max(col("epoch")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
        .filter(col("epoch") === col("mx"))
        .select(col("event_type"), col("rnk").cast("int").as("rnk"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy(col("event_type"), col("rnk"))
  }

  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelOut(user_id: Long, t1: Long, t2: Long, t3: Long)

  private[graft] val FunnelUnset = Long.MaxValue
  private[graft] val FunnelWindowUs = 7L * 24 * 3600 * 1000000L

  /** st12's per-user fold with EVENT-TIME state eviction. A funnel is
    * FINAL once the watermark passes t1 + 7 d — no event can change any
    * stage minimum after the window closes — so the state carries an
    * event-time timeout at that deadline: on expiry the final funnel
    * row is emitted once more and the key is REMOVED from the store.
    * Without eviction the key space is every user ever seen, forever
    * (3 longs each — bounded per key, unbounded in keys), and a
    * long-running stream OOMs its state store for zero semantic
    * benefit. A key with no view yet carries NO information (clicks
    * can't qualify before a view), so it is never stored at all.
    *
    * Rows are (user_id, event_type, micros, event_id, ts); the
    * trailing ts column exists so the upstream watermark survives the
    * projection (EventTimeTimeout requires it). The duplicate final
    * emission on expiry is harmless: every emission is a monotone
    * snapshot (stage minima only ever decrease), so the final read
    * min-aggregates per user — which also makes it robust to the
    * source landing in several micro-batches. */
  private[graft] def funnelFold(
      user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
      state: org.apache.spark.sql.streaming.GroupState[FunnelState]): Iterator[FunnelOut] = {
    val unset = FunnelUnset
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      Iterator.single(FunnelOut(user, st.t1, st.t2, st.t3))
    } else {
      val prev = state.getOption.getOrElse(FunnelState(unset, unset, unset))
      // fold in event-time order — the group iterator itself is unsorted
      val next = rows.toArray.sortBy(r => (r._3, r._4))
        .foldLeft(prev) { case (st, (_, typ, m, _, _)) =>
          typ match {
            case "view" => st.copy(t1 = math.min(st.t1, m))
            case "click" if st.t1 != unset && m > st.t1 &&
                m <= st.t1 + FunnelWindowUs =>
              st.copy(t2 = math.min(st.t2, m))
            case "purchase" if st.t2 != unset && m > st.t2 &&
                m <= st.t1 + FunnelWindowUs =>
              st.copy(t3 = math.min(st.t3, m))
            case _ => st
          }
        }
      if (next.t1 == unset) Iterator.empty
      else {
        state.update(next)
        // finalization deadline; clamped above the current watermark
        // (a late-starting funnel whose window already closed expires
        // on the very next batch)
        val deadlineMs = next.t1 / 1000L + FunnelWindowUs / 1000L
        state.setTimeoutTimestamp(math.max(deadlineMs, state.getCurrentWatermarkMs() + 1))
        Iterator.single(FunnelOut(user, next.t1, next.t2, next.t3))
      }
    }
  }

  /** st12: streaming FUNNEL maintenance — q29's ordered view → click →
    * purchase funnel kept live per user with BOUNDED state: three
    * microsecond timestamps per user (the stage minima), nothing else,
    * no matter how much history streams through.
    *
    * Each micro-batch folds the user's new events in EVENT-TIME order
    * (sorted before the fold): at a click's position every earlier
    * view — including the global earliest, if the click can qualify at
    * all — has already been folded, so the stage conditions evaluate
    * against their FINAL upstream values and the in-order fold is
    * EXACT (matches q29's batch semantics whenever a user's events
    * arrive time-ordered across batches, always within one). Late
    * cross-batch arrivals are the usual watermark-bounded streaming
    * caveat, shared with st01–st11.
    *
    * Scale: state is 3 longs/user AND the key itself is EVICTED once
    * the watermark passes t1 + 7 d (event-time timeout in
    * [[funnelFold]]: emit-on-final, then remove) — the store holds
    * only in-flight funnels, not every user ever seen. The groupByKey
    * shuffle is the one stateful exchange, sized by
    * withStreamParallelism. */
  val st12 = QueryDef(
    "st12_stream_funnel",
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e
      |  JOIN s1 USING (user_id) JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
      |  GROUP BY e.user_id)
      |SELECT user_id, CAST(EPOCH_US(s1.t1) AS BIGINT) AS t1_us,
      |  CAST(COALESCE(EPOCH_US(s2.t2), -1) AS BIGINT) AS t2_us,
      |  CAST(COALESCE(EPOCH_US(s3.t3), -1) AS BIGINT) AS t3_us
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    withStreamParallelism(spark, dir) { s =>
      import s.implicits._
      val updates = eventStream(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("m"),
          col("event_id"), col("ts"))
        .as[(Long, String, Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout)(funnelFold)
      val q = updates.toDF().writeStream
        .outputMode("update").format("memory").queryName("st12_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("st12_out")
    } // every emission is a monotone state snapshot (minima only ever
      // decrease; the expiry re-emission duplicates the last one), so
      // min-per-user recovers the final funnel under multi-batch runs
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .select(col("user_id"), col("t1").as("t1_us"),
        // NULL-able timestamps confuse cross-engine frame compares
        // (ns-vs-us unit + NaT) — emit micros with a -1 sentinel instead
        when(col("t2") =!= Long.MaxValue, col("t2")).otherwise(-1L).as("t2_us"),
        when(col("t3") =!= Long.MaxValue, col("t3")).otherwise(-1L).as("t3_us"))
      .orderBy(col("user_id"))
  }

  /** st13: streaming corpus DRIFT monitor — t15's total-variation
    * diagnostic run LIVE: each micro-batch's (source, token) counts
    * merge into an incrementally-maintained count state (st10's
    * merge-aggregation shape: |state| + |delta| groups, history never
    * re-tokenized), and the per-source TV distance against the GLOBAL
    * corpus distribution is recomputed from the state after the batch
    * — the alerting signal a production ingest stream watches for a
    * source going off-distribution.
    *
    * TV over the full union support folds to source-support terms
    * only: TV = ½(Σ_{t∈src}(|p_s−p_g| − p_g) + 1), since absent tokens
    * contribute exactly p_g — so no source×vocab densification is
    * ever materialized. Terms land on the 1e-9 decimal grid (t15's
    * discipline) and sum order-independently. */
  val st13 = QueryDef(
    "st13_stream_drift",
    """WITH tok AS (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
      |cnt AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
      |g AS (SELECT t, CAST(SUM(c) AS BIGINT) AS gc FROM cnt GROUP BY t),
      |gtot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gn FROM g),
      |term AS (SELECT cnt.source,
      |    CAST(ROUND(ABS(cnt.c * 1.0 / stot.n - g.gc * 1.0 / gtot.gn)
      |      - g.gc * 1.0 / gtot.gn + 1e-9, 9) AS DECIMAL(18,9)) AS w
      |  FROM cnt JOIN stot USING (source) JOIN g USING (t) CROSS JOIN gtot),
      |drift AS (SELECT source, SUM(w) AS sw FROM term GROUP BY source)
      |SELECT d.source, s.n AS n_tokens,
      |  ROUND((CAST(d.sw AS DOUBLE) + 1) / 2 + 1e-9, 6) AS tv_dist
      |FROM drift d JOIN stot s USING (source)
      |ORDER BY d.source""".stripMargin) { (spark, dir) =>
    withStreamParallelism(spark, dir) { s =>
      var state: DataFrame = null
      val q = docStream(s, dir).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val delta = batch
            .select(col("source"), explode(split(col("text"), " ")).as("t"))
            .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
          val merged =
            if (state == null) delta
            else state.unionByName(delta)
              .groupBy(col("source"), col("t")).agg(sum(col("c")).as("c"))
          // eager checkpoint: per-batch lineage stays constant-cost
          state = merged.localCheckpoint(true)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val stot = state.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val g = state.groupBy(col("t")).agg(sum(col("c")).as("gc"))
      val gtot = g.agg(sum(col("gc")).as("gn"))
      val term = state.join(broadcast(stot), "source").join(g, "t")
        .crossJoin(broadcast(gtot))
        .select(col("source"), graft.QueryDef.roundBiased(
          abs(col("c") * 1.0 / col("n") - col("gc") * 1.0 / col("gn"))
            - col("gc") * 1.0 / col("gn"), 9)
          .cast("decimal(18,9)").as("w"))
      term.groupBy(col("source")).agg(sum(col("w")).as("sw"))
        .join(broadcast(stot), "source")
        .select(col("source"), col("n").as("n_tokens"),
          graft.QueryDef.roundBiased((col("sw").cast("double") + 1) / 2, 6)
            .as("tv_dist"))
        .orderBy(col("source"))
    }
  }

  /** st14: STREAMING decontamination — d08's test-set-leakage guard run
    * live on the ingestion stream, the gate a production pipeline
    * applies before a document can land in training data at all
    * (batch decontamination after the fact means recalling shipped
    * data). The eval/benchmark side is static and benchmark-sized
    * (d08's stance: a few MB of n-grams vs the 100 TB stream): it
    * reduces to a fixed-size executor-built Bloom blob probed map-side
    * (the d09 prefilter, no false negatives) plus a SORTED broadcast
    * gram array for the exact binary-search confirm (the codebook
    * model-state discipline) — both tiers map-side, no per-doc
    * aggregation on the stream, which keeps the plan to the ONE
    * streaming aggregation (by source) Structured Streaming allows.
    * Complete-mode totals make the final read multi-batch-safe. */
  val st14 = QueryDef(
    "st14_stream_decontaminate",
    """WITH toks AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tk
      |  FROM documents),
      |sh AS (SELECT doc_id, source, LEN(tk) AS n_tok,
      |    LIST_DISTINCT(LIST_TRANSFORM(
      |      RANGE(1, GREATEST(LEN(tk) - 1, 1)),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM toks),
      |eg AS (SELECT DISTINCT UNNEST(sh) AS g FROM sh WHERE doc_id % 97 = 0),
      |egl AS (SELECT LIST(g) AS eg FROM eg),
      |tr AS (SELECT source, n_tok,
      |    LEN(LIST_INTERSECT(sh, eg)) >= 2 AS dirty
      |  FROM sh CROSS JOIN egl WHERE doc_id % 97 <> 0)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE dirty) AS BIGINT) AS n_contaminated,
      |  CAST(COALESCE(SUM(n_tok) FILTER (WHERE NOT dirty), 0) AS BIGINT)
      |    AS tokens_clean
      |FROM tr GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import graft.functions.Text
    withStreamParallelism(spark, dir) { s =>
      import org.apache.spark.sql.graft.ColumnBridge
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      // benchmark grams gated in two MAP-SIDE tiers, both probed by
      // codegen'd expressions — no join anywhere on the stream:
      //   1. a FIXED-SIZE BloomFilter blob built executor-side (d09's
      //      aggregate; the r8 verdict's ask) probed with early-exit
      //      at 2 — no false negatives, so `< 2` is definitively
      //      clean;
      //   2. an EXACT binary-search confirm against the gram set
      //      shipped as a SORTED immutable UTF8String array — the
      //      s04/s19 codebook model-state broadcast discipline, not a
      //      mutable driver HashSet. Join-based confirms both priced
      //      super-linearly on a dirty-dominant stream
      //      (array_intersect rebuilds the big side's set PER ROW; a
      //      nested-loop join copies the MB-sized array into every
      //      row — 56× past linear at ×10, BENCH_sf1 r9 first cut);
      //      the sorted probe is |sh|·log n compares per row with no
      //      per-row build.
      // The gram set is persisted so blob + array come from ONE
      // computation, and released in a finally with the broadcast
      // destroyed after the stream — repeated suite runs must not
      // accumulate MB-scale broadcasts (r9 review).
      val evalGrams = graft.Tables(s, dir).documents
        .filter(col("doc_id") % 97 === 0)
        .select(explode(array_distinct(
          Text.shingles(Text.tokens(col("text")), 3))).as("g"))
        .distinct()
        .persist()
      val (blob, sortedGrams) =
        try {
          val b = evalGrams
            .agg(ColumnBridge.column(new BloomFilterAggregate(
              ColumnBridge.expression(xxhash64(col("g"))), 4000000L)
              .toAggregateExpression()).as("bf"))
            .collect()(0).getAs[Array[Byte]](0)
          val arr = evalGrams.agg(collect_set(col("g")).as("gs"))
            .first().getSeq[String](0)
            .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
          java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
          (b, arr)
        } finally evalGrams.unpersist()
      val bcGrams = s.sparkContext.broadcast(sortedGrams)
      // ZERO eval grams (no eval docs, or all shorter than a shingle):
      // BloomFilterAggregate yields NULL for empty input — nothing can
      // be dirty, and the bloom expr must not see a null blob
      val dirty =
        if (blob == null) lit(false)
        else (ColumnBridge.column(graft.functions.BloomMatchCountExpr(
          ColumnBridge.expression(col("sh")), blob, 2)) >= 2) &&
          (ColumnBridge.column(graft.functions.SortedMatchCountExpr(
            ColumnBridge.expression(col("sh")), bcGrams, 2)) >= 2)
      val gated = docStream(s, dir)
        .filter(col("doc_id") % 97 =!= 0)
        .withColumn("tk", Text.tokens(col("text")))
        .select(col("source"), size(col("tk")).as("n_tok"),
          array_distinct(Text.shingles(col("tk"), 3)).as("sh"))
        .withColumn("dirty", dirty)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("dirty"), 1)).as("n_contaminated"),
          coalesce(sum(when(!col("dirty"), col("n_tok"))), lit(0L))
            .as("tokens_clean"))
      try runToCompletion(gated, "st14_out")
      finally bcGrams.destroy()
    }.orderBy(col("source"))
  }

  /** Per-station alert-machine state: day → (value sum, count) partials
    * plus an emission version (the final read keeps each station's
    * max-version snapshot — snapshots are NOT per-field monotone, a
    * late middle day can MERGE two episodes). Day entries are bounded
    * by the station's series span (i45's stance). */
  final case class AlertDays(days: Map[Int, (Double, Long)], version: Int)
  final case class AlertOut(station: Long, n_alert_days: Long,
      n_episodes: Long, longest_episode: Long, version: Int)

  /** st15: i50's alert-hysteresis state machine run LIVE on the
    * ingestion stream — the production placement of the drought/heat
    * watch (the reference fires webhooks exactly here): per station the
    * day → (sum, count) partials merge per batch (st10's
    * merge-aggregation stance: history never rescanned), the dead-band
    * walk (ON ≥ 25.00, OFF < 15.00) re-runs over the sorted day list —
    * O(series span) per touched station per batch — and each batch
    * emits a full versioned snapshot. The final read keeps the
    * max-version row per station, so multi-batch runs stay correct
    * even though episode counts are non-monotone. Oracle = i50's exact
    * batch SQL (same daily rounding, same walk). */
  val st15 = QueryDef(
    "st15_stream_alerts",
    """WITH daily AS (
      |  SELECT user_id AS station,
      |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS INTEGER) AS day,
      |    CAST(ROUND(ROUND(AVG(value) + 1e-9, 2) * 100) AS BIGINT) AS tc
      |  FROM events GROUP BY 1, 2),
      |ev AS (SELECT station, day,
      |    CASE WHEN tc >= 2500 THEN 1 WHEN tc < 1500 THEN 0 END AS e
      |  FROM daily),
      |st AS (SELECT station, day,
      |    COALESCE(LAST_VALUE(e IGNORE NULLS) OVER (
      |      PARTITION BY station ORDER BY day), 0) AS state
      |  FROM ev),
      |chg AS (SELECT station, day, state,
      |    CASE WHEN state = 1 AND COALESCE(LAG(state) OVER (
      |      PARTITION BY station ORDER BY day), 0) = 0 THEN 1 ELSE 0 END
      |      AS opens
      |  FROM st),
      |runs AS (SELECT station, day, state, opens,
      |    SUM(opens) OVER (PARTITION BY station ORDER BY day) AS run_id
      |  FROM chg),
      |eps AS (SELECT station, run_id, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM runs WHERE state = 1 GROUP BY station, run_id),
      |eps2 AS (SELECT station, MAX(len) AS longest FROM eps GROUP BY station)
      |SELECT r.station,
      |  CAST(COUNT(*) FILTER (WHERE r.state = 1) AS BIGINT) AS n_alert_days,
      |  CAST(SUM(r.opens) AS BIGINT) AS n_episodes,
      |  CAST(COALESCE(e2.longest, 0) AS BIGINT) AS longest_episode
      |FROM runs r LEFT JOIN eps2 e2 USING (station)
      |GROUP BY r.station, e2.longest
      |ORDER BY r.station""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    withStreamParallelism(spark, dir) { s =>
      import s.implicits._
      val updates = eventStream(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
          col("value"))
        .as[(Long, Int, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(alertFold)
      val q = updates.toDF().writeStream
        .outputMode("update").format("memory").queryName("st15_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("st15_out")
    }
      .groupBy(col("station"))
      .agg(max(struct(col("version"), col("n_alert_days"), col("n_episodes"),
        col("longest_episode"))).as("snap"))
      .select(col("station"), col("snap.n_alert_days").as("n_alert_days"),
        col("snap.n_episodes").as("n_episodes"),
        col("snap.longest_episode").as("longest_episode"))
      .orderBy(col("station"))
  }

  /** Merge the batch's day partials into state and re-run the
    * dead-band walk; rounding reproduces the batch `round(round(avg +
    * 1e-9, 2) * 100)` exactly via BigDecimal HALF_UP. */
  private[graft] def alertFold(
      station: Long, rows: Iterator[(Long, Int, Double)],
      state: org.apache.spark.sql.streaming.GroupState[AlertDays]): Iterator[AlertOut] = {
    val prev = state.getOption.getOrElse(AlertDays(Map.empty, 0))
    val days = rows.foldLeft(prev.days) { case (m, (_, day, v)) =>
      val (sum, n) = m.getOrElse(day, (0.0, 0L))
      m.updated(day, (sum + v, n + 1))
    }
    val version = prev.version + 1
    state.update(AlertDays(days, version))
    def round(x: Double, scale: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    var st = 0
    var alertDays = 0L
    var episodes = 0L
    var run = 0L
    var longest = 0L
    days.toSeq.sortBy(_._1).foreach { case (_, (sum, n)) =>
      val tc = round(round(sum / n + 1e-9, 2) * 100, 0).toLong
      val e = if (tc >= 2500L) 1 else if (tc < 1500L) 0 else st
      if (e == 1 && st == 0) { episodes += 1; run = 0 }
      st = e
      if (st == 1) {
        alertDays += 1; run += 1
        if (run > longest) longest = run
      }
    }
    Iterator.single(AlertOut(station, alertDays, episodes, longest, version))
  }

  /** st16: streaming NEAR-dup gate — st08's corpus-dedup shape raised
    * from exact content keys to MinHash band membership (the live
    * intake filter of a curation pipeline: a lightly-edited copy of
    * published content must be caught at ingest, not by the next batch
    * d07 run): each incoming document computes its 16-hash md5 MinHash
    * signature and 4 band hashes ENTIRELY map-side (per-row array
    * expressions — the stream never shuffles for its own signature,
    * unlike the batch index build which can afford the explode+agg),
    * probes the STORED corpus band index ([[graft.sources.DedupIndex]]
    * `bands` table, the same artifact d07 joins) through four
    * stream-static left joins on distinct per-band key sets (distinct
    * ⇒ joins can never multiply stream rows), and a doc sharing ANY
    * band with the corpus counts as near-dup. One stateful agg per
    * source: landed / near-dup / landed chars — the hit detection
    * itself is stateless, so the chained-stateful-aggregation
    * restriction is never touched.
    *
    * Determinism: the per-row signature (array_min over seeded md5)
    * is element-identical to the index's explode+agg MIN (same set,
    * same lexicographic min; d02b's proven parity), so band hashes
    * match the stored index byte-for-byte and the oracle replays the
    * whole gate as batch SQL. Shingle-less docs land on both engines
    * (absent from the oracle's band CTE; on the stream side their
    * all-null signature collapses to md5('') bands, which can never
    * equal a corpus band hash — md5 of nonempty joined digests). */
  val st16 = QueryDef(
    "st16_stream_neardup_gate",
    """WITH toks AS (SELECT doc_id, source, n_chars,
      |    STRING_SPLIT(text, ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id, source, n_chars, LIST_DISTINCT(LIST_TRANSFORM(
      |  RANGE(1, GREATEST(LEN(tk) - 1, 1)),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh FROM toks),
      |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
      |sig AS (SELECT doc_id, j, MIN(MD5(s || '#' || j)) AS m
      |        FROM ex, RANGE(16) r(j) GROUP BY doc_id, j),
      |band AS (SELECT doc_id, j // 4 AS band_idx,
      |         MD5(STRING_AGG(m, '|' ORDER BY j)) AS band_hash
      |         FROM sig GROUP BY doc_id, j // 4),
      |corpus AS (SELECT DISTINCT band_idx, band_hash FROM band
      |           WHERE doc_id % 2 = 0),
      |hits AS (SELECT DISTINCT b.doc_id FROM band b
      |         JOIN corpus USING (band_idx, band_hash)
      |         WHERE b.doc_id % 2 = 1),
      |sel AS (SELECT sh.source, sh.n_chars,
      |    (hits.doc_id IS NOT NULL) AS dup
      |  FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
      |  WHERE sh.doc_id % 2 = 1)
      |SELECT source,
      |  CAST(COUNT(*) FILTER (WHERE NOT dup) AS BIGINT) AS n_landed,
      |  CAST(COUNT(*) FILTER (WHERE dup) AS BIGINT) AS n_neardup,
      |  CAST(SUM(n_chars) FILTER (WHERE NOT dup) AS BIGINT) AS chars_landed
      |FROM sel GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    import graft.functions.Text
    val idx = graft.operators.Dedup.stagedCorpusIndex(spark, dir)
    withStreamParallelism(spark, dir) { s =>
      // the four distinct band-key sets are STATIC: built, persisted
      // and counted ONCE before the stream (DedupIndex.bandKeySets) —
      // the unpersisted sides re-scanned and re-shuffled the bands
      // table four times per micro-batch (r9's worst ×10 slot)
      val (bandKeys, nKeys) = graft.sources.DedupIndex.bandKeySets(s, idx)
      // one codegen'd pass over the shingle array for the whole
      // 16-lane signature — byte-identical to the interpreted
      // array_min(transform(md5...)) composition it replaced (the
      // oracle's MIN(MD5(s || '#' || j)) is unchanged), which walked
      // the array 16× per row outside codegen (r10's worst ×10 slot)
      import org.apache.spark.sql.graft.ColumnBridge
      val sv = ColumnBridge.column(graft.functions.MinHashSigExpr(
        ColumnBridge.expression(col("shg")), 16))
      // repartition BEFORE the md5-heavy signature projection: a
      // single-row-group source file scans as ONE partition, which
      // serializes the whole 16-lane md5 pass onto one core (measured:
      // the signature pass, not the joins, is the per-batch cost —
      // r11). One round-robin exchange of the batch's
      // text bytes buys full-width CPU; sized by the session's
      // stream-volume shuffle partitions, so at cluster scale it
      // follows the executor count.
      val fanout = s.conf.get("spark.sql.shuffle.partitions").toInt
      val withBands = (0 until 4).foldLeft(
        docStream(s, dir)
          .filter(col("doc_id") % 2 === 1)
          .repartition(fanout)
          .withColumn("shg",
            array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
          .withColumn("sv", sv)) { (df, b) =>
        df.withColumn(s"bh$b",
          md5(concat_ws("|", slice(col("sv"), b * 4 + 1, 4))))
      }
      val joinSides = graft.sources.DedupIndex.bandJoinSides(bandKeys, nKeys)
      val joined = (0 until 4).foldLeft(withBands) { (df, b) =>
        df.join(joinSides(b), Seq(s"bh$b"), "left_outer")
      }
      val miss = (0 until 4).map(b => col(s"hit$b").isNull).reduce(_ && _)
      val agged = joined.groupBy(col("source")).agg(
        count(when(miss, 1)).as("n_landed"),
        count(when(!miss, 1)).as("n_neardup"),
        sum(when(miss, col("n_chars"))).as("chars_landed"))
      try runToCompletion(agged, "st16_out")
      finally bandKeys.foreach(_.unpersist())
    }.orderBy(col("source"))
  }

  /** Constant-size mergeable OHLC/TWAP partial for one (user, day)
    * bar: first/last observation (with event_id tiebreaks), extremes,
    * the INTERNAL weighted sum Σ cents·(next_ts − ts) over closed
    * holds, and the count. Finalization extends the last hold to the
    * bar end — exactly j06's batch semantics. */
  final case class BarPartial(firstTsu: Long, firstEid: Long, firstV: Double,
      lastTsu: Long, lastEid: Long, lastCents: Long, lastV: Double,
      high: Double, low: Double, wsum: Long, n: Long)
  final case class BarsState(days: Map[Int, BarPartial], version: Long)
  final case class BarOut(user_id: Long, day: Int, version: Long,
      n_events: Long, open: Double, high: Double, low: Double, close: Double,
      twap: Double)

  /** st17: j06's OHLC/TWAP bars maintained LIVE — the streaming form
    * of the canonical candlestick/telemetry rollup (every ticker and
    * sensor pipeline runs exactly this): per (user, day), state is ONE
    * constant-size [[BarPartial]] — first/last observation, extremes,
    * and the closed-hold weighted sum — so state is bounded by the
    * series SPAN (days per user), never the event count (st15's
    * boundedness, but with O(1) per day instead of per-day partial
    * maps... each day IS one fixed-width struct here). Each batch
    * sorts its per-user rows by (ts, event_id) and folds: a new
    * observation closes the previous hold (wsum += last_cents·Δts) and
    * becomes the new last — the associative merge of time-ordered
    * partials. Emission finalizes WITHOUT mutating state (last hold
    * extended to bar end, the biased 4-dec division replicated via
    * BigDecimal HALF_UP), versioned snapshots per batch, final read
    * keeps the max version (st15's multi-batch-safe read).
    *
    * Assumes per-key APPEND-ORDERED arrival across batches (each
    * micro-batch's events follow the previous batch's, the standard
    * log-ingestion contract; within a batch order is free — the fold
    * sorts). Oracle: j06's batch SQL verbatim — streamed must equal
    * the batch bars exactly. */
  val st17 = QueryDef(
    "st17_stream_ohlc",
    graft.operators.Temporal.j06.oracle.get) { (spark, dir) =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    withStreamParallelism(spark, dir) { s =>
      import s.implicits._
      val updates = eventStream(s, dir)
        .select(col("user_id"),
          expr("datediff(to_date(ts), date'1970-01-01')").cast("int").as("day"),
          unix_micros(col("ts")).as("tsu"), col("event_id"), col("value"))
        .as[(Long, Int, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(barFold)
      val q = updates.toDF().writeStream
        .outputMode("update").format("memory").queryName("st17_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("st17_out")
    }
      .groupBy(col("user_id"), col("day"))
      .agg(max(struct(col("version"), col("n_events"), col("open"),
        col("high"), col("low"), col("close"), col("twap"))).as("snap"))
      .select(col("user_id"), col("day"), col("snap.n_events").as("n_events"),
        col("snap.open").as("open"), col("snap.high").as("high"),
        col("snap.low").as("low"), col("snap.close").as("close"),
        col("snap.twap").as("twap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Fold one batch's (user) rows into the per-day bar partials and
    * emit finalized versioned snapshots of every bar the user holds. */
  private[graft] def barFold(
      user: Long, rows: Iterator[(Long, Int, Long, Long, Double)],
      state: org.apache.spark.sql.streaming.GroupState[BarsState]): Iterator[BarOut] = {
    val prev = state.getOption.getOrElse(BarsState(Map.empty, 0L))
    // q34's cents convention: CAST(ROUND(value * 100) AS BIGINT)
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val sorted = rows.toSeq.sortBy(r => (r._2, r._3, r._4)) // (day, tsu, eid)
    val days = sorted.foldLeft(prev.days) { case (m, (_, day, tsu, eid, v)) =>
      val c = cents(v)
      m.get(day) match {
        case None =>
          m.updated(day, BarPartial(tsu, eid, v, tsu, eid, c, v, v, v, 0L, 1L))
        case Some(p) =>
          // append-ordered: the new observation closes the last hold
          m.updated(day, p.copy(
            lastTsu = tsu, lastEid = eid, lastCents = c, lastV = v,
            high = math.max(p.high, v), low = math.min(p.low, v),
            wsum = p.wsum + p.lastCents * (tsu - p.lastTsu), n = p.n + 1))
      }
    }
    val version = prev.version + 1
    state.update(BarsState(days, version))
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x + 1e-9)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    days.iterator.map { case (day, p) =>
      val barEnd = (day + 1L) * 86400000000L
      val wsum = p.wsum + p.lastCents * (barEnd - p.lastTsu)
      val twap = round4(wsum.toDouble / (100.0 * (barEnd - p.firstTsu)))
      BarOut(user, day, version, p.n, p.firstV, p.high, p.low, p.lastV, twap)
    }
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over the embeddings parquet (docStream's
    * directory/leaf-glob layout split). */
  private def embStream(spark: SparkSession, dir: String): DataFrame =
    if (new java.io.File(s"$dir/embeddings.parquet").isDirectory)
      spark.readStream.schema(embSchema).parquet(s"$dir/embeddings.parquet")
    else
      spark.readStream
        .schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)

  /** st18: MODEL SCORING IN-FLIGHT — s19's nearest-centroid
    * classifier applied to the embedding STREAM (the deployment shape
    * of label propagation: train once batch-side, score every
    * arriving vector before it lands): centroids come from
    * [[graft.operators.Similarity.labelCentroids]] — the SAME
    * driver-held model the batch classifier uses — inlined into the
    * stream as the broadcast-gated codebookArgmaxCid fused argmax, so
    * the streaming plan is STATELESS map-only (no state store, no
    * watermark; scoring cost is O(K·dims) per arriving row — the s19
    * scale trade carried into the stream). st09 gates on static
    * rules; st18 gates on a TRAINED model. Oracle: s19's batch SQL
    * verbatim — streamed predictions must equal the batch
    * classifier's exactly. */
  val st18 = QueryDef(
    "st18_stream_classify",
    graft.operators.Similarity.s19.oracle.get) { (spark, dir) =>
    val centroids = graft.operators.Similarity.labelCentroids(spark, dir)
    withStreamParallelism(spark, dir) { s =>
      val scored = embStream(s, dir)
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("label").cast("int").as("true_label"),
          graft.functions.Vectors.codebookArgmaxCid(
            col("embedding").cast("array<double>"), centroids, s)
            .cast("int").as("pred_label"))
      val q = scored.writeStream
        .outputMode("append").format("memory").queryName("st18_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("st18_out")
    }
      .select(col("query_id"), col("true_label"), col("pred_label"),
        when(col("pred_label") === col("true_label"), 1).otherwise(0)
          .cast("int").as("correct"))
      .orderBy(col("query_id"))
  }

  /** Per-user coverage state: completed-island aggregates + the ONE
    * open island — constant size regardless of event count. */
  final case class CovState(nIntervals: Long, nClosed: Long,
      closedCovered: Long, closedLongest: Long,
      curStart: Long, curEnd: Long, version: Long)
  final case class CovOut(user_id: Long, version: Long, n_islands: Long,
      n_intervals: Long, covered_us: Long, longest_us: Long)

  /** st19: j08's interval-union coverage maintained LIVE — the
    * uptime/billing counter kept current as usage events arrive: per
    * user, state is [[CovState]] — the completed-island aggregates
    * (count, covered, longest) plus the ONE open island — CONSTANT
    * size however many intervals stream in (st17's boundedness taken
    * further: O(1) per USER, not per day). Each batch sorts its
    * per-user spans by (start, event_id) and folds j08's
    * gaps-and-islands rule: a span past the open island's end closes
    * it into the aggregates and opens a new one; an overlapping or
    * touching span extends the end. Emission finalizes WITHOUT
    * mutating state (the open island counted as one more);
    * versioned snapshots per batch, final read keeps the max version
    * (st15/st17's multi-batch-safe read). Assumes per-key
    * append-ordered arrival across batches (st17's log-ingestion
    * contract; within a batch the fold sorts). Oracle: j08's batch
    * SQL verbatim — streamed coverage must equal the batch islands
    * exactly. */
  val st19 = QueryDef(
    "st19_stream_coverage",
    graft.operators.Temporal.j08.oracle.get) { (spark, dir) =>
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    withStreamParallelism(spark, dir) { s =>
      import s.implicits._
      val updates = eventStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("sm"),
          (unix_micros(col("ts")) + floor(col("value") * 60000000d).cast("long"))
            .as("em"),
          col("event_id"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(coverageFold)
      val q = updates.toDF().writeStream
        .outputMode("update").format("memory").queryName("st19_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("st19_out")
    }
      .groupBy(col("user_id"))
      .agg(max(struct(col("version"), col("n_islands"), col("n_intervals"),
        col("covered_us"), col("longest_us"))).as("snap"))
      .select(col("user_id"), col("snap.n_islands").as("n_islands"),
        col("snap.n_intervals").as("n_intervals"),
        col("snap.covered_us").as("covered_us"),
        col("snap.longest_us").as("longest_us"))
      .orderBy(col("user_id"))
  }

  /** Fold one batch's (user) spans into the constant-size coverage
    * state and emit one finalized versioned snapshot. */
  private[graft] def coverageFold(
      user: Long, rows: Iterator[(Long, Long, Long, Long)],
      state: org.apache.spark.sql.streaming.GroupState[CovState]): Iterator[CovOut] = {
    val prev = state.getOption.getOrElse(CovState(0L, 0L, 0L, 0L, -1L, -1L, 0L))
    val sorted = rows.toSeq.sortBy(r => (r._2, r._4)) // (sm, event_id)
    val st = sorted.foldLeft(prev) { case (c, (_, sm, em, _)) =>
      if (c.curStart < 0)
        c.copy(nIntervals = c.nIntervals + 1, curStart = sm, curEnd = em)
      else if (sm > c.curEnd) {
        val len = c.curEnd - c.curStart
        c.copy(nIntervals = c.nIntervals + 1, nClosed = c.nClosed + 1,
          closedCovered = c.closedCovered + len,
          closedLongest = math.max(c.closedLongest, len),
          curStart = sm, curEnd = em)
      } else
        c.copy(nIntervals = c.nIntervals + 1,
          curEnd = math.max(c.curEnd, em))
    }
    val version = prev.version + 1
    state.update(st.copy(version = version))
    if (st.curStart < 0) Iterator.empty
    else {
      val curLen = st.curEnd - st.curStart
      Iterator.single(CovOut(user, version,
        st.nClosed + 1, st.nIntervals,
        st.closedCovered + curLen, math.max(st.closedLongest, curLen)))
    }
  }

  val all: Seq[QueryDef] =
    Seq(st01, st02, st03, st04, st05, st06, st07, st08, st09, st10, st11, st12,
      st13, st14, st15, st16, st17, st18, st19)
}

package graft.sources

import graft.functions.Text
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus's persisted DEDUP INDEX — the stored artifact d07's
  * design comment promises: at 100 TB the corpus side's content
  * hashes, prefix keys, minhash signatures and band rows are computed
  * ONCE when a slice publishes (cost ∝ slice) and every later
  * incremental batch or streaming micro-batch joins against the
  * stored tables — the corpus text is never re-shingled per cycle.
  *
  * Layout under `indexDir` (both date-partitioned like any published
  * dataset, maintained per-slice by [[Jobs]] with the same dynamic
  * partition overwrite as the data itself, so a retried cycle
  * overwrites exactly its own dates):
  *
  *   - `hashes/`: one row per doc — `doc_id`, `h` (md5 of the full
  *     text: d07's exact tier), `pk` (md5 of the 8-token normalized
  *     prefix: st08's streaming key), `sv` (the 16-element md5 minhash
  *     signature: d07's estimate tier).
  *   - `bands/`: 4 rows per doc — `doc_id`, `band_idx`, `band_hash`
  *     (d07's LSH candidate tier).
  *
  * Every column is byte-identical to what the inline d07/st08 paths
  * computed from the raw text (same [[Dedup.md5MinhashSigTable]] /
  * [[Dedup.bandsFromSigs]] expressions), so reading the index instead
  * of recomputing cannot move an oracle. The confirm (jaccard) tier
  * deliberately stays OUT of the index: storing shingle sets would
  * duplicate the corpus text; confirmed candidates are rare and
  * batch-proportional, so re-tokenizing just those docs is the right
  * trade (reference `raster_vector.py:158`'s idempotent re-ingest,
  * generalized). */
object DedupIndex {

  /** st08's normalized-prefix content key. */
  private[graft] def prefixKey(text: org.apache.spark.sql.Column) =
    md5(concat_ws(" ", slice(Text.tokens(text), 1, 8)))

  /** Index rows for a document frame: (hashes, bands). */
  def build(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val sh = base.select(col("doc_id"),
      array_distinct(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
    val sigs = Dedup.md5MinhashSigTable(sh, "doc_id", "sh")
    val hashes = base
      .select(col("doc_id"), md5(col("text")).as("h"), prefixKey(col("text")).as("pk"))
      .join(sigs, "doc_id")
    val bands = Dedup.bandsFromSigs(sigs, "doc_id")
    (hashes, bands)
  }

  /** Index maintenance for one published slice: compute the index for
    * the SLICE ONLY and overwrite exactly its date partitions (the
    * [[Publish.writeDatePartitioned]] idempotency discipline) — the
    * per-cycle index cost scales with the slice, never the corpus. */
  def publishSlice(slice: DataFrame, indexDir: String, tsCol: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val keyed = slice.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      col(tsCol).as("__ts"))
    val (hashes, bands) = build(keyed)
    val ts = keyed.select(col("doc_id"), col("__ts"))
    Publish.writeDatePartitioned(hashes.join(ts, "doc_id"), indexDir, "hashes", "__ts")
    Publish.writeDatePartitioned(bands.join(ts, "doc_id"), indexDir, "bands", "__ts")
  }

  /** RETENTION on the stored index, tied to the data's partition
    * drops: without it the index grows monotonically per published
    * slice — and keeps deduplicating incoming docs against content the
    * corpus no longer holds (a doc matching only expired content must
    * land, not drop). Removes the same `date_key=` partitions the
    * data's [[Publish.dropOldPartitions]] removed, from BOTH index
    * tables; O(#dropped partitions) metadata work, never a rewrite.
    * [[Jobs]] calls this in the same cycle step as the data retention,
    * so `index == build(retained corpus)` stays an invariant. */
  def dropOldPartitions(spark: SparkSession, indexDir: String,
      cutoffDateKey: String): Seq[String] =
    (Publish.dropOldPartitions(spark, indexDir, "hashes", cutoffDateKey) ++
      Publish.dropOldPartitions(spark, indexDir, "bands", cutoffDateKey))
      .distinct.sorted

  /** Small-file COMPACTION — [[graft.operators.Scale.compact]]'s
    * housekeeping applied per FRAGMENTED index partition: a date
    * republished by retried cycles (or written wide) accretes files,
    * and at 100 TB an index probe pays per-file open cost. Each
    * partition holding more than `maxFilesPerPartition` parquet files
    * is rewritten alone into ~`targetRowsPerFile` chunks — cost ∝
    * fragmented partitions, never the index. The rewrite stages next
    * to the partition then swaps (delete + rename); a crash between
    * the two leaves a missing partition plus its staged copy — the
    * same repair story as a crashed cycle (republish the slice:
    * per-date overwrite is idempotent). Returns the rewritten
    * partition paths. */
  def compactFragmented(spark: SparkSession, indexDir: String,
      maxFilesPerPartition: Int = 4,
      targetRowsPerFile: Long = 1L << 22): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    Seq("hashes", "bands").flatMap { t =>
      val base = new org.apache.hadoop.fs.Path(s"$indexDir/$t")
      val fs = base.getFileSystem(hconf)
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("date_key=")).map(_.getPath)
        .filter { p =>
          fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) >
            maxFilesPerPartition
        }
        .map { p =>
          val df = spark.read.parquet(p.toString)
          val total = df.count()
          val numFiles =
            math.max(1, math.ceil(total.toDouble / targetRowsPerFile).toInt)
          val stage = new org.apache.hadoop.fs.Path(base, s".compact_${p.getName}")
          df.repartition(numFiles).write.mode("overwrite").parquet(stage.toString)
          fs.delete(p, true)
          fs.rename(stage, p)
          p.toString
        }.toSeq
    }
  }

  def readHashes(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/hashes")
      .select(col("doc_id"), col("h"), col("pk"), col("sv"))

  def readBands(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/bands")
      .select(col("doc_id"), col("band_idx"), col("band_hash"))

  /** The per-band DISTINCT key sets of a stored index, persisted and
    * materialized before any stream starts — the stream-static join
    * sides st16 probes. A stream-static side is re-planned and
    * RE-EXECUTED every micro-batch, so an unpersisted side re-scans
    * and re-shuffles the bands table once per band per batch (the
    * suite's worst ×10 ratio in r9's scale artifact; the same lesson
    * st14 learned for its gram set). Each returned frame is
    * `(bh<b>, hit<b>)`, cached and counted here so micro-batches only
    * ever probe memory; the counts' total comes back with the frames,
    * for [[bandJoinSides]]. Callers unpersist after the stream completes.
    * At 100 TB the distinct band-hash set is corpus-sized — these
    * cached sets shard across executors (MEMORY_AND_DISK), which is
    * exactly what a shuffled stream-static join needs; nothing is
    * collected to the driver. */
  def bandKeySets(spark: SparkSession, indexDir: String,
      nBands: Int = 4): (IndexedSeq[DataFrame], Long) = {
    // ONE scan + ONE distinct over (band_idx, band_hash); the per-band
    // sets then materialize from that cache, never the parquet again.
    // The previous per-band scan+distinct rounds cost 4 table scans
    // and 4 shuffles — measured 6.9 s vs 0.7 s at the ×10 corpus
    // (r11). Same distinct keys: distinct pairs filtered
    // to one band ≡ distinct hashes within that band.
    val merged = readBands(spark, indexDir)
      .select(col("band_idx"), col("band_hash")).distinct().persist()
    val sets = (0 until nBands).map { b =>
      merged.filter(col("band_idx") === b)
        .select(col("band_hash").as(s"bh$b"))
        .withColumn(s"hit$b", lit(1))
        .persist()
    }
    val keys = sets.map(_.count()).sum // materialize once, pre-stream
    merged.unpersist() // children hold the rows now; same handles as ever
    (sets, keys)
  }

  /** Band-key count at or below which [[bandJoinSides]] hints broadcast. */
  val BroadcastKeyBudget = 4000000L

  /** The join-side view of [[bandKeySets]]' frames, the s18
    * pair-budget routing pattern: an SMJ stream-static join
    * re-EXCHANGES AND RE-SORTS the (cached) static side every
    * micro-batch — persisting only fixes the re-scan. Below the key
    * budget, hint broadcast so micro-batches probe an executor-local
    * hash map and the stream side never shuffles; past it (the 100 TB
    * corpus-sized index), the shuffle join IS the scale path. The
    * UNHINTED persisted frames stay the unpersist handles (an
    * unpersist through the hint wrapper misses the cache entry).
    * `keys` is [[bandKeySets]]' total; specs pass `keyBudget` to force
    * a side. */
  private[graft] def bandJoinSides(sets: IndexedSeq[DataFrame], keys: Long,
      keyBudget: Long = BroadcastKeyBudget): IndexedSeq[DataFrame] =
    if (keys <= keyBudget) sets.map(broadcast(_)) else sets
}

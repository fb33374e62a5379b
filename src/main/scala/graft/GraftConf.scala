package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for graft workloads, and the only
  * place graft writes a session's conf.
  *
  * Local test/bench values; comments carry the 100 TB cluster analogue
  * (SURVEY.md §5) — the knobs are the same, only the numbers move.
  * Every engine policy is set here at build time, so a query's plan
  * never depends on what ran before it in the JVM. A caller can
  * override any of them with a later `.config` on the returned builder.
  */
object GraftConf {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // = 2–3 × total executor cores on a real cluster; AQE coalesces down
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // runtime re-planning: skew-join splitting + partition coalescing
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions toward the 64 MB advisory size,
      // not the session parallelism: with Spark's default a KB-sized
      // shuffle fans out to one tiny task per core (0.2-0.7 s of task
      // overhead per query at bench SF; the suite ran faster at 8 cores
      // than at 32). A no-op at 100 TB, where partitions exceed the
      // advisory size
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // coalescing floor of an eighth of the width: without one, any
      // sub-advisory exchange coalesces to ONE partition and serializes
      // the final stage of small but compute-heavy keyed tables (d13's
      // pair counts, q34/q40's grid merge, t06's vocab merge: 0.1-0.5 s
      // each at 32 cores); stock Spark floors at the width itself
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(1, shufflePartitions / 8).toString)
      // let AQE (and the coalescing above) re-plan the plans that fill
      // persisted intermediates; otherwise every consumer of a small
      // intra-query cache inherits its width-many KB-sized blocks
      // (full suite at 32 cores: 207 → 190 s, neutral at 8)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS), which Spark 4
      // rejects unless read as long; Tables and the event streams convert
      // it back to a microsecond timestamp
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // per-date dynamic overwrite of a published table is a DSv2
      // catalog verb (PublishedTable.publishSlice)
      .config(s"spark.sql.catalog.${sources.PublishedTable.CatalogName}",
        classOf[sources.PublishedCatalog].getName)
      // 128m default; at 100 TB keep scan tasks ≲ a few hundred MB
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // dims up to 64 MB broadcast rather than shuffled
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      // oracle parity + reference convention (all data is UTC)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default 100-entry codegen cache is smaller than one
      // ingest cycle's working set, so every scheduled cycle recompiled
      // ~55 classes; 2000 keeps them warm. Static and JVM-wide: Spark
      // sizes the cache once, when the JVM first generates code, so it
      // can only be set here at build time, never per query.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // the `file:` file system sets permissions inside the JVM instead
      // of running a `chmod` process per created file, .crc and directory
      // (sources.LocalFs). Hadoop caches file systems by scheme and user,
      // so it serves a JVM whose first `file:` lookup is made after this
      // session is built
      .config("spark.hadoop.fs.file.impl", classOf[sources.LocalFs].getName)
      .withExtensions(new GraftExtensions)

  /** Holds AQE partition coalescing off in an [[isolated]] scope: for
    * iterative loops whose per-round exchanges must keep the scope's
    * width. The engine default would coalesce a small round's exchange
    * to one partition, serializing the rewrite and materializing any
    * per-round cache one-wide. */
  private[graft] val NoCoalescing: (String, String) =
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  /** Runs `body` on an isolated session with shuffle width `width` and
    * `confs`. The session is `spark.newSession()`: it shares the
    * SparkContext, the cache and the build-time conf, and has its own
    * SQL conf, so nothing is written to the caller's session and two
    * scopes on one session never see each other's values. Runtime
    * settings of the caller's session are not carried in.
    *
    * Frames cross with [[org.apache.spark.sql.graft.ColumnBridge.ofRows]]:
    * a frame bridged in runs its jobs at the scope's width, and a frame
    * bridged back out is planned by the caller's session. */
  private[graft] def isolated[T](spark: SparkSession, width: Int, confs: (String, String)*)(
      body: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    body(s)
  }
}

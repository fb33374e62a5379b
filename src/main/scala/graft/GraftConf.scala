package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for graft workloads.
  *
  * Local test/bench values; comments carry the 100 TB cluster analogue
  * (SURVEY.md §5) — the knobs are the same, only the numbers move.
  */
object GraftConf {

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // = 2–3 × total executor cores on a real cluster; AQE coalesces down
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // runtime re-planning: skew-join splitting + partition coalescing
      .config("spark.sql.adaptive.enabled", "true")
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
      .withExtensions(new GraftExtensions)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-provided parquet layout
  * (`TESTDATA.md`): one parquet per table under a scale-factor dir.
  *
  * At 100 TB the same API points at a partitioned lakehouse layout;
  * nothing here materializes data — each accessor returns a lazy scan
  * so Catalyst can push filters/projections into the parquet reader.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  def table(name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    var df = spark.read.parquet(s"$dir/$name.parquet")
    // Generations of the driver data differ in timestamp encoding:
    // events.ts has appeared as INT64 TIMESTAMP(NANOS) (read as long
    // under the session's nanosAsLong, set by GraftConf.builder) and as
    // TIMESTAMP_NTZ. Normalize both to the session-zone TIMESTAMP every
    // operator and oracle assumes: nanos by integer division (going
    // through double would lose precision at ~1.7e18 ns, and DuckDB
    // oracles over events CAST(ts AS TIMESTAMP) for the same
    // truncation); with the UTC session zone the NTZ cast preserves the
    // wall-clock value DuckDB reads from the same file.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df = df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    df.schema.fields.foreach { f =>
      if (f.dataType == TimestampNTZType)
        df = df.withColumn(f.name, col(f.name).cast("timestamp"))
    }
    df
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def events: DataFrame = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register all tables as temp views for the SQL interface (q11). */
  def registerViews(): Unit =
    Tables.names.foreach(n => table(n).createOrReplaceTempView(n))
}

object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Repartition `df` to the session parallelism when its input is
    * too small to scan in parallel — the input-parallelism fix for
    * expensive per-row kernels over a scan of few (or unsplittable)
    * files: a 1 MB single-row-group documents file plans as ONE scan
    * partition, so shingling/hashing/BPE kernels otherwise run serial
    * on a 32-core session. Gated on the OPTIMIZER size estimate, not on
    * `df.rdd` — building the RDD would compile a second whole-stage-
    * codegen plan per call (~0.3-1 s of driver time per cold query,
    * measured as a uniform in-suite regression). The estimate errs
    * toward spreading (a huge single-row-group file still estimates
    * many splits), which only matters below `p/2 × maxPartitionBytes`
    * of input — at scale a real corpus scan passes the gate untouched
    * and no shuffle is added.
    *
    * With `keys`, hash on all of them: deterministic under retries and
    * no sort-before-repartition pass; several keys serve probe frames
    * whose single columns are each too low-cardinality or clustered to
    * hash alone (i54/i55's station coordinates concentrate on a rounded
    * grid), while the tuple spreads. With no keys, round-robin — for
    * frames whose columns are all low-cardinality (a hash spread would
    * collapse onto a few partitions); round-robin locally sorts its
    * input first (sortBeforeRepartition, on by default) so retries
    * replay the same placement. */
  def spread(df: DataFrame, keys: String*): DataFrame = {
    if (df.isStreaming) return df // no stats on streaming plans
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(maxSplit) * math.max(1, p / 2)) df
    else if (keys.isEmpty) df.repartition(p)
    else df.repartition(p, keys.map(org.apache.spark.sql.functions.col): _*)
  }
}

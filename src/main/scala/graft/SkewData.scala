package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: build a ×10 scale-up of sf0.1 with ADVERSARIAL skew, for
  * off-driver-scale benchmarking of the dedup caps and the skew-join
  * defenses (SURVEY §7's BENCH_skew table).
  *
  *   - orders/lineitem replicate 10× with consistently remapped keys
  *     (key·10 + replica on BOTH sides, so join degrees are preserved),
  *     then ~5% of all lineitem rows are REPOINTED at one hot order —
  *     a single join key carrying ~300k rows, the shape AQE's skew
  *     split (q04) and explicit salting (q15) exist for;
  *   - documents replicate 10× likewise, then 10% of the corpus is
  *     REWRITTEN as one identical boilerplate text (~5k exact copies
  *     sharing every shingle) — the flood the LSH BucketCap bounds;
  *   - events replicate 10× likewise, then ~5% of ALL events are
  *     REPOINTED at one BOT user — the adversary of the user-keyed
  *     product-analytics family (q28–q31) and the station-series QC
  *     windows (i43, i45): a single key whose whole history lands in
  *     one ordered window partition;
  *   - remaining tables copy through unchanged so the bench harness
  *     warm-up finds the full layout.
  *
  * Usage: runMain graft.SkewData [srcSfDir] [outDir]
  */
object SkewData {

  val Copies = 10
  val Boilerplate: String =
    "the quick brown fox jumps over the lazy dog while the rain in spain " +
      "falls mainly on the plain and all work and no play makes jack a dull boy"

  /** Replicate `df` `Copies`× map-side, remapping each key column as
    * key·Copies + replica so cross-table join relationships survive. */
  def amplify(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val rep = df.withColumn("__rep", explode(sequence(lit(0), lit(Copies - 1))))
    keyCols.foldLeft(rep) { (d, k) =>
      d.withColumn(k, col(k) * Copies + col("__rep"))
    }.drop("__rep")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/skewdata")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet's INT64 nanos read as long (Tables converts them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, src)

    val hotKey = t.orders.agg(min(col("o_orderkey"))).collect()(0).getLong(0) * Copies
    amplify(t.orders, Seq("o_orderkey", "o_custkey"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/orders.parquet")
    // ~5% of lineitem repoints at ONE existing order key
    amplify(t.lineitem, Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .withColumn("l_orderkey",
        when(pmod(col("l_orderkey"), lit(20)) === 7, lit(hotKey))
          .otherwise(col("l_orderkey")))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // 10% of the amplified corpus becomes one exact boilerplate text
    amplify(t.documents, Seq("doc_id"))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 3, lit(Boilerplate))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ~5% of all events repoint at ONE bot user (event ids stay unique);
    // ts goes back to the layout's nanos-long encoding (Tables converts)
    val botUser = t.events.agg(min(col("user_id"))).collect()(0).getLong(0) * Copies
    amplify(t.events, Seq("event_id", "user_id"))
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(20)) === 7, lit(botUser))
          .otherwise(col("user_id")))
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    // pass-through tables: byte-copy the originals
    val copyThrough = Tables.names
      .filterNot(Seq("orders", "lineitem", "documents", "events").contains)
    copyThrough.foreach { n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$n.parquet"),
        java.nio.file.Paths.get(s"$out/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Seq("orders", "lineitem", "documents", "events").foreach { n =>
      println(s"$n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: build a UNIFORM (skew-free) ×10 scale-up of sf0.1 — the
  * sf1-equivalent corpus for the full-suite super-linearity check
  * (SURVEY §7): every fact table replicates 10× with join-consistent
  * key remapping, dimension tables (region, nation) pass through like
  * TPC-H's fixed dims. Complements [[SkewData]] (same machinery, no
  * adversarial rewrites).
  *
  * Key remapping, two schemes on purpose:
  *   - TPC-H keys + events: key·10 + replica ([[SkewData.amplify]]) —
  *     preserves join degrees across orders/lineitem/customer/part/
  *     supplier and the user-keyed event analytics;
  *   - documents/embeddings: BLOCK remap (id + replica·n) — keeps the
  *     id-structured conventions intact: `vec_id < K` still addresses
  *     K distinct seed vectors (not 10 copies of seed 0), and
  *     `doc_id % k` splits keep per-replica structure (n is even).
  *
  * Usage: runMain graft.Sf1Data [srcSfDir] [outDir]
  */
object Sf1Data {

  /** Replicate with BLOCK id remapping: id + replica·n. */
  def amplifyBlock(df: DataFrame, idCol: String, n: Long): DataFrame =
    df.withColumn("__rep", explode(sequence(lit(0), lit(SkewData.Copies - 1))))
      .withColumn(idCol, col(idCol) + col("__rep") * n)
      .drop("__rep")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet's INT64 nanos read as long (Tables converts them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, src)

    // single-FILE layout like the driver's testdata: the streaming
    // family (pathGlobFilter + content fingerprints) addresses leaf
    // files named <table>.parquet, so stage the one part file and move
    // it into place
    def write(df: DataFrame, name: String): Unit = {
      val stage = s"$out/_stage_$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file staged for $name"))
      val dest = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part.toPath, dest)
      new java.io.File(stage).listFiles().foreach(_.delete())
      new java.io.File(stage).delete()
    }

    write(SkewData.amplify(t.orders, Seq("o_orderkey", "o_custkey")), "orders")
    write(SkewData.amplify(t.lineitem, Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "lineitem")
    write(SkewData.amplify(t.customer, Seq("c_custkey")), "customer")
    write(SkewData.amplify(t.part, Seq("p_partkey")), "part")
    write(SkewData.amplify(t.supplier, Seq("s_suppkey")), "supplier")
    write(SkewData.amplify(t.events, Seq("event_id", "user_id"))
      .withColumn("ts", unix_micros(col("ts")) * 1000L), "events")
    val nDocs = t.documents.count()
    write(amplifyBlock(t.documents, "doc_id", nDocs), "documents")
    val nVecs = t.embeddings.count()
    write(amplifyBlock(t.embeddings, "vec_id", nVecs), "embeddings")

    Seq("region", "nation").foreach { n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$n.parquet"),
        java.nio.file.Paths.get(s"$out/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Tables.names.foreach { n =>
      println(s"$n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }
    spark.stop()
  }
}

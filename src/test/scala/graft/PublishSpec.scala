package graft

import graft.sources.Publish
import java.nio.file.Files
import org.apache.spark.sql.functions._

class PublishSpec extends SparkSpec {

  test("writeDatePartitioned lays out per-date partitions and returns the payload") {
    val out = Files.createTempDirectory("graft_pub").toString
    val events = Tables(spark, sf).events
    val payload = Publish.writeDatePartitioned(events, out, "events_ns", "ts")
    assert(payload == Publish.IngestPayload("events_ns", s"$out/events_ns", "parquet"))
    val back = spark.read.parquet(s"$out/events_ns")
    assert(back.count() == events.count())
    // layout is date-partitioned (directory per date_key)
    val dates = back.select("date_key").distinct().count()
    assert(dates > 1)

    // re-publishing ONE date with changed data replaces only that partition
    val oneDay = events.limit(1)
      .select(date_format(col("ts"), "yyyy-MM-dd")).collect()(0).getString(0)
    val replacement = events
      .filter(date_format(col("ts"), "yyyy-MM-dd") === oneDay)
      .withColumn("value", lit(-1.0))
    Publish.writeDatePartitioned(replacement, out, "events_ns", "ts")
    val after = spark.read.parquet(s"$out/events_ns")
    assert(after.count() == events.count())
    val replacedVals = after.filter(col("date_key") === oneDay)
      .select("value").distinct().collect().map(_.getDouble(0))
    assert(replacedVals.sameElements(Array(-1.0)))
    val untouched = after.filter(col("date_key") =!= oneDay)
      .filter(col("value") === -1.0).count()
    assert(untouched == 0)
  }

  test("date filters prune partitions of the published layout at plan time") {
    val out = Files.createTempDirectory("graft_pub_prune").toString
    Publish.writeDatePartitioned(Tables(spark, sf).events, out, "ns", "ts")
    // partition-value inference types date_key as DATE on read
    val oneDay = spark.read.parquet(s"$out/ns")
      .select(col("date_key").cast("string")).distinct()
      .orderBy("date_key").collect()(0).getString(0)
    val filtered = spark.read.parquet(s"$out/ns").filter(col("date_key") === oneDay)
    val plan = filtered.queryExecution.executedPlan.toString()
    // the date predicate must land in PartitionFilters (metadata-only
    // pruning — the 100 TB guarantee that one day's query reads one
    // day's files), not in the post-scan Filter
    assert(plan.contains("PartitionFilters: [isnotnull(date_key"), s"no partition pruning:\n$plan")
    assert(filtered.count() > 0)
  }

  test("registered graft functions are callable from plain SQL") {
    graft.functions.RollingFingerprintExpr.register(spark)
    // vector + hashing expressions through the SQL surface, same
    // session-level registry GraftExtensions injects at session create
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
    val r = spark.sql(
      """SELECT graft_rolling_fp('ab') AS fp,
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |  graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
        |  graft_hyperplane_bucket(array(1.0d, 2.0d), 4, 2) AS bkt""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 3105L)
    assert(r.getDouble(1) == 11.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getInt(3) >= 0 && r.getInt(3) < 16)
  }

  test("GraftConf builder carries the graft function extensions") {
    // a sibling session gets a fresh function registry built from the
    // context's extensions, so no per-session registration by an earlier
    // test can stand in for the builder's GraftExtensions
    val r = spark.newSession().sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
  }

  test("GraftConf builder sizes the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000",
      "Spark's default 100 entries is below one ingest cycle's working set: " +
        "every scheduled cycle would recompile its generated classes")
  }

  test("permissive csv read surfaces corrupt records instead of failing") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("data.csv")
    Files.writeString(f, "id,value\n1,10.5\n2,not_a_number\n3,30.0\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("value", DoubleType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.toString).cache()
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter(col("value").isNotNull).count() == 2)
  }
}

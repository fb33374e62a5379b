package graft

import graft.sources.{JobConfig, Jobs, PublishedTable, PublishedTableCounters}
import org.apache.spark.sql.functions._

/** The transactional DSv2 publish table: manifest-committed writes,
  * snapshot-isolated reads, per-date dynamic overwrite, logical
  * retention + vacuum, and Jobs publishing through it. */
class PublishedTableSpec extends SparkSpec {

  private val fmt = "graft.sources.PublishedTable"

  private def rows(day: Int, vs: Seq[Double]) = {
    import spark.implicits._
    vs.map(v => (f"2024-06-$day%02d", v)).toDF(PublishedTable.DateCol, "v")
  }

  private def readBack(path: String) =
    spark.read.format(fmt).option("path", path).load()
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted

  test("round-trip: write → read; dynamic overwrite replaces exactly its dates, atomically") {
    val path = java.nio.file.Files.createTempDirectory("graft_pub").toString + "/t"
    rows(1, Seq(1.0, 2.0)).unionByName(rows(2, Seq(10.0)))
      .write.format(fmt).option("path", path).mode("append").save()
    assert(readBack(path) == Seq(("2024-06-01", 1.0), ("2024-06-01", 2.0), ("2024-06-02", 10.0)))

    // a reader resolved BEFORE the overwrite keeps its snapshot
    val before = PublishedTable.snapshot(spark, path)

    // dynamic overwrite (the catalog write verb): day 2 is replaced,
    // day 1 untouched, NO duplicates
    rows(2, Seq(20.0, 21.0))
      .writeTo(s"${PublishedTable.CatalogName}.`$path`").overwritePartitions()
    assert(readBack(path) == Seq(
      ("2024-06-01", 1.0), ("2024-06-01", 2.0), ("2024-06-02", 20.0), ("2024-06-02", 21.0)))
    // snapshot isolation: the pre-overwrite reader still sees v0's rows
    assert(before.collect().map(_.getDouble(1)).sorted.toSeq == Seq(1.0, 2.0, 10.0))

    // plain overwrite (no dynamic conf) = truncate
    rows(3, Seq(7.0)).write.format(fmt).option("path", path).mode("overwrite").save()
    assert(readBack(path) == Seq(("2024-06-03", 7.0)))
  }

  test("two writers racing one version slot: exactly one wins, loser fails loudly") {
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files.createTempDirectory("graft_pubcas").toString + "/t"
    rows(1, Seq(1.0)).write.format(fmt).option("path", path).mode("append").save()
    val m = PublishedTable.latestManifest(path).get
    val schema = m.schema
    // writer A commits version N+1 first; writer B (same target
    // version, the race) must throw and must NOT touch A's manifest
    PublishedTable.commitManifest(path, m.version + 1, schema,
      m.files :+ ("2024-06-09", "data/a.parquet"))
    val e = intercept[IllegalStateException] {
      PublishedTable.commitManifest(path, m.version + 1, schema,
        m.files :+ ("2024-06-09", "data/b.parquet"))
    }
    assert(e.getMessage.contains("race"), e.getMessage)
    // the table sits on the WINNER's consistent version
    val after = PublishedTable.readManifest(path, m.version + 1)
    assert(after.files.exists(_._2 == "data/a.parquet"), after.files.toString)
    assert(!after.files.exists(_._2 == "data/b.parquet"), after.files.toString)
    // and a true concurrent race: many threads, one slot — exactly one
    // winner, everyone else loud, manifest valid
    val slot = m.version + 2
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Int, Int]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        gate.await()
        try { PublishedTable.commitManifest(path, slot, schema,
          m.files :+ (s"2024-06-1$i", s"data/w$i.parquet")); results.add(Right(i)) }
        catch { case _: IllegalStateException => results.add(Left(i)) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val winners = results.asScala.collect { case Right(i) => i }.toList
    assert(winners.size == 1, s"winners=$winners")
    val committed = PublishedTable.readManifest(path, slot)
    assert(committed.files.exists(_._2 == s"data/w${winners.head}.parquet"),
      committed.files.toString)
    assert(committed.schema == schema)
  }

  test("date_key predicates prune at the file level; column pruning reaches the parquet read") {
    val path = java.nio.file.Files.createTempDirectory("graft_pub_prune").toString + "/t"
    (1 to 3).foreach(d => rows(d, Seq(d.toDouble))
      .write.format(fmt).option("path", path).mode("append").save())
    val df = spark.read.format(fmt).option("path", path).load()
    val n0 = PublishedTableCounters.filesOpened.get()
    val got = df.filter(col(PublishedTable.DateCol) === "2024-06-02")
      .select(col("v")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(2.0))
    assert(PublishedTableCounters.filesOpened.get() - n0 == 1,
      "date_key filter must plan only the matching date's file")
    // the equality was consumed by the scan (exact at file granularity):
    // no post-scan filter re-applies it — only the isnotnull guard stays
    val plan = df.filter(col(PublishedTable.DateCol) === "2024-06-02")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("2024-06-02"), plan)
  }

  test("retention drops partitions logically; vacuum reclaims unreferenced files after grace") {
    val path = java.nio.file.Files.createTempDirectory("graft_pub_ret").toString + "/t"
    (1 to 3).foreach(d => rows(d, Seq(d.toDouble))
      .write.format(fmt).option("path", path).mode("append").save())
    assert(PublishedTable.dropPartitionsOlderThan(path, "2024-06-03") ==
      Seq("2024-06-01", "2024-06-02"))
    assert(readBack(path) == Seq(("2024-06-03", 3.0)))
    // files still on disk for in-flight readers…
    def dataFiles() = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(dataFiles() == 3)
    // …until vacuum past the grace window reclaims them
    assert(PublishedTable.vacuum(path, graceMs = 0L) == 2)
    assert(dataFiles() == 1)
    assert(readBack(path) == Seq(("2024-06-03", 3.0)))
  }

  test("Jobs publishes through the transactional writer: upsert re-runs never duplicate") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pub_jobs").toString
    val src = s"$root/src"
    def srcRows(days: Seq[Int]) = days
      .map(d => (java.sql.Timestamp.valueOf(f"2024-06-$d%02d 12:00:00"), d.toDouble))
      .toDF("ts", "v")
    srcRows(1 to 2).write.mode("overwrite").parquet(src)
    val jobs = new Jobs(spark, s"$root/state")
      .register(JobConfig("dsT", s => s.read.parquet(src), "ts",
        df => df.withColumn("v2", col("v") * 2), s"$root/out",
        retentionDays = 30, transactional = true))
    assert(!jobs.runAll(1).head.skipped)
    val snap1 = PublishedTable.snapshot(spark, s"$root/out/dsT")
    assert(snap1.count() == 2)
    // cycle 2: one new day; a re-run of the same cycle is a no-op skip
    srcRows(Seq(3)).write.mode("append").parquet(src)
    assert(jobs.runAll(2).head.ingested == 1L)
    assert(jobs.runAll(3).head.skipped)
    val snap2 = PublishedTable.snapshot(spark, s"$root/out/dsT")
    assert(snap2.count() == 3)
    assert(snap2.filter(col("v2") =!= col("v") * 2).count() == 0)
    // the cycle-1 snapshot is still consistent (2 rows) after cycle 2
    assert(snap1.count() == 2)
  }
}

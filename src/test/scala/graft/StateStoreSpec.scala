package graft

import graft.sources.StateStore
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class StateStoreSpec extends SparkSpec {

  private def tmpPath(): String =
    Files.createTempDirectory("graft_state").resolve("state").toString

  test("empty store yields empty state and no watermark") {
    val st = new StateStore(spark, tmpPath())
    assert(st.state("ds") == Map.empty)
    assert(st.watermark("ds").isEmpty)
  }

  test("updates merge and the latest seq wins per key") {
    val st = new StateStore(spark, tmpPath())
    st.update("ds", Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"), seq = 1)
    st.update("ds", Map("last_update" -> "2024-02-01"), seq = 2)
    assert(st.state("ds") == Map("last_update" -> "2024-02-01", "monthly" -> "2023-12-01"))
    // other datasets are isolated
    st.update("other", Map("last_update" -> "1999-01-01"), seq = 3)
    assert(st.watermark("ds").contains("2024-02-01"))
    assert(st.watermark("other").contains("1999-01-01"))
  }

  test("freshSince + update ingest only new rows and advance the watermark") {
    val st = new StateStore(spark, tmpPath())
    val events = Tables(spark, sf).events
    // one cycle: take the fresh rows, then move the watermark to their max ts
    def cycle(df: org.apache.spark.sql.DataFrame, seq: Long) = {
      val fresh = st.freshSince("ev", df, "ts")
      val newMax = fresh.agg(max(col("ts")).cast("string")).collect()(0).getString(0)
      if (newMax != null) st.update("ev", Map("last_update" -> newMax), seq)
      fresh
    }

    // cycle 1: everything is new
    val first = cycle(events, seq = 1)
    assert(first.count() == events.count())
    val wm1 = st.watermark("ev")
    assert(wm1.isDefined)

    // cycle 2 on the same data: nothing new, watermark unchanged
    val second = cycle(events, seq = 2)
    assert(second.count() == 0)
    assert(st.watermark("ev") == wm1)

    // cycle 3: a later row arrives → only it is ingested
    val later = events.limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
      .withColumn("event_id", lit(999999L))
    val third = cycle(events.unionByName(later), seq = 3)
    assert(third.count() == 1)
    assert(st.watermark("ev") != wm1)
  }

  test("a log directory holding only _temporary reads as empty state") {
    // an aborted first write leaves the directory with no data file
    val path = tmpPath()
    Files.createDirectories(Paths.get(path, "_temporary", "0"))
    assert(new StateStore(spark, path).state("ds") == Map.empty)
  }

  test("a corrupt log file makes the read throw instead of returning empty state") {
    val garbage = "not a parquet file".getBytes("UTF-8")
    // alone in the log, and next to a valid update
    val alone = tmpPath()
    Files.createDirectories(Paths.get(alone))
    Files.write(Paths.get(alone, "part-00000-corrupt.parquet"), garbage)
    intercept[Exception](new StateStore(spark, alone).state("ds"))
    val mixed = tmpPath()
    val st = new StateStore(spark, mixed)
    st.update("ds", Map("last_update" -> "2024-01-01"), seq = 1)
    Files.write(Paths.get(mixed, "part-99999-corrupt.parquet"), garbage)
    intercept[Exception](st.state("ds"))
  }

  test("watermark reads and update appends the log with no Spark job") {
    val sc = spark.sparkContext
    /** Spark jobs started by `body`, counted in their own job group;
      * a marker job after it flushes the async listener bus. */
    def jobsOf(body: => Unit): Int = {
      val started = new AtomicInteger()
      val flushed = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some("state-read") => started.incrementAndGet()
            case Some("state-marker") => flushed.countDown()
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("state-read", "state read")
        try body finally sc.clearJobGroup()
        sc.setJobGroup("state-marker", "listener flush")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(flushed.await(30, TimeUnit.SECONDS), "listener bus did not flush")
        started.get
      } finally sc.removeSparkListener(listener)
    }
    val path = tmpPath()
    val st = new StateStore(spark, path)
    assert(jobsOf(assert(st.watermark("ds").isEmpty)) == 0)
    assert(jobsOf {
      st.update("ds", Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"), seq = 1)
      st.update("ds", Map("last_update" -> "2024-01-02"), seq = 2)
      st.update("other", Map("last_update" -> "1999-01-01"), seq = 3)
    } == 0)
    assert(jobsOf(assert(st.watermark("ds").contains("2024-01-02"))) == 0)
    // a new instance parses every file it lists, still on the driver
    assert(jobsOf(assert(new StateStore(spark, path).watermark("ds").contains("2024-01-02"))) == 0)
  }

  /** A state append as Spark's writer made it: a snappy part file under
    * the file-commit protocol. */
  private def sparkAppend(path: String, datasetId: String, kv: Map[String, String],
      seq: Long): Unit = {
    import spark.implicits._
    kv.toSeq.toDF("key", "value")
      .select(lit(datasetId).as("dataset_id"), col("key"), col("value"), lit(seq).as("seq"))
      .write.mode("append").parquet(path)
  }

  test("a log mixing Spark-written and driver-written files merges latest-per-key") {
    val path = tmpPath()
    sparkAppend(path, "ds", Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"), 1)
    val st = new StateStore(spark, path)
    assert(st.state("ds") == Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"))
    st.update("ds", Map("last_update" -> "2024-02-01"), seq = 2)
    // an older-format file can still carry the latest seq
    sparkAppend(path, "ds", Map("monthly" -> "2024-01-01"), 3)
    sparkAppend(path, "other", Map("last_update" -> "1999-01-01"), 4)
    val want = Map("last_update" -> "2024-02-01", "monthly" -> "2024-01-01")
    assert(st.state("ds") == want)
    assert(new StateStore(spark, path).state("ds") == want)
    assert(st.watermark("other").contains("1999-01-01"))
  }

  test("driver-written log files read through Spark give the same rows") {
    val path = tmpPath()
    val st = new StateStore(spark, path)
    st.update("ds", Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"), seq = 1)
    st.update("other", Map("last_update" -> "1999-01-01"), seq = 2)
    val rows = spark.read.schema(StateStore.LogSchema).parquet(path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(rows == Set(("ds", "last_update", "2024-01-01", 1L),
      ("ds", "monthly", "2023-12-01", 1L), ("other", "last_update", "1999-01-01", 2L)))
  }

  private def partFiles(path: String): Seq[java.io.File] =
    new java.io.File(path).listFiles().toSeq.filter(_.getName.startsWith("part-"))

  test("two instances on one log each see the other's appends and deletions") {
    val path = tmpPath()
    val a = new StateStore(spark, path)
    val b = new StateStore(spark, path)
    assert(a.watermark("ds").isEmpty && b.watermark("ds").isEmpty)
    a.update("ds", Map("last_update" -> "2024-01-01"), seq = 1)
    assert(b.watermark("ds").contains("2024-01-01"))
    val before = partFiles(path)
    b.update("ds", Map("last_update" -> "2024-01-02"), seq = 2)
    assert(a.watermark("ds").contains("2024-01-02"))
    // a deleted file drops out of both instances' state
    val Seq(appended) = (partFiles(path) diff before)
    assert(b.watermark("ds").contains("2024-01-02"))
    assert(appended.delete())
    assert(a.watermark("ds").contains("2024-01-01"))
    assert(b.watermark("ds").contains("2024-01-01"))
  }

  test("a temp file left by a crash before the rename is invisible to reads") {
    val path = tmpPath()
    val st = new StateStore(spark, path)
    st.update("ds", Map("last_update" -> "2024-01-01"), seq = 1)
    // a complete append, stranded under its temp name
    val other = tmpPath()
    new StateStore(spark, other).update("ds", Map("last_update" -> "2024-09-09"), seq = 2)
    val Seq(part) = partFiles(other)
    Files.copy(part.toPath, Paths.get(path, s".tmp-${java.util.UUID.randomUUID()}.parquet"))
    assert(st.watermark("ds").contains("2024-01-01"))
    assert(new StateStore(spark, path).watermark("ds").contains("2024-01-01"))
    assert(spark.read.schema(StateStore.LogSchema).parquet(path).count() == 1)
  }
}

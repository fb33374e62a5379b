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

  test("runIncremental ingests only new rows and advances the watermark") {
    val st = new StateStore(spark, tmpPath())
    val events = Tables(spark, sf).events

    // cycle 1: everything is new
    val first = st.runIncremental("ev", events, "ts", seq = 1)
    assert(first.count() == events.count())
    val wm1 = st.watermark("ev")
    assert(wm1.isDefined)

    // cycle 2 on the same data: nothing new, watermark unchanged
    val second = st.runIncremental("ev", events, "ts", seq = 2)
    assert(second.count() == 0)
    assert(st.watermark("ev") == wm1)

    // cycle 3: a later row arrives → only it is ingested
    val later = events.limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 365 DAYS"))
      .withColumn("event_id", lit(999999L))
    val third = st.runIncremental("ev", events.unionByName(later), "ts", seq = 3)
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

  test("watermark reads the log in one Spark job, and a missing log in none") {
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
    val st = new StateStore(spark, tmpPath())
    assert(jobsOf(assert(st.watermark("ds").isEmpty)) == 0)
    st.update("ds", Map("last_update" -> "2024-01-01", "monthly" -> "2023-12-01"), seq = 1)
    st.update("ds", Map("last_update" -> "2024-01-02"), seq = 2)
    st.update("other", Map("last_update" -> "1999-01-01"), seq = 3)
    // one scan: no schema inference, no emptiness probe, no shuffle
    assert(jobsOf(assert(st.watermark("ds").contains("2024-01-02"))) == 1)
  }
}

package graft

import graft.operators.{Relational, TextAnalysis}
import graft.sources.{JobConfig, Jobs}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Session policy has one owner: [[GraftConf.builder]] sets it at build
  * time, and no query or ingest cycle writes the caller's session. Loop
  * width pins run on an isolated session, so two queries sharing a
  * session never see each other's pins. */
class SessionPolicySpec extends SparkSpec {

  test("queries and ingest cycles leave the caller's session conf unchanged") {
    import spark.implicits._
    val s = spark.newSession()
    val before = s.conf.getAll
    SparkEntry.queries("q01_pricing_summary")(s, sf).collect()
    SparkEntry.queries("i17_window_agg_batch")(s, sf).collect() // reads events
    val root = java.nio.file.Files.createTempDirectory("graft_policy").toString
    def rows(days: Seq[Int]) = days
      .map(d => (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), d.toDouble))
      .toDF("ts", "v")
    rows(1 to 2).write.parquet(s"$root/src")
    // transactional: the second cycle overwrites through the publish catalog
    val cfg = JobConfig("ds", _.read.parquet(s"$root/src"), "ts", identity,
      s"$root/out", retentionDays = 30, transactional = true)
    val jobs = new Jobs(s, s"$root/state").register(cfg)
    assert(jobs.run(cfg, 1).ingested == 2L)
    rows(Seq(3)).write.mode("append").parquet(s"$root/src")
    val r = jobs.run(cfg, 2)
    assert(r.error.isEmpty && r.ingested == 1L, r)
    assert(s.conf.getAll == before)
  }

  test("q36's distributed loop and t17 on two threads of one session: same results, conf back") {
    val s = spark.newSession()
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val start = keys.map(s.conf.get)
    // the corpus is far below q36's driver-solve gate: force the loop,
    // which (unlike the driver solve) returns no local relation
    def q36Frame() = Relational.q36Ranks(s, sf, driverCap = 0L)
    def q36() = q36Frame().collect().toSeq
    def t17() = TextAnalysis.t17.fn(s, sf).collect().toSeq
    val loop = q36Frame()
    assert(loop.queryExecution.logical.find(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]).isEmpty)
    val (q36Alone, t17Alone) = (loop.collect().toSeq, t17())
    val rounds = Relational.q36RoundsFor(sf)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val (fq, ft) = (Future(q36()), Future(t17()))
      assert(Await.result(fq, Duration.Inf) == q36Alone, "q36 changed under a concurrent t17")
      assert(Await.result(ft, Duration.Inf) == t17Alone, "t17 changed under a concurrent q36")
    } finally pool.shutdown()
    assert(Relational.q36RoundsFor(sf) == rounds)
    assert(keys.map(s.conf.get) == start)
  }
}

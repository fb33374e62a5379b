package graft

import graft.sources.{JobConfig, Jobs, Notifier, StateStore}
import org.apache.spark.sql.functions._

class JobsSpec extends SparkSpec {

  test("two datasets over incremental cycles: skip-if-no-update and physical retention") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs").toString
    val srcA = s"$root/srcA"
    val srcB = s"$root/srcB"
    val out = s"$root/out"
    def rows(days: Seq[Int]) = days
      .map(d => (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), d.toDouble))
      .toDF("ts", "v")
    rows(1 to 3).write.mode("overwrite").parquet(srcA)
    rows(Seq(1)).write.mode("overwrite").parquet(srcB)
    val jobs = new Jobs(spark, s"$root/state")
      .register(JobConfig("dsA", s => s.read.parquet(srcA), "ts",
        df => df.withColumn("v2", col("v") * 2), out, retentionDays = 2))
      .register(JobConfig("dsB", s => s.read.parquet(srcB), "ts",
        identity, out, retentionDays = 30))

    val r1 = jobs.runAll(1)
    assert(r1.map(_.ingested) == Seq(3L, 1L))
    assert(r1.forall(!_.skipped))
    assert(r1.flatMap(_.payload).map(_.namespace) == Seq("dsA", "dsB"))

    // cycle 2: dsA gains two newer days; dsB has nothing new → skipped
    rows(4 to 5).write.mode("append").parquet(srcA)
    val r2 = jobs.runAll(2)
    assert(r2.find(_.datasetId == "dsA").get.ingested == 2L)
    assert(r2.find(_.datasetId == "dsB").get.skipped)

    // physical retention: dsA watermark is 2024-01-05, retention 2 days
    // → cutoff 2024-01-03 → partition dirs 01-01/01-02 DELETED on disk
    val keptKeys = new java.io.File(s"$out/dsA").listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("date_key=")).sorted
    assert(keptKeys.sameElements(Array(
      "date_key=2024-01-03", "date_key=2024-01-04", "date_key=2024-01-05")), keptKeys.mkString(","))

    // cycle 3: nothing new anywhere → all skipped, nothing rewritten
    assert(jobs.runAll(3).forall(_.skipped))

    // published rows: transform applied, incremental re-runs never duplicated
    val a = spark.read.parquet(s"$out/dsA")
    assert(a.count() == 3)
    assert(a.filter(col("v2") =!= col("v") * 2).count() == 0)
  }

  test("document curation as an incremental job: new slices dedup against the published corpus") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_cur").toString
    val src = s"$root/docs_src"
    val out = s"$root/out"
    val corpusPath = s"$out/docs"
    def docRows(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, day, text) =>
        (id, java.sql.Timestamp.valueOf(s"2024-03-$day 00:00:00"), text)
      }.toDF("doc_id", "ts", "text")
    val base = "the quick brown fox jumps over a lazy dog near the river bank today"
    // curation transform: quality gate (≥5 tokens) + exact dedup within
    // the slice + near-dup prune AGAINST THE PUBLISHED CORPUS (d07's
    // incremental shape inside the reference's job cycle)
    def curate(slice: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val gated = slice.filter(size(split(col("text"), " ")) >= 5)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
            .orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val corpusDir = new java.io.File(corpusPath)
      if (!corpusDir.exists()) gated.drop("h")
      else {
        val published = spark.read.parquet(corpusPath)
        val exactKept = gated.join(
          published.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_anti")
        def sh(df: org.apache.spark.sql.DataFrame, id: String) = df.select(
          col("doc_id").as(id),
          array_distinct(graft.functions.Text.shingles(split(col("text"), " "), 3)).as(s"sh_$id"))
        val near = sh(exactKept, "bid").join(sh(published, "cid"))
          .filter(size(array_intersect(col("sh_bid"), col("sh_cid"))).cast("double") /
            size(array_union(col("sh_bid"), col("sh_cid"))) >= 0.5)
          .select(col("bid").as("doc_id")).distinct()
        exactKept.drop("h").join(near, Seq("doc_id"), "left_anti")
      }
    }
    val cfg = JobConfig("docs", s => s.read.parquet(src), "ts", curate, out,
      retentionDays = 365)
    val jobs = new Jobs(spark, s"$root/state").register(cfg)
    // cycle 1: three docs, two identical → exact dedup inside the slice
    docRows(Seq((1L, "01", base), (2L, "01", base), (3L, "02", base + " extra words here")))
      .write.mode("overwrite").parquet(src)
    val r1 = jobs.run(cfg, 1)
    assert(!r1.skipped && r1.ingested == 3L)
    assert(spark.read.parquet(corpusPath).count() == 2) // 1 exact dup dropped
    // cycle 2: one exact dup of the corpus, one near-dup (1-token edit),
    // one genuinely new doc → only the new doc lands
    docRows(Seq(
      (10L, "03", base),
      (11L, "03", base.replace("today", "tonight")),
      (12L, "03", "completely different content about spark shuffles and parquet scans")))
      .write.mode("append").parquet(src)
    val r2 = jobs.run(cfg, 2)
    assert(!r2.skipped && r2.ingested == 3L)
    val corpus = spark.read.parquet(corpusPath).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(corpus.sameElements(Array(1L, 3L, 12L)), corpus.mkString(","))
  }

  test("runAll isolates a failing dataset: others publish, the failure retries next cycle") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_iso").toString
    def writeSrc(name: String, days: Seq[Int]): String = {
      val p = s"$root/$name"
      days.map(d => (java.sql.Timestamp.valueOf(f"2024-04-$d%02d 08:00:00"), d.toDouble))
        .toDF("ts", "v").write.mode("overwrite").parquet(p)
      p
    }
    val srcA = writeSrc("srcA", Seq(1, 2))
    val srcB = writeSrc("srcB", Seq(1))
    val srcC = writeSrc("srcC", Seq(1))
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val jobs = new Jobs(spark, s"$root/state")
      .register(JobConfig("dsA", s => s.read.parquet(srcA), "ts", identity,
        s"$root/out", retentionDays = 30))
      .register(JobConfig("dsBad", s => s.read.parquet(srcB), "ts",
        df => if (boom.get) throw new RuntimeException("transform boom") else df,
        s"$root/out", retentionDays = 30))
      .register(JobConfig("dsC", s => s.read.parquet(srcC), "ts", identity,
        s"$root/out", retentionDays = 30))

    // cycle 1: the middle dataset blows up — the cycle still completes,
    // the healthy datasets publish, the failure is reported not thrown
    val r1 = jobs.runAll(1)
    assert(r1.map(_.datasetId) == Seq("dsA", "dsBad", "dsC"))
    assert(r1.filter(_.datasetId != "dsBad").forall(r => !r.skipped && r.error.isEmpty))
    val bad = r1.find(_.datasetId == "dsBad").get
    assert(bad.error.exists(_.contains("transform boom")) && bad.payload.isEmpty)
    assert(new java.io.File(s"$root/out/dsA").exists())
    assert(new java.io.File(s"$root/out/dsC").exists())
    assert(!new java.io.File(s"$root/out/dsBad").exists())

    // cycle 2, transform healed: the failed dataset's watermark never
    // advanced, so the SAME slice is retried and now publishes; the
    // healthy datasets skip (nothing new)
    boom.set(false)
    val r2 = jobs.runAll(2)
    assert(r2.find(_.datasetId == "dsBad").get.ingested == 1L)
    assert(r2.filter(_.datasetId != "dsBad").forall(_.skipped))
    assert(spark.read.parquet(s"$root/out/dsBad").count() == 1)
  }

  test("notifier fires once per published (dataset, date) — never on skip or failure") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_ntf").toString
    val log = s"$root/notify.log"
    def rows(days: Seq[Int]) = days
      .map(d => (java.sql.Timestamp.valueOf(f"2024-05-$d%02d 06:00:00"), d.toDouble))
      .toDF("ts", "v")
    val srcA = s"$root/srcA"
    val srcB = s"$root/srcB"
    rows(Seq(1, 1, 2)).write.mode("overwrite").parquet(srcA) // two distinct dates
    rows(Seq(1)).write.mode("overwrite").parquet(srcB)
    val jobs = new Jobs(spark, s"$root/state", new Notifier.FileNotifier(log))
      .register(JobConfig("dsA", s => s.read.parquet(srcA), "ts", identity,
        s"$root/out", retentionDays = 30))
      // dsB's transform drops EVERYTHING: the publish writes no date
      // partition, so no notification may fire even though rows ingested
      .register(JobConfig("dsB", s => s.read.parquet(srcB), "ts",
        df => df.filter(col("v") < 0), s"$root/out", retentionDays = 30))
      .register(JobConfig("dsFail", _ => sys.error("source down"), "ts", identity,
        s"$root/out", retentionDays = 30))

    val r1 = jobs.runAll(1)
    assert(r1.find(_.datasetId == "dsA").get.publishedDates ==
      Seq("2024-05-01", "2024-05-02"))
    assert(r1.find(_.datasetId == "dsB").get.publishedDates.isEmpty)
    assert(r1.find(_.datasetId == "dsFail").get.error.isDefined)
    val lines1 = scala.io.Source.fromFile(log).getLines().toSeq
    assert(lines1 == Seq(
      s"dsA\t2024-05-01\t$root/out/dsA\tparquet",
      s"dsA\t2024-05-02\t$root/out/dsA\tparquet"), lines1.mkString("|"))

    // cycle 2: nothing new → all skip → no new notifications
    jobs.runAll(2)
    assert(scala.io.Source.fromFile(log).getLines().size == 2)

    // cycle 3: one new date for dsA → exactly one more notification
    rows(Seq(3)).write.mode("append").parquet(srcA)
    val r3 = jobs.runAll(3)
    assert(r3.find(_.datasetId == "dsA").get.publishedDates == Seq("2024-05-03"))
    val lines3 = scala.io.Source.fromFile(log).getLines().toSeq
    assert(lines3.size == 3 && lines3.last == s"dsA\t2024-05-03\t$root/out/dsA\tparquet")
  }

  test("HTTP notifier POSTs the webhook payload: body matches FileNotifier, HMAC verifies, non-2xx retries") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_http").toString
    // local receiver standing in for the reference's webhook endpoint
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var respond = 200
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ingest", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val sig = Option(ex.getRequestHeaders.getFirst("X-Ingest-Signature")).getOrElse("")
      received.add((body, sig))
      ex.sendResponseHeaders(respond, -1)
      ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/ingest"
      val secret = "graft-test-secret"
      def rows(days: Seq[Int]) = days
        .map(d => (java.sql.Timestamp.valueOf(f"2024-05-$d%02d 06:00:00"), d.toDouble))
        .toDF("ts", "v")
      val src = s"$root/src"
      rows(Seq(1, 2)).write.mode("overwrite").parquet(src)
      val http = new Notifier.HttpNotifier(url, Some(secret))
      val jobs = new Jobs(spark, s"$root/state", http)
        .register(JobConfig("dsH", s => s.read.parquet(src), "ts", identity,
          s"$root/out", retentionDays = 30))
      jobs.runAll(1)
      // one POST per published date, form fields = FileNotifier's line
      // fields, signature = HMAC-SHA256(body, secret)
      import scala.jdk.CollectionConverters._
      val got = received.asScala.toSeq.sortBy(_._1)
      assert(got.map(_._1) == Seq(
        s"dataset_id=dsH&date_key=2024-05-01&namespace=dsH" +
          s"&path=${java.net.URLEncoder.encode(s"$root/out/dsH", "UTF-8")}&datatype=parquet",
        s"dataset_id=dsH&date_key=2024-05-02&namespace=dsH" +
          s"&path=${java.net.URLEncoder.encode(s"$root/out/dsH", "UTF-8")}&datatype=parquet"),
        got.map(_._1).mkString("|"))
      got.foreach { case (body, sig) =>
        assert(sig == http.signatureOf(body, secret), s"bad signature for $body")
      }
      // receiver down (HTTP 500): the notify throws, the watermark must
      // NOT advance, and the next cycle re-publishes AND re-notifies
      received.clear()
      respond = 500
      rows(Seq(3)).write.mode("append").parquet(src)
      val r2 = jobs.runAll(2)
      assert(r2.head.error.isDefined, r2.toString)
      respond = 200
      val r3 = jobs.runAll(3)
      assert(r3.head.publishedDates == Seq("2024-05-03"), r3.toString)
      assert(received.asScala.exists(_._1.contains("date_key=2024-05-03")),
        received.asScala.map(_._1).mkString("|"))
    } finally server.stop(0)
  }

  test("dedup index is maintained per slice: cycle-1 partitions untouched by cycle 2, batches join the stored index") {
    import graft.sources.{DedupIndex, DedupIndexSpec}
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_idx").toString
    val src = s"$root/docs_src"
    val out = s"$root/out"
    val idxDir = s"$root/index"
    def docRows(rows: Seq[(Long, String, String, String)]) = rows
      .map { case (id, text, source, day) =>
        (id, text, source, java.sql.Timestamp.valueOf(s"$day 12:00:00")) }
      .toDF("doc_id", "text", "source", "ts")
    val tA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val tB = "large scale training data pipelines need careful deduplication of every incoming document batch"
    val tC = "completely unrelated text about weather stations reporting daily precipitation totals for archival"
    docRows(Seq((0L, tA, "s0", "2024-03-01"), (2L, tB, "s0", "2024-03-02")))
      .write.mode("overwrite").parquet(src)
    val jobs = new Jobs(spark, s"$root/state")
      .register(JobConfig("docs", s => s.read.parquet(src), "ts", identity, out,
        retentionDays = 365, index = Some(DedupIndexSpec(idxDir))))
    assert(!jobs.runAll(1).head.skipped)
    def partDirs(t: String) = new java.io.File(s"$idxDir/$t").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("date_key=")).sorted
    assert(partDirs("hashes").sameElements(
      Array("date_key=2024-03-01", "date_key=2024-03-02")))
    def mtimes(t: String, key: String) = new java.io.File(s"$idxDir/$t/date_key=$key")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes("hashes", "2024-03-01") -> mtimes("bands", "2024-03-01")

    // cycle 2: ONE new doc on a new date — the index gains exactly that
    // date; every cycle-1 partition file is byte-untouched (the proof
    // that corpus signatures are computed once per slice, never again)
    docRows(Seq((4L, tC, "s1", "2024-03-03"))).write.mode("append").parquet(src)
    assert(jobs.runAll(2).head.ingested == 1L)
    assert(partDirs("hashes").sameElements(Array(
      "date_key=2024-03-01", "date_key=2024-03-02", "date_key=2024-03-03")))
    assert(partDirs("bands").sameElements(Array(
      "date_key=2024-03-01", "date_key=2024-03-02", "date_key=2024-03-03")))
    assert(before == (mtimes("hashes", "2024-03-01") -> mtimes("bands", "2024-03-01")),
      "cycle 2 rewrote cycle 1's index partitions")

    // an incremental batch dedups against the STORED index: one exact
    // copy of tA, one near-dup of tB (one word changed), one novel doc
    val batch = docRows(Seq(
      (11L, tA, "sb", "2024-03-04"),
      (13L, tB.replace("batch", "stream"), "sb", "2024-03-04"),
      (15L, "fresh novel content with entirely different tokens spanning multiple shingles easily", "sb", "2024-03-04")))
      .select(col("doc_id"), col("source"), col("text"))
    val corpusDocs = spark.read.parquet(s"$out/docs").select(col("doc_id"), col("text"))
    val fate = graft.operators.Dedup.incrementalDedupFate(batch, corpusDocs,
      DedupIndex.readHashes(spark, idxDir), DedupIndex.readBands(spark, idxDir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(fate.toSeq == Seq(("sb", 3L, 1L, 1L, 1L)), fate.mkString(","))

    // and the stored-index path is value-identical to indexing the
    // published corpus inline
    val (h2, b2) = DedupIndex.build(corpusDocs)
    val fate2 = graft.operators.Dedup.incrementalDedupFate(batch, corpusDocs, h2, b2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(fate2.sameElements(fate))
  }

  test("a failed transform leaves the watermark untouched — the slice is retried") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_fail").toString
    val src = s"$root/src"
    Seq((java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
      .toDF("ts", "v").write.mode("overwrite").parquet(src)
    def cfg(t: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      JobConfig("dsF", s => s.read.parquet(src), "ts", t, s"$root/out", retentionDays = 30)
    val jobs = new Jobs(spark, s"$root/state")
    // cycle 1: transform blows up mid-job → the exception propagates
    // and, crucially, the watermark must NOT have advanced
    intercept[RuntimeException] {
      jobs.run(cfg(_ => throw new RuntimeException("boom")), 1)
    }
    // cycle 2 with a healthy transform still sees the full slice
    val r = jobs.run(cfg(identity), 2)
    assert(!r.skipped && r.ingested == 1L)
  }

  test("index retention rides the data's: 3 cycles keep the index bounded and corpus-equal") {
    import graft.sources.{DedupIndex, DedupIndexSpec}
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_idxret").toString
    val src = s"$root/docs_src"
    val out = s"$root/out"
    val idxDir = s"$root/index"
    def docRows(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, day, text) =>
        (id, text, "s0", java.sql.Timestamp.valueOf(s"$day 12:00:00")) }
      .toDF("doc_id", "text", "source", "ts")
    def texts(seed: Int) =
      s"document number $seed talks about topic $seed with plenty of distinct tokens to shingle"
    val jobs = new Jobs(spark, s"$root/state")
      .register(JobConfig("docs", s => s.read.parquet(src), "ts", identity, out,
        retentionDays = 2, index = Some(DedupIndexSpec(idxDir))))
    def parts(base: String) = {
      val d = new java.io.File(base)
      if (!d.isDirectory) Array.empty[String]
      else d.listFiles().filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("date_key=")).sorted
    }
    // cycle 1: days 1+2 → index {1,2}
    docRows(Seq((0L, "2024-03-01", texts(1)), (1L, "2024-03-02", texts(2))))
      .write.mode("overwrite").parquet(src)
    assert(!jobs.runAll(1).head.skipped)
    assert(parts(s"$idxDir/hashes").sameElements(
      Array("date_key=2024-03-01", "date_key=2024-03-02")))
    // cycle 2: day 4 lands, retention 2 days → cutoff 03-02 drops day 1
    // from DATA and INDEX alike
    docRows(Seq((2L, "2024-03-04", texts(3)))).write.mode("append").parquet(src)
    assert(jobs.runAll(2).head.ingested == 1L)
    assert(parts(s"$out/docs").sameElements(parts(s"$idxDir/hashes")), "index != data partitions")
    assert(parts(s"$idxDir/hashes").sameElements(
      Array("date_key=2024-03-02", "date_key=2024-03-04")))
    assert(parts(s"$idxDir/bands").sameElements(parts(s"$idxDir/hashes")))
    // cycle 3: day 6 → cutoff 03-04 → {04, 06}: bounded across cycles,
    // always exactly the data's surviving dates
    docRows(Seq((3L, "2024-03-06", texts(4)))).write.mode("append").parquet(src)
    assert(jobs.runAll(3).head.ingested == 1L)
    assert(parts(s"$idxDir/hashes").sameElements(
      Array("date_key=2024-03-04", "date_key=2024-03-06")))
    assert(parts(s"$out/docs").sameElements(parts(s"$idxDir/hashes")))
    // and the retained index is value-identical to indexing the
    // retained corpus inline — the d07/st08 read path can't drift
    val corpus = spark.read.parquet(s"$out/docs").select(col("doc_id"), col("text"))
    val (h2, _) = DedupIndex.build(corpus)
    val stored = DedupIndex.readHashes(spark, idxDir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val inline = h2.select(col("doc_id"), col("h"), col("pk"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(stored.sameElements(inline))
  }

  test("bandKeySets are fully materialized pre-stream — no bands-table re-scan") {
    // st16's static join sides: a stream-static side re-executes every
    // micro-batch, so the key sets must come from cache, never the
    // parquet. Proven behaviorally: after bandKeySets returns, the
    // bands files are DELETED — any later batch that re-scanned the
    // table would fail; the cached sets must keep answering.
    import graft.sources.DedupIndex
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_idx_keys").toString
    val idxDir = s"$root/index"
    val docs = (0L until 40L).map(i =>
      (i, s"doc $i body with plenty of words to shingle ${i % 5}",
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
      .toDF("doc_id", "text", "ts")
      .select(col("doc_id"), col("text"), col("ts").as("__ts"))
    val (hashes, bands) = DedupIndex.build(docs)
    val ts = docs.select(col("doc_id"), col("__ts"))
    graft.sources.Publish.writeDatePartitioned(
      hashes.join(ts, "doc_id"), idxDir, "hashes", "__ts")
    graft.sources.Publish.writeDatePartitioned(
      bands.join(ts, "doc_id"), idxDir, "bands", "__ts")
    val expected = (0 until 4).map(b =>
      DedupIndex.readBands(spark, idxDir)
        .filter(col("band_idx") === b).select("band_hash").distinct().count())
    val (sets, nKeys) = DedupIndex.bandKeySets(spark, idxDir)
    try {
      assert(sets.forall(_.storageLevel.useMemory), "sets must be persisted")
      // delete the backing table: only the cache can answer now
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(s"$idxDir/bands"))
      sets.zipWithIndex.foreach { case (s, b) =>
        assert(s.count() == expected(b), s"band $b key count")
        assert(s.columns.toSeq == Seq(s"bh$b", s"hit$b"))
        // the probe shape st16 runs per micro-batch still works
        val probe = s.limit(1).collect().headOption.map(_.getString(0))
        probe.foreach { bh =>
          assert(Seq(bh).toDF(s"bh$b").join(s, Seq(s"bh$b"), "left_outer")
            .filter(col(s"hit$b").isNotNull).count() == 1)
        }
      }
      intercept[Exception] { DedupIndex.readBands(spark, idxDir).count() }

      // route decision: under the key budget the join sides broadcast
      // (micro-batches probe an executor-local map — no per-batch
      // exchange+sort of the static side); past it, the shuffle join
      // is the scale path and the frames come back unhinted
      import spark.implicits._
      val probeDf = Seq("x").toDF("bh0")
      // the filling pass's counts decide the route
      assert(nKeys == expected.sum)
      val small = DedupIndex.bandJoinSides(sets, nKeys)
      val bPlan = probeDf.join(small(0), Seq("bh0"), "left_outer")
        .queryExecution.executedPlan.toString
      assert(bPlan.contains("BroadcastHashJoin"), bPlan)
      // past the budget the UNHINTED originals come back — the
      // shuffle-join scale path, and still valid unpersist handles
      // (auto-broadcast may of course still kick in for small sets;
      // the route only controls the explicit hint)
      assert(DedupIndex.bandJoinSides(sets, nKeys, keyBudget = 0L) eq sets)
    } finally sets.foreach(_.unpersist())
  }

  test("fragmented index partitions compact to few files with identical rows") {
    import graft.sources.DedupIndex
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_idx_compact").toString
    val idxDir = s"$root/index"
    // a WIDE index write (explicit 8-way repartition right before the
    // sink, the shape a big cluster writes) fragments the date partition
    val slice = (0L until 64L).map(i =>
      (i, s"document $i about subject $i with enough words to form several shingles cleanly",
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
      .toDF("doc_id", "text", "ts")
    val keyed = slice.select(col("doc_id"), col("text"), col("ts").as("__ts"))
    val (hashes, bands) = DedupIndex.build(keyed)
    val ts = keyed.select(col("doc_id"), col("__ts"))
    graft.sources.Publish.writeDatePartitioned(
      hashes.join(ts, "doc_id").repartition(8), idxDir, "hashes", "__ts")
    graft.sources.Publish.writeDatePartitioned(
      bands.join(ts, "doc_id").repartition(8), idxDir, "bands", "__ts")
    def files(t: String) = new java.io.File(s"$idxDir/$t/date_key=2024-03-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("hashes") > 2, s"fixture not fragmented: ${files("hashes")} files")
    val before = DedupIndex.readHashes(spark, idxDir).orderBy("doc_id").collect()
    val rewritten = DedupIndex.compactFragmented(spark, idxDir, maxFilesPerPartition = 2)
    assert(rewritten.nonEmpty)
    assert(files("hashes") == 1 && files("bands") == 1,
      s"${files("hashes")}/${files("bands")} files after compaction")
    val after = DedupIndex.readHashes(spark, idxDir).orderBy("doc_id").collect()
    assert(before.toSeq == after.toSeq)
    // idempotent: nothing left to compact
    assert(DedupIndex.compactFragmented(spark, idxDir, maxFilesPerPartition = 2).isEmpty)
  }

  test("a transform that reads its own published corpus indexes the slice it published") {
    // the curation shape of "document curation as an incremental job":
    // quality gate, exact dedup in the slice, then exact and near-dup
    // prune against the corpus the job publishes into. Publishing that
    // slice must not change what the index leg sees afterwards.
    import graft.sources.DedupIndexSpec
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_recache").toString
    val src = s"$root/docs_src"
    val out = s"$root/out"
    val corpusPath = s"$out/docs"
    val idxDir = s"$root/index"
    def docRows(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, day, text) =>
        (id, java.sql.Timestamp.valueOf(s"2024-03-$day 00:00:00"), text)
      }.toDF("doc_id", "ts", "text")
    def curate(slice: DataFrame): DataFrame = {
      val gated = slice.filter(size(split(col("text"), " ")) >= 5)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      if (!new java.io.File(corpusPath).exists()) gated.drop("h")
      else {
        val published = spark.read.parquet(corpusPath)
        val exactKept = gated.join(
          published.select(md5(col("text")).as("h")).distinct(), Seq("h"), "left_anti")
        def sh(df: DataFrame, id: String) = df.select(col("doc_id").as(id),
          array_distinct(graft.functions.Text.shingles(split(col("text"), " "), 3)).as(s"sh_$id"))
        val near = sh(exactKept, "bid").join(sh(published, "cid"))
          .filter(size(array_intersect(col("sh_bid"), col("sh_cid"))).cast("double") /
            size(array_union(col("sh_bid"), col("sh_cid"))) >= 0.5)
          .select(col("bid").as("doc_id")).distinct()
        exactKept.drop("h").join(near, Seq("doc_id"), "left_anti")
      }
    }
    val cfg = JobConfig("docs", s => s.read.parquet(src), "ts", curate, out,
      retentionDays = 365, index = Some(DedupIndexSpec(idxDir)))
    val jobs = new Jobs(spark, s"$root/state").register(cfg)
    def corpusIds() = spark.read.parquet(corpusPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val base = "the quick brown fox jumps over a lazy dog near the river bank today"
    docRows(Seq((1L, "01", base), (2L, "01", "a second document on another topic entirely")))
      .write.mode("overwrite").parquet(src)
    assert(!jobs.run(cfg, 1).skipped)
    val before = corpusIds()
    // cycle 2: an exact copy of the corpus (pruned) and two new docs
    docRows(Seq(
      (10L, "02", base),
      (11L, "02", "completely different content about spark shuffles and parquet scans"),
      (12L, "02", "weather stations report daily precipitation totals for the archive")))
      .write.mode("append").parquet(src)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(jobs.run(cfg, 2).ingested == 3L)
    val gained = corpusIds() -- before
    assert(gained == Set(11L, 12L), gained.mkString(","))
    for (t <- Seq("hashes", "bands")) {
      val part = s"$idxDir/$t/date_key=2024-03-02"
      assert(new java.io.File(part).isDirectory, s"$t holds no partition for cycle 2's date")
      val indexed = spark.read.parquet(part).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(indexed == gained, s"$t indexed ${indexed.mkString(",")}")
    }
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "the cycle left cached blocks behind")
  }

  test("a transform failing mid-computation leaves no cached blocks behind") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_leak").toString
    val src = s"$root/src"
    Seq((java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
      .toDF("ts", "v").write.mode("overwrite").parquet(src)
    val cfg = JobConfig("dsL", s => s.read.parquet(src), "ts",
      df => df.withColumn("v", when(col("v") > 0, raise_error(lit("boom"))).otherwise(col("v"))),
      s"$root/out", retentionDays = 30)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](new Jobs(spark, s"$root/state").run(cfg, 1))
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
  }

  test("a source failing mid-computation leaves no cached blocks and no watermark") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_srcleak").toString
    val src = s"$root/src"
    Seq((java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
      .toDF("ts", "v").write.mode("overwrite").parquet(src)
    val cfg = JobConfig("dsS", s => s.read.parquet(src)
        .withColumn("v", when(col("v") > 0, raise_error(lit("boom"))).otherwise(col("v"))),
      "ts", identity, s"$root/out", retentionDays = 30)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](new Jobs(spark, s"$root/state").run(cfg, 1))
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
    assert(new StateStore(spark, s"$root/state").watermark("dsS").isEmpty)
  }

  test("an initial load drops null-ts rows: the dated rows publish and the next cycle skips") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_nullts").toString
    val src = s"$root/src"
    Seq(Some("2024-06-01 08:00:00"), None, Some("2024-06-02 09:30:00")).toDF("s")
      .select(col("s").cast("timestamp").as("ts"), lit(1.0).as("v"))
      .write.mode("overwrite").parquet(src)
    val cfg = JobConfig("dsN", s => s.read.parquet(src), "ts", identity,
      s"$root/out", retentionDays = 30)
    val jobs = new Jobs(spark, s"$root/state").register(cfg)
    val r1 = jobs.run(cfg, 1)
    assert(!r1.skipped && r1.ingested == 2L)
    assert(r1.publishedDates == Seq("2024-06-01", "2024-06-02"))
    assert(spark.read.parquet(s"$root/out/dsN").count() == 2)
    assert(new StateStore(spark, s"$root/state").watermark("dsN").contains("2024-06-02 09:30:00"))
    assert(jobs.run(cfg, 2).skipped)
  }

  /** Spark jobs started by `body`, counted in their own job group; a
    * marker job after it flushes the async listener bus. */
  private def jobsOf(body: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("jobs-cycle") => started.incrementAndGet()
          case Some("jobs-marker") => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-cycle", "one Jobs.run")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("jobs-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus did not flush")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a data cycle runs 3 Spark jobs and a skip cycle 1") {
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_jobs_count").toString
    val src = s"$root/src"
    def land(day: Int): Unit =
      Seq((java.sql.Timestamp.valueOf(f"2024-05-$day%02d 00:00:00"), day.toDouble))
        .toDF("ts", "v").write.mode("append").parquet(src)
    // an explicit schema: inferring it would add a job of its own
    val cfg = JobConfig("dsJ", s => s.read.schema("ts TIMESTAMP, v DOUBLE").parquet(src),
      "ts", identity, s"$root/out", retentionDays = 30)
    val jobs = new Jobs(spark, s"$root/state").register(cfg)
    land(1)
    assert(!jobs.run(cfg, 1).skipped) // the initial load: no state log to read yet
    land(2)
    // fresh pass, slice pass, publish; the watermark read and the state
    // append run on the driver
    assert(jobsOf(assert(jobs.run(cfg, 2).ingested == 1L)) == 3)
    // fresh pass
    assert(jobsOf(assert(jobs.run(cfg, 3).skipped)) == 1)
  }

  test("the watermark and notified dates match Spark's max cast and date_format for every ts type") {
    import spark.implicits._
    import java.nio.file.Files
    val cases = Seq(
      "TIMESTAMP" -> Seq("2024-03-01 06:00:00.25", "2024-02-28 23:59:59.999999",
        "2024-03-01 06:00:00.2", "2024-02-29 12:00:00"),
      "TIMESTAMP_NTZ" -> Seq("2024-03-01 06:00:00.25", "2024-02-28 23:59:59.999999",
        "2024-03-01 06:00:00.2", "2024-02-29 12:00:00"),
      "DATE" -> Seq("2024-03-01", "2024-02-28", "2024-02-29", "2024-03-01"))
    for ((tpe, values) <- cases) {
      val root = Files.createTempDirectory("graft_jobs_parity").toString
      val src = s"$root/src"
      // one file per row, so the pass merges maxima across partitions
      values.toDF("s").select(col("s").cast(tpe).as("ts"), lit(1.0).as("v"))
        .repartition(values.size).write.mode("overwrite").parquet(src)
      val notified = scala.collection.mutable.ArrayBuffer.empty[String]
      val notifier = new Notifier {
        override def notifyIngest(datasetId: String, dateKey: String,
            payload: graft.sources.Publish.IngestPayload): Unit = notified += dateKey
      }
      val cfg = JobConfig("dsT", s => s.read.parquet(src), "ts", identity,
        s"$root/out", retentionDays = 30)
      val jobs = new Jobs(spark, s"$root/state", notifier).register(cfg)
      assert(!jobs.run(cfg, 1).skipped, tpe)
      val rows = spark.read.parquet(src)
      val wantMax = rows.agg(max(col("ts")).cast("string")).head().getString(0)
      val wantKeys = rows.select(date_format(col("ts"), "yyyy-MM-dd")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(new StateStore(spark, s"$root/state").watermark("dsT").contains(wantMax), tpe)
      assert(notified.toSeq == wantKeys, tpe)
      assert(jobs.run(cfg, 2).skipped, tpe)
    }
  }
}

package graftbench

import graft.operators.Ingest
import graft.sources._
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `ingest_cycles`: `Jobs.runAll` over three registered datasets for a
  * fixed number of cycles per pass, built only from graft's public API.
  * Set-up creates the deployment and runs its initial load; before each
  * measured cycle the seeded generator lands one new day for a seeded
  * subset of the datasets, so skip cycles and data cycles mix. Every
  * pass ends with the output checks over everything published so far.
  *
  *   - `rain_anomaly`: daily GeoTIFF grids (with nodata cells) read via
  *     TiffGridSource, unit conversion → anomaly against a climatology
  *     built in set-up → contour level; default `Publish` writer.
  *   - `station_obs`: events-like parquet appends, per-type unit
  *     conversion + wind speed; transactional publish + JDBC (Derby).
  *   - `docs_curated`: slices of the `documents` table with seeded exact
  *     and near duplicates, JobsSpec's curation transform, DedupIndex.
  */
final class IngestRunner(baseDir: String, root: String, cycles: Int, corrupt: Boolean)
    extends Workload {
  import IngestRunner._

  def nominalPassS: Double = 45.0
  private var seed = 0L
  private var docs: Array[(Long, String)] = Array.empty
  private var normals: Map[(Int, Int, Int), Double] = Map.empty

  // ---- generator (plain Scala; the checks use the same functions) -----
  private def mix(xs: Long*): Long = xs.foldLeft(seed * 0x9E3779B97F4A7C15L) { (h, x) =>
    val z = (h ^ x) * 0xBF58476D1CE4E5B9L
    z ^ (z >>> 31)
  }
  private def unit(xs: Long*): Double = (mix(xs: _*) >>> 11).toDouble / (1L << 53)

  private def isNodata(x: Int, y: Int) = mix(7, x, y) % 9 == 0
  private def hasNormal(x: Int, y: Int) = (x * 7 + y) % 13 != 5
  /** Rain in mm, as stored in the float32 GeoTIFF. */
  private def rainMm(day: Int, x: Int, y: Int): Double =
    (unit(1, day, x, y) * 60.0).toFloat.toDouble
  private def histCm(year: Int, month: Int, x: Int, y: Int): Double =
    unit(2, year, month, x, y) * 6.0

  private def dayOf(i: Int): LocalDate = Day0.plusDays(i.toLong)

  def setup(spark: SparkSession, s: Long, attempt: Int): Unit = {
    seed = s
    val t = graft.Tables(spark, baseDir)
    docs = t.documents.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    // climatology: 3 years of monthly history per cell, averaged with
    // Ingest.climatologyNormal; some cells have no history (sentinel path)
    val hist = for {
      x <- 0 until W; y <- 0 until H if hasNormal(x, y)
      m <- 1 to 12; yr <- 2020 to 2022
    } yield (x, y, m, histCm(yr, m, x, y))
    import spark.implicits._
    val normalsDf = Ingest.climatologyNormal(hist.toDF("x", "y", "month", "v"),
      Seq(col("x"), col("y")), col("month"), col("v"))
    normalsDf.write.mode("overwrite").parquet(s"$root/climatology")
    normals = hist.groupBy(h => (h._1, h._2, h._3))
      .map { case (k, vs) => k -> vs.map(_._4).sum / vs.size }
    if (live != null) live.drop()
    live = deploy(spark, s"deploy$attempt")
  }

  // ---- one pass --------------------------------------------------------
  private final class PassState(name: String) {
    val dir = s"$root/$name"
    val out = s"$dir/out"
    val state = s"$dir/state"
    val rainSrc = s"$dir/src/rain"
    val stationSrc = s"$dir/src/station"
    val docsSrc = s"$dir/src/docs"
    val indexDir = s"$dir/index"
    val db = s"memory:perfbench_$name"
    val jdbcUrl = s"jdbc:derby:$db;create=true"
    val nextDay = mutable.Map("rain_anomaly" -> 0, "station_obs" -> 0, "docs_curated" -> 0)
    val landed = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    val landedAt = mutable.Map.empty[(String, String), Long] // (ds, date) -> nanoTime
    val lastTs = mutable.Map.empty[String, String] // expected watermark per dataset
    val notes = mutable.ArrayBuffer.empty[(String, String, Long)]
    // curation model: doc_id -> (day, text) of every published doc
    val corpus = mutable.LinkedHashMap.empty[Long, (Int, String)]
    var nextDocId = 1000000L
    // live deployment: the registered jobs and the hook/notifier state
    var jobs: Jobs = _
    var tracer: Option[Tracer] = None
    val calls = mutable.ArrayBuffer.empty[(String, Long, Long)] // ds, nanos, span id
    var cycleSpan = 0L
    var cycle = 0

    def drop(): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // drop signals via SQLException
  }

  private def land(spark: SparkSession, p: PassState, ds: String, rng: scala.util.Random): Unit = {
    import spark.implicits._
    val day = p.nextDay(ds)
    p.nextDay(ds) = day + 1
    val date = dayOf(day)
    ds match {
      case "rain_anomaly" =>
        val values = Array.tabulate(W * H) { i =>
          val x = i % W; val y = i / W
          if (isNodata(x, y)) Nodata else rainMm(day, x, y)
        }
        val r = GeoTiff.Raster(W, H, 0.05, 0.05, 30.0, 5.0, Some(Nodata), values)
        new java.io.File(p.rainSrc).mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(p.rainSrc,
          s"rain_${date.toString.replace("-", "")}.tif"), GeoTiff.encode(r))
        p.lastTs(ds) = fmt(ts(day, 0))
      case "station_obs" =>
        val rows = stationRows(day)
        rows.toDF("station_id", "ts", "var_type", "reading", "u", "v")
          .coalesce(1).write.mode("append").parquet(p.stationSrc)
        p.lastTs(ds) = fmt(rows.map(_._2).maxBy(_.getTime))
      case "docs_curated" =>
        val slice = docSlice(p, day, rng)
        slice.toDF("doc_id", "ts", "text").coalesce(1).write.mode("append").parquet(p.docsSrc)
        modelCurate(p, day, slice)
        p.lastTs(ds) = fmt(slice.map(_._2).maxBy(_.getTime))
    }
    p.landed.getOrElseUpdate(ds, mutable.ArrayBuffer.empty) += day
    p.landedAt((ds, date.toString)) = System.nanoTime()
  }

  /** A timestamp as Spark casts it to string (the watermark format). */
  private def fmt(t: Timestamp): String =
    t.toLocalDateTime.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(LocalDateTime.of(dayOf(day), java.time.LocalTime.of(hour, 0)))

  private def stationRows(day: Int): Seq[(Int, Timestamp, String, Double, Double, Double)] =
    for (s <- 0 until Stations; h <- 0 until 24 by 4) yield {
      val tpe = if ((s + h / 4) % 2 == 0) "temp_k" else "precip_m"
      val v = if (tpe == "temp_k") 260.0 + unit(3, day, s, h) * 40 else unit(4, day, s, h) * 0.02
      (s, ts(day, h), tpe, v, unit(5, day, s, h) * 20 - 10, unit(6, day, s, h) * 20 - 10)
    }

  /** A day's document slice: fresh documents, exact copies and
    * one-token edits of documents landed earlier or in the same slice. */
  private def docSlice(p: PassState, day: Int, rng: scala.util.Random): Seq[(Long, Timestamp, String)] = {
    val fresh = Seq.fill(DocsPerDay)(docs(rng.nextInt(docs.length))._2)
    val pool = fresh ++ p.corpus.values.map(_._2).toSeq
    val exact = Seq.fill(3)(pool(rng.nextInt(pool.size)))
    val near = Seq.fill(4) {
      val toks = pool(rng.nextInt(pool.size)).split(" ", -1)
      toks(rng.nextInt(toks.length)) = s"edit$day"
      toks.mkString(" ")
    }
    val texts = rng.shuffle(fresh ++ exact ++ near)
    texts.zipWithIndex.map { case (t, i) =>
      p.nextDocId += 1
      (p.nextDocId, ts(day, i % 24), t)
    }
  }

  private def shingles(t: String): Set[String] = {
    val toks = t.split(" ", -1)
    if (toks.length < 3) Set.empty else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Plain-Scala replay of the curation transform over the published
    * corpus; updates the model corpus with what the job should publish. */
  private def modelCurate(p: PassState, day: Int, slice: Seq[(Long, Timestamp, String)]): Unit = {
    val gated = slice.filter(_._3.split(" ", -1).length >= 5)
    val dedup = gated.groupBy(_._3).values.map(_.minBy(_._1)).toSeq
    // before the first publish the corpus directory does not exist yet
    val kept =
      if (!p.landed.get("docs_curated").exists(_.nonEmpty)) dedup
      else {
        val pub = p.corpus.values.map(_._2).toSeq
        val pubSh = pub.map(shingles)
        dedup.filterNot(d => pub.contains(d._3)).filterNot { d =>
          val s = shingles(d._3)
          pubSh.exists(c => (s intersect c).size.toDouble / (s union c).size >= 0.5)
        }
      }
    kept.foreach(d => p.corpus(d._1) = (day, d._3))
    // retention on the model: the job keeps dates >= newest date - RetentionDays
    val cutoff = day - RetentionDays
    p.corpus.filterInPlace { case (_, (d, _)) => d >= cutoff }
  }

  private def jobs(spark: SparkSession, p: PassState, hook: String => Unit,
      notifier: Notifier): Jobs = {
    def src(ds: String)(read: SparkSession => DataFrame): SparkSession => DataFrame =
      s => { hook(ds); read(s) }
    val normals = spark.read.parquet(s"$root/climatology")
    val rain = JobConfig("rain_anomaly",
      src("rain_anomaly")(s => s.read.format("graft.sources.TiffGridSource")
        .option("path", p.rainSrc).option("keepNodata", "true").load()
        .withColumn("ts", to_timestamp(regexp_extract(col("path"), "rain_(\\d{8})\\.tif", 1), "yyyyMMdd"))),
      "ts",
      df => df.withColumn("v", Ingest.unitConvert(col("value"), "multiply", 0.1))
        .withColumn("cal_period", month(col("ts")))
        .join(broadcast(normals), Seq("x", "y", "cal_period"), "left")
        .withColumn("anomaly", Ingest.anomaly(col("v"), col("normal")))
        .withColumn("level", Ingest.contourLevel(col("anomaly"), 0.5))
        .select("x", "y", "lon", "lat", "ts", "v", "anomaly", "level"),
      p.out, RetentionDays)
    val station = JobConfig("station_obs",
      src("station_obs")(s => s.read.parquet(p.stationSrc)), "ts",
      df => df.withColumn("value_conv", Ingest.unitConvertByType(col("var_type"), col("reading"),
          Seq(("temp_k", "subtract", 273.15), ("precip_m", "multiply", 1000.0))))
        .withColumn("wind", Ingest.windSpeed(col("u"), col("v"))),
      p.out, RetentionDays, transactional = true,
      jdbc = Some(JdbcSinkSpec(p.jdbcUrl, "station_obs")))
    val corpusPath = s"${p.out}/docs_curated"
    val docsCfg = JobConfig("docs_curated",
      src("docs_curated")(s => s.read.parquet(p.docsSrc)), "ts",
      slice => IngestRunner.curate(spark, slice, corpusPath), p.out, RetentionDays,
      index = Some(DedupIndexSpec(p.indexDir)))
    new Jobs(spark, p.state, notifier).register(rain).register(station).register(docsCfg)
  }


  /** The deployment the measured cycles run against: set-up creates it,
    * the first pass runs its initial load. */
  private var live: PassState = _

  private def deploy(spark: SparkSession, name: String): PassState = {
    val p = new PassState(name)
    val c = java.sql.DriverManager.getConnection(p.jdbcUrl)
    try c.createStatement().execute("CREATE TABLE station_obs (station_id INT, ts TIMESTAMP, " +
      "var_type VARCHAR(16), reading DOUBLE, u DOUBLE, v DOUBLE, value_conv DOUBLE, " +
      "wind DOUBLE, date_key VARCHAR(10))")
    finally c.close()
    // per-dataset spans: source call -> next dataset's source call / runAll return
    val hook: String => Unit = ds => p.tracer match {
      case Some(t) =>
        p.calls.lastOption.foreach(c => t.close(c._3))
        p.calls += ((ds, System.nanoTime(), t.open(ds, "dataset", p.cycleSpan, s"c${p.cycle}/$ds")))
      case None => p.calls += ((ds, System.nanoTime(), 0L))
    }
    val notifier = new Notifier {
      def notifyIngest(ds: String, dateKey: String, payload: Publish.IngestPayload): Unit = {
        p.notes += ((ds, dateKey, System.nanoTime()))
        p.tracer.foreach(t => t.instant(s"notify $dateKey", "notify",
          p.calls.lastOption.map(_._3).getOrElse(0L), s"c${p.cycle}/$ds"))
      }
    }
    p.jobs = jobs(spark, p, hook, notifier)
    p
  }

  /** One pass: `cycles` incremental cycles of the deployment, preceded
    * on the first pass by cycle 0, the initial load in which every
    * dataset lands (timed into `suite_s`, reported as `initial_load_s`,
    * kept out of the cycle latencies). Before each incremental cycle
    * every dataset but one lands a new day; which one skips follows a
    * seeded permutation per block of three cycles, so every seed has
    * the same mix of data and skip cycles. */
  def pass(spark: SparkSession, index: Int, rng: scala.util.Random,
      tracer: Option[Tracer]): PassResult = {
    val p = live
    p.tracer = tracer
    val skips = Seq.fill((cycles + Datasets.size - 1) / Datasets.size)(rng.shuffle(Datasets)).flatten
    // cycle 0 skips no dataset
    val plan = (if (p.cycle == 0) Seq("") else Nil) ++ skips.take(cycles)
    val initial = mutable.ArrayBuffer.empty[Double]
    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    val dataLat = mutable.ArrayBuffer.empty[Double]
    val skipLat = mutable.ArrayBuffer.empty[Double]
    val toPublish = mutable.ArrayBuffer.empty[Double]
    val afterPublish = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val wmTimes = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val datasetSpans = mutable.ArrayBuffer.empty[Long]
    var ingested = 0L
    var attempted = 0
    val cached0 = spark.sparkContext.getPersistentRDDs.size
    val startMs = System.currentTimeMillis().toDouble
    val store = new StateStore(spark, p.state)

    plan.foreach { skip =>
      val cyc = p.cycle
      Datasets.foreach { ds => if (ds != skip) land(spark, p, ds, rng) }
      p.calls.clear()
      val notesBefore = p.notes.size
      p.cycleSpan = tracer.map(_.open(s"cycle $cyc", "cycle", 0L, s"c$cyc")).getOrElse(0L)
      val t0 = System.nanoTime()
      val results = p.jobs.runAll(cyc.toLong + 1)
      val t1 = System.nanoTime()
      tracer.foreach { t => p.calls.lastOption.foreach(c => t.close(c._3)); t.close(p.cycleSpan) }
      p.cycle += 1
      cycleWalls += (t1 - t0) / 1e9
      System.err.println(f"[perfbench] cycle $cyc: ${(t1 - t0) / 1e9}%.3f s " +
        results.map(r => s"${r.datasetId}=${if (r.skipped) "skip" else r.ingested.toString}").mkString(" "))
      val ends = p.calls.drop(1).map(_._2) :+ t1
      p.calls.zip(ends).zip(results).foreach { case (((ds, start, span), end), r) =>
        require(ds == r.datasetId, s"span order $ds vs ${r.datasetId}")
        datasetSpans += span
        attempted += 1
        val lat = (end - start) / 1e9
        if (r.error.nonEmpty) failures += s"cycle $cyc $ds: ${r.error.get}".take(400)
        else if (r.skipped) skipLat += lat
        else if (cyc == 0) { initial += lat; ingested += r.ingested }
        else {
          dataLat += lat
          ingested += r.ingested
          val mine = p.notes.drop(notesBefore).filter(_._1 == ds)
          mine.lastOption.foreach { last =>
            toPublish += (last._3 - start) / 1e9
            afterPublish += (end - last._3) / 1e9
          }
          mine.foreach(n => p.landedAt.get((ds, n._2)).foreach(l => fresh += (n._3 - l) / 1e9))
        }
      }
      // StateStore layer (traced runs only): one watermark read per cycle
      if (tracer.nonEmpty) {
        val w0 = System.nanoTime()
        store.watermark(Datasets(cyc % Datasets.size))
        wmTimes += (System.nanoTime() - w0) / 1e9
      }
    }
    p.tracer = None
    val runAllS = cycleWalls.sum
    val cachedEnd = spark.sparkContext.getPersistentRDDs.size
    if (corrupt) corruptPartition(p)
    val c0 = System.nanoTime()
    val (checksMade, checkFailures) = check(spark, p, store)
    System.err.println(f"[perfbench] checks ${(System.nanoTime() - c0) / 1e9}%.3f s")
    failures ++= checkFailures
    val datasetCycles = attempted
    attempted += checksMade

    def files(dir: String, suffix: String): Double =
      if (!new java.io.File(dir).exists()) 0.0
      else java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray
        .count(_.toString.endsWith(suffix)).toDouble
    val livePartitions =
      Seq("rain_anomaly", "docs_curated").map { ds =>
        Option(new java.io.File(s"${p.out}/$ds").listFiles()).toSeq.flatten
          .count(_.getName.startsWith("date_key="))
      }.sum + PublishedTable.latestManifest(s"${p.out}/station_obs")
        .map(_.files.map(_._1).distinct.size).getOrElse(0)
    PassResult(runAllS, dataLat.toSeq, attempted, failures.toSeq,
      extra = Map("skip" -> skipLat.toSeq, "freshness" -> fresh.toSeq, "initial" -> initial.toSeq,
        "to_publish" -> toPublish.toSeq, "after_publish" -> afterPublish.toSeq,
        "watermark" -> wmTimes.toSeq, "ingested" -> Seq(ingested.toDouble),
        "log_files" -> Seq(files(p.state, ".parquet")),
        "live_partitions" -> Seq(livePartitions.toDouble),
        "index_files" -> Seq(files(p.indexDir, ".parquet")),
        "cached_rdds" -> Seq(cachedEnd.toDouble), "cached_rdds_start" -> Seq(cached0.toDouble),
        "dataset_cycles" -> Seq(datasetCycles.toDouble),
        "window_ms" -> Seq(startMs, System.currentTimeMillis().toDouble)),
      payload = datasetSpans.toSeq)
  }

  /** Duplicate one published file: the checks must catch the duplicate
    * keys (used by the benchmark's own test of its checks). */
  private def corruptPartition(p: PassState): Unit = {
    val part = new java.io.File(s"${p.out}/rain_anomaly").listFiles()
      .filter(_.getName.startsWith("date_key=")).maxBy(_.getName)
    val f = part.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(f.toPath, new java.io.File(part, "dup-" + f.getName).toPath)
  }

  // ---- output checks ---------------------------------------------------
  /** Returns (checks made, failed checks). */
  private def check(spark: SparkSession, p: PassState, store: StateStore): (Int, Seq[String]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    var made = 0
    def expect(ok: Boolean, what: => String): Unit = { made += 1; if (!ok) bad += what }
    Datasets.foreach { ds =>
      val days = p.landed.getOrElse(ds, mutable.ArrayBuffer.empty)
      val last = days.max
      val cutoff = last - RetentionDays
      val liveDays = days.filter(_ >= cutoff).map(dayOf(_).toString).sorted.toSeq
      // watermark = last landed max ts
      val wantWm = p.lastTs(ds)
      val wm = store.watermark(ds).getOrElse("<none>")
      expect(wm == wantWm, s"$ds watermark $wm, want $wantWm")
      // one notification per published (dataset, date)
      val notified = p.notes.filter(_._1 == ds).map(_._2)
      val wantNotified = days.map(dayOf(_).toString).sorted.toSeq
      expect(notified.sorted == wantNotified,
        s"$ds notified ${notified.sorted.mkString(",")}, want ${wantNotified.mkString(",")}")
      // published rows and live partitions
      val published: DataFrame = ds match {
        case "station_obs" => PublishedTable.snapshot(spark, s"${p.out}/$ds")
        case _ => spark.read.parquet(s"${p.out}/$ds")
      }
      val dates = published.select(col("date_key").cast("string")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      expect(dates == liveDays, s"$ds live dates ${dates.mkString(",")}, want ${liveDays.mkString(",")}")
      ds match {
        case "rain_anomaly" => checkRain(published, liveDays, expect)
        case "station_obs" =>
          val keys = Seq("station_id", "ts", "var_type")
          val n = published.count()
          val want = liveDays.size.toLong * Stations * 6
          expect(n == want, s"$ds rows $n, want $want")
          expect(published.select(keys.map(col): _*).distinct().count() == n, s"$ds duplicate keys")
          val c = java.sql.DriverManager.getConnection(p.jdbcUrl)
          val jdbcRows = try {
            val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM station_obs")
            rs.next(); rs.getLong(1)
          } finally c.close()
          expect(jdbcRows == want, s"$ds jdbc rows $jdbcRows, want $want")
        case "docs_curated" =>
          val ids = published.select("doc_id").collect().map(_.getLong(0)).toSeq
          val want = p.corpus.keys.toSeq.sorted
          expect(ids.distinct.size == ids.size, s"$ds duplicate doc_id")
          expect(ids.sorted == want, s"$ds published ${ids.size} docs, want ${want.size}")
          Seq("hashes", "bands").foreach { t =>
            val parts = Option(new java.io.File(s"${p.indexDir}/$t").listFiles()).toSeq.flatten
              .map(_.getName).filter(_.startsWith("date_key=")).map(_.stripPrefix("date_key="))
            expect(parts.forall(_ >= liveDays.head), s"$ds index $t keeps expired partitions")
          }
      }
    }
    (made, bad.toSeq)
  }

  /** Rain: every cell of every retained day, nodata carried through as
    * NULL, anomaly and level as computed in plain Scala. */
  private def checkRain(published: DataFrame, liveDays: Seq[String],
      expect: (Boolean, => String) => Unit): Unit = {
    val rows = published.select(date_format(col("ts"), "yyyy-MM-dd"), col("x"), col("y"),
      col("v"), col("anomaly"), col("level")).collect()
    val want = liveDays.size * W * H
    expect(rows.length == want, s"rain_anomaly rows ${rows.length}, want $want")
    val keys = rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    expect(keys.distinct.length == keys.length, "rain_anomaly duplicate keys")
    def close(a: Any, b: Option[Double]): Boolean = (a, b) match {
      case (null, None) => true
      case (x: java.lang.Double, Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => false
    }
    var wrong = 0
    rows.foreach { r =>
      val day = java.time.temporal.ChronoUnit.DAYS.between(Day0, LocalDate.parse(r.getString(0))).toInt
      val (x, y) = (r.getInt(1), r.getInt(2))
      val v = if (isNodata(x, y)) None else Some(rainMm(day, x, y) * 0.1)
      val normal = normals.get((x, y, dayOf(day).getMonthValue))
      val anomaly = normal match {
        case None => Some(-9999.0)
        case Some(n) => v.map(_ - n)
      }
      val level = anomaly.map(a => math.floor(a / 0.5) * 0.5)
      if (!close(r.get(3), v) || !close(r.get(4), anomaly) || !close(r.get(5), level)) wrong += 1
    }
    expect(wrong == 0, s"rain_anomaly $wrong cells differ from the plain-Scala anomaly")
  }

  def layers(p: PassResult, tracer: Tracer, codegen: (Double, Long)): Map[String, Double] = {
    tracer.drain()
    val owners = p.payload.asInstanceOf[Seq[Long]]
    def sum(f: tracer.Counters => Double) = tracer.sum(owners)(f)
    def med(k: String) = Main.median(p.extra(k))
    def one(k: String) = p.extra(k).head
    val n = math.max(1.0, one("dataset_cycles"))
    val jobWall = sum(_.jobWallMs)
    val planned = tracer.plannedIn(one("window_ms"), p.extra("window_ms")(1))
    Map(
      "operators.build_s" -> 0.0, "operators.eager_jobs" -> 0.0,
      "planner.analysis_s" -> planned.map(_.analysisMs).sum / 1e3,
      "planner.optimization_s" -> planned.map(_.optimizationMs).sum / 1e3,
      "planner.physical_s" -> planned.map(_.planningMs).sum / 1e3,
      "planner.executions" -> planned.size.toDouble,
      "planner.exchanges" -> planned.map(_.exchanges).sum.toDouble,
      "codegen.compile_s" -> codegen._1, "codegen.compiles" -> codegen._2.toDouble,
      "scheduler.jobs" -> sum(_.jobs.toDouble),
      "scheduler.stages" -> sum(_.stages.toDouble),
      "scheduler.tasks" -> sum(_.tasks.toDouble),
      "scheduler.driver_only_s" -> 0.0,
      "scheduler.task_busy_share" -> (if (jobWall > 0) sum(_.runMs) / (jobWall * Main.cpus) else 0.0),
      "exec.task_run_s" -> sum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle.write_bytes" -> sum(_.shWrite),
      "shuffle.read_bytes" -> sum(_.shRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> sum(_.spill),
      "Tables.input_bytes" -> sum(_.inBytes),
      "Tables.input_rows" -> sum(_.inRows),
      "Jobs.to_publish_s" -> med("to_publish"),
      "Jobs.after_publish_s" -> med("after_publish"),
      "Jobs.skip_s" -> (if (p.extra("skip").isEmpty) 0.0 else med("skip")),
      "scheduler.jobs_per_cycle" -> sum(_.jobs.toDouble) / n,
      "scheduler.tasks_per_cycle" -> sum(_.tasks.toDouble) / n,
      "StateStore.watermark_s" -> (if (p.extra("watermark").isEmpty) 0.0 else med("watermark")),
      "StateStore.log_files" -> one("log_files"),
      "Publish.bytes_written" -> sum(_.outBytes),
      "Publish.files_written" -> planned.map(_.files).sum.toDouble,
      "Publish.live_partitions" -> one("live_partitions"),
      "DedupIndex.files" -> one("index_files"),
      "storage.cached_rdds" -> one("cached_rdds"))
  }

  def report(passes: Seq[PassResult], e2e: scala.collection.Map[String, (Double, String, Int)],
      tailPct: Double, failedShare: Double): Map[String, Any] = {
    def m(v: Double, unit: String, n: Int) = Map("value" -> v, "unit" -> unit, "n" -> n)
    def all(k: String) = passes.flatMap(_.extra(k))
    val skip = all("skip"); val fr = all("freshness")
    val (frPct, frTail) = Main.tail(fr)
    val (s, su, sn) = e2e("setup_s")
    val (w, wu, wn) = e2e("suite_s")
    val (p, pu, pn) = e2e("latency_p50_s")
    val (t, tu, tn) = e2e("latency_tail_s")
    val (r, ru, rn) = e2e("peak_rss_mb")
    Map("setup_s" -> m(s, su, sn), "suite_s" -> m(w, wu, wn),
      "cycle_p50_s" -> m(p, pu, pn),
      "cycle_tail_s" -> (m(t, tu, tn) + ("percentile" -> tailPct)),
      "skip_p50_s" -> m(Main.median(skip), "s", skip.size),
      "initial_load_s" -> m(Main.median(all("initial")), "s", all("initial").size),
      "freshness_p50_s" -> m(Main.median(fr), "s", fr.size),
      "freshness_tail_s" -> (m(frTail, "s", fr.size) + ("percentile" -> frPct)),
      "ingest_rows_per_s" -> m(all("ingested").sum / passes.map(_.wallS).sum, "rows/s", passes.size),
      "failed_share" -> m(failedShare, "ratio", passes.map(_.attempted).sum),
      "peak_rss_mb" -> m(r, ru, rn))
  }
}

object IngestRunner {
  val Datasets = Seq("rain_anomaly", "station_obs", "docs_curated")
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val W = 32
  val H = 24
  val Nodata = -9999.0
  val Stations = 40
  val DocsPerDay = 24
  val RetentionDays = 2
  /** Incremental cycles per pass in a full run. */
  val Cycles = 6

  /** JobsSpec's curation shape: quality gate (>= 5 tokens), exact dedup
    * within the slice, then exact and near-duplicate (3-shingle Jaccard
    * >= 0.5) pruning against the published corpus. Keeps `ts`. */
  def curate(spark: SparkSession, slice: DataFrame, corpusPath: String): DataFrame = {
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
}

package graftbench

import graft.{Bench, BenchScale, GraftConf, Sf1Data, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** JVM side of the benchmark (see perfbench/NOTES.md). `run.py` builds
  * this together with the engine, prepares the ×10 corpus once, gives
  * every run its own scratch directory and reads the result file this
  * main writes.
  *
  * Modes:
  *   - `run`: one workload, closed loop, one client, for `--seconds`;
  *   - `prepare`: build the ×10 corpus with `graft.Sf1Data`;
  *   - `calibrate`: time every SparkEntry query once and print its
  *     digest (used to freeze the query lists and expected digests).
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session the README gives users, with this run's scratch dirs. */
  def session(work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftConf.builder(s"local[$cpus]", cpus)
      .appName("graft-perfbench")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `graft.Fixtures.Root` is a fixed absolute path outside any
    * checkout; point it at this run's scratch space so fixture-backed
    * queries (d02, d03, q20, i62-i67, ...) write inside it. The field is
    * a static final, so it is set through Unsafe, before first use. */
  def redirectFixtures(work: String): Unit = {
    val f = graft.Fixtures.getClass.getDeclaredField("Root")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), s"$work/fixtures")
    require(graft.Fixtures.Root == s"$work/fixtures", "fixture root not redirected")
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p75/90/95/99/99.9 with at least ten samples beyond
    * it (nearest rank); the median when there are fewer than 40. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    if (p == 50.0) (p, median(s))
    else (p, s(math.ceil(p / 100 * n).toInt - 1))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a("mode") match {
      case "prepare" => prepare(a("base"), a("corpus"))
      case "calibrate" => calibrate(a)
      case "run" => run(a); sys.exit(0) // no lingering non-daemon thread may outlive the run
      case other => sys.error(s"unknown mode $other")
    }
  }

  def prepare(base: String, corpus: String): Unit = {
    Sf1Data.main(Array(base, corpus))
  }

  def calibrate(a: Args): Unit = {
    val work = a("work")
    redirectFixtures(work)
    val spark = session(work)
    val dir = a("data")
    val only = a.get("only").map(_.split(",").toSet)
    val t = Tables(spark, dir)
    Tables.names.foreach(n => t.table(n).count())
    SparkEntry.defs.sortBy(_.name).filter(d => only.forall(_.contains(d.name))).foreach { d =>
      val t0 = System.nanoTime()
      val r = try { val (n, h) = Digest(d.fn(spark, dir)); s"$n\t$h" }
      catch { case e: Throwable => s"FAIL\t${e.getClass.getSimpleName}: ${e.getMessage}".replace("\n", " ").take(300) }
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"CAL\t${d.name}\t$s%.3f\t$r")
    }
    spark.stop()
  }

  /** One run of one workload; writes the result file `--out`. */
  def run(a: Args): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val bench = a("bench")
    val smoke = a.get("smoke").contains("1")
    redirectFixtures(work)

    val w: Workload = workload match {
      case "short_sf01" | "heavy_x10" =>
        val dir = if (smoke) a("smoke_data") else a("corpus")
        val tag = new java.io.File(dir).getName
        val names = QueryWorkload.loadList(s"$bench/lists/$workload.txt")
        new QueryRunner(workload, names, dir,
          Digest.load(a.get("expected").getOrElse(s"$bench/expected/$tag.tsv")))
      case "ingest_cycles" =>
        new IngestRunner(if (smoke) a("smoke_data") else a("base"), s"$work/ingest",
          cycles = if (smoke) 2 else IngestRunner.Cycles,
          corrupt = a.get("corrupt_partition").contains("1"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, several times: session start, table warm-up, workload set-up
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val nSetups = a.int("setups", 3)
    (0 until nSetups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      w.setup(spark, seed, i)
      setups += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup ${i + 1}: ${setups.last}%.3f s")
    }
    val record = mutable.LinkedHashMap[String, Any](
      "src_hash" -> BenchScale.srcHash(),
      "nproc" -> cpus,
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_conf" -> nonDefaultConf(spark),
      "calibrate_before_s" -> Bench.calibrate(spark))

    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val tStart = System.nanoTime()
    // a fixed pass count, not a deadline, so that every run of a workload
    // measures the same work however fast the machine is
    val nPasses = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    while (passes.size < nPasses) {
      val cg0 = Codegen.snapshot()
      val p = w.pass(spark, passes.size, rng, tracer)
      val cg1 = Codegen.snapshot()
      passes += tracer.fold(p)(t => p.copy(layers = w.layers(p, t, (cg1._1 - cg0._1, cg1._2 - cg0._2))))
      System.err.println(f"[perfbench] $workload pass ${passes.size}: ${p.wallS}%.3f s, ${p.failures.size} failed")
    }
    tracer.foreach(_.detach())
    record("calibrate_after_s") = Bench.calibrate(spark)
    record("passes") = passes.size
    record("measured_s") = (System.nanoTime() - tStart) / 1e9

    val lat = passes.flatMap(_.latencies).toSeq
    val (tailPct, tailV) = tail(lat)
    val attempted = passes.map(_.attempted).sum
    val failures = passes.flatMap(_.failures)
    val e2e = mutable.LinkedHashMap[String, (Double, String, Int)](
      "setup_s" -> ((median(setups.toSeq), "s", setups.size)),
      "suite_s" -> ((median(passes.map(_.wallS).toSeq), "s", passes.size)),
      "latency_p50_s" -> ((median(lat.toSeq), "s", lat.size)),
      "latency_tail_s" -> ((tailV, "s", lat.size)),
      "peak_rss_mb" -> ((peakRssMb(), "MB", 1)))
    val report = w.report(passes.toSeq, e2e, tailPct, failures.size.toDouble / math.max(1, attempted))
    val layers: Map[String, Double] = tracer.map { t =>
      val keys = passes.head.layers.keys
      keys.map(k => k -> median(passes.map(_.layers(k)).toSeq)).toMap
    }.getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
    record("setup_samples_s") = setups.toSeq
    record("tail_percentile") = tailPct

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.distinct.take(50),
      "metrics" -> e2e.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "report" -> report,
      "layers" -> layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> Layers.unit(k)) }
        .to(mutable.LinkedHashMap),
      "record" -> record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), Json(out))
    spark.stop()
  }

  /** Spark conf entries set explicitly (builder, engine defaults and
    * session overrides), i.e. everything not at Spark's built-in default. */
  def nonDefaultConf(spark: SparkSession): Map[String, String] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id")
    (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll) -- volatile
  }
}

/** Result of one pass of a workload. `latencies` are the samples behind
  * `latency_p50_s`/`latency_tail_s`; `extra` holds workload-specific
  * samples for the report line. */
final case class PassResult(wallS: Double, latencies: Seq[Double], attempted: Int,
    failures: Seq[String], extra: Map[String, Seq[Double]] = Map.empty,
    layers: Map[String, Double] = Map.empty, payload: Any = null)

trait Workload {
  /** Length of one pass on a 4-core machine; a run makes
    * round(--seconds / nominalPassS) passes, at least one. */
  def nominalPassS: Double
  def setup(spark: SparkSession, seed: Long, attempt: Int): Unit
  def pass(spark: SparkSession, index: Int, rng: scala.util.Random, tracer: Option[Tracer]): PassResult
  def layers(p: PassResult, tracer: Tracer, codegen: (Double, Long)): Map[String, Double]
  /** Every end-to-end metric the notes name for this workload, with its
    * unit and sample count. */
  def report(passes: Seq[PassResult], e2e: scala.collection.Map[String, (Double, String, Int)],
      tailPct: Double, failedShare: Double): Map[String, Any]
}

object Layers {
  def unit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_written")) "bytes"
    else if (k.endsWith("_share")) "ratio"
    else "count"
}

object QueryRunner {
  val WarmUp = "q01_pricing_summary"
}

/** `short_sf01` / `heavy_x10`: a frozen query list, every query once
  * per pass in a seed-shuffled order. */
final class QueryRunner(name: String, names: Seq[String], dir: String,
    expected: Map[String, (Long, String)]) extends Workload {
  private val q = new QueryWorkload(names, dir, expected)
  def nominalPassS: Double = if (name == "heavy_x10") 24.0 else 12.0

  def setup(spark: SparkSession, seed: Long, attempt: Int): Unit = {
    val t = Tables(spark, dir)
    Tables.names.foreach(n => t.table(n).count())
    // one query outside the lists warms the JVM's planning and execution
    // paths, so the first listed queries of a seed's order are not the
    // ones that pay for class loading and JIT
    require(!names.contains(QueryRunner.WarmUp), s"${QueryRunner.WarmUp} is in the list")
    Digest(SparkEntry.defs.find(_.name == QueryRunner.WarmUp).get.fn(spark, dir))
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, index: Int, rng: scala.util.Random,
      tracer: Option[Tracer]): PassResult = {
    val order = rng.shuffle(names)
    val t0 = System.nanoTime()
    val samples = q.pass(spark, index, order, tracer)
    val wall = (System.nanoTime() - t0) / 1e9
    PassResult(wall, samples.map(_.wallS), samples.size,
      samples.filterNot(_.ok).map(s => s"${s.name}: ${s.error.getOrElse("")}".take(400)),
      payload = samples)
  }

  def layers(p: PassResult, tracer: Tracer, codegen: (Double, Long)): Map[String, Double] =
    q.layers(p.payload.asInstanceOf[Seq[QuerySample]], tracer, Main.cpus, codegen)

  def report(passes: Seq[PassResult], e2e: scala.collection.Map[String, (Double, String, Int)],
      tailPct: Double, failedShare: Double): Map[String, Any] = {
    def m(v: Double, unit: String, n: Int) = Map("value" -> v, "unit" -> unit, "n" -> n)
    val (s, su, sn) = e2e("setup_s")
    val (w, wu, wn) = e2e("suite_s")
    val (p, pu, pn) = e2e("latency_p50_s")
    val (t, tu, tn) = e2e("latency_tail_s")
    val (r, ru, rn) = e2e("peak_rss_mb")
    Map("setup_s" -> m(s, su, sn), "suite_s" -> m(w, wu, wn),
      "query_p50_s" -> m(p, pu, pn),
      "query_tail_s" -> (m(t, tu, tn) + ("percentile" -> tailPct)),
      "failed_share" -> m(failedShare, "ratio", passes.map(_.attempted).sum),
      "peak_rss_mb" -> m(r, ru, rn))
  }
}

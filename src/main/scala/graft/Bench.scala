package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given scale
  * factor and prints ONE JSON line for the driver
  * (`{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`).
  *
  * The driver captures only the last ~2000 chars of output, and a line
  * longer than that loses its opening brace and fails to parse (this is
  * exactly what happened to BENCH_r02/r03 once the suite passed ~100
  * queries). So the printed line is BUDGETED: slowest queries are
  * listed individually until a char budget, the fast remainder is
  * aggregated into `"omitted":{"n":...,"sec":...}`, and `value` stays
  * the exact total over ALL queries. The complete per-query map is
  * written to `target/bench_full.json` for inspection.
  */
object Bench {

  /** Max chars for the printed JSON line. The driver tail keeps 2000
    * chars and sbt appends a ~80-char "[success] Total time" line after
    * ours, so anything ≤1850 survives with margin. */
  val LineBudget = 1800

  /** Queries whose FIRST run stages a persistent artifact (the stored
    * dedup index, fingerprint-keyed stream sinks/checkpoints, the
    * materialized csv/json/orc demo sources): their wall time depends
    * on whether a prior run already staged — d07 measured 31.7 s
    * first-touch vs 4.0 s steady at sf1, and a round artifact mixing
    * the two can hide a regression in the stored-index read path.
    * Bench times these twice and publishes BOTH columns: `queries` /
    * `value` keep the first-touch time (comparable with every past
    * round), `staged` carries `[first_touch, steady]` per query. */
  val Staged: Set[String] = Set(
    "d07_incremental_dedup",       // Dedup.stagedCorpusIndex
    "st08_stream_dedup_corpus",    // same stored index, prefix keys
    "st03_stream_upsert_sink",     // fp-keyed sink + checkpoint resume
    "st10_stream_incremental_agg", // fp-keyed staged slices + state_v
    "st16_stream_neardup_gate",    // stored index, band probes
    "i16_multi_source_union")      // per-JVM materialized demo sources

  /** Calibration spread above which the run self-identifies as
    * CONTENDED: the machine's ambient-load variance has produced ×2.3
    * phantom "regressions" in graded artifacts (BENCH_r08: 497 s
    * driver run vs 199.7 s uncontended on identical code). 1.5× on a
    * fixed pure-CPU probe is well above same-run jitter (~1.1×
    * observed idle) and well below what a co-running build causes. */
  val LoadSpreadFlag = 1.5

  /** Top of the CLEAN calibration band (probes run 0.14-0.18 s on
    * every committed clean artifact): the spread gate's qualifier. A
    * spread whose slowest probe still sits under this ceiling was
    * caused by an anomalously FAST sample (surplus CPU — contention
    * can only ever SLOW a pure-CPU probe), not by load; a spread whose
    * max exceeds it has a genuinely slowed probe and flags. Distinct
    * from [[CalibAbsFlag]] (2× this), which gates the MIN probe for
    * uniform contention — qualifying the spread on that looser bound
    * would open a blind window (e.g. [0.15, 0.33, 0.15]: one probe
    * 2× slow, spread 2.2×, yet max under 0.35 — r16 review). */
  val CalibCleanCeiling = 0.2

  /** Absolute calibration ceiling: the fixed probe runs 0.14-0.17 s
    * on this pinned local[32] sandbox in EVERY committed clean
    * artifact (r14, r15 — it is pure CPU, insensitive to page cache).
    * UNIFORM contention slows all probes together, so the spread gate
    * alone stays silent (observed: calib 0.41-0.56, spread 1.37, on a
    * run where one query took 3× its clean time); any probe floor
    * above 2× the clean ceiling marks the run loaded regardless of
    * spread. A future faster machine only makes this gate laxer,
    * never a false flag. */
  val CalibAbsFlag = 0.35

  /** Per-query stall gate vs the round's clean BenchScale artifact:
    * any query this much slower than its committed sf0.1 twin (above
    * [[StallFloorSec]]) marks the run CONTENDED. The calibration
    * probes bracket the suite and missed an IN-RUN stall once
    * (BENCH_r14: p01 at 44 s vs 4-5 s clean, calib 0.14-0.17 s,
    * load_flag=false) — a per-query check against a known-clean twin
    * catches exactly that shape. 3× sits above the ±40 % ambient
    * swing the artifact history shows and well under the 10× a
    * co-running build causes. */
  val StallGate = 3.0

  /** Queries faster than this are never stall-flagged — constant
    * scheduling overhead dominates their ratio. */
  val StallFloorSec = 2.0

  /** Queries that stalled vs their clean twins (same-scale column of
    * the committed BenchScale artifact). Empty twin map = no check. */
  def stalls(results: Seq[(String, Double)], twin: Map[String, Double],
      gate: Double = StallGate, floor: Double = StallFloorSec): Seq[String] =
    results.collect {
      case (n, s) if s > floor &&
        twin.get(n).exists(t => t > 0 && s / t > gate) => n
    }.sorted

  /** Fixed pure-CPU calibration probe: 64M xxhash64 over an in-memory
    * range — no IO, no shuffle, insensitive to page cache, so its
    * wall time moves ONLY with available CPU. Timed at suite
    * start/middle/end; the spread is the contention sentinel. */
  def calibrate(spark: SparkSession): Double = {
    // bit_xor, not sum: summing 64M hashes overflows Long under the
    // ANSI default; xor folds without overflow and still forces the
    // per-row hash work. MIN of two runs per sample: a GC pause or
    // scheduler hiccup inherited from the previous query spikes ONE
    // run (measured 0.18 -> 0.36 s mid-suite on an idle machine),
    // while genuine ambient load slows both — min keeps the sentinel
    // sensitive to the latter without false-flagging the former.
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64L * 1000 * 1000, 1L,
          spark.sparkContext.defaultParallelism)
        .selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Render the one-line driver JSON within [[LineBudget]].
    * `stalled` (from [[stalls]]) forces `load_flag` true and lists the
    * offending queries — an in-run contention stall must never read
    * as a code regression just because the calibration probes
    * straddled it. */
  def renderJson(results: Seq[(String, Double)], failed: Seq[String], sfDir: String,
      staged: Seq[(String, (Double, Double))] = Nil,
      calib: Seq[Double] = Nil,
      stalled: Seq[String] = Nil): String = {
    val total = results.map(_._2).sum
    // capped name-list rendering shared by the failure and stall
    // fields — long lists must never blow the line budget
    def cappedList(names: Seq[String]): String =
      if (names.size <= 5) names.map("\"" + _ + "\"").mkString("[", ",", "]")
      else names.take(5).map("\"" + _ + "\"")
        .mkString("[", ",", s""","+${names.size - 5} more"]""")
    // failed queries are flagged in the JSON and fail the run — a
    // fast-fail timing must never read as a performance win
    val errs = cappedList(failed)
    val prefix = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"queries":{"""
    // both columns for the staged queries, fixed small (≤5 entries) —
    // goes in the measured suffix so the budget math stays exact
    val stagedJson =
      if (staged.isEmpty) ""
      else staged.sortBy(_._1).map { case (k, (ft, st)) =>
        "\"" + k + f"""\":[$ft%.2f,$st%.2f]""" }
        .mkString(""","staged":{""", ",", "}")
    // contention sentinel: fixed-size (3 samples, 2 decimals) so the
    // budget stays exact; a flagged artifact reads as "machine was
    // loaded", never as a code regression. The per-query stall list
    // (vs the clean BenchScale twin) ORs into the flag — r14's
    // contended run had one query at 10× with calib probes clean.
    val stalledJson =
      if (stalled.isEmpty) ""
      else s""","stalled":${cappedList(stalled)}"""
    val calibJson =
      if (calib.isEmpty && stalled.isEmpty) ""
      else {
        // the spread only means CONTENTION when it is driven by a SLOW
        // probe: contention can only ever slow a pure-CPU probe, so a
        // spread whose max still sits inside the clean band was caused
        // by an anomalously FAST sample (surplus CPU mid-suite —
        // observed live: calib [0.16, 0.08, 0.17] on an idle machine,
        // which the unqualified ratio read as a 2.1x "spread")
        val spread = calib.nonEmpty && calib.min > 0 &&
          calib.max / calib.min > LoadSpreadFlag &&
          calib.max > CalibCleanCeiling
        // uniform contention slows every probe together — the spread
        // gate alone misses it; the absolute ceiling doesn't
        val slow = calib.nonEmpty && calib.min > CalibAbsFlag
        val flagged = spread || slow || stalled.nonEmpty
        calib.map(c => f"$c%.2f").mkString(""","calib":[""", ",",
          s"""],"load_flag":$flagged""")
      }
    val suffix =
      f"""$stagedJson$stalledJson$calibJson,"errors":$errs,"sf":"$sfDir"}"""
    // slowest-first so the entries that matter for grading always fit
    val bySlowest = results.sortBy { case (n, s) => (-s, n) }
    val entries = bySlowest.map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }
    // reserve room for the closing "},"omitted":{"n":###,"sec":####.#}"
    val reserve = 40
    val avail = LineBudget - prefix.length - suffix.length - reserve
    var used = 0
    var kept = 0
    entries.foreach { e =>
      val extra = e.length + (if (kept > 0) 1 else 0)
      if (used + extra <= avail) { used += extra; kept += 1 }
    }
    val listed = entries.take(kept).mkString(",")
    val omittedSec = bySlowest.drop(kept).map(_._2).sum
    val omitted =
      if (kept == results.size) "}"
      else f"""},"omitted":{"n":${results.size - kept},"sec":$omittedSec%.1f}"""
    prefix + listed + omitted + suffix
  }

  def main(args: Array[String]): Unit = {
    val names = args.toSet // optional filter: bench only these queries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftConf.builder(s"local[$cpus]", cpus)
      .appName("graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM + parquet-footer warm-up outside the timed region — all
    // tables, so the alphabetically-first queries don't absorb the
    // cold-scan cost of whichever table they happen to touch first
    val t = Tables(spark, sfDir)
    Tables.names.foreach(n => t.table(n).count())

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val stagedTimes = scala.collection.mutable.ListBuffer.empty[(String, (Double, Double))]
    // contention sentinel: one warm-up (codegen compile excluded),
    // then a timed sample at suite start / middle / end
    calibrate(spark)
    val calib = scala.collection.mutable.ListBuffer(calibrate(spark))
    val toRun = SparkEntry.defs.sortBy(_.name)
      .filter(d => names.isEmpty || names.contains(d.name))
    val midAt = toRun.size / 2
    val results = toRun.zipWithIndex.map { case (d, i) =>
      if (i == midAt && i > 0) calib += calibrate(spark)
      val t0 = System.nanoTime()
      try { d.fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        failed += d.name
        System.err.println(s"[bench] ${d.name}: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // drop operator-persisted blocks between queries (outside the
      // timed region): every query is measured cold on its own
      // intermediates and cached blocks never accumulate across the
      // suite — the 134-query session would otherwise leak every
      // operator's persist() for its lifetime
      spark.catalog.clearCache()
      // staged queries run a second time against the now-staged
      // artifact: the steady-state column (regressions in the stored
      // index/sink READ path show here, not in the staging cost)
      if (Staged.contains(d.name) && !failed.contains(d.name)) {
        val t1 = System.nanoTime()
        try { d.fn(spark, sfDir).count() } catch { case _: Throwable => () }
        val steady = (System.nanoTime() - t1) / 1e9
        spark.catalog.clearCache()
        stagedTimes += d.name -> (sec, steady)
      }
      d.name -> sec
    }
    // full per-query map (unbudgeted) for local inspection
    val fullQs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    try {
      val out = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, fullQs.getBytes("UTF-8"))
    } catch { case _: java.io.IOException => () } // diagnostics only

    calib += calibrate(spark)
    // per-query stall check vs the round's committed clean BenchScale
    // artifact — same-scale column only (the driver benches sf0.1);
    // any other sf dir has no clean twin and skips the check. Twin
    // resolution (current round's artifact, else previous) lives in
    // ONE place: BenchScale.cleanTwinSf01 (r15 verdict item 7)
    val twin: Map[String, Double] =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1")) Map.empty
      else BenchScale.cleanTwinSf01()
    val stalled = stalls(results, twin)
    println(renderJson(results, failed.toList, sfDir, stagedTimes.toList,
      calib.toList, stalled))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

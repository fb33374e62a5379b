package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional: verify only these queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftConf.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // stale fixture tags from old rounds are GC'd (age-guarded, so a
    // concurrent verify over another sf dir is never touched)
    Fixtures.vacuum(keepTags = Set(new java.io.File(sfDir).getName))
    val attempted = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      attempted += name
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist() intermediates for their own self-joins; the
      // harness owns the between-queries boundary, so cached blocks
      // never accumulate across the full suite (base tables aren't
      // cached — Tables returns lazy scans)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dump oracle SQL only for queries ATTEMPTED this invocation: a
    // dev-filtered subset must not emit dangling fixture paths for
    // queries that never ran (fixture-backed oracles — d02/d03/q10b/
    // q20 — embed sf-dir-derived paths). A query that ran and FAILED
    // keeps its oracle entry: its missing result dir / dangling path
    // surfaces as a visible per-query error in the driver compare,
    // never a silent omission from the correctness artifact.
    val json = SparkEntry.oracleSqlFor(sfDir)
      .filter { case (k, _) => attempted.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

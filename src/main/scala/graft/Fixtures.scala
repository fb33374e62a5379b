package graft

/** Fixture tables for PARTIAL oracles.
  *
  * The xxhash64 fast paths (d02 minhash, d03 simhash) compute signature
  * values DuckDB cannot reproduce — xxhash64 has no DuckDB equivalent —
  * which long kept them rows-only. The fixture pattern splits the
  * pipeline at the signature boundary instead: the Spark run WRITES the
  * signatures it computed as a parquet fixture, continues FROM a
  * read-back of that fixture, and the generated oracle SQL replays
  * everything downstream of the fixture (banding, bucket caps, pairing,
  * estimate + confirm tiers) from the same files.
  *
  * What this hash-checks: the entire LSH candidate/confirm pipeline —
  * the part with real join/agg logic. What it cannot check: the
  * signature VALUES (each fast path keeps its fully-oracled portable
  * twin, d02b/d03b, covering that shape with md5). The fixture path is
  * data-dependent, so the oracle SQL is generated per run — like q36's
  * adopted-round unrolling, Verify executes the queries (writing the
  * fixtures and recording their paths) before dumping oracle_sql.json.
  */
object Fixtures {

  /** Repo-local root; the driver's DuckDB runs on this machine and can
    * read_parquet these files directly. The system property
    * `graft.fixtures.root` moves it, so two JVMs (a test run and a
    * `Verify`, say) need not share it; by default it is `target/fixtures`
    * under the working directory, the repo root for sbt. */
  val Root: String = sys.props.getOrElse("graft.fixtures.root",
    new java.io.File("target/fixtures").getAbsolutePath)

  /** Deterministic fixture directory for (sf dir, fixture name) — the
    * SAME formula both the writing query and the generated oracle SQL
    * use, so the oracle path needs no run-time state (r9: replaced the
    * per-query @volatile last-written-path vars). */
  def pathFor(sfDir: String, name: String): String =
    s"$Root/${new java.io.File(sfDir).getName}/$name"

  /** Write `df` as the named fixture for the given sf dir; returns the
    * absolute directory whose `*.parquet` glob the oracle reads. */
  def write(df: org.apache.spark.sql.DataFrame, sfDir: String, name: String): String = {
    val path = pathFor(sfDir, name)
    df.write.mode("overwrite").parquet(path)
    path
  }

  /** GC for stale fixture tags (r8 advice #8): drop Root subdirs whose
    * sf tag is NOT in `keepTags` and whose last write is older than
    * `minAgeMs` — the age guard means a concurrent verify over another
    * sf dir (actively rewriting its fixtures) is never clobbered,
    * while tags from long-dead rounds stop accumulating. Verify calls
    * this with its own tag on startup. Returns the deleted tags. */
  def vacuum(keepTags: Set[String],
      minAgeMs: Long = 6L * 3600 * 1000): Seq[String] = {
    val root = new java.io.File(Root)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def newestMtime(f: java.io.File): Long =
      if (f.isFile) f.lastModified()
      else (f.lastModified() +:
        Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !keepTags.contains(d.getName) &&
        newestMtime(d) < cutoff)
      .map { d => rm(d); d.getName }.sorted
  }
}

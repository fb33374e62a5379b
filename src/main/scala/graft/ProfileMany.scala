package graft

/** Dev profiler: run SEVERAL named SparkEntry queries with warm
  * repetitions in ONE JVM (amortizes sbt+session startup across a
  * sweep). Prints the per-query minimum wall over the warm reps — the
  * ambient-load-resistant comparator the A/B sweeps use.
  * Usage: runMain graft.ProfileMany <sfDir> <reps> <query> [query ...]
  */
object ProfileMany {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ProfileMany <sfDir> <reps> <query...>")
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftConf.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"no query '$name'"))
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val w = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        w
      }
      println(f"[many] $name min=${walls.min}%.2f all=" +
        walls.map(w => f"$w%.2f").mkString(","))
    }
    spark.stop()
  }
}

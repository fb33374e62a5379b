package graft

/** Plan-audit main: prints the formatted physical plan for the named
  * queries (or all). Usage: runMain graft.Explain [sfDir] [name ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftConf.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.defs
      .filter(d => names.isEmpty || names.contains(d.name))
      .foreach { d =>
        println(s"\n========== ${d.name} ==========")
        try d.fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}

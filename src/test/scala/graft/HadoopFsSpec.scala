package graft

import graft.sources.{GeoTiff, HadoopFs, LocalFs, PublishedTable}
import graft.sources.GeoTiff.Raster
import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.FileSystem

/** graft's own file access goes through [[HadoopFs]]'s conf, built from
  * the running SparkConf: the session's `spark.hadoop.*` keys reach the
  * grid connectors and the published table, so both resolve `file:` to
  * the [[LocalFs]] the session registers. */
class HadoopFsSpec extends SparkSpec {

  /** Bytes read and written so far through LocalFs's raw layer. */
  private def localFsBytes(): (Long, Long) = {
    val st = FileSystem.getStatistics("file", classOf[LocalFs.Raw])
    (st.getBytesRead, st.getBytesWritten)
  }

  test("the shared conf carries the running SparkConf's spark.hadoop keys") {
    val impl = spark.sparkContext.getConf.get("spark.hadoop.fs.file.impl")
    assert(impl == classOf[LocalFs].getName)
    assert(HadoopFs.conf.get("fs.file.impl") == impl)
    // built once, shared; a copy with a key set leaves it untouched
    assert(HadoopFs.conf eq HadoopFs.conf)
    val copy = HadoopFs.confWith("graft.spec.key", "1")
    assert(copy.get("graft.spec.key") == "1" && copy.get("fs.file.impl") == impl)
    assert(HadoopFs.conf.get("graft.spec.key") == null)
  }

  test("a TiffGridSource read and a PublishedTable.publishSlice resolve file: to LocalFs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hadoopfs").toString
    Files.write(Paths.get(s"$dir/a.tif"),
      GeoTiff.encode(Raster(2, 1, 1, 1, 0, 0, None, Array(7.0, 8.0))))
    val (read0, _) = localFsBytes()
    val values = spark.read.format("graft.sources.TiffGridSource").option("path", dir).load()
      .select("value").as[Double].collect().sorted.toSeq
    assert(values == Seq(7.0, 8.0))
    val (read1, written1) = localFsBytes()
    assert(read1 > read0, "the tif was not read through LocalFs")

    val slice = Seq(("2024-06-01 00:00:00", 1.0)).toDF("ts", "v")
      .selectExpr("cast(ts as timestamp) as ts", "v")
    PublishedTable.publishSlice(slice, s"$dir/out", "obs", "ts")
    val (_, written2) = localFsBytes()
    assert(written2 > written1, "the slice was not written through LocalFs")
    assert(PublishedTable.latestManifest(s"$dir/out/obs").exists(_.files.size == 1))
    assert(FileSystem.get(new URI("file:///"), HadoopFs.conf).isInstanceOf[LocalFs])
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session shape: every harness and spec builds its session through
  * [[GraftConf.builder]], so the session users get is the one the
  * oracle checks and the benchmarks time. `Sf1Data` and `SkewData`
  * keep their own builders because the corpora they write (and the
  * digests checked against them) were generated on those sessions.
  * GraftConf is also the only writer of a session's conf, and the
  * sources read files through the one Hadoop conf of `HadoopFs`. */
class SessionBuilderSpec extends AnyFunSuite {

  private val allowed = Set("GraftConf.scala", "Sf1Data.scala", "SkewData.scala")

  /** Source files under src/main/scala whose code (comments stripped)
    * matches `pattern`. */
  private def sitesOf(pattern: String): Seq[Path] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filter { f =>
        val code = Files.readString(f)
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        pattern.r.findFirstIn(code).isDefined
      }
    finally walk.close()
  }

  test("SparkSession.builder() is called only by GraftConf, Sf1Data and SkewData") {
    val sites = sitesOf("SparkSession\\.builder\\(\\)")
    // the scan sees code at all: GraftConf's own call is found
    assert(sites.exists(_.getFileName.toString == "GraftConf.scala"), sites)
    val stray = sites.filterNot(f => allowed(f.getFileName.toString))
    assert(stray.isEmpty, s"build the session via GraftConf.builder in: ${stray.mkString(", ")}")
  }

  test("only GraftConf writes a SparkSession's conf") {
    // session policy is set at build time; a query that needs other
    // values runs them on GraftConf.isolated, never on the caller's
    // session. Hadoop Configuration writes are not session conf.
    val sites = sitesOf("\\.conf\\s*\\.\\s*(set|unset)\\s*\\(")
    assert(sites.exists(_.getFileName.toString == "GraftConf.scala"), sites)
    val stray = sites.filterNot(_.getFileName.toString == "GraftConf.scala")
    assert(stray.isEmpty, s"session conf written in: ${stray.mkString(", ")}")
  }

  test("new Configuration( appears under graft/sources only in HadoopFs") {
    // a fresh Configuration parses Hadoop's XML defaults again on first
    // use and misses the session's spark.hadoop.* keys; the sources
    // share HadoopFs's conf (and copy it there to set a key)
    val sources = Paths.get("src/main/scala/graft/sources")
    val sites = sitesOf("new\\s+(org\\.apache\\.hadoop\\.conf\\.)?Configuration\\s*\\(")
      .filter(_.startsWith(sources))
    assert(sites.exists(_.getFileName.toString == "HadoopFs.scala"), sites)
    val stray = sites.filterNot(_.getFileName.toString == "HadoopFs.scala")
    assert(stray.isEmpty, s"use HadoopFs.conf in: ${stray.mkString(", ")}")
  }
}

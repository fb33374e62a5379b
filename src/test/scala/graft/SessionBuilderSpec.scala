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

  /** Every source file under src/main/scala with its code, comments
    * stripped. */
  private lazy val mainCode: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map { f =>
        f -> Files.readString(f)
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
      }
    finally walk.close()
  }

  /** Source files whose code matches `pattern`. */
  private def sitesOf(pattern: String): Seq[Path] =
    mainCode.collect { case (f, code) if pattern.r.findFirstIn(code).isDefined => f }

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

  test("no code under src/main reads a graft session key but the stream provider's") {
    // a graft-owned key read from the session lets one caller change
    // another's results on a shared session; size gates are named
    // constants and call parameters instead. The state-store backend
    // is a deployment setting, the one key left.
    val key = "\"(spark\\.)?graft\\.[^\"]*\""
    // identifiers bound to a graft key literal, e.g. StateStoreProviderConf
    val named = mainCode.flatMap { case (_, code) =>
      s"val\\s+(\\w+)\\s*(:\\s*String\\s*)?=\\s*$key".r.findAllMatchIn(code).map(_.group(1))
    }.toSet
    val reads = for {
      (f, code) <- mainCode
      m <- "(?i)(conf\\s*\\.\\s*(get\\w*|contains)|getConf\\w*)\\s*\\(\\s*([^,)]*)".r
        .findAllMatchIn(code)
      arg = m.group(3).trim
      if arg.matches(key) || named(arg)
    } yield s"${f.getFileName}: $arg"
    // the scan sees code: the provider read is found
    assert(reads.contains("Pipeline.scala: StateStoreProviderConf"), reads)
    val stray = reads.filterNot(_ == "Pipeline.scala: StateStoreProviderConf")
    assert(stray.isEmpty, s"graft session keys read in: ${stray.mkString(", ")}")
  }
}

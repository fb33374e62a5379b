package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** One DataSource V2 skeleton for the file-grid connectors: the table,
  * scan builder and reader factory live in `GridConnector.scala`, and
  * a grid format supplies a split planner and a cell cursor. The
  * synthetic `GridSource` (aggregate pushdown, DPP, key-grouped
  * partitioning) is its own connector and is not checked here. */
class GridSkeletonSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/sources")
  private val connectors = Seq("TiffGridSource", "NcGridSource",
    "GribGridSource", "HdfGridSource", "H5GridSource")

  /** `file`'s code with comments stripped. */
  private def code(file: String): String =
    Files.readString(dir.resolve(file))
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val skeletonClass =
    "(extends|with)\\s+(Table|ScanBuilder|PartitionReaderFactory)\\b".r

  test("no file-grid connector defines its own Table, ScanBuilder or PartitionReaderFactory") {
    // the scan sees code at all: the skeleton's own classes are found
    assert(skeletonClass.findAllIn(code("GridConnector.scala")).size == 3)
    val forks = connectors.flatMap { c =>
      skeletonClass.findAllIn(code(s"$c.scala")).map(m => s"$c.scala: $m")
    }
    assert(forks.isEmpty, s"use the shared skeleton in GridConnector.scala: ${forks.mkString(", ")}")
  }

  test("every file-grid connector is a GridProvider over its own GridFormat") {
    connectors.foreach { c =>
      val src = code(s"$c.scala")
      assert(s"class $c extends GridProvider\\(".r.findFirstIn(src).isDefined, c)
      assert("extends GridFormat\\b".r.findFirstIn(src).isDefined, c)
    }
  }
}

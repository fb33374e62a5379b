package graft.sources

import java.util
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over a DIRECTORY of HDF4 tiles — the MODIS
  * acquisition archive as a first-class Spark table (the reference
  * downloads per-tile `.hdf` files and walks their SDS subdatasets,
  * `ingest/modis/convertmodis.py:292-303`):
  *
  * {{{
  *   spark.read.format("graft.sources.HdfGridSource")
  *     .option("path", "/data/modis")     // dir, or a *.hdf glob
  *     .option("sds", "ndvi")             // omit → every SDS
  *     .load()   // → (path, sds, x, y, value)
  * }}}
  *
  * Scale shape ([[NcGridSource]]'s disciplines on the [[Hdf]] codec):
  *   - one InputPartition per (file × SDS) — a date's tile set fans
  *     out across tiles AND subdatasets, the per-layer mosaic
  *     parallelism the reference's per-subset loop implies; WIDE
  *     products (many SDS) cap at `maxSplitsPerFile` splits per file
  *     (default 8, r11): each split decodes the file once for a GROUP
  *     of subdatasets, so a 40-layer product costs 8 file reads, not
  *     40 — per-layer parallelism is preserved up to the cap and
  *     payload decode stays per-SDS either way;
  *   - the PLANNER reads only a bounded header prefix per file (DD
  *     blocks + SDS metadata — never pixels) to learn the SDS list;
  *     a planning-side failure plans one unprunable whole-file split
  *     so corrupt tiles fail loudly task-side (the r10 NcGridSource
  *     contract from day one);
  *   - `path` and `sds` predicates prune SPLITS at planning (reported
  *     unpushed, so Spark re-checks them post-scan — results never
  *     change, whole tiles/layers just never plan);
  *   - fill cells drop at the source (`keepFill=true` keeps them as
  *     NULL value rows). */
class HdfGridSource extends GridProvider(HdfGridSource.fullSchema) {
  override protected def format(options: util.Map[String, String]): GridFormat =
    HdfFormat(required(options, "path"), Option(options.get("sds")),
      flag(options, "keepFill"),
      options.getOrDefault("maxSplitsPerFile", "8").toInt)
}

object HdfGridSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("sds", StringType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  def listFiles(pathOrGlob: String): Seq[String] =
    GridFiles.list(pathOrGlob, "hdf")

  /** Header for planning: DD blocks + SDS metadata, never pixels. */
  private[graft] def planningHeader(file: String): Hdf.HdfFile =
    GridFiles.planningHeader(file, Hdf.decodeHeader, Hdf.decode)
}

final case class HdfFormat(path: String, sdsOpt: Option[String],
    keepMissing: Boolean, maxSplitsPerFile: Int) extends GridFormat {
  override def name: String = s"graft_hdf($path)"
  override def schema: StructType = HdfGridSource.fullSchema
  override def planSplits(filters: Seq[Filter]): Array[InputPartition] = {
    val pathPreds = FileGridScan.stringPreds(filters, "path")
    val sdsPreds = FileGridScan.stringPreds(filters, "sds")
    GridFiles.layerSplits(HdfGridSource.listFiles(path),
      f => pathPreds.forall(_(f)),
      f => HdfGridSource.planningHeader(f).sds.map(_.name),
      n => sdsOpt.forall(_ == n) && sdsPreds.forall(_(n)), maxSplitsPerFile)
      .map { case (f, group) => HdfPartition(f, group): InputPartition }
      .toArray
  }

  override def cells(split: InputPartition): GridCells = new GridCells {
    private val p = split.asInstanceOf[HdfPartition]
    private val f = Hdf.decode(GridFiles.readBytes(p.file))
    // the fallback whole-file split reads every (option-matching) SDS
    private val names = p.sds.getOrElse(
      f.sds.map(_.name).filter(n => sdsOpt.forall(_ == n)))
    override val path: UTF8String = UTF8String.fromString(p.file)
    // external elements resolve sibling-relative to THIS tile file
    // (the Hdf5 external-link discipline — r14); memoized so the
    // partition's K datasets pay one read per sibling
    private val siblings = Hdf.memoizedSiblings(p.file)
    private val it = names.iterator.flatMap { n =>
      val nUtf = UTF8String.fromString(n)
      Hdf.gridCells(f, n, siblings).map(c => (nUtf, c))
    }
    private var c: (UTF8String, Hdf.GridCell) = _

    override def next(): Boolean = it.hasNext && { c = it.next(); true }
    override def value: Double = c._2.value
    override def column(name: String): CellSetter = name match {
      case "sds" => (row, i) => row.update(i, c._1)
      case "x" => (row, i) => row.setInt(i, c._2.x)
      case "y" => (row, i) => row.setInt(i, c._2.y)
      case other => unknown(other)
    }
  }
}

final case class HdfPartition(file: String, sds: Option[Seq[String]])
    extends InputPartition

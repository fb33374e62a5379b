package graft.sources

import java.util
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over a DIRECTORY of HDF5/netCDF-4 files —
  * the FIFTH grid connector (Tiff/Nc/Grib/Hdf/H5), completing the
  * family for the acquisition format modern meteorological archives
  * re-export into (netCDF-4 IS HDF5 on disk):
  *
  * {{{
  *   spark.read.format("graft.sources.H5GridSource")
  *     .option("path", "/data/nc4")       // dir, or a .h5 or .nc glob
  *     .option("dataset", "/temp")        // omit → every dataset
  *     .load()   // → (path, dataset, x, y, value)
  * }}}
  *
  * Scale shape ([[HdfGridSource]]'s disciplines on the [[Hdf5]]
  * codec):
  *   - one InputPartition per (file × dataset), WIDE files capped at
  *     `maxSplitsPerFile` grouped splits (default 8) so a
  *     many-variable product pays bounded file reads;
  *   - the PLANNER first tries a bounded header-prefix decode
  *     (HDF5 metadata usually leads the file for earliest-format
  *     writers); a prefix miss falls back to one full driver read,
  *     and a corrupt file plans ONE unprunable whole-file split that
  *     fails loudly task-side;
  *   - `path` and `dataset` predicates prune SPLITS at planning
  *     (reported unpushed — Spark re-checks post-scan, so results
  *     never change, whole files/layers just never plan);
  *   - fill cells drop at the source (`keepFill=true` keeps them as
  *     NULL value rows); CF `_FillValue`/`scale_factor`/`add_offset`
  *     semantics ride [[Hdf5.gridCells]]. */
class H5GridSource extends GridProvider(H5GridSource.fullSchema) {
  override protected def format(options: util.Map[String, String]): GridFormat =
    H5Format(required(options, "path"), Option(options.get("dataset")),
      flag(options, "keepFill"),
      options.getOrDefault("maxSplitsPerFile", "8").toInt)
}

object H5GridSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("dataset", StringType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  def listFiles(pathOrGlob: String): Seq[String] =
    GridFiles.list(pathOrGlob, "h5", "nc", "hdf5", "nc4")

  /** Grid-readable dataset names under a selection: rank-2 only (real
    * netCDF-4 files carry 1-D dimension-scale datasets the grid path
    * cannot read — planning them would crash the default scan), and
    * soft-link ALIASES only when `explicit` selection names them —
    * the unfiltered scan reads each dataset once, while an explicit
    * dataset option/filter may address a link name (rows labeled with
    * the requested name). Shared by the planner and the whole-file
    * fallback reader so they always agree. */
  private[graft] def gridNames(f: Hdf5.Hdf5File, want: String => Boolean,
      explicit: Boolean): Seq[String] =
    f.datasets
      .filter(d => d.dims.size == 2 &&
        (d.aliasOf.isEmpty || (explicit && want(d.path))) &&
        // undecodable-typed datasets (e.g. COMPOUND bounds tables) and
        // fixed-string datasets (netCDF-4 char variables): unfiltered
        // scans skip them — they are not grid data — but an EXPLICIT
        // selection includes them so the read refuses by name, never
        // silently returns an empty scan (r14)
        ((d.dtype.unsupported.isEmpty && d.dtype.clazz != 3) ||
          (explicit && want(d.path))))
      .map(_.path).filter(want)

  /** EXTERNAL-LINK selections of an already-decoded source file:
    * `(link name, target file, target dataset)` for every external
    * link an EXPLICIT dataset option/filter names — the soft-link
    * alias discipline extended across files (an unfiltered scan never
    * follows links, so each dataset is read once; an explicit
    * selection may address the link name and pays the bounded target
    * reads). Non-rank-2 targets are filtered exactly like
    * [[gridNames]] filters regular datasets. `decodeFile` is the
    * caller's MEMOIZED planning decode, so a master file linked by
    * many granules decodes once per plan. */
  private[graft] def externalEntries(file: String, src: Hdf5.Hdf5File,
      want: String => Boolean,
      decodeFile: String => Hdf5.Hdf5File): Seq[(String, String, String)] =
    src.externalLinks.filter(l => want(l.path)).flatMap { l =>
      val (tFile, tDs) = Hdf5.resolveExternalLink(file, l, decodeFile)
      val d = decodeFile(tFile).datasetAt(tDs)
      if (d.dims.size == 2) Some((l.path, tFile, tDs)) else None
    }
}

final case class H5Format(path: String, dsOpt: Option[String],
    keepMissing: Boolean, maxSplitsPerFile: Int) extends GridFormat {
  override def name: String = s"graft_h5($path)"
  override def schema: StructType = H5GridSource.fullSchema
  /** (file × dataset) splits, pruned by the pushed `path`/`dataset`
    * filters. */
  override def planSplits(filters: Seq[Filter]): Array[InputPartition] = {
    val pathPreds = FileGridScan.stringPreds(filters, "path")
    val dsPreds = FileGridScan.stringPreds(filters, "dataset")
    val want: String => Boolean =
      n => dsOpt.forall(_ == n) && dsPreds.forall(_(n))
    val explicit = dsOpt.nonEmpty || dsPreds.nonEmpty
    val files = H5GridSource.listFiles(path)
    // ONE memoized planning decode per file, shared by the names path
    // and the external-link path (a master file cross-linked by many
    // granules still decodes once). It is metaOnly: chunk indexes,
    // which live past the prefix in real files interleaved with data,
    // stay unresolved — the planner only needs names and dims, and
    // tasks re-decode fully. Failures memoize the CAUSE so the
    // plan-time rethrow keeps the root diagnostic (r13 advice: a
    // generic 'planning decode failed' hides why a corrupt file
    // refused).
    val decoded =
      scala.collection.mutable.HashMap.empty[String, Either[Throwable, Hdf5.Hdf5File]]
    def dec(f: String): Either[Throwable, Hdf5.Hdf5File] =
      decoded.getOrElseUpdate(f,
        try Right(GridFiles.planningHeader(f,
          (prefix, _) => Hdf5.decode(prefix, metaOnly = true),
          Hdf5.decode(_, metaOnly = true)))
        catch { case e: Exception => Left(e) })
    val splits = GridFiles.layerSplits(files,
      f => pathPreds.forall(_(f)),
      f => H5GridSource.gridNames(
        dec(f).fold(e => throw new IllegalArgumentException(
          s"planning decode failed for $f: ${e.getMessage}", e),
          identity), want, explicit),
      _ => true, maxSplitsPerFile)
      .map { case (f, group) => H5Partition(f, group): InputPartition }
    // EXPLICITLY-selected external links, GROUPED BY TARGET FILE so a
    // stitch file with many links pays ONE task-side read per target;
    // unfiltered scans never follow links — the alias discipline. A
    // source the planner cannot decode contributes nothing here (its
    // loud whole-file split is already planned); resolution failures
    // past that still refuse at plan time — the user addressed the
    // link by name.
    val ext =
      if (!explicit) Nil
      else files.filter(f => pathPreds.forall(_(f)))
        .flatMap { f =>
          dec(f).toSeq.flatMap { src =>
            H5GridSource.externalEntries(f, src, want,
              p => dec(p).fold(e => throw new IllegalArgumentException(
                s"external link target $p failed to decode: " +
                  s"${e.getMessage}", e), identity))
              .map { case (link, tFile, tDs) => (tFile, (f, link, tDs)) }
          }
        }
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (tFile, es) =>
          H5ExtPartition(tFile, es.map(_._2)): InputPartition
        }
    (splits ++ ext).toArray
  }
  override def cells(split: InputPartition): GridCells = new GridCells {
    // (path label, dataset label, cell) — both partition kinds feed
    // the same row loop
    private val it: Iterator[(UTF8String, UTF8String, Hdf5.GridCell)] =
      split match {
        case p: H5Partition =>
          val bytes = GridFiles.readBytes(p.file)
          val f = Hdf5.decode(bytes)
          // the fallback whole-file split reads every (option-matching)
          // rank-2 dataset, with the planner's exact alias semantics
          val names = p.datasets.getOrElse(
            H5GridSource.gridNames(f, n => dsOpt.forall(_ == n), dsOpt.nonEmpty))
          val pathUtf = UTF8String.fromString(p.file)
          names.iterator.flatMap { n =>
            val nUtf = UTF8String.fromString(n)
            Hdf5.gridCells(bytes, f, n).map(c => (pathUtf, nUtf, c))
          }
        case pe: H5ExtPartition =>
          // external links: ONE read+decode of the target file, rows
          // labeled per entry with the LINKING file + link name the
          // planner matched
          val bytes = GridFiles.readBytes(pe.targetFile)
          val f = Hdf5.decode(bytes)
          pe.entries.iterator.flatMap { case (src, link, tDs) =>
            val srcUtf = UTF8String.fromString(src)
            val nUtf = UTF8String.fromString(link)
            Hdf5.gridCells(bytes, f, tDs).map(c => (srcUtf, nUtf, c))
          }
      }
    private var c: (UTF8String, UTF8String, Hdf5.GridCell) = _

    override def next(): Boolean = it.hasNext && { c = it.next(); true }
    override def path: UTF8String = c._1
    override def value: Double = c._3.value
    override def column(name: String): CellSetter = name match {
      case "dataset" => (row, i) => row.update(i, c._2)
      case "x" => (row, i) => row.setInt(i, c._3.x)
      case "y" => (row, i) => row.setInt(i, c._3.y)
      case other => unknown(other)
    }
  }
}

final case class H5Partition(file: String, datasets: Option[Seq[String]])
    extends InputPartition

/** Explicitly-selected EXTERNAL links into one target file: each
  * entry is `(linking file, link name, target dataset)` — rows read
  * from `targetFile` once per partition but labeled with the LINKING
  * file's path and the LINK name, the names the user's predicates
  * matched at planning (Spark re-checks filters post-scan). */
final case class H5ExtPartition(targetFile: String,
    entries: Seq[(String, String, String)]) extends InputPartition

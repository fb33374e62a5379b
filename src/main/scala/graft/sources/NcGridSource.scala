package graft.sources

import java.util
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over a DIRECTORY of NetCDF-3 files — the
  * [[TiffGridSource]] twin for the reference's dominant transport
  * format (`cams_forecast`/`tamsat_rainfall`/`dustforecast` all land
  * `.nc` and slice `ds[var].isel(time=i)` per date):
  *
  * {{{
  *   spark.read.format("graft.sources.NcGridSource")
  *     .option("path", "/data/landing/tamsat")  // dir, or a *.nc glob
  *     .option("var", "rfe")
  *     .load()  // → (path, var, t, time, x, y, lon, lat, value)
  * }}}
  *
  * Scale shape (same disciplines as TiffGridSource):
  *   - one InputPartition per (file × time-step RANGE, `stepsPerSplit`
  *     default 8): a 121-lead-hour CAMS cube fans out across 16 tasks
  *     instead of one task decoding the whole cube, while each task
  *     reads its file ONCE and decodes only its own slices — per-step
  *     splits would multiply the file read by the step count;
  *   - the PLANNER reads only a bounded header prefix per file (1 MB,
  *     whole-file fallback) — whole cubes never flow through the
  *     driver;
  *   - SupportsPushDownRequiredColumns: a `value`-only projection
  *     skips per-cell georeferencing and timestamp boxing;
  *   - fill cells are dropped at the source (`keepFill=true` keeps
  *     them as NULL value rows); an empty record dim (numrecs=0) plans
  *     zero splits, matching [[NetCdf.gridCells]]' zero cells.
  */
class NcGridSource extends GridProvider(NcGridSource.fullSchema) {
  override protected def format(options: util.Map[String, String]): GridFormat = {
    val path = required(options, "path")
    val varName = required(options, "var")
    val stepsPerSplit = Integer.parseInt(options.getOrDefault("stepsPerSplit", "8"))
    require(stepsPerSplit >= 1, s"bad stepsPerSplit $stepsPerSplit")
    NcFormat(path, varName, flag(options, "keepFill"), stepsPerSplit)
  }
}

object NcGridSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("var", StringType, nullable = false),
    StructField("t", IntegerType, nullable = false),
    StructField("time", TimestampType, nullable = true),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** Expand a path/glob to concrete file paths (a bare directory lists
    * its *.nc AND *.nc.gz leaves — the gz-wrapped archive shape;
    * [[NetCdf.decode]] unwraps task-side, [[planningHeader]] plans
    * from a bounded inflated prefix). */
  def listFiles(pathOrGlob: String): Seq[String] =
    GridFiles.list(pathOrGlob, "nc", "nc.gz")

  /** Planner prefix size ([[GridFiles.HeaderPrefixBytes]]). */
  private[graft] val HeaderPrefixBytes = GridFiles.HeaderPrefixBytes

  /** Time-step count of `varName` — header-only: the variable's shape
    * along its time axis; 1 when it has no time axis, and genuinely 0
    * for an empty record dim (an empty forecast placeholder must plan
    * ZERO splits, not one failing one — r9 review). */
  private[graft] def timeSteps(f: NetCdf.NcFile, varName: String): Int = {
    val v = f.variable(varName)
    val tAxis = v.dimIds.map(f.dims(_).name.toLowerCase)
      .indexWhere(Set("time", "t").contains)
    if (tAxis < 0) 1 else f.shapeOf(v)(tAxis)
  }

  /** Header for planning: bounded prefix read first (the driver must
    * never buffer whole cubes — r9 review), whole-file fallback only
    * when the header genuinely outruns the prefix. Gz-wrapped files
    * keep the bound: a bounded OUTPUT prefix inflates from the bounded
    * INPUT prefix, and the true uncompressed length comes from the
    * gzip ISIZE trailer — validated BOTH ways (≥ the inflated prefix
    * AND ≤ [[Gz.MaxDeflateRatio]] × the compressed length: a multi-member
    * or crafted stream's trailer covers only the LAST member mod 2^32,
    * so an unbounded check could bless a wildly overstated file length
    * — r14 advice). Anything inconsistent falls back to the whole-file
    * decode, which unwraps strictly. A wrapped file that is SMALL both
    * ways — compressed inside the prefix AND its ISIZE inside the
    * prefix budget — skips the prefix machinery and decodes strictly
    * ONCE (the old any-exception fallback re-read and re-inflated a
    * corrupt small file just to reproduce the same refusal, r14
    * advice); a small-compressed/large-inflated file stays on the
    * bounded path, since 1032× expansion is legal. */
  private[graft] def planningHeader(file: String): NetCdf.NcFile = {
    val (prefix, len) = GridFiles.readPrefix(file, HeaderPrefixBytes)
    if (Gz.isGz(prefix)) {
      // the single-strict-decode shortcut needs BOTH sizes small: a
      // 900 KB gz can legally inflate to ~900 MB (1032×), and
      // inflating that in the driver would break this function's own
      // never-buffer-cubes invariant. The ISIZE screen is only a
      // fast-path hint — a multi-member trailer covers its LAST
      // member and can lie small — so the shortcut inflates under its
      // OWN planning-budget cap: a spoofed trailer trips the cap
      // during inflation (never after a big allocation) and the file
      // drops to the bounded prefix path below (r15 review ×2)
      val small: Option[Array[Byte]] =
        if (len >= 4 && len <= prefix.length &&
            Gz.isize(prefix.takeRight(4)) <= HeaderPrefixBytes)
          try Some(Gz.gunzip(prefix, HeaderPrefixBytes, "NetCDF planning"))
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("inflation cap") => None
          }
        else None
      small match {
        case Some(plain) => NetCdf.decode(plain)
        case None =>
      {
        val inflated = Gz.gunzipPrefix(prefix, HeaderPrefixBytes)
        try {
          val isz = Gz.isize(GridFiles.readTail(file, 4))
          require(isz >= inflated.length,
            s"gzip ISIZE $isz inconsistent with the inflated prefix")
          require(isz <= len * Gz.MaxDeflateRatio,
            s"gzip ISIZE $isz exceeds ${Gz.MaxDeflateRatio}x the compressed " +
              s"length $len — multi-member or crafted trailer")
          NetCdf.decodeHeader(inflated, isz)
        } catch { case _: Exception =>
          NetCdf.decode(GridFiles.readBytes(file))
        }
      }
      }
    } else
      GridFiles.planningHeader(file, NetCdf.decodeHeader, NetCdf.decode,
        Some((prefix, len)))
  }
}

final case class NcFormat(path: String, varName: String, keepMissing: Boolean,
    stepsPerSplit: Int) extends GridFormat {
  override def name: String = s"graft_nc($path, $varName)"
  override def schema: StructType = NcGridSource.fullSchema

  /** Bounds on `t` from the pushed filters, for split pruning. */
  private def tBounds(filters: Seq[Filter]): (Int, Int) =
    filters.foldLeft((0, Int.MaxValue)) {
      case ((lo, hi), EqualTo("t", v: Int)) => (math.max(lo, v), math.min(hi, v))
      case ((lo, hi), GreaterThan("t", v: Int)) => (math.max(lo, v + 1), hi)
      case ((lo, hi), GreaterThanOrEqual("t", v: Int)) => (math.max(lo, v), hi)
      case ((lo, hi), LessThan("t", v: Int)) => (lo, math.min(hi, v - 1))
      case ((lo, hi), LessThanOrEqual("t", v: Int)) => (lo, math.min(hi, v))
      case ((lo, hi), In("t", vs)) if vs.nonEmpty && vs.forall(_.isInstanceOf[Int]) =>
        val ts = vs.map(_.asInstanceOf[Int])
        (math.max(lo, ts.min), math.min(hi, ts.max))
      case (bounds, _) => bounds
    }

  /** SPLIT pruning: bounds on `t` and decidable `path` predicates skip
    * whole (file × step-range) splits at planning — a one-date query
    * over a year archive plans one slice, not 365 tasks that each
    * filter everything out. */
  override def planSplits(filters: Seq[Filter]): Array[InputPartition] = {
    val (tLo, tHi) = tBounds(filters)
    val pathPreds = FileGridScan.stringPreds(filters, "path")
    // split = (file × step RANGE): a 121-step cube fans out across
    // ceil(121/stepsPerSplit) tasks, each reading the file ONCE and
    // decoding only its slices — per-step splits would multiply the
    // file read by the step count, and the planner itself reads only
    // a bounded header prefix, never whole cubes (r9 review). Splits
    // outside the pushed t bounds / path predicates never plan.
    NcGridSource.listFiles(path)
      .filter(f => pathPreds.forall(_(f)))
      .flatMap { f =>
        val stepsKnown =
          try Some(NcGridSource.timeSteps(NcGridSource.planningHeader(f), varName))
          catch { case _: Exception => None }
        stepsKnown match {
          case None =>
            // Planning-side read/parse failure: steps are UNKNOWN, so
            // plan one whole-file split that no pushed t bound can
            // prune (tEnd sentinel, clamped by the reader). The task
            // then either fails loudly on a genuinely corrupt file or
            // scans every step of a healthy one — the old steps=1
            // fallback silently dropped later steps on a transient
            // planner failure, and a pushed t bound could prune the
            // lone split away so the deferred error never fired
            // (r9 advice). Pushed filters still apply post-scan
            // (pushedFilters() is empty), so results stay correct.
            Seq(NcPartition(f, 0, Int.MaxValue): InputPartition)
          case Some(steps) =>
            val lo = math.max(0, tLo)
            val hi = math.min(steps - 1, tHi)
            (0 until steps by stepsPerSplit)
              .map(t0 => (t0, math.min(t0 + stepsPerSplit, steps)))
              .filter { case (t0, t1) => t0 <= hi && t1 - 1 >= lo }
              .map { case (t0, t1) =>
                NcPartition(f, math.max(t0, lo), math.min(t1, hi + 1)): InputPartition
              }
        }
      }.toArray
  }

  override def cells(split: InputPartition): GridCells = new GridCells {
    private val p = split.asInstanceOf[NcPartition]
    // the file is read ONCE per task; only this split's time slices
    // decode (random-access slabs), not the whole cube
    private val nc = NetCdf.decode(GridFiles.readBytes(p.file))
    // clamp the unknown-steps sentinel split (planner fallback) to
    // the file's true step count; normal splits are already in range
    private val tEnd = math.min(p.tEnd, NcGridSource.timeSteps(nc, varName))
    private val it = Iterator.range(p.tStart, tEnd)
      .flatMap(t => NetCdf.gridCells(nc, varName, onlyT = Some(t)))
    override val path: UTF8String = UTF8String.fromString(p.file)
    private val varUtf = UTF8String.fromString(varName)
    private var c: NetCdf.GridCell = _

    override def next(): Boolean = it.hasNext && { c = it.next(); true }
    override def value: Double = c.value
    override def column(name: String): CellSetter = name match {
      case "var" => (row, i) => row.update(i, varUtf)
      case "t" => (row, i) => row.setInt(i, c.t)
      case "time" => (row, i) => c.timeMicros match {
        case Some(m) => row.setLong(i, m)
        case None => row.setNullAt(i)
      }
      case "x" => (row, i) => row.setInt(i, c.x)
      case "y" => (row, i) => row.setInt(i, c.y)
      case "lon" => (row, i) => row.setDouble(i, c.lon)
      case "lat" => (row, i) => row.setDouble(i, c.lat)
      case other => unknown(other)
    }
  }
}

final case class NcPartition(file: String, tStart: Int, tEnd: Int)
    extends InputPartition

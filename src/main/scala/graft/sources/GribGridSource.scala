package graft.sources

import java.util
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over GRIB archives (GRIB2 and GRIB1,
  * including the ECMWF large-GRIB1 length convention) — the third
  * grid connector ([[TiffGridSource]], [[NcGridSource]]), completing
  * the reference's acquisition formats as first-class Spark tables:
  *
  * {{{
  *   spark.read.format("graft.sources.GribGridSource")
  *     .option("path", "/data/landing/ecmwf")  // dir, or a *.grib2 glob
  *     .load()  // → (path, msg_index, param_category, param_number,
  *              //    ref_time, x, y, value)
  * }}}
  *
  * Scale shape:
  *   - one InputPartition per (file × MESSAGE): an open-data archive
  *     of one message per variable×level×step fans out per slice;
  *   - the PLANNER never reads payloads: it hops message to message
  *     through POSITIONED reads of the fixed-size indicators (~32
  *     bytes per message — GRIB2 carries its total length at octet 9),
  *     so planning cost is O(messages), not O(bytes);
  *   - each TASK positioned-reads ONLY its own message's byte range
  *     and decodes it with [[GribMeta.values]] — every packing that
  *     engine decodes (GRIB2 5.0/5.2/5.3/5.40/5.41/5.42/5.50 and GRIB1
  *     simple, second-order and spectral packing); anything else fails
  *     the task loudly per the codec-gate discipline;
  *   - SupportsPushDownRequiredColumns: a `value`-only projection
  *     skips per-point coordinate and string boxing; bitmapped-missing
  *     points are dropped (`keepMissing=true` keeps them as NULL).
  */
class GribGridSource extends GridProvider(GribGridSource.fullSchema) {
  override protected def format(options: util.Map[String, String]): GridFormat =
    GribFormat(required(options, "path"), flag(options, "keepMissing"))
}

object GribGridSource {
  val fullSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("msg_index", IntegerType, nullable = false),
    StructField("param_category", IntegerType, nullable = false),
    StructField("param_number", IntegerType, nullable = false),
    StructField("ref_time", StringType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** A bare directory lists plain AND gz-wrapped archives — the
    * historical NCEP/CPC `.grb.gz` distribution shape; gz files plan
    * one whole-file split each (gzip is not seekable). */
  def listFiles(pathOrGlob: String): Seq[String] =
    GridFiles.list(pathOrGlob, "grib2", "grib", "grb",
      "grib2.gz", "grib.gz", "grb.gz")

  /** Message (offset, length) pairs of a GRIB archive by hopping the
    * fixed-size indicators with positioned reads — O(messages) driver
    * work, no payload bytes. GRIB2 carries its total length at octet
    * 9; GRIB1 at octets 5-7, with the ECMWF large-GRIB1 convention
    * (top bit set → ceil(len/120) stored) resolved by ONE bounded
    * positioned read of the ≤124-byte trailer window, searching for
    * the 7777 end anchored by the next message's magic or EOF — the
    * same recovery [[GribMeta.decode]] applies in-memory. Planning
    * stays O(messages), never O(bytes). */
  def messageRanges(file: String): Seq[(Long, Long)] =
    GridFiles.reading(file) { (in, length) =>
      val fileLen = length()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var off = 0L
      val head = new Array[Byte](16)
      while (off + 16 <= fileLen) {
        in.readFully(off, head)
        require(head(0) == 'G' && head(1) == 'R' && head(2) == 'I' && head(3) == 'B',
          s"$file: missing GRIB magic at offset $off")
        val edition = head(7) & 0xff
        val len: Long = edition match {
          case 2 => java.nio.ByteBuffer.wrap(head, 8, 8).getLong
          case 1 =>
            val rawLen = ((head(4) & 0xff) << 16) | ((head(5) & 0xff) << 8) |
              (head(6) & 0xff)
            if ((rawLen & 0x800000) == 0) rawLen.toLong
            else {
              // large GRIB1: the field bounds the true length to
              // (bound-120, bound]; find the 7777 trailer in that
              // window, anchored by the next GRIB magic (or EOF)
              val bound = (rawLen & 0x7fffff).toLong * 120
              val lo = math.max(8L, bound - 119)
              val winStart = off + lo - 4
              val winEnd = math.min(off + bound + 4, fileLen)
              require(winStart >= off + 4 && winStart < winEnd,
                s"$file: large-GRIB1 length window at $off is empty " +
                  s"(bound $bound, file $fileLen)")
              val win = new Array[Byte]((winEnd - winStart).toInt)
              in.readFully(winStart, win)
              def at(pos: Long, s: String): Boolean = {
                val i = (pos - winStart).toInt
                i >= 0 && i + 4 <= win.length &&
                  new String(win, i, 4, "US-ASCII") == s
              }
              val cand = (bound to lo by -1).find { e =>
                val end = off + e
                end <= fileLen && at(end - 4, "7777") &&
                  (end == fileLen || at(end, "GRIB"))
              }
              cand.getOrElse(throw new IllegalArgumentException(
                s"$file: large GRIB1 message at $off has no 7777 " +
                  s"trailer in the extended-length window (bound " +
                  s"$bound) — archive corrupt or an unsupported " +
                  "length convention"))
            }
          case e => throw new IllegalArgumentException(
            s"$file: GRIB edition $e at offset $off unsupported (1 or 2)")
        }
        require(len >= 16 && off + len <= fileLen,
          s"$file: message at $off declares $len bytes past EOF")
        out += ((off, len))
        off += len
      }
      require(off == fileLen,
        s"$file: trailing ${fileLen - off} bytes after the last message")
      out.toSeq
    }

  private[sources] def readRange(file: String, off: Long, len: Long): Array[Byte] =
    GridFiles.reading(file) { (in, _) =>
      val buf = new Array[Byte](len.toInt)
      in.readFully(off, buf)
      buf
    }
}

final case class GribFormat(path: String, keepMissing: Boolean) extends GridFormat {
  override def name: String = s"graft_grib($path)"
  override def schema: StructType = GribGridSource.fullSchema
  override def planSplits(filters: Seq[Filter]): Array[InputPartition] =
    GribGridSource.listFiles(path).flatMap { f =>
      if (f.endsWith(".gz"))
        // gzip is not seekable, so the per-message fan-out is
        // structurally unavailable: ONE whole-file split whose task
        // inflates and walks every message (offset/length sentinels).
        // Large wrapped archives should be gunzipped on landing to
        // regain per-message parallelism — documented scale boundary.
        Seq(GribPartition(f, 0, -1L, -1L): InputPartition)
      else
        GribGridSource.messageRanges(f).zipWithIndex.map { case ((off, len), i) =>
          GribPartition(f, i, off, len): InputPartition
        }
    }.toArray

  override def cells(split: InputPartition): GridCells = new GridCells {
    private val p = split.asInstanceOf[GribPartition]
    // only THIS message's byte range is read for plain archives — a
    // 100-message archive never funnels whole-file bytes through
    // every task. A GZ-WRAPPED archive (offset sentinel < 0)
    // inflates whole and walks ALL its messages in this one task
    // (gzip is not seekable — the planner's documented boundary);
    // the LAZY iterator decodes one message's values at a time, so
    // the task holds the inflated archive plus a single message's
    // doubles — never every message's decoded output at once (r14
    // advice: the eager Seq OOMed on large wrapped archives).
    private val msgs: Iterator[(GribMeta.Message, Array[Double])] =
      if (p.offset >= 0)
        GribMeta.values(GribGridSource.readRange(p.file, p.offset, p.length))
          .iterator
      else GribMeta.valuesIterator(GridFiles.readBytes(p.file))
    override val path: UTF8String = UTF8String.fromString(p.file)
    // per-message fields hoisted out of the per-point loop (the r8
    // review discipline), reloaded as the message cursor advances;
    // the previous message's vals array is DROPPED on advance
    private var i = -1
    private var exhausted = false
    private var msg: GribMeta.Message = _
    private var vals: Array[Double] = Array.emptyDoubleArray
    private var ni = 1
    private var refUtf: UTF8String = _
    private var msgIdx = 0
    private def loadMsg(): Unit =
      if (!msgs.hasNext) exhausted = true
      else {
        val (m, v) = msgs.next()
        msg = m
        vals = v
        ni = if (msg.ni > 0) msg.ni else math.max(vals.length, 1)
        refUtf = UTF8String.fromString(msg.refTime)
        // plain splits carry the archive-walk index from the
        // planner; a gz whole-file split reads it off each message
        msgIdx = if (p.offset >= 0) p.msgIndex else msg.msgIndex
        i = -1
      }
    loadMsg()

    override def next(): Boolean = {
      while (!exhausted) {
        i += 1
        if (i < vals.length) return true
        loadMsg()
      }
      false
    }
    override def value: Double = vals(i)
    override def column(name: String): CellSetter = name match {
      case "msg_index" => (row, c) => row.setInt(c, msgIdx)
      case "param_category" => (row, c) => row.setInt(c, msg.paramCategory)
      case "param_number" => (row, c) => row.setInt(c, msg.paramNumber)
      case "ref_time" => (row, c) => row.update(c, refUtf)
      case "x" => (row, c) => row.setInt(c, i % ni)
      case "y" => (row, c) => row.setInt(c, i / ni)
      case other => unknown(other)
    }
  }
}

final case class GribPartition(file: String, msgIndex: Int, offset: Long,
    length: Long) extends InputPartition

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GRIB codec: message-level METADATA scanner and PIXEL decode — the
  * reference's GRIB ingestion (`ecmwf_opendata/__init__.py` slices a
  * downloaded GRIB by variable/time/level before any pixel work; an
  * archive inventory needs exactly the per-message header fields, not
  * the packed data). Clean-room from the public WMO FM 92 GRIB
  * layouts (edition 1: WMO Manual on Codes; edition 2: GRIB2 section
  * structure):
  *
  *   - walks CONCATENATED messages in one file (the standard archive
  *     layout: one file = many messages, one per variable×level×step);
  *   - GRIB2: indicator section (discipline, edition, total length),
  *     identification section (centre, reference time), grid
  *     definition (template number, data-point count, Ni/Nj for the
  *     lat/lon template 3.0), product definition (template, parameter
  *     category/number);
  *   - GRIB1: 24-bit message length, PDS (centre, parameter,
  *     reference time incl. century octet), optional GDS (Ni/Nj for
  *     the lat/lon representation);
  *   - verifies the "7777" end marker per message and fails loudly on
  *     truncation — an inventory that silently drops tail messages
  *     undercounts an archive.
  *
  * PIXEL DECODE ([[values]]/[[valuesIterator]]) unpacks every packing
  * listed there into grid-ordered values. Scale shape: [[scan]] runs
  * the walk task-side over binaryFile — one task per archive file —
  * and [[GribGridSource]] decodes values inside its scan tasks, so the
  * driver never touches message bytes. */
object GribMeta {

  final case class Message(
      msgIndex: Int, edition: Int, totalLen: Long,
      discipline: Int,        // GRIB2 indicator octet 7; -1 for GRIB1
      centre: Int,
      paramCategory: Int,     // GRIB2 4.0 octet 10; -1 for GRIB1
      paramNumber: Int,       // GRIB2 4.0 octet 11; GRIB1 PDS octet 9
      refTime: String,        // "yyyy-MM-ddTHH:mm"
      gridTemplate: Int,      // GRIB2 §3 template; GRIB1 GDS rep type; -1 unknown
      nPoints: Long,          // GRIB2 §3 octets 7-10; -1 when absent
      ni: Int, nj: Int)       // lat/lon grid dims; -1 when not template 0/3.0

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
  private def u16(b: Array[Byte], o: Int): Int = (u8(b, o) << 8) | u8(b, o + 1)
  private def u24(b: Array[Byte], o: Int): Int =
    (u8(b, o) << 16) | (u8(b, o + 1) << 8) | u8(b, o + 2)
  private def u32(b: Array[Byte], o: Int): Long =
    (u16(b, o).toLong << 16) | u16(b, o + 2).toLong
  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)

  private def ts(year: Int, month: Int, day: Int, hour: Int, minute: Int) =
    f"$year%04d-$month%02d-${day}%02dT$hour%02d:$minute%02d"

  /** GRIB's 16-bit scale factors are SIGN-AND-MAGNITUDE, not two's
    * complement (regulation 92.1.5): top bit = sign. */
  private def s16(v: Int): Int =
    if ((v & 0x8000) != 0) -(v & 0x7fff) else v

  /** Payload-decode handle captured during the section walk: the
    * packing template (GRIB1: the BDS flag nibble), its parameters and
    * the section 6/7 locations. [[values]] turns it into pixels; a
    * message without a data section stays None and refuses by name. */
  private final case class Pack(
      template: Int, nPacked: Long, refValue: Double, binScale: Int,
      decScale: Int, nBits: Int, bitmapIndicator: Int, bitmapOff: Int,
      bitmapEnd: Int, dataOff: Int, dataEnd: Int,
      sec5Off: Int = -1, sec5Len: Int = -1) // complex templates re-read §5

  /** IBM System/360 32-bit float (GRIB1 reference values, regulation
    * 92.6.4): sign · 16^(A−64) · M/2^24 — decoded exactly via a
    * power-of-two pow (4(A−64)−24 is always in double range). */
  private def ibm32(bits: Long): Double = {
    if ((bits & 0x7fffffffL) == 0) return 0.0
    val sign = if (((bits >> 31) & 1) == 1) -1.0 else 1.0
    val a = ((bits >> 24) & 0x7f).toInt
    val m = (bits & 0xffffff).toDouble
    sign * m * math.pow(2.0, 4 * (a - 64) - 24)
  }

  /** IBM 32-bit encode (the [[ibm32]] inverse, for GRIB1 writer
    * reference values): sign · 16^(A−64) · M/2^24 with the mantissa
    * normalized into [2^20, 2^24). Refuses values the 24-bit mantissa
    * cannot hold EXACTLY — a writer must never silently move the
    * reference value (every decoded point would shift with it). */
  private def ibm32bits(v: Double): Long = {
    if (v == 0.0) return 0L
    val sign = if (v < 0) 1L else 0L
    var x = math.abs(v)
    var a = 64
    while (x >= 1.0 && a < 127) { x /= 16.0; a += 1 }
    while (x < 1.0 / 16 && a > 0) { x *= 16.0; a -= 1 }
    val m = x * (1 << 24)
    val mi = math.round(m)
    require(mi.toDouble == m && mi >= (1 << 20) && mi < (1 << 24),
      s"reference value $v is not exactly IBM-32 representable")
    (sign << 31) | (a.toLong << 24) | mi
  }

  /** Transparent unwrap of gzip-wrapped archives (`.grb.gz` — the
    * historical NCEP/CPC distribution shape): magic-sniffed so plain
    * archives pay nothing. Inflation is capped at
    * [[Gz.deflateBound]] — DEFLATE's own worst-case expansion of the
    * compressed length, which can never refuse a legitimate stream
    * yet bounds what a crafted few-KB bomb can force this decoder to
    * allocate to a few MB (the shared [[Gz.gunzipBounded]] two-sided
    * bound [[GeoTiff.decode]] uses; previously only the ~2 GiB
    * byte-array maximum applied here). */
  private def unwrap(bytes: Array[Byte]): Array[Byte] =
    if (Gz.isGz(bytes)) Gz.gunzipBounded(bytes, "GRIB")
    else bytes

  /** All messages in a (possibly multi-message) GRIB byte array.
    * Gzip-wrapped archives unwrap transparently. */
  def decode(bytes: Array[Byte]): Seq[Message] =
    CodecGate.gated("GRIB")(parse(unwrap(bytes)).map(_._1))

  private def parse(bytes: Array[Byte]): Seq[(Message, Option[Pack])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Message, Option[Pack])]
    var off = 0
    var idx = 0
    while (off + 8 <= bytes.length) {
      require(new String(bytes, off, 4, "US-ASCII") == "GRIB",
        s"message $idx at offset $off: missing GRIB magic")
      val edition = u8(bytes, off + 7)
      val msg = edition match {
        case 2 =>
          require(off + 16 <= bytes.length,
            s"message $idx: truncated GRIB2 indicator section " +
              s"(${bytes.length - off} of 16 bytes)")
          val totalLen = u64(bytes, off + 8)
          // the lower bound also rejects a flipped TOP BIT (negative
          // Long would pass the upper-bound require by wrapping) —
          // r14 review
          require(totalLen >= 16 && off + totalLen <= bytes.length,
            s"truncated GRIB2 message $idx: $totalLen bytes declared")
          var centre = -1; var refTime = ""
          var gridTpl = -1; var nPoints = -1L; var ni = -1; var nj = -1
          var pCat = -1; var pNum = -1
          // section 5/6/7 capture for the simple-packing pixel decode
          var drTpl = -1; var nPacked = -1L; var refVal = 0.0
          var binE = 0; var decD = 0; var nBits = -1
          var bmpInd = 255; var bmpOff = -1; var bmpEnd = -1
          var dataOff = -1; var dataEnd = -1
          var sec5Off = -1; var sec5Len = -1
          var so = off + 16 // first section after the 16-byte indicator
          val end = off + totalLen.toInt
          while (so < end - 4) { // the 4-byte "7777" trailer
            val len = u32(bytes, so).toInt
            require(len >= 5 && so + len <= end,
              s"corrupt GRIB2 section at $so (len=$len)")
            u8(bytes, so + 4) match {
              case 1 => // identification: centre octets 6-7, time 13-19
                centre = u16(bytes, so + 5)
                refTime = ts(u16(bytes, so + 12), u8(bytes, so + 14),
                  u8(bytes, so + 15), u8(bytes, so + 16), u8(bytes, so + 17))
              case 3 => // grid definition
                nPoints = u32(bytes, so + 6)
                gridTpl = u16(bytes, so + 12)
                if (gridTpl == 0 && len >= 38) { // lat/lon: Ni 31-34, Nj 35-38
                  ni = u32(bytes, so + 30).toInt
                  nj = u32(bytes, so + 34).toInt
                }
              case 4 => // product definition: param category/number at
                        // octets 10-11 (stable across the 4.x templates)
                if (len >= 11) {
                  pCat = u8(bytes, so + 9)
                  pNum = u8(bytes, so + 10)
                }
              case 5 => // data representation: templates 5.0/5.2/5.3/
                        // 5.40/5.41/5.42/5.50 share octets 12-15 R
                        // (IEEE float), 16-17 E, 18-19 D (sign-and-
                        // magnitude), 20 bits/value
                nPacked = u32(bytes, so + 5)
                drTpl = u16(bytes, so + 9)
                if ((drTpl == 0 || drTpl == 2 || drTpl == 3 ||
                    drTpl == 40 || drTpl == 41 || drTpl == 42 ||
                    drTpl == 50) && len >= 20) {
                  refVal = java.lang.Float
                    .intBitsToFloat(u32(bytes, so + 11).toInt).toDouble
                  binE = s16(u16(bytes, so + 15))
                  decD = s16(u16(bytes, so + 17))
                  nBits = u8(bytes, so + 19)
                }
                sec5Off = so; sec5Len = len
              case 6 => // bitmap: octet 6 indicator (255 = none,
                        // 0 = present from octet 7)
                bmpInd = u8(bytes, so + 5)
                bmpOff = so + 6
                bmpEnd = so + len
              case 7 => // data: packed stream from octet 6
                dataOff = so + 5
                dataEnd = so + len
              case _ => ()
            }
            so += len
          }
          require(new String(bytes, end - 4, 4, "US-ASCII") == "7777",
            s"GRIB2 message $idx: missing 7777 end marker")
          val pack =
            if (dataOff < 0) None
            else Some(Pack(drTpl, nPacked, refVal, binE, decD, nBits,
              bmpInd, bmpOff, bmpEnd, dataOff, dataEnd, sec5Off, sec5Len))
          (Message(idx, 2, totalLen, u8(bytes, off + 6), centre,
            pCat, pNum, refTime, gridTpl, nPoints, ni, nj), pack)
        case 1 =>
          val rawLen = u24(bytes, off + 4)
          // ECMWF "large GRIB1" convention (common in real archives):
          // a message over 2^23-1 bytes sets the TOP BIT of the 24-bit
          // length and stores ceil(trueLen/120) in the low 23 bits —
          // naively reading the field misparses the length and fails
          // the 7777/trailing-bytes requires (r8 advice). The field
          // bounds the true length to (bound-120, bound]; the exact
          // end is recovered by locating the 7777 trailer in that
          // 120-byte window, anchored by the next message's GRIB
          // magic (or EOF) to reject a 7777 that is packed data.
          val totalLen: Long =
            if ((rawLen & 0x800000) == 0) rawLen.toLong
            else {
              val bound = (rawLen & 0x7fffff).toLong * 120
              val lo = math.max(8L, bound - 119)
              val cand = (bound to lo by -1).find { e =>
                val end = off + e
                end <= bytes.length && end >= off + 8 &&
                  new String(bytes, (end - 4).toInt, 4, "US-ASCII") == "7777" &&
                  (end == bytes.length ||
                    (end + 4 <= bytes.length &&
                      new String(bytes, end.toInt, 4, "US-ASCII") == "GRIB"))
              }
              cand.getOrElse(throw new IllegalArgumentException(
                s"large GRIB1 message $idx: no 7777 trailer in the " +
                  s"extended-length window (bound $bound) — archive " +
                  "corrupt or an unsupported length convention"))
            }
          require(off + totalLen <= bytes.length,
            s"truncated GRIB1 message $idx: $totalLen bytes declared")
          val end = off + totalLen.toInt
          // PDS directly after the 8-byte indicator; its declared
          // length must stay inside the message — every later
          // section offset derives from it (r14 fuzz battery: a
          // flipped length octet walked the GDS read off the array)
          val pds = off + 8
          require(pds + 17 <= end - 4,
            s"GRIB1 message $idx: message too short for the PDS")
          val pdsLen = u24(bytes, pds)
          require(pdsLen >= 17 && pds + pdsLen <= end - 4,
            s"GRIB1 message $idx: PDS length $pdsLen overruns the message")
          val centre = u8(bytes, pds + 4)
          val gdsPresent = (u8(bytes, pds + 7) & 0x80) != 0
          val param = u8(bytes, pds + 8)
          val century = if (pdsLen >= 25) u8(bytes, pds + 24) else 21
          val year = (century - 1) * 100 + u8(bytes, pds + 12)
          val refTime = ts(year, u8(bytes, pds + 13), u8(bytes, pds + 14),
            u8(bytes, pds + 15), u8(bytes, pds + 16))
          var gridTpl = -1; var ni = -1; var nj = -1
          var cur = pds + pdsLen
          var nPointsG1 = -1L
          if (gdsPresent) {
            val gds = cur
            require(gds + 10 <= end - 4,
              s"GRIB1 message $idx: GDS overruns the message")
            val gdsLen = u24(bytes, gds)
            require(gdsLen >= 6 && gds + gdsLen <= end - 4,
              s"GRIB1 message $idx: GDS length $gdsLen overruns the message")
            gridTpl = u8(bytes, gds + 5) // data representation type
            if (gridTpl == 0 && gdsLen >= 10) { // lat/lon: Ni 7-8, Nj 9-10
              ni = u16(bytes, gds + 6)
              nj = u16(bytes, gds + 8)
            }
            // spherical harmonics (type 50): J/K/M at octets 7-12,
            // representation type octet 13, mode octet 14 — the
            // coefficient count is derivable only for the triangular
            // (J=K=M) associated-Legendre mode-1 shape; anything else
            // leaves nPoints at -1 and the PIXEL path refuses by name
            // (the inventory walk keeps cataloging — r9 discipline)
            if (gridTpl == 50 && gdsLen >= 14) {
              val j = u16(bytes, gds + 6)
              val k = u16(bytes, gds + 8)
              val mm = u16(bytes, gds + 10)
              val repType = u8(bytes, gds + 12)
              val repMode = u8(bytes, gds + 13)
              if (j == k && k == mm && repType == 1 && repMode == 1)
                nPointsG1 = (j + 1).toLong * (j + 2)
            }
            cur += gdsLen
          }
          // decimal scale factor: PDS octets 27-28 (sign-and-magnitude)
          val decD1 = if (pdsLen >= 28) s16(u16(bytes, pds + 26)) else 0
          // BMS when PDS octet 8 bit 0x40 flags it. A PREDEFINED
          // bitmap (table ref != 0) records its ref as the indicator
          // so values() refuses it — the inventory walk itself must
          // keep cataloging such archives (r9 review: refusals belong
          // on the pixel path, not the shared metadata walk)
          val bmsPresent = (u8(bytes, pds + 7) & 0x40) != 0
          var bmpInd1 = 255; var bmpOff1 = -1; var bmpEnd1 = -1
          if (bmsPresent) {
            val bms = cur
            val bmsLen = u24(bytes, bms)
            require(bms + 6 <= end - 4 && bms + bmsLen <= end - 4,
              s"GRIB1 message $idx: BMS overruns the message")
            bmpInd1 = u16(bytes, bms + 4) // 0 = bitmap follows
            bmpOff1 = bms + 6 // bitmap bits from octet 7
            bmpEnd1 = bms + bmsLen
            cur += bmsLen
          }
          // BDS: flags octet 4 (grid/spherical, simple/complex), E
          // octets 5-6, R octets 7-10 (IBM float), bits octet 11.
          // Lengths bound-checked against the message end — a corrupt
          // 24-bit length must never let the unpack loop read the
          // trailer or the next message as packed data (r9 review;
          // the GRIB2 walk already enforces this per section)
          val bds = cur
          require(bds + 11 <= end - 4,
            s"GRIB1 message $idx: BDS overruns the message")
          val bdsLen = u24(bytes, bds)
          require(bdsLen >= 11 && bds + bdsLen <= end - 4,
            s"GRIB1 message $idx: BDS length $bdsLen overruns the message")
          val flags = u8(bytes, bds + 3)
          // template code: the full BDS flag nibble (bits 4-7) — 0/2
          // (simple, float/integer) and 5/7 (second-order, r13) decode
          // in values(); spherical-harmonic, complex-without-extended-
          // flags and bare-extension payloads surface as their flag
          // bits so values() refuses with the exact reason (r9 advice:
          // the old 2-bit capture let an extension-flagged message
          // decode as plain simple packing — a silent misdecode, since
          // octet 14 can redefine the layout)
          val tpl1 = (flags >> 4) & 0xF
          // sec5Off/Len carry the BDS frame for edition 1 — the
          // second-order path re-reads octets 12-21 from it, exactly
          // as the GRIB2 complex path re-reads section 5
          val pack1 = Pack(tpl1, -1L, ibm32(u32(bytes, bds + 6)),
            s16(u16(bytes, bds + 4)), decD1, u8(bytes, bds + 10),
            bmpInd1, bmpOff1, bmpEnd1,
            bds + 11, bds + bdsLen,
            sec5Off = bds, sec5Len = bdsLen)
          require(new String(bytes, end - 4, 4, "US-ASCII") == "7777",
            s"GRIB1 message $idx: missing 7777 end marker")
          (Message(idx, 1, totalLen, -1, centre, -1, param, refTime,
            gridTpl,
            if (ni > 0 && nj > 0) ni.toLong * nj else nPointsG1, ni, nj),
            Some(pack1))
        case e => throw new IllegalArgumentException(
          s"message $idx: unsupported GRIB edition $e")
      }
      out += msg
      off += msg._1.totalLen.toInt
      idx += 1
    }
    require(off == bytes.length,
      s"trailing ${bytes.length - off} bytes after the last GRIB message")
    out.toSeq
  }

  /** GRIB2 WRITER for the simple-packing common case — one message,
    * lat/lon template 3.0, data representation 5.0, optional bitmap:
    * the publish-side twin of [[values]] (and what [[graft.operators.Ingest]]'s
    * i63 cycle lands through the correctness gate). `xs` are the
    * packed non-missing codes in grid order; `bitmap`, when given,
    * must have ni×nj entries with exactly `xs.length` set. */
  /** Big-endian fixed-width code packer shared by the simple writers
    * (the second-order writer's chunk-safe putBits covers the wide
    * first-order fields; these codes are ≤ 32 bits, so 39 pending
    * bits never overflow the accumulator). */
  private def packCodes(b: java.nio.ByteBuffer, xs: Array[Long],
      nBits: Int): Unit = {
    var acc = 0L; var nb = 0
    xs.foreach { x =>
      acc = (acc << nBits) | x; nb += nBits
      while (nb >= 8) { b.put((acc >> (nb - 8)).toByte); nb -= 8 }
    }
    if (nb > 0) b.put((acc << (8 - nb)).toByte)
  }

  /** Sign-and-magnitude 16-bit field (section-5 scale factors). */
  private def sm16(v: Int): Int = {
    // a magnitude into bit 15 would collide with the sign and encode
    // a DIFFERENT scale factor — refuse across every writer (r13)
    require(math.abs(v) <= 0x7FFF,
      s"scale factor $v exceeds the sign-and-magnitude 16-bit field")
    if (v < 0) 0x8000 | -v else v
  }

  /** Grid/bitmap shape checks shared by every GRIB2 writer. */
  private def validateGrid(ni: Int, nj: Int, xs: Array[Long],
      bitmap: Option[Array[Boolean]]): Unit = {
    // writer-side mirror of values()' 2^27-point cap (r14 review:
    // never publish a message the decoder then refuses)
    require(ni >= 1 && nj >= 1 && ni.toLong * nj <= (1L << 27),
      s"grid ${ni}x$nj is empty or past the 2^27-point cap the " +
        "decoder enforces")
    bitmap.foreach { m =>
      require(m.length == ni * nj, s"bitmap ${m.length} for ${ni * nj} points")
      require(m.count(identity) == xs.length,
        s"${xs.length} codes for ${m.count(identity)} present points")
    }
    require(bitmap.isDefined || xs.length == ni * nj,
      s"${xs.length} codes for ${ni * nj} points without a bitmap")
  }

  /** The GRIB2 message frame shared by every writer: indicator,
    * section 1 (identification), 3 (lat/lon grid template 3.0),
    * 4 (product), the given section-5 body, 6 (packed bitmap or
    * none), 7 (the given payload body), 7777 trailer, total length
    * backpatched into the indicator. The section bodies write
    * everything AFTER the 5-octet section header; short bodies are
    * zero-padded to the declared length. */
  private def buildMessage(ni: Int, nj: Int, paramCategory: Int,
      paramNumber: Int, centre: Int, discipline: Int,
      refTime: (Int, Int, Int, Int, Int), bitmap: Option[Array[Boolean]],
      sec5Len: Int, sec5Body: java.nio.ByteBuffer => Unit,
      sec7Len: Int, sec7Body: java.nio.ByteBuffer => Unit): Array[Byte] =
    buildFrame(paramCategory, paramNumber, centre, discipline, refTime,
      bitmap,
      72, { s => // grid template 3.0 (lat/lon), geometry octets zeroed
        s.put(0.toByte); s.putInt(ni * nj); s.put(0.toByte).put(0.toByte)
        s.putShort(0)
        (15 to 30).foreach(_ => s.put(0.toByte))
        s.putInt(ni).putInt(nj)
      },
      sec5Len, sec5Body, sec7Len, sec7Body)

  private def buildFrame(paramCategory: Int,
      paramNumber: Int, centre: Int, discipline: Int,
      refTime: (Int, Int, Int, Int, Int), bitmap: Option[Array[Boolean]],
      sec3Len: Int, sec3Body: java.nio.ByteBuffer => Unit,
      sec5Len: Int, sec5Body: java.nio.ByteBuffer => Unit,
      sec7Len: Int, sec7Body: java.nio.ByteBuffer => Unit): Array[Byte] = {
    val bmpBytes = bitmap.map(m => (m.length + 7) / 8).getOrElse(0)
    val b = java.nio.ByteBuffer.allocate(
      16 + 21 + sec3Len + 34 + sec5Len + 6 + bmpBytes + sec7Len + 4)
    def sec(len: Int, n: Int)(body: java.nio.ByteBuffer => Unit): Unit = {
      val start = b.position()
      b.putInt(len).put(n.toByte)
      body(b)
      while (b.position() < start + len) b.put(0.toByte)
    }
    b.put("GRIB".getBytes("US-ASCII"))
    b.putShort(0).put(discipline.toByte).put(2.toByte)
    val lenAt = b.position(); b.putLong(0L)
    sec(21, 1) { s =>
      s.putShort(centre.toShort).putShort(0)
      s.put(2.toByte).put(1.toByte).put(1.toByte)
      s.putShort(refTime._1.toShort).put(refTime._2.toByte).put(refTime._3.toByte)
      s.put(refTime._4.toByte).put(refTime._5.toByte).put(0.toByte)
    }
    sec(sec3Len, 3)(sec3Body)
    sec(34, 4) { s =>
      s.putShort(0); s.putShort(0)
      s.put(paramCategory.toByte).put(paramNumber.toByte)
    }
    sec(sec5Len, 5)(sec5Body)
    bitmap match {
      case Some(mask) =>
        sec(6 + bmpBytes, 6) { s =>
          s.put(0.toByte)
          var acc = 0; var nb = 0
          mask.zipWithIndex.foreach { case (m, i) =>
            acc = (acc << 1) | (if (m) 1 else 0); nb += 1
            if (nb == 8 || i == mask.length - 1) {
              s.put((acc << (8 - nb)).toByte); acc = 0; nb = 0
            }
          }
        }
      case None => sec(6, 6) { s => s.put(255.toByte) }
    }
    sec(sec7Len, 7)(sec7Body)
    b.put("7777".getBytes("US-ASCII"))
    val total = b.position()
    b.putLong(lenAt, total.toLong)
    java.util.Arrays.copyOf(b.array(), total)
  }

  def encodeSimple(ni: Int, nj: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int, nBits: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    require(nBits >= 0 && nBits <= 32, s"bad nBits $nBits")
    // Scala's Long shift uses 6 shift bits, so 1L << 32 is the true
    // 2^32 — no escape hatch needed (an escape would let 2^32
    // silently truncate to 0 in the packed stream, r9 review)
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    validateGrid(ni, nj, xs, bitmap)
    val dataBytes = (xs.length * nBits + 7) / 8
    buildMessage(ni, nj, paramCategory, paramNumber, centre, discipline,
      refTime, bitmap,
      21, { s =>
        s.putInt(xs.length)
        s.putShort(0) // template 5.0
        s.putInt(java.lang.Float.floatToIntBits(refValue))
        s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
        s.put(nBits.toByte)
      },
      5 + dataBytes, packCodes(_, xs, nBits))
  }

  /** Shared spectral writer validation (both editions, r14 review):
    * non-negative truncation, code range, Long pentagonal count under
    * the decoder's 2^27 cap, (J+1)(J+2)−1 packed codes. Returns the
    * total coefficient count. */
  private def validateSpectral(truncation: Int, nBits: Int,
      xs: Array[Long]): Long = {
    require(truncation >= 0, s"bad truncation $truncation")
    require(nBits >= 0 && nBits <= 32, s"bad nBits $nBits")
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    // Long arithmetic: an Int (t+1)*(t+2) wraps for t >= 46341 and
    // would admit a mismatched code count (r14 late-wave review)
    val total = (truncation + 1).toLong * (truncation + 2)
    require(total <= (1L << 27),
      s"T$truncation carries $total coefficients — past the 2^27 cap " +
        "the decoder enforces")
    require(xs.length.toLong == total - 1,
      s"${xs.length} packed codes for a T$truncation field — triangular " +
        s"truncation carries (J+1)(J+2) = $total real coefficients, the " +
        "(0,0) real part riding unpacked")
    total
  }

  /** GRIB2 WRITER for SPECTRAL SIMPLE packing (data representation
    * template 5.50 over the spherical-harmonic grid template 3.50) —
    * the ECMWF model-level ARCHIVE packing (the reference's ECMWF
    * path, `ecmwf_opendata/client.py`, serves regular grids only, but
    * a MARS archive retrieval carries spectral fields) and the
    * adversarial fixture source for [[values]]' 5.50 decode. A
    * triangular truncation J = K = M = `truncation` carries
    * (J+1)(J+2) real coefficient values; the REAL PART OF (0,0) is
    * not packed — it lands in §5 octets 21-24 as a raw IEEE float
    * (template 5.50's one extra field) — and `xs` are the scaled
    * codes of the remaining (J+1)(J+2)−1 coefficients in
    * transmission order, simple-packed into §7. No bitmap: spectral
    * coefficients have no missing points. */
  def encodeSpectral(truncation: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int, nBits: Int,
      real00: Float, xs: Array[Long],
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    val total = validateSpectral(truncation, nBits, xs)
    val dataBytes = ((xs.length.toLong * nBits + 7) / 8).toInt
    buildFrame(paramCategory, paramNumber, centre, discipline, refTime,
      None,
      28, { s => // grid template 3.50: spherical harmonic coefficients
        s.put(0.toByte); s.putInt(total.toInt); s.put(0.toByte).put(0.toByte)
        s.putShort(50)
        s.putInt(truncation).putInt(truncation).putInt(truncation) // J K M
        s.put(1.toByte) // octet 27: associated Legendre polynomials
        s.put(1.toByte) // octet 28: representation mode 1
      },
      24, { s =>
        s.putInt(total.toInt)
        s.putShort(50) // template 5.50
        s.putInt(java.lang.Float.floatToIntBits(refValue))
        s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
        s.put(nBits.toByte)
        s.putInt(java.lang.Float.floatToIntBits(real00)) // octets 21-24
      },
      5 + dataBytes, packCodes(_, xs, nBits))
  }

  /** GRIB2 WRITER for COMPLEX packing (data representation template
    * 5.2, or 5.3 with first/second-order spatial differencing when
    * `spatialOrder` is 1 or 2) — the ECMWF-archive common case beyond
    * open-data, and the adversarial fixture source for [[values]]'
    * complex decode path. Grouping strategy: fixed `groupLen`-point
    * groups (last group ragged), per-group minimum as the reference,
    * per-group width = bits of (max − min), widths stored raw in 8-bit
    * fields, group lengths implied by `lengthRef = groupLen` with a
    * 0-bit scaled-length array (the spec's degenerate-but-legal layout
    * for uniform groups) and the true last-group length in §5 octets
    * 43-46. For 5.3 the codes are differenced first (initial values +
    * overall minimum land in the §7 extra descriptors, 4-byte
    * sign-and-magnitude). `xs`/`bitmap` contract matches
    * [[encodeSimple]]. */
  def encodeComplex(ni: Int, nj: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0),
      groupLen: Int = 32, spatialOrder: Int = 0): Array[Byte] = {
    require(spatialOrder >= 0 && spatialOrder <= 2,
      s"spatial differencing order $spatialOrder (0 = plain 5.2, 1-2 = 5.3)")
    require(groupLen >= 1, s"bad groupLen $groupLen")
    require(xs.forall(_ >= 0), "packed codes must be non-negative")
    validateGrid(ni, nj, xs, bitmap)
    val tpl = if (spatialOrder == 0) 2 else 3
    require(tpl == 2 || xs.length > spatialOrder,
      s"spatial differencing order $spatialOrder needs more than " +
        s"$spatialOrder values")

    // 5.3: difference, bias by the overall minimum
    val (codes, extras) =
      if (tpl == 2) (xs, Array.empty[Long])
      else {
        val d = new Array[Long](xs.length)
        var i = spatialOrder
        while (i < xs.length) {
          d(i) =
            if (spatialOrder == 1) xs(i) - xs(i - 1)
            else xs(i) - 2 * xs(i - 1) + xs(i - 2)
          i += 1
        }
        val gmin = if (xs.length > spatialOrder)
          d.drop(spatialOrder).min else 0L
        val biased = new Array[Long](xs.length)
        i = spatialOrder
        while (i < xs.length) { biased(i) = d(i) - gmin; i += 1 }
        (biased, (xs.take(spatialOrder) :+ gmin).toArray)
      }
    require(extras.forall(e => math.abs(e) < (1L << 31)),
      "spatial-differencing descriptors exceed the 4-byte field")

    def bitsFor(v: Long): Int = if (v <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)
    val ng = math.max(1, (codes.length + groupLen - 1) / groupLen)
    val groups = (0 until ng).map { g =>
      val from = g * groupLen
      val until = math.min(from + groupLen, codes.length)
      val slice = if (until > from) codes.slice(from, until) else Array(0L)
      val ref = slice.min
      val width = bitsFor(slice.map(_ - ref).max)
      (ref, width, until - math.min(from, until))
    }
    val nBitsRefs = math.max(groups.map(g => bitsFor(g._1)).max, 0)
    require(groups.forall(_._2 <= 255), "group width exceeds 8-bit field")

    val extraOctets = 4
    val refsBytes = (ng * nBitsRefs + 7) / 8
    val widthBytes = ng // 8 bits each
    // the wire carries NG scaled lengths (the last is a placeholder the
    // reader overrides with section 5's true-last-length) — write them
    // for real, like external encoders, so round-trips cover that path
    val bitsLens = math.max(1, bitsFor(groups.map(_._3.toLong).max))
    val lenBytes = (ng * bitsLens + 7) / 8
    val valueBits = groups.map(g => g._2.toLong * g._3).sum
    val valueBytes = ((valueBits + 7) / 8).toInt
    val sec5Len = if (tpl == 3) 49 else 47
    val sec7Len = 5 + extras.length * extraOctets + refsBytes +
      widthBytes + lenBytes + valueBytes
    buildMessage(ni, nj, paramCategory, paramNumber, centre, discipline,
      refTime, bitmap,
      sec5Len, { s =>
      s.putInt(xs.length)
      s.putShort(tpl.toShort)
      s.putInt(java.lang.Float.floatToIntBits(refValue))
      s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
      s.put(nBitsRefs.toByte)
      s.put(0.toByte)           // octet 21: original field type (float)
      s.put(1.toByte)           // octet 22: general group splitting
      s.put(0.toByte)           // octet 23: no missing-value management
      s.putInt(0); s.putInt(0)  // octets 24-31: missing substitutes
      s.putInt(ng)              // octets 32-35: number of groups
      s.put(0.toByte)           // octet 36: group-width reference
      s.put(8.toByte)           // octet 37: bits per group width
      s.putInt(0)               // octets 38-41: group-length reference
      s.put(1.toByte)           // octet 42: length increment
      s.putInt(groups.last._3)  // octets 43-46: true last-group length
      s.put(bitsLens.toByte)    // octet 47: bits per scaled length
      if (tpl == 3) {
        s.put(spatialOrder.toByte)     // octet 48
        s.put(extraOctets.toByte)      // octet 49
      }
    },
      sec7Len, { s =>
      extras.foreach { e =>
        val mag = math.abs(e)
        val v = if (e < 0) mag | (1L << (extraOctets * 8 - 1)) else mag
        (extraOctets - 1 to 0 by -1).foreach(sh =>
          s.put(((v >> (sh * 8)) & 0xff).toByte))
      }
      var acc = 0L; var nb = 0
      // chunked accumulate — a single-shift putBits silently drops
      // pending bits for widths >= 57 (review r13, as in the GRIB1
      // second-order writer)
      def putBits(x: Long, n: Int): Unit = {
        require(n <= 64, s"putBits width $n")
        var rem = n
        while (rem > 0) {
          val take = math.min(rem, 56 - nb)
          acc = (acc << take) |
            ((x >>> (rem - take)) & ((1L << take) - 1))
          nb += take; rem -= take
          while (nb >= 8) { s.put((acc >> (nb - 8)).toByte); nb -= 8 }
        }
      }
      def pad(): Unit =
        if (nb > 0) { s.put((acc << (8 - nb)).toByte); acc = 0; nb = 0 }
      groups.foreach(g => putBits(g._1, nBitsRefs)); pad()
      groups.foreach(g => putBits(g._2.toLong, 8)); pad()
      groups.foreach(g => putBits(g._3.toLong, bitsLens)); pad()
      var k = 0
      groups.foreach { case (ref, width, len) =>
        (0 until len).foreach { _ => putBits(codes(k) - ref, width); k += 1 }
      }
      pad()
    })
  }

  /** The GRIB EDITION-1 message frame shared by the edition-1 writers:
    * indicator (24-bit total length, edition 1), PDS (28 octets —
    * centre, parameter, reference time with the century octet, decimal
    * scale in octets 27-28), lat/lon GDS (rep type 0, Ni×Nj), optional
    * BMS, the given BDS bytes, 7777 trailer. */
  private def buildG1Message(ni: Int, nj: Int, paramNumber: Int,
      centre: Int, refTime: (Int, Int, Int, Int, Int), decScale: Int,
      bitmap: Option[Array[Boolean]], bds: Array[Byte],
      // Some(J): spherical-harmonic GDS (type 50, triangular J=K=M,
      // mode 1) instead of lat/lon; ni/nj are ignored
      spectralJ: Option[Int] = None): Array[Byte] = {
    // the frame's field widths are hard limits — silently truncated
    // Ni/Nj would round-trip to a SMALLER grid with no error (r13)
    require(spectralJ.isDefined ||
      (ni >= 1 && ni <= 0xFFFF && nj >= 1 && nj <= 0xFFFF),
      s"GRIB1 grid ${ni}x$nj exceeds the GDS 16-bit Ni/Nj fields")
    spectralJ.foreach(j => require(j >= 0 && j <= 0xFFFF,
      s"GRIB1 truncation $j exceeds the GDS 16-bit J/K/M fields"))
    require(centre >= 0 && centre <= 255 &&
      paramNumber >= 0 && paramNumber <= 255,
      s"GRIB1 centre=$centre/param=$paramNumber exceed their octets")
    val bmsBytes = bitmap.map(m => 6 + (m.length + 7) / 8).getOrElse(0)
    val total = 8 + 28 + 32 + bmsBytes + bds.length + 4
    require(total < (1 << 24), s"GRIB1 message length $total exceeds the " +
      "24-bit indicator (use the large-message convention writer-side " +
      "or split the field)")
    val b = java.nio.ByteBuffer.allocate(total)
    def u24put(v: Int): Unit =
      b.put((v >> 16).toByte).put((v >> 8).toByte).put(v.toByte)
    b.put("GRIB".getBytes("US-ASCII")); u24put(total); b.put(1.toByte)
    // PDS: table 128, level type 1, time unit 1 (hour)
    val (yy, mm, dd, hh, mi) = refTime
    val century = (yy - 1) / 100 + 1
    u24put(28)
    b.put(128.toByte).put(centre.toByte).put(1.toByte).put(255.toByte)
    b.put((0x80 | bitmap.map(_ => 0x40).getOrElse(0)).toByte)
    b.put(paramNumber.toByte)
    b.put(1.toByte).putShort(0)
    b.put((yy - (century - 1) * 100).toByte).put(mm.toByte).put(dd.toByte)
    b.put(hh.toByte).put(mi.toByte)
    b.put(1.toByte)                     // octet 18: time unit
    (19 to 24).foreach(_ => b.put(0.toByte))
    b.put(century.toByte)               // octet 25
    b.put(0.toByte)                     // octet 26: subcentre
    b.putShort(sm16(decScale).toShort)  // octets 27-28
    // GDS: lat/lon Ni/Nj (geometry octets zeroed — the reader keys on
    // rep type + Ni/Nj, as the inventory does), or spherical-harmonic
    // J/K/M + representation type 1 / mode 1 (r14)
    u24put(32)
    spectralJ match {
      case Some(j) =>
        b.put(0.toByte).put(255.toByte).put(50.toByte)
        b.putShort(j.toShort).putShort(j.toShort).putShort(j.toShort)
        b.put(1.toByte).put(1.toByte) // octets 13-14: type, mode
        (15 to 32).foreach(_ => b.put(0.toByte))
      case None =>
        b.put(0.toByte).put(255.toByte).put(0.toByte)
        b.putShort(ni.toShort).putShort(nj.toShort)
        (11 to 32).foreach(_ => b.put(0.toByte))
    }
    bitmap.foreach { mask =>
      u24put(bmsBytes)
      b.put(((8 - mask.length % 8) % 8).toByte)
      b.putShort(0) // table ref 0: bitmap follows
      var acc = 0; var nb = 0
      mask.zipWithIndex.foreach { case (m, i) =>
        acc = (acc << 1) | (if (m) 1 else 0); nb += 1
        if (nb == 8 || i == mask.length - 1) {
          b.put((acc << (8 - nb)).toByte); acc = 0; nb = 0
        }
      }
    }
    b.put(bds)
    b.put("7777".getBytes("US-ASCII"))
    b.array()
  }

  /** Shared GRIB1 simple-packed BDS framing (regulation 92.6.1:
    * even-length pad, unused-bit count in octet 4's low nibble):
    * flags nibble, sign-and-magnitude E, exact-only IBM-32 reference,
    * octet-11 width, `extraLen` header bytes via `extra` (the
    * spectral (0,0) coefficient), big-endian packed codes — ONE copy
    * of the frame math r13 hardened (r14 late-wave review). */
  private def g1SimpleBds(flagsNibble: Int, binScale: Int,
      refValue: Double, nBits: Int, extraLen: Int,
      extra: java.nio.ByteBuffer => Unit,
      xs: Array[Long]): Array[Byte] = {
    val dataBits = xs.length.toLong * nBits
    val rawLen = 11 + extraLen + ((dataBits + 7) / 8).toInt
    val bdsLen = rawLen + (rawLen & 1)
    val unusedBits = ((8 - (dataBits % 8).toInt) % 8) + 8 * (bdsLen - rawLen)
    val b = java.nio.ByteBuffer.allocate(bdsLen)
    b.put((bdsLen >> 16).toByte).put((bdsLen >> 8).toByte).put(bdsLen.toByte)
    b.put(((flagsNibble << 4) | unusedBits).toByte)
    b.putShort(sm16(binScale).toShort)
    b.putInt(ibm32bits(refValue).toInt)
    b.put(nBits.toByte)
    extra(b)
    packCodes(b, xs, nBits)
    b.array()
  }

  /** GRIB1 WRITER for SIMPLE packing — the edition-1 twin of
    * [[encodeSimple]] over the shared [[buildG1Message]] frame: BDS
    * flags nibble 0 (grid-point, simple, float, no extension) with
    * the unused-bit count in the low nibble, sign-and-magnitude E,
    * exact-only IBM-32 reference, octet-11 width, big-endian packed
    * codes, even-length pad (regulation 92.6.1). `xs`/`bitmap`
    * contract matches [[encodeSimple]]. */
  def encodeG1Simple(ni: Int, nj: Int, paramNumber: Int,
      refValue: Double, binScale: Int, decScale: Int, nBits: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    require(nBits >= 0 && nBits <= 32, s"bad nBits $nBits")
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    validateGrid(ni, nj, xs, bitmap)
    buildG1Message(ni, nj, paramNumber, centre, refTime, decScale, bitmap,
      g1SimpleBds(0, binScale, refValue, nBits, 0, _ => (), xs))
  }

  /** GRIB1 WRITER for SPHERICAL-HARMONIC SIMPLE packing — the
    * edition-1 twin of [[encodeSpectral]] and the adversarial fixture
    * source for [[values]]' GRIB1 spectral path: BDS flags nibble 8
    * (spherical harmonics, simple, float), the (0,0) real part as an
    * exact-only IBM-32 float in octets 12-15, the remaining
    * (J+1)(J+2)−1 coefficient codes simple-packed from octet 16, over
    * a type-50 triangular mode-1 GDS. Decimal scale is pinned to 0
    * (the decoder refuses anything else — see [[values]]). */
  def encodeG1Spectral(truncation: Int, paramNumber: Int,
      refValue: Double, binScale: Int, nBits: Int,
      real00: Double, xs: Array[Long],
      centre: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    validateSpectral(truncation, nBits, xs)
    buildG1Message(-1, -1, paramNumber, centre, refTime, decScale = 0,
      bitmap = None,
      g1SimpleBds(8, binScale, refValue, nBits, 4,
        _.putInt(ibm32bits(real00).toInt), xs), // octets 12-15: (0,0)
      spectralJ = Some(truncation))
  }

  /** GRIB1 WRITER for SECOND-ORDER packing — the edition-1 twin of
    * [[encodeComplex]] and the adversarial fixture source for the
    * [[values]] GRIB1 second-order path (see [[unpackG1SecondOrder]]
    * for the octet layout). Grouping strategy mirrors the GRIB2
    * complex writer: fixed `groupLen`-point groups over the packed
    * points (last group ragged), per-group minimum as the first-order
    * value, per-group residual width in one octet each (the
    * different-widths flag), group starts marked in a SECONDARY
    * BITMAP — the WMO shape, not the GRIBEX general-extended one. The
    * BDS is padded to even length with the unused-bit count in octet
    * 4's low nibble, regulation 92.6.1. `xs`/`bitmap` contract matches
    * [[encodeSimple]]; `refValue` must be exactly IBM-32
    * representable. */
  def encodeG1SecondOrder(ni: Int, nj: Int, paramNumber: Int,
      refValue: Double, binScale: Int, decScale: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0),
      groupLen: Int = 16): Array[Byte] = {
    require(groupLen >= 1, s"bad groupLen $groupLen")
    require(xs.forall(_ >= 0), "packed codes must be non-negative")
    validateGrid(ni, nj, xs, bitmap)
    def bitsFor(v: Long): Int =
      if (v <= 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)
    // an all-missing field writes P1 = 0 — the decoder's degenerate
    // path; a phantom group would leave the secondary bitmap with
    // fewer set bits than P1 and refuse on read-back
    val ng = (xs.length + groupLen - 1) / groupLen
    val groups = (0 until ng).map { g =>
      val from = g * groupLen
      val until = math.min(from + groupLen, xs.length)
      val slice = xs.slice(from, until)
      val ref = slice.min
      (ref, bitsFor(slice.map(_ - ref).max), until - from)
    }
    val width1 = (0 +: groups.map(g => bitsFor(g._1))).max
    require(width1 <= 255 && groups.forall(_._2 <= 255),
      "group width exceeds the 8-bit field")
    require(ng <= 0xFFFF && xs.length <= 0xFFFF,
      s"P1=$ng / P2=${xs.length} exceed the 16-bit second-order fields")
    val sbBytes = (xs.length + 7) / 8
    val foBytes = (ng * width1 + 7) / 8
    val soBits = groups.map(g => g._2.toLong * g._3).sum
    val soBytes = ((soBits + 7) / 8).toInt
    val n1 = 22 + ng + sbBytes           // 1-based BDS octet numbers
    val n2 = n1 + foBytes
    require(n2 <= 0xFFFF,
      s"second-order frame N1=$n1/N2=$n2 exceeds the 16-bit BDS octet " +
        "pointers — split the field or raise groupLen")
    val rawLen = 21 + ng + sbBytes + foBytes + soBytes
    val bdsLen = rawLen + (rawLen & 1)   // regulation 92.6.1: even length
    val unusedBits = (8 - (soBits % 8).toInt) % 8 + 8 * (bdsLen - rawLen)
    val b = java.nio.ByteBuffer.allocate(bdsLen)
    b.put((bdsLen >> 16).toByte).put((bdsLen >> 8).toByte).put(bdsLen.toByte)
    b.put((0x50 | unusedBits).toByte)    // complex + octet-14; unused low
    b.putShort(sm16(binScale).toShort)
    b.putInt(ibm32bits(refValue).toInt)
    b.put(width1.toByte)                 // octet 11: first-order width
    b.putShort(n1.toShort)               // octets 12-13
    b.put(0x30.toByte)                   // octet 14: 2ndary bitmap + widths
    b.putShort(n2.toShort)               // octets 15-16
    b.putShort(ng.toShort)               // octets 17-18: P1
    b.putShort(xs.length.toShort)        // octets 19-20: P2
    b.put(0.toByte)                      // octet 21: reserved
    groups.foreach(g => b.put(g._2.toByte))
    // secondary bitmap: a set bit starts each group
    var acc = 0L; var nb = 0
    // chunked accumulate: a single (acc << n) with ~7 bits pending
    // would shift them off the top of the Long for n >= 57 —
    // silently corrupting the stream, the one failure class a
    // gate-fixture writer must never produce (review r13)
    def putBits(x: Long, n: Int): Unit = {
      require(n <= 64, s"putBits width $n")
      var rem = n
      while (rem > 0) {
        val take = math.min(rem, 56 - nb)
        acc = (acc << take) |
          ((x >>> (rem - take)) & ((1L << take) - 1))
        nb += take; rem -= take
        while (nb >= 8) { b.put((acc >> (nb - 8)).toByte); nb -= 8 }
      }
    }
    def pad(): Unit =
      if (nb > 0) { b.put((acc << (8 - nb)).toByte); acc = 0; nb = 0 }
    (0 until xs.length).foreach(i => putBits(if (i % groupLen == 0) 1 else 0, 1))
    pad()
    groups.foreach(g => putBits(g._1, width1)); pad()
    var k = 0
    groups.foreach { case (ref, width, len) =>
      (0 until len).foreach { _ => putBits(xs(k) - ref, width); k += 1 }
    }
    pad()
    buildG1Message(ni, nj, paramNumber, centre, refTime, decScale, bitmap,
      b.array())
  }

  /** PIXEL decode for BOTH editions, one lazy step per message: the
    * section walk runs once up front, then each `next()` decodes ONE
    * message's value array — so a whole-archive task (the gz-wrapped
    * split shape, where gzip's non-seekability forces one task to walk
    * every message) holds the inflated archive plus a single message's
    * doubles, never every message's decoded output at once (r14
    * advice: an eager Seq made a large wrapped archive OOM a task
    * rather than degrade). Decodes GRIB2 simple 5.0, complex 5.2/5.3,
    * lossless JPEG2000 5.40, PNG 5.41, CCSDS/AEC 5.42 and spectral
    * simple 5.50; GRIB1 grid-point simple (IBM 32-bit reference value,
    * regulation 92.6.4, PDS decimal scale, BMS bitmap), second-order
    * and spherical-harmonic simple packing. Each value is
    * Y = (R + X·2^E) / 10^D (regulation 92.9.4) after the packing's
    * unpack; bitmapped grids surface missing points as NaN. Anything
    * else (5.51, GRIBEX sub-truncated spectral complex, octet-14
    * extensions) refuses by name — the codec-gate discipline; this
    * decoder never guesses at bytes it does not understand. Values
    * are grid-ordered as transmitted (row-major for lat/lon grids).
    * Refusals keep the [[CodecGate]] naming, surfaced per message as
    * the iterator advances. */
  def valuesIterator(rawBytes: Array[Byte]): Iterator[(Message, Array[Double])] = {
    val (bytes, metas) = CodecGate.gated("GRIB") {
      val b = unwrap(rawBytes)
      (b, parse(b))
    }
    metas.iterator.map { case (m, p) =>
      CodecGate.gated("GRIB")((m, decodeMessage(bytes, m, p)))
    }
  }

  /** Every message's values at once — [[valuesIterator]] drained, for
    * single-message splits and driver-side callers. */
  def values(rawBytes: Array[Byte]): Seq[(Message, Array[Double])] =
    valuesIterator(rawBytes).toVector

  /** Decode ONE parsed message's payload into grid-ordered values —
    * the kernel behind [[valuesIterator]];
    * `bytes` is the UNWRAPPED archive the message's Pack offsets
    * index into. */
  private def decodeMessage(bytes: Array[Byte], m: Message,
      packOpt: Option[Pack]): Array[Double] = {
      val p = packOpt.getOrElse(throw new IllegalArgumentException(
        s"message ${m.msgIndex}: no data section"))
      if (m.edition == 2) {
        // 5.51 refuses by ITS OWN name: the Laplacian sub-truncation
        // split (Ts, packed vs unpacked coefficient partition) is an
        // ECMWF library convention with no ground-truth encoder in
        // this environment — the same documented boundary as GRIBEX
        // SPD; 5.50 (simple spectral) decodes (r14)
        require(p.template != 51,
          s"message ${m.msgIndex}: data representation template 5.51 " +
            "(complex spectral packing with Laplacian sub-truncation) " +
            "unsupported — the sub-truncation coefficient split is an " +
            "ECMWF convention; re-encode as 5.50 (spectral simple), " +
            "which decodes")
        require(p.template == 0 || p.template == 2 || p.template == 3 ||
          p.template == 40 || p.template == 41 || p.template == 42 ||
          p.template == 50,
          s"message ${m.msgIndex}: data " +
          s"representation template 5.${p.template} unsupported — only " +
          "5.0 (simple), 5.2 (complex), 5.3 (complex + spatial " +
          "differencing), 5.40 (lossless JPEG2000), 5.41 (PNG), " +
          "5.42 (CCSDS/AEC) and 5.50 (spectral simple) decode")
        // grid/packing consistency, mirroring the GRIB1 gate (r14
        // review): spectral coefficients fanned as lat/lon pixels —
        // or pixels decoded from a spherical-harmonic grid — would be
        // silently misshaped rows, not an error
        // the spherical-harmonic grid FAMILY is 3.50-3.53 (plain,
        // rotated, stretched, both — same coefficient transmission)
        val spectralGrid = m.gridTemplate >= 50 && m.gridTemplate <= 53
        if (p.template == 50)
          require(spectralGrid,
            s"message ${m.msgIndex}: spectral packing (5.50) over " +
              s"grid template 3.${m.gridTemplate} is contradictory — " +
              "spherical-harmonic coefficients need grid template " +
              "3.50-3.53")
        else
          require(!spectralGrid,
            s"message ${m.msgIndex}: grid-point packing " +
              s"(5.${p.template}) over the spherical-harmonic grid " +
              s"template 3.${m.gridTemplate} is contradictory")
      }
      else {
        // GRIB1 BDS flag nibble (template here = flags bits 4-7):
        // 8 = spherical harmonics, 4 = complex packing, 2 = integer
        // values, 1 = additional flags at octet 14. Nibbles 0/2
        // (simple), 5/7 (complex + extended flags — the WMO
        // SECOND-ORDER shape, r13) and 8/10 (spherical-harmonic
        // SIMPLE, r14) decode; the INTEGER bit (2) is informational —
        // regulation 92.6.3's unpacking formula is unchanged, the
        // flag only records that the original field held integers
        // (r13). Everything else refuses with the exact flag (an
        // octet-14 extension can redefine the payload layout, and the
        // GRIBEX sub-truncated spectral complex packing is a library
        // convention — guessing would be silently wrong)
        require(Set(0, 2, 5, 7, 8, 10)(p.template),
          s"message ${m.msgIndex}: GRIB1 " +
          s"${if ((p.template & 8) != 0 && (p.template & 4) != 0)
               "spherical-harmonic complex-packed (GRIBEX sub-truncation convention)"
             else if ((p.template & 8) != 0)
               "spherical-harmonic octet-14-extended"
             else if ((p.template & 4) != 0) "complex-packed-without-extended-flags"
             else "octet-14-extended-flags"} payload unsupported — " +
          "grid-point simple, second-order (complex + octet-14 " +
          "extended flags) and spherical-harmonic simple packing " +
          "decode, float or integer")
        if ((p.template & 8) != 0)
          require(m.gridTemplate == 50 && m.nPoints > 0,
            s"message ${m.msgIndex}: GRIB1 spherical-harmonic decode " +
              "needs a triangular (J=K=M) mode-1 associated-Legendre " +
              "spherical-harmonic GDS (representation type 50) — the " +
              "coefficient count is unknown without one; pentagonal " +
              "truncations and sub-truncated (mode 2) layouts refuse")
        else
          // gridTemplate == 0 keeps GRID-POINT payloads over a
          // SPECTRAL GDS refusing: nPoints is now derivable from a
          // type-50 GDS too, and without this the simple-unpack loop
          // would read a spectral-layout BDS as pixel codes — silent
          // garbage (r14 late-wave review)
          require(m.gridTemplate == 0 && m.nPoints > 0,
            s"message ${m.msgIndex}: GRIB1 grid-point pixel decode " +
              "needs a lat/lon GDS (grid size unknown without one; a " +
              "spherical-harmonic GDS under grid-point flags is " +
              "contradictory)")
      }
      require(p.bitmapIndicator == 255 || p.bitmapIndicator == 0,
        s"message ${m.msgIndex}: bitmap indicator ${p.bitmapIndicator} " +
          "unsupported (255 = none, 0 = inline)")
      // a truncated/corrupt section 5 (template 0 but shorter than the
      // 20-octet template) leaves nBits at its -1 sentinel — refusing
      // here is what keeps the walk from silently decoding the whole
      // grid as the zero reference value (r9 review)
      require(p.nBits >= 0,
        s"message ${m.msgIndex}: corrupt section 5 — template 5.0 " +
          "declared but the template fields are truncated")
      val nTotalL = if (m.nPoints > 0) m.nPoints else p.nPacked
      // ALLOCATION gate: the output array is sized off a DECLARED
      // count, so refuse counts a single message cannot plausibly
      // carry BEFORE allocating — a flipped u32 must never request a
      // multi-GB array (2^27 points is ~20× the largest operational
      // grids; constant fields with nBits=0 legitimately declare
      // points with no backing bytes, so a bytes-proportional bound
      // would false-refuse them) (r14 fuzz battery)
      require(nTotalL >= 0 && nTotalL <= (1L << 27),
        s"message ${m.msgIndex}: declared point count $nTotalL is " +
          "negative or exceeds the 2^27 single-message sanity cap")
      val nTotal = nTotalL.toInt
      if (p.bitmapIndicator == 0)
        require(p.bitmapOff + ((nTotal + 7) >> 3) <= p.bitmapEnd,
          s"message ${m.msgIndex}: bitmap section holds fewer than " +
            s"$nTotal mask bits")
      val present: Int => Boolean =
        if (p.bitmapIndicator == 255) _ => true
        else { i =>
          (bytes(p.bitmapOff + (i >> 3)) & (0x80 >> (i & 7))) != 0
        }
      val scale = math.pow(2.0, p.binScale) * math.pow(10.0, -p.decScale)
      val base = p.refValue * math.pow(10.0, -p.decScale)
      val out = new Array[Double](nTotal)
      if (m.edition == 2 && p.template == 50) {
        // spectral simple packing (5.50/7.50): the REAL PART OF (0,0)
        // is not packed — §5 octets 21-24 carry it as a raw IEEE
        // float, NOT subject to the E/D scaling (the published NCEP
        // g2clib unpack: fld[0] = rdieee(idrstmpl[4])); the remaining
        // nTotal−1 coefficients unpack exactly as simple packing
        require(p.bitmapIndicator == 255,
          s"message ${m.msgIndex}: spectral data cannot carry a " +
            "bitmap — coefficients have no missing points")
        require(p.sec5Len >= 24,
          s"message ${m.msgIndex}: template 5.50 declared but section " +
            s"5 is ${p.sec5Len} octets (< 24)")
        require(nTotal >= 1,
          s"message ${m.msgIndex}: spectral field with zero coefficients")
        out(0) = java.lang.Float
          .intBitsToFloat(u32(bytes, p.sec5Off + 20).toInt).toDouble
        val xs = readPacked(bytes, p.dataOff, p.dataEnd, nTotal - 1,
          p.nBits, m.msgIndex, "spectral coefficient")
        var i = 1
        while (i < nTotal) { out(i) = base + xs(i - 1) * scale; i += 1 }
      } else if (m.edition == 1 && (p.template & 8) != 0) {
        // GRIB1 SPHERICAL-HARMONIC SIMPLE packing (r14, the edition-1
        // twin of 5.50; WMO Manual on Codes, GRIB1 Section 4): the
        // real part of the (0,0) coefficient rides BDS octets 12-15
        // as an IBM-32 float "coded in the same manner as the
        // reference value"; the remaining coefficients simple-pack
        // from octet 16. A NONZERO decimal scale refuses by name:
        // whether D divides the IBM-coded (0,0) value is a library
        // convention with no ground-truth encoder in this
        // environment — ECMWF-era spectral archives carry D = 0.
        require(p.bitmapIndicator == 255,
          s"message ${m.msgIndex}: spectral data cannot carry a " +
            "bitmap — coefficients have no missing points")
        require(p.decScale == 0,
          s"message ${m.msgIndex}: GRIB1 spherical-harmonic payload " +
            s"with decimal scale ${p.decScale} unsupported — the " +
            "(0,0) coefficient's interaction with D is " +
            "convention-dependent; archive spectral fields carry D=0")
        require(p.dataOff + 4 <= p.dataEnd,
          s"message ${m.msgIndex}: BDS too short for the IBM-32 " +
            "(0,0) coefficient")
        out(0) = ibm32(u32(bytes, p.dataOff))
        val xs = readPacked(bytes, p.dataOff + 4, p.dataEnd, nTotal - 1,
          p.nBits, m.msgIndex, "spectral coefficient")
        var i = 1
        while (i < nTotal) { out(i) = base + xs(i - 1) * scale; i += 1 }
      } else if ((m.edition == 2 && (p.template == 2 || p.template == 3 ||
          p.template == 40 || p.template == 41 || p.template == 42)) ||
          // edition 1: the gate above admits {0,2,5,7}; the complex
          // bit alone routes — a single source of truth, so a future
          // nibble admitted to the gate can't silently land in the
          // simple bit-unpack loop (r13 review)
          (m.edition == 1 && (p.template & 4) != 0)) {
        // complex/JPEG2000/PNG/CCSDS/second-order packing: unpack the
        // scaled codes of the PRESENT points in one pass, then fan
        // across the bitmap
        val xs =
          if (m.edition == 1) {
            var n = 0; var i = 0
            while (i < nTotal) { if (present(i)) n += 1; i += 1 }
            unpackG1SecondOrder(bytes, m.msgIndex, p, n, m.ni, m.nj,
              hasPrimaryBitmap = p.bitmapIndicator == 0)
          }
          else if (p.template >= 40 && p.nBits == 0) {
            // nBits 0 = CONSTANT field: real writers (g2clib jpcpack/
            // pngpack/aecpack) emit an EMPTY section 7 — every present
            // point is the reference value, no image/stream to decode
            var n = 0; var i = 0
            while (i < nTotal) { if (present(i)) n += 1; i += 1 }
            new Array[Long](n)
          }
          else if (p.template == 41) pngCodes(bytes, m.msgIndex, p)
          else if (p.template == 40) j2kCodes(bytes, m.msgIndex, p)
          else if (p.template == 42) ccsdsCodes(bytes, m.msgIndex, p)
          else unpackComplex(bytes, m.msgIndex, p)
        var i = 0
        var k = 0
        while (i < nTotal) {
          if (!present(i)) out(i) = Double.NaN
          else {
            require(k < xs.length,
              s"message ${m.msgIndex}: ${xs.length} complex-packed " +
                s"values for more present points")
            out(i) = base + xs(k) * scale
            k += 1
          }
          i += 1
        }
        require(k == xs.length, s"message ${m.msgIndex}: " +
          s"${xs.length} complex-packed values but only $k present points")
      } else {
        require(p.nBits <= 63,
          s"message ${m.msgIndex}: packed-field width ${p.nBits} " +
            "exceeds 63 bits — a 64-bit field would sign-flip the " +
            "Long accumulator; refusing rather than misdecoding")
        var bitPos = 0L
        val dataBits = (p.dataEnd - p.dataOff).toLong * 8
        var i = 0
        while (i < nTotal) {
          if (!present(i)) out(i) = Double.NaN
          else if (p.nBits == 0) out(i) = base // constant field
          else {
            require(bitPos + p.nBits <= dataBits,
              s"message ${m.msgIndex}: packed stream exhausted at point $i")
            var x = 0L
            var b = 0
            while (b < p.nBits) {
              val bit = bitPos + b
              val byte = bytes(p.dataOff + (bit >> 3).toInt)
              x = (x << 1) | ((byte >> (7 - (bit & 7))) & 1)
              b += 1
            }
            bitPos += p.nBits
            out(i) = base + x * scale
          }
          i += 1
        }
      }
      out
  }

  /** `count` big-endian `nBits`-wide fields from `[off, end)`, bounds
    * required BEFORE each read — the shared MSB-first unpack the
    * spectral path uses (nBits = 0 yields zeros: a constant field has
    * no backing bytes by design). */
  private def readPacked(bytes: Array[Byte], off: Int, end: Int,
      count: Int, nBits: Int, msgIndex: Int, what: String): Array[Long] = {
    // a u8-field width past 64 would silently shift bits off the Long
    // accumulator — refuse, never decode garbage (r14 review)
    require(nBits <= 63,
      s"message $msgIndex: $what width $nBits exceeds 63 bits — a " +
        "64-bit field would sign-flip the Long accumulator; refusing " +
        "rather than misdecoding")
    val out = new Array[Long](count)
    if (nBits == 0) return out
    val dataBits = (end - off).toLong * 8
    var bitPos = 0L
    var i = 0
    while (i < count) {
      require(bitPos + nBits <= dataBits,
        s"message $msgIndex: packed stream exhausted at $what $i")
      var x = 0L
      var b = 0
      while (b < nBits) {
        val bit = bitPos + b
        x = (x << 1) |
          ((bytes(off + (bit >> 3).toInt) >> (7 - (bit & 7))) & 1)
        b += 1
      }
      bitPos += nBits
      out(i) = x
      i += 1
    }
    out
  }

  /** Template 7.41 (PNG-packed) payload → the scaled codes X of the
    * packed points, in image raster order (WMO FM 92 template 5.41 /
    * NCEP convention): the §7 bytes after the 5-octet header are ONE
    * PNG image whose pixels carry the unsigned codes — grayscale for
    * depths ≤ 16, RGB for 24 (X = R·2^16 + G·2^8 + B), RGBA for 32
    * (X = R·2^24 + G·2^16 + B·2^8 + A). The PNG itself is decoded by
    * the JDK's ImageIO (a platform API, not an external codec); pixel
    * count and band shapes off this contract refuse loudly. */
  private def pngCodes(bytes: Array[Byte], msgIdx: Int,
      p: Pack): Array[Long] = {
    // ImageIO raises IOException subclasses on corrupt streams; with
    // a byte-array source corrupt input is the only plausible cause,
    // so rename it HERE (CodecGate deliberately lets IOExceptions
    // through — live-filesystem paths must not mask transient IO as
    // corruption, r14 review)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        java.util.Arrays.copyOfRange(bytes, p.dataOff, p.dataEnd)))
      catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"message $msgIdx: template 5.41 declared but section 7 is " +
            s"not a decodable PNG — ${e.getMessage}", e)
      }
    require(img != null,
      s"message $msgIdx: template 5.41 declared but section 7 is not a " +
        "decodable PNG")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val bands = raster.getNumBands
    require(bands == 1 || bands == 3 || bands == 4,
      s"message $msgIdx: PNG with $bands bands off the 5.41 contract " +
        "(gray / RGB / RGBA)")
    // an indexed-color PNG also reads as 1 band, but getSample yields
    // PALETTE INDICES — silent wrong values; refuse by name
    require(!img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel],
      s"message $msgIdx: indexed-color (palette) PNG off the 5.41 " +
        "contract — codes must be gray or RGB(A) samples")
    // the image must carry exactly the §5-declared packed points: a
    // surplus or shortfall is a malformed message, refuse by name
    // here rather than fail obliquely in the bitmap fan-out
    require(w.toLong * h == p.nPacked,
      s"message $msgIdx: PNG carries ${w.toLong * h} pixels for " +
        s"${p.nPacked} packed points")
    val out = new Array[Long](w * h)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) = bands match {
          case 1 => raster.getSample(x, y, 0).toLong & 0xffffL
          case 3 =>
            ((raster.getSample(x, y, 0).toLong & 0xff) << 16) |
              ((raster.getSample(x, y, 1).toLong & 0xff) << 8) |
              (raster.getSample(x, y, 2).toLong & 0xff)
          case _ =>
            ((raster.getSample(x, y, 0).toLong & 0xff) << 24) |
              ((raster.getSample(x, y, 1).toLong & 0xff) << 16) |
              ((raster.getSample(x, y, 2).toLong & 0xff) << 8) |
              (raster.getSample(x, y, 3).toLong & 0xff)
        }
        i += 1
        x += 1
      }
      y += 1
    }
    out
  }

  /** Template 7.40 (JPEG2000-packed) payload → the scaled codes X of
    * the packed points (WMO FM 92 template 5.40 / NCEP-Jasper and
    * ECMWF-openjpeg convention): the §7 bytes after the 5-octet header
    * are ONE Part-1 codestream whose grayscale samples carry the
    * unsigned codes — NCEP packs width = nPacked, height = 1; a
    * grid-shaped image is equally legal, so only the PIXEL COUNT is
    * gated, like the 5.41 PNG path. §5 octet 22 is the compression
    * type: 0 (lossless) decodes through the clean-room [[Jpeg2k]]
    * codec; 1 (lossy, 9/7 wavelet) refuses by name — a lossy unpack
    * would silently change the archived values. */
  private def j2kCodes(bytes: Array[Byte], msgIdx: Int,
      p: Pack): Array[Long] = {
    require(p.sec5Len >= 23,
      s"message $msgIdx: template 5.40 declared but section 5 is " +
        s"${p.sec5Len} octets (< 23)")
    val ctype = u8(bytes, p.sec5Off + 21)
    require(ctype == 0,
      s"message $msgIdx: JPEG2000 compression type $ctype unsupported " +
        "(only 0 = lossless decodes; lossy would alter archived values)")
    val dec = Jpeg2k.decode(java.util.Arrays.copyOfRange(
      bytes, p.dataOff, p.dataEnd))
    require(dec.width.toLong * dec.height == p.nPacked,
      s"message $msgIdx: JPEG2000 carries ${dec.width.toLong * dec.height} " +
        s"pixels for ${p.nPacked} packed points")
    dec.samples
  }

  /** Template 7.42 (CCSDS-packed) payload → the scaled codes X of the
    * packed points (WMO FM 92 template 5.42, the libaec packing NCEP
    * adopted alongside 5.40): §5 octet 22 carries the CCSDS
    * compression-options flags, octet 23 the block size, octets 24-25
    * the reference sample interval in blocks; §7 is one CCSDS 121.0
    * Rice stream decoded by the clean-room [[Szip]] codec. Flags off
    * this engine's profile — SIGNED (GRIB codes are unsigned), 3BYTE
    * sample packing, RESTRICTED coding, PAD-RSI alignment — refuse by
    * name; MSB/LSB sample order and preprocessing-on/off decode. */
  private def ccsdsCodes(bytes: Array[Byte], msgIdx: Int,
      p: Pack): Array[Long] = {
    require(p.sec5Len >= 25,
      s"message $msgIdx: template 5.42 declared but section 5 is " +
        s"${p.sec5Len} octets (< 25)")
    val flags = u8(bytes, p.sec5Off + 21)
    val block = u8(bytes, p.sec5Off + 22)
    val rsi = u16(bytes, p.sec5Off + 23)
    // reserved/unknown flag bits could change the bitstream layout —
    // the codec gate refuses them rather than decoding under this
    // profile's assumptions
    require((flags & ~0x3f) == 0,
      s"message $msgIdx: unknown CCSDS compression-option bits " +
        f"0x$flags%02x — refusing to guess the stream layout")
    require((flags & 0x1) == 0,
      s"message $msgIdx: CCSDS SIGNED-data flag unsupported (GRIB " +
        "codes are unsigned)")
    require((flags & 0x2) == 0,
      s"message $msgIdx: CCSDS 3-byte sample packing unsupported")
    require((flags & 0x10) == 0,
      s"message $msgIdx: CCSDS RESTRICTED coding unsupported")
    require((flags & 0x20) == 0,
      s"message $msgIdx: CCSDS PAD-RSI alignment unsupported")
    require(rsi >= 1, s"message $msgIdx: CCSDS reference interval $rsi")
    val opts = (if ((flags & 0x4) != 0) Szip.Msb else Szip.Lsb) |
      (if ((flags & 0x8) != 0) Szip.Nn else Szip.Ec)
    val raw = Szip.decompress(java.util.Arrays.copyOfRange(
      bytes, p.dataOff, p.dataEnd), opts, p.nBits, block,
      rsi * block, p.nPacked.toInt)
    Szip.samples(raw, p.nBits, (flags & 0x4) == 0)
  }

  /** GRIB2 WRITER for CCSDS packing (template 5.42) —
    * [[encodeJpeg2000]]'s shape with the §7 payload a [[Szip]] CCSDS
    * 121 stream (MSB order, preprocessing on, block 16, reference
    * interval 8 blocks). */
  def encodeCcsds(ni: Int, nj: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int, nBits: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    require(nBits >= 1 && nBits <= 32, s"bad nBits $nBits")
    require(xs.nonEmpty,
      "CCSDS packing cannot carry zero present points — use simple " +
        "packing for all-missing slices")
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    validateGrid(ni, nj, xs, bitmap)
    val (block, rsi) = (16, 8)
    val flags = 0x4 | 0x8 // MSB order, preprocessing on
    val stream = Szip.compress(Szip.sampleBytes(xs, nBits, lsbOrder = false),
      Szip.Msb | Szip.Nn, nBits, block, rsi * block)
    buildMessage(ni, nj, paramCategory, paramNumber, centre, discipline,
      refTime, bitmap,
      25, { s =>
        s.putInt(xs.length)
        s.putShort(42) // template 5.42 (CCSDS)
        s.putInt(java.lang.Float.floatToIntBits(refValue))
        s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
        s.put(nBits.toByte)
        s.put(0.toByte)          // original field type 0 (float)
        s.put(flags.toByte)      // CCSDS compression options
        s.put(block.toByte)      // block size
        s.putShort(rsi.toShort)  // reference sample interval
      },
      5 + stream.length, _.put(stream))
  }

  /** GRIB2 WRITER for JPEG2000 packing (template 5.40) —
    * [[encodePng]]'s shape with the §7 payload a lossless [[Jpeg2k]]
    * codestream: grid-shaped (ni × nj) without a bitmap, a 1-row
    * strip of the present points with one (the NCEP jpcpack layout). */
  def encodeJpeg2000(ni: Int, nj: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int, nBits: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    require(nBits >= 1 && nBits <= 25, s"bad nBits $nBits (1..25)")
    require(xs.nonEmpty,
      "JPEG2000 packing cannot carry zero present points — use simple " +
        "packing for all-missing slices")
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    validateGrid(ni, nj, xs, bitmap)
    val (w, h) = if (bitmap.isEmpty) (ni, nj) else (xs.length, 1)
    val j2k = Jpeg2k.encode(w, h, nBits, xs)
    buildMessage(ni, nj, paramCategory, paramNumber, centre, discipline,
      refTime, bitmap,
      23, { s =>
        s.putInt(xs.length)
        s.putShort(40) // template 5.40 (JPEG2000)
        s.putInt(java.lang.Float.floatToIntBits(refValue))
        s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
        s.put(nBits.toByte)
        s.put(0.toByte)   // original field type 0 (float)
        s.put(0.toByte)   // compression type 0 = LOSSLESS
        s.put(255.toByte) // target ratio: missing (lossless)
      },
      5 + j2k.length, _.put(j2k))
  }

  /** GRIB2 WRITER for PNG packing (template 5.41) — [[encodeSimple]]'s
    * shape with the §7 payload an ImageIO-written PNG: grayscale 8/16
    * for depths ≤ 16, RGB for ≤ 24, RGBA for ≤ 32; grid-shaped
    * (ni × nj) without a bitmap, a 1-row strip of the present points
    * with one. */
  def encodePng(ni: Int, nj: Int, paramCategory: Int, paramNumber: Int,
      refValue: Float, binScale: Int, decScale: Int, nBits: Int,
      xs: Array[Long], bitmap: Option[Array[Boolean]] = None,
      centre: Int = 0, discipline: Int = 0,
      refTime: (Int, Int, Int, Int, Int) = (2000, 1, 1, 0, 0)): Array[Byte] = {
    require(nBits >= 1 && nBits <= 32, s"bad nBits $nBits")
    require(xs.nonEmpty,
      "PNG packing cannot carry zero present points (a 0-wide image " +
        "is not encodable) — use simple packing for all-missing slices")
    require(xs.forall(x => x >= 0 && x < (1L << nBits)),
      s"packed code out of the $nBits-bit range")
    validateGrid(ni, nj, xs, bitmap)
    val (w, h) = if (bitmap.isEmpty) (ni, nj) else (xs.length, 1)
    import java.awt.image.BufferedImage
    val depth = if (nBits <= 8) 8 else if (nBits <= 16) 16
      else if (nBits <= 24) 24 else 32
    val img = depth match {
      case 8 => new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      case 16 => new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
      case 24 => new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      case _ => new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    }
    var i = 0
    while (i < xs.length) {
      val (x, y) = (i % w, i / w)
      val v = xs(i)
      depth match {
        case 8 | 16 => img.getRaster.setSample(x, y, 0, v.toInt)
        case 24 => img.setRGB(x, y, v.toInt)
        case _ => // stored X bytes are (R,G,B,A); ARGB int reorders
          img.setRGB(x, y,
            (((v & 0xff) << 24) | ((v >>> 8) & 0xffffff)).toInt)
      }
      i += 1
    }
    val pngOut = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", pngOut),
      "no PNG ImageIO writer available")
    val png = pngOut.toByteArray

    buildMessage(ni, nj, paramCategory, paramNumber, centre, discipline,
      refTime, bitmap,
      21, { s =>
        s.putInt(xs.length)
        s.putShort(41) // template 5.41 (PNG)
        s.putInt(java.lang.Float.floatToIntBits(refValue))
        s.putShort(sm16(binScale).toShort); s.putShort(sm16(decScale).toShort)
        s.put(depth.toByte)
        // trailing pad byte = octet 21, original field type 0 (float)
      },
      5 + png.length, _.put(png))
  }

  /** Template 7.2/7.3 group-packed payload → the scaled codes X of the
    * packed (bitmap-present) points, in transmission order. Clean-room
    * from the public GRIB2 data representation templates 5.2/5.3 and
    * data templates 7.2/7.3 (WMO FM 92, general group splitting):
    *
    *   §5 octets 32-35 NG groups; per group an `nBits`-wide reference,
    *   a (widthRef + w)-bit width with w in octet-37 bits, and a
    *   (lengthRef + l·lengthIncr)-point length with l in octet-47 bits
    *   (last group's true length in octets 43-46); §7 packs the three
    *   arrays each padded to an octet boundary, then the per-group
    *   value streams; template x.3 prepends `order`+1 extra
    *   descriptors (the first `order` original values and the overall
    *   minimum of the differences, sign-and-magnitude in octet-49-sized
    *   fields) and the codes integrate back through first- or
    *   second-order differencing.
    *
    * Refuses loudly: group splitting method != 1 (row-by-row splitting
    * is a different §7 layout), missing-value management != 0 (embedded
    * missing substitutes change the in-group encoding — bitmapped
    * missing, the ECMWF shape, is fully supported), spatial-differencing
    * order outside 1..2, and any group/length arithmetic that
    * disagrees with the declared packed-point count. */
  private def unpackComplex(bytes: Array[Byte], msgIndex: Int,
      p: Pack): Array[Long] = {
    val so = p.sec5Off
    require(so >= 0 && p.sec5Len >= (if (p.template == 3) 49 else 47),
      s"message $msgIndex: section 5 too short for template 5.${p.template}")
    val splitting = u8(bytes, so + 21)
    require(splitting == 1, s"message $msgIndex: group splitting " +
      s"method $splitting unsupported (only 1, general group splitting)")
    val missingMgmt = u8(bytes, so + 22)
    require(missingMgmt == 0, s"message $msgIndex: missing-value " +
      s"management $missingMgmt unsupported (only 0 — bitmapped " +
      "missing is the supported shape)")
    val ng = u32(bytes, so + 31).toInt
    val widthRef = u8(bytes, so + 35)
    val bitsWidths = u8(bytes, so + 36)
    val lengthRef = u32(bytes, so + 37)
    val lengthIncr = u8(bytes, so + 41)
    val trueLast = u32(bytes, so + 42)
    val bitsLengths = u8(bytes, so + 46)
    val (order, extraOctets) =
      if (p.template == 3) (u8(bytes, so + 47), u8(bytes, so + 48))
      else (0, 0)
    if (p.template == 3) {
      require(order == 1 || order == 2, s"message $msgIndex: spatial " +
        s"differencing order $order unsupported (1 or 2)")
      require(extraOctets >= 1 && extraOctets <= 8,
        s"message $msgIndex: bad extra-descriptor size $extraOctets")
    }
    val nPacked = p.nPacked.toInt
    // the ref/width/length arrays are sized off these DECLARED counts
    // — cap before allocating (r14 fuzz battery, as in values())
    require(ng >= 0 && nPacked >= 0 &&
      ng <= (1 << 27) && nPacked <= (1 << 27),
      s"message $msgIndex: complex-packing counts NG=$ng/" +
        s"nPacked=$nPacked negative or past the 2^27 sanity cap")

    var pos = p.dataOff
    // x.3 extra descriptors: `order` initial values + overall minimum,
    // sign-and-magnitude in extraOctets-wide fields
    val extras = new Array[Long](if (p.template == 3) order + 1 else 0)
    if (p.template == 3) {
      require(pos + extras.length * extraOctets <= p.dataEnd,
        s"message $msgIndex: section 7 too short for the spatial-" +
          "differencing descriptors")
      var e = 0
      while (e < extras.length) {
        var v = 0L
        var i = 0
        while (i < extraOctets) { v = (v << 8) | u8(bytes, pos + i); i += 1 }
        val signBit = 1L << (extraOctets * 8 - 1)
        extras(e) = if ((v & signBit) != 0) -(v & (signBit - 1)) else v
        pos += extraOctets
        e += 1
      }
    }

    // a bounded big-endian bit reader over [pos, dataEnd)
    var bitPos = 0L
    val dataBits = (p.dataEnd - pos).toLong * 8
    val dataStart = pos
    def readBits(n: Int): Long = {
      if (n == 0) return 0L
      require(n <= 63,
        s"message $msgIndex: complex-packed field width $n exceeds " +
          "63 bits — a 64-bit field would sign-flip the Long " +
          "accumulator; refusing rather than misdecoding")
      require(bitPos + n <= dataBits,
        s"message $msgIndex: complex-packed stream exhausted")
      var x = 0L
      var b = 0
      while (b < n) {
        val bit = bitPos + b
        x = (x << 1) | ((bytes(dataStart + (bit >> 3).toInt) >> (7 - (bit & 7))) & 1)
        b += 1
      }
      bitPos += n
      x
    }
    def padToOctet(): Unit = bitPos = (bitPos + 7) & ~7L

    val refs = Array.fill(ng)(readBits(p.nBits)); padToOctet()
    val widths = Array.fill(ng)(widthRef + readBits(bitsWidths).toInt)
    padToOctet()
    // The stream carries NG scaled lengths (the last one is present but
    // meaningless); regulation 92.6.2 overrides the last group's length
    // with the true value from section 5 octets 43-46. Reading only NG-1
    // would leave the bit cursor short and shift the packed-value stream.
    val lens = Array.tabulate(ng) { g =>
      val scaled = lengthRef + readBits(bitsLengths) * lengthIncr
      if (g == ng - 1) trueLast else scaled
    }
    padToOctet()
    require(lens.sum == nPacked, s"message $msgIndex: group lengths " +
      s"sum to ${lens.sum}, expected $nPacked packed points")

    val xs = new Array[Long](nPacked)
    var k = 0
    var g = 0
    while (g < ng) {
      var j = 0L
      while (j < lens(g)) {
        xs(k) = refs(g) + readBits(widths(g))
        k += 1
        j += 1
      }
      g += 1
    }

    if (p.template == 3) {
      // integrate the differences back: the first `order` codes are
      // carried in the descriptors; every later code is a difference
      // biased by the overall minimum
      val gmin = extras(order)
      var i = 0
      while (i < math.min(order, nPacked)) { xs(i) = extras(i); i += 1 }
      while (i < nPacked) {
        val d = xs(i) + gmin
        xs(i) =
          if (order == 1) d + xs(i - 1)
          else d + 2 * xs(i - 1) - xs(i - 2)
        i += 1
      }
    }
    xs
  }

  /** GRIB1 SECOND-ORDER (complex) packed BDS → the scaled codes X of
    * the packed (primary-bitmap-present) points, in transmission
    * order. Clean-room from the WMO Manual on Codes GRIB1 Section 4
    * octet table for second-order packing:
    *
    *   octets 12-13 N1 (1-based BDS octet where first-order data
    *   begin), octet 14 extended flags (Code table 11), octets 15-16
    *   N2 (where second-order data begin), octets 17-18 P1
    *   (first-order values = groups), octets 19-20 P2 (second-order
    *   values = packed points), octet 21 reserved, octets 22..
    *   second-order width octets (P1 of them when the different-widths
    *   flag is set, else ONE applying to every group), then the
    *   secondary bitmap (P2 bits, padded to an octet) when flagged.
    *   First-order values are octet-11-wide fields from N1;
    *   second-order values are per-group-width fields from N2. A
    *   point's code is X = X1(group) + X2(point), the group advancing
    *   wherever the secondary bitmap is set; WITHOUT a secondary
    *   bitmap the groups are the grid rows (row-by-row packing,
    *   P1 = Nj).
    *
    * Refuses loudly by the exact octet-14 sub-flag: matrix of values,
    * GRIBEX "general extended" second-order packing (the SPD
    * group-descriptor layout is an ECMWF library convention with no
    * ground-truth encoder available to validate against — the same
    * boundary the 9/7 JPEG2000 path documents), boustrophedonic
    * ordering, spatial differencing, the reserved bit; row-by-row
    * combined with a primary bitmap (the per-row grouping of missing
    * points is convention-dependent); and any count arithmetic that
    * disagrees with P1/P2. */
  private def unpackG1SecondOrder(bytes: Array[Byte], msgIndex: Int,
      p: Pack, nPresent: Int, ni: Int, nj: Int,
      hasPrimaryBitmap: Boolean): Array[Long] = {
    val bds = p.sec5Off
    val bdsEnd = bds + p.sec5Len
    require(p.sec5Len >= 22,
      s"message $msgIndex: second-order BDS ${p.sec5Len} octets (< 22)")
    val ext = u8(bytes, bds + 13)
    def flagRefuse(mask: Int, name: String): Unit =
      require((ext & mask) == 0,
        s"message $msgIndex: GRIB1 second-order $name (octet-14 flag " +
          s"0x${mask.toHexString}) unsupported")
    flagRefuse(0x80, "reserved-bit layout")
    flagRefuse(0x40, "matrix-of-values")
    flagRefuse(0x08, "general-extended packing (GRIBEX SPD convention)")
    flagRefuse(0x04, "boustrophedonic ordering")
    require((ext & 0x03) == 0,
      s"message $msgIndex: GRIB1 second-order spatial differencing " +
        s"order ${ext & 0x03} unsupported")
    val secondaryBitmap = (ext & 0x20) != 0
    val diffWidths = (ext & 0x10) != 0
    val n1 = u16(bytes, bds + 11)
    val n2 = u16(bytes, bds + 14)
    val p1 = u16(bytes, bds + 16)
    val p2 = u16(bytes, bds + 18)
    require(p2 == nPresent,
      s"message $msgIndex: P2=$p2 second-order values for $nPresent " +
        "packed points")
    require(p1 >= 1 || nPresent == 0,
      s"message $msgIndex: P1=$p1 first-order values for $nPresent points")
    val foAt = bds + n1 - 1
    val soAt = bds + n2 - 1
    val widthsAt = bds + 21
    val nWidthOctets = if (diffWidths) p1 else 1
    require(n1 >= 22 + nWidthOctets && n2 >= n1 && soAt <= bdsEnd,
      s"message $msgIndex: second-order frame N1=$n1 N2=$n2 off-shape " +
        s"for $nWidthOctets width octets and BDS length ${p.sec5Len}")
    require(p.nBits <= 63,
      s"message $msgIndex: first-order width ${p.nBits} exceeds 63 " +
        "bits — a wider field would silently truncate or sign-flip " +
        "in the shift-accumulate loop")
    val widths =
      if (diffWidths) Array.tabulate(p1)(g => u8(bytes, widthsAt + g))
      else Array.fill(math.max(p1, 1))(u8(bytes, widthsAt))
    widths.zipWithIndex.foreach { case (w, g) =>
      require(w <= 63,
        s"message $msgIndex: second-order width $w (group $g) exceeds " +
          "63 bits — refusing rather than truncating or sign-flipping " +
          "silently")
    }
    // group-start flags, one per packed point
    val starts = new Array[Boolean](nPresent)
    if (secondaryBitmap) {
      val sbAt = widthsAt + nWidthOctets
      require(sbAt + ((nPresent + 7) >> 3) <= foAt,
        s"message $msgIndex: secondary bitmap holds fewer than " +
          s"$nPresent bits before N1")
      var i = 0
      while (i < nPresent) {
        starts(i) = (bytes(sbAt + (i >> 3)) & (0x80 >> (i & 7))) != 0
        i += 1
      }
      require(nPresent == 0 || starts(0),
        s"message $msgIndex: secondary bitmap does not mark the first " +
          "point as a group start")
      val ngSeen = starts.count(identity)
      require(ngSeen == p1,
        s"message $msgIndex: secondary bitmap marks $ngSeen groups, " +
          s"P1=$p1 first-order values")
    } else {
      require(!hasPrimaryBitmap,
        s"message $msgIndex: GRIB1 row-by-row second-order packing " +
          "(no secondary bitmap) with a primary bitmap unsupported — " +
          "the per-row grouping of missing points is convention-" +
          "dependent; re-encode with a secondary bitmap")
      require(ni > 0 && nj > 0,
        s"message $msgIndex: row-by-row second-order packing needs a " +
          "lat/lon GDS (rows unknown without one)")
      require(p1 == nj,
        s"message $msgIndex: P1=$p1 first-order values for $nj rows")
      require(nPresent == ni * nj,
        s"message $msgIndex: $nPresent points for a ${ni}x$nj grid")
      var i = 0
      while (i < nPresent) { starts(i) = i % ni == 0; i += 1 }
    }
    // first-order values: p1 fields of octet-11 width from N1
    val firstOrder = new Array[Long](p1)
    var bitPos = 0L
    val foBits = (soAt - foAt).toLong * 8
    var g = 0
    while (g < p1) {
      require(bitPos + p.nBits <= foBits,
        s"message $msgIndex: first-order stream exhausted at group $g")
      var x = 0L
      var b = 0
      while (b < p.nBits) {
        val bit = bitPos + b
        x = (x << 1) | ((bytes(foAt + (bit >> 3).toInt) >> (7 - (bit & 7))) & 1)
        b += 1
      }
      firstOrder(g) = x
      bitPos += p.nBits
      g += 1
    }
    // second-order values: per-group width fields from N2
    val xs = new Array[Long](nPresent)
    val soBits = (bdsEnd - soAt).toLong * 8
    bitPos = 0L
    var gi = -1
    var i = 0
    while (i < nPresent) {
      if (starts(i)) gi += 1
      val w = widths(gi)
      var x2 = 0L
      if (w > 0) {
        require(bitPos + w <= soBits,
          s"message $msgIndex: second-order stream exhausted at point $i")
        var b = 0
        while (b < w) {
          val bit = bitPos + b
          x2 = (x2 << 1) | ((bytes(soAt + (bit >> 3).toInt) >> (7 - (bit & 7))) & 1)
          b += 1
        }
        bitPos += w
      }
      xs(i) = firstOrder(gi) + x2
      i += 1
    }
    xs
  }

  /** Archive inventory: one row per GRIB message across every file
    * matching `path` (binaryFile glob), decoded task-side. */
  def scan(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        decode(bytes).map(m => (p, m.msgIndex, m.edition, m.totalLen,
          m.discipline, m.centre, m.paramCategory, m.paramNumber,
          m.refTime, m.gridTemplate, m.nPoints, m.ni, m.nj))
      })
      .toDF("path", "msg_index", "edition", "total_len", "discipline",
        "centre", "param_category", "param_number", "ref_time",
        "grid_template", "n_points", "ni", "nj")
  }
}

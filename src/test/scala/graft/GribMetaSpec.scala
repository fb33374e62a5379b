package graft

import graft.sources.{GribGridSource, GribMeta}
import org.apache.spark.sql.functions._

/** GRIB message-metadata scanner over hand-built messages laid out per
  * the public WMO GRIB1/GRIB2 section structure. */
class GribMetaSpec extends SparkSpec {

  /** Minimal valid GRIB2 message: indicator + sections 1,3,4,5,6,7 +
    * end marker. discipline 0, centre 98, 2024-06-01T12:00, lat/lon
    * template 3.0 with Ni=144 Nj=73, product category 1 number 8. */
  private def grib2(): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(512)
    def sec(len: Int, num: Int)(body: java.nio.ByteBuffer => Unit): Unit = {
      val start = b.position()
      b.putInt(len).put(num.toByte)
      body(b)
      while (b.position() < start + len) b.put(0.toByte)
    }
    b.put("GRIB".getBytes("US-ASCII"))
    b.putShort(0).put(0.toByte).put(2.toByte) // reserved, discipline 0, edition 2
    val lenAt = b.position()
    b.putLong(0L) // total length patched below
    sec(21, 1) { s =>
      s.putShort(98).putShort(0) // centre, subcentre
      s.put(2.toByte).put(1.toByte).put(1.toByte)
      s.putShort(2024).put(6.toByte).put(1.toByte) // year month day
      s.put(12.toByte).put(0.toByte).put(0.toByte) // hour minute second
    }
    sec(72, 3) { s =>
      s.put(0.toByte) // source of grid definition
      s.putInt(144 * 73) // number of data points
      s.put(0.toByte).put(0.toByte)
      s.putShort(0) // grid definition template 3.0 (lat/lon)
      // octets 15-30: shape-of-earth block (zero-padded here)
      (15 to 30).foreach(_ => s.put(0.toByte))
      s.putInt(144).putInt(73) // Ni (31-34), Nj (35-38)
    }
    sec(34, 4) { s =>
      s.putShort(0) // no coordinate values
      s.putShort(0) // product definition template 4.0
      s.put(1.toByte).put(8.toByte) // parameter category 1, number 8
    }
    sec(21, 5) { s => s.putInt(144 * 73); s.putShort(0) }
    sec(6, 6) { s => s.put(255.toByte) } // bitmap: none
    sec(5, 7) { _ => }
    b.put("7777".getBytes("US-ASCII"))
    val total = b.position()
    b.putLong(lenAt, total.toLong)
    java.util.Arrays.copyOf(b.array(), total)
  }

  /** Minimal GRIB1 message: indicator + PDS(28, GDS flagged) +
    * GDS(32, lat/lon 96×48) + BDS(11) + end marker. centre 74,
    * parameter 61, 2024-06-01T12:00 via century octet 21. */
  private def grib1(): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(128)
    b.put("GRIB".getBytes("US-ASCII"))
    val total = 8 + 28 + 32 + 11 + 4
    b.put((total >> 16).toByte).put((total >> 8).toByte).put(total.toByte)
    b.put(1.toByte) // edition
    // PDS
    b.put(0.toByte).put(0.toByte).put(28.toByte) // length 28
    b.put(128.toByte).put(74.toByte).put(1.toByte).put(255.toByte)
    b.put(0x80.toByte) // GDS present
    b.put(61.toByte)   // parameter (total precipitation, table 2)
    b.put(1.toByte).putShort(0) // level
    b.put(24.toByte).put(6.toByte).put(1.toByte) // year-of-century, month, day
    b.put(12.toByte).put(0.toByte) // hour minute
    (18 to 24).foreach(_ => b.put(0.toByte))
    b.put(21.toByte) // century (octet 25): year 2024
    (26 to 28).foreach(_ => b.put(0.toByte))
    // GDS
    b.put(0.toByte).put(0.toByte).put(32.toByte)
    b.put(0.toByte).put(255.toByte)
    b.put(0.toByte) // data representation type 0 = lat/lon
    b.putShort(96).putShort(48) // Ni, Nj
    (11 to 32).foreach(_ => b.put(0.toByte))
    // BDS (opaque to the scanner)
    b.put(0.toByte).put(0.toByte).put(11.toByte)
    (4 to 11).foreach(_ => b.put(0.toByte))
    b.put("7777".getBytes("US-ASCII"))
    java.util.Arrays.copyOf(b.array(), total)
  }

  /** GRIB2 message with a REAL simple-packed payload (templates
    * 5.0/7.0): n-bit big-endian fields X, value = (R + X·2^E)/10^D;
    * optional bitmap; lat/lon grid ni×nj, param (cat, num). */
  private def grib2Simple(refV: Float, e: Int, d: Int, nbits: Int,
      xs: Seq[Long], bitmap: Option[Seq[Boolean]], ni: Int, nj: Int,
      cat: Int = 2, num: Int = 2, drTpl: Int = 0): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(1024)
    def sec(len: Int, n: Int)(body: java.nio.ByteBuffer => Unit): Unit = {
      val start = b.position()
      b.putInt(len).put(n.toByte)
      body(b)
      while (b.position() < start + len) b.put(0.toByte)
    }
    def sm16(v: Int): Int = if (v < 0) 0x8000 | -v else v // sign-and-magnitude
    val nTotal = bitmap.map(_.size).getOrElse(xs.size)
    b.put("GRIB".getBytes("US-ASCII"))
    b.putShort(0).put(0.toByte).put(2.toByte)
    val lenAt = b.position(); b.putLong(0L)
    sec(21, 1) { s =>
      s.putShort(98).putShort(0)
      s.put(2.toByte).put(1.toByte).put(1.toByte)
      s.putShort(2024).put(6.toByte).put(1.toByte)
      s.put(0.toByte).put(0.toByte).put(0.toByte)
    }
    sec(72, 3) { s =>
      s.put(0.toByte); s.putInt(nTotal); s.put(0.toByte).put(0.toByte)
      s.putShort(0)
      (15 to 30).foreach(_ => s.put(0.toByte))
      s.putInt(ni).putInt(nj)
    }
    sec(34, 4) { s =>
      s.putShort(0); s.putShort(0)
      s.put(cat.toByte).put(num.toByte)
    }
    sec(21, 5) { s =>
      s.putInt(xs.size)            // octets 6-9: packed point count
      s.putShort(drTpl.toShort)    // octets 10-11: template
      s.putInt(java.lang.Float.floatToIntBits(refV)) // 12-15: R
      s.putShort(sm16(e).toShort); s.putShort(sm16(d).toShort)       // 16-17, 18-19
      s.put(nbits.toByte)          // octet 20
    }
    bitmap match {
      case Some(mask) =>
        val mbytes = (mask.size + 7) / 8
        sec(6 + mbytes, 6) { s =>
          s.put(0.toByte) // indicator 0: bitmap present
          var acc = 0; var nb = 0
          mask.zipWithIndex.foreach { case (m, i) =>
            acc = (acc << 1) | (if (m) 1 else 0); nb += 1
            if (nb == 8 || i == mask.size - 1) {
              s.put((acc << (8 - nb)).toByte); acc = 0; nb = 0
            }
          }
        }
      case None => sec(6, 6) { s => s.put(255.toByte) }
    }
    val dataBytes = (xs.size * nbits + 7) / 8
    sec(5 + dataBytes, 7) { s =>
      var acc = 0L; var nb = 0
      xs.foreach { x =>
        acc = (acc << nbits) | (x & ((1L << nbits) - 1)); nb += nbits
        while (nb >= 8) { s.put((acc >> (nb - 8)).toByte); nb -= 8 }
      }
      if (nb > 0) s.put((acc << (8 - nb)).toByte)
    }
    b.put("7777".getBytes("US-ASCII"))
    val total = b.position()
    b.putLong(lenAt, total.toLong)
    java.util.Arrays.copyOf(b.array(), total)
  }

  /** GRIB1 message with a REAL simple-packed BDS: PDS(28, GDS+opt BMS
    * flags, decimal scale octets 27-28) + GDS(32, lat/lon ni×nj) +
    * optional BMS + BDS(flags, E sign-mag, R as raw IBM fields,
    * nbits, packed data). IBM fields passed raw so the fixture stays
    * independent of the decoder's own float math. */
  private def grib1Simple(ibmSign: Int, ibmA: Int, ibmM: Int, e: Int, d: Int,
      nbits: Int, xs: Seq[Long], bitmap: Option[Seq[Boolean]],
      ni: Int, nj: Int, bdsFlags: Int = 0): Array[Byte] = {
    def sm16(v: Int): Int = if (v < 0) 0x8000 | -v else v
    val bmsBytes = bitmap.map(m => 6 + (m.size + 7) / 8).getOrElse(0)
    val dataBytes = (xs.size * nbits + 7) / 8
    val bdsLen = 11 + dataBytes
    val total = 8 + 28 + 32 + bmsBytes + bdsLen + 4
    val b = java.nio.ByteBuffer.allocate(total)
    b.put("GRIB".getBytes("US-ASCII"))
    b.put((total >> 16).toByte).put((total >> 8).toByte).put(total.toByte)
    b.put(1.toByte)
    // PDS
    b.put(0.toByte).put(0.toByte).put(28.toByte)
    b.put(128.toByte).put(74.toByte).put(1.toByte).put(255.toByte)
    b.put((0x80 | bitmap.map(_ => 0x40).getOrElse(0)).toByte) // GDS (+BMS)
    b.put(61.toByte)
    b.put(1.toByte).putShort(0)
    b.put(24.toByte).put(6.toByte).put(1.toByte)
    b.put(12.toByte).put(0.toByte)
    (18 to 24).foreach(_ => b.put(0.toByte))
    b.put(21.toByte)              // century octet 25
    b.put(0.toByte)               // octet 26
    b.putShort(sm16(d).toShort)   // octets 27-28: decimal scale
    // GDS
    b.put(0.toByte).put(0.toByte).put(32.toByte)
    b.put(0.toByte).put(255.toByte)
    b.put(0.toByte)
    b.putShort(ni.toShort).putShort(nj.toShort)
    (11 to 32).foreach(_ => b.put(0.toByte))
    // BMS
    bitmap.foreach { mask =>
      val len = 6 + (mask.size + 7) / 8
      b.put((len >> 16).toByte).put((len >> 8).toByte).put(len.toByte)
      b.put(((8 - mask.size % 8) % 8).toByte) // unused trailing bits
      b.putShort(0) // table ref 0: bitmap follows
      var acc = 0; var nb = 0
      mask.zipWithIndex.foreach { case (m, i) =>
        acc = (acc << 1) | (if (m) 1 else 0); nb += 1
        if (nb == 8 || i == mask.size - 1) {
          b.put((acc << (8 - nb)).toByte); acc = 0; nb = 0
        }
      }
    }
    // BDS
    b.put((bdsLen >> 16).toByte).put((bdsLen >> 8).toByte).put(bdsLen.toByte)
    b.put(bdsFlags.toByte)
    b.putShort(sm16(e).toShort)
    b.putInt((ibmSign << 31) | (ibmA << 24) | ibmM)
    b.put(nbits.toByte)
    var acc = 0L; var nb = 0
    xs.foreach { x =>
      acc = (acc << nbits) | (x & ((1L << math.max(nbits, 1)) - 1)); nb += nbits
      while (nb >= 8) { b.put((acc >> (nb - 8)).toByte); nb -= 8 }
    }
    if (nb > 0) b.put((acc << (8 - nb)).toByte)
    b.put("7777".getBytes("US-ASCII"))
    java.util.Arrays.copyOf(b.array(), total)
  }

  test("GRIB1 simple packing decodes: IBM reference value, PDS decimal scale, BMS") {
    // plain integers: R=0, E=0, D=0, 8-bit codes
    val plain = grib1Simple(0, 0, 0, 0, 0, 8, Seq(5L, 10L, 255L), None, 3, 1)
    val Seq((m0, v0)) = GribMeta.values(plain)
    assert(m0.edition == 1 && m0.ni == 3)
    assert(v0.toSeq == Seq(5.0, 10.0, 255.0))
    // IBM float R = -2.5 (sign 1, A=65, M=2621440: 16^1 * M/2^24),
    // E=1 (x2), D=1 (/10): Y = (-2.5 + X*2)/10
    val ibm = grib1Simple(1, 65, 2621440, 1, 1, 8, Seq(0L, 3L), None, 2, 1)
    val Seq((_, v1)) = GribMeta.values(ibm)
    assert(math.abs(v1(0) - -0.25) < 1e-12 && math.abs(v1(1) - 0.35) < 1e-12,
      v1.toSeq.toString)
    // BMS bitmap: missing points surface NaN in grid order
    val bm = grib1Simple(0, 0, 0, 0, 0, 8, Seq(7L, 9L),
      Some(Seq(true, false, false, true)), 2, 2)
    val Seq((_, v2)) = GribMeta.values(bm)
    assert(v2(0) == 7.0 && v2(1).isNaN && v2(2).isNaN && v2(3) == 9.0)
    // spherical-harmonic and complex flags refuse with the exact reason
    val sph = grib1Simple(0, 0, 0, 0, 0, 8, Seq(1L), None, 1, 1, bdsFlags = 0x80)
    assert(intercept[IllegalArgumentException] { GribMeta.values(sph) }
      .getMessage.contains("spherical"))
    val cpx = grib1Simple(0, 0, 0, 0, 0, 8, Seq(1L), None, 1, 1, bdsFlags = 0x40)
    assert(intercept[IllegalArgumentException] { GribMeta.values(cpx) }
      .getMessage.contains("complex"))
    // the octet-14 extension flag (0x10) WITHOUT complex refuses — the
    // extension can redefine the payload layout, so decoding it as
    // plain simple packing would be silently wrong (r9 advice)
    val ext = grib1Simple(0, 0, 0, 0, 0, 8, Seq(1L), None, 1, 1, bdsFlags = 0x10)
    assert(intercept[IllegalArgumentException] { GribMeta.values(ext) }
      .getMessage.contains("octet-14"))
    // the INTEGER flag (0x20) is informational — regulation 92.6.3's
    // unpack formula is unchanged (r13): same values as the float twin
    val int1 = grib1Simple(0, 0, 0, 0, 0, 8, Seq(5L, 10L, 255L), None, 3, 1,
      bdsFlags = 0x20)
    assert(GribMeta.values(int1).head._2.toSeq == Seq(5.0, 10.0, 255.0))
    // but the INVENTORY walk still catalogs what it cannot decode
    assert(GribMeta.decode(ext).map(_.edition) == Seq(1))
    // the DSv2 scan fans GRIB1 out too (category -1, param from the PDS)
    val dir = java.nio.file.Files.createTempDirectory("graft_g1vals").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.grib"), bm)
    val rows = spark.read.format("graft.sources.GribGridSource")
      .option("path", s"$dir/a.grib").load()
      .collect().map(r => (r.getInt(5), r.getInt(6), r.getDouble(7))).toSet
    assert(rows == Set((0, 0, 7.0), (1, 1, 9.0)), rows.toString)
  }

  /** GRIB1 message around a HAND-ASSEMBLED BDS: grib1Simple's PDS/GDS/
    * BMS frame with the given BDS bytes appended verbatim — the
    * encoder-independent carrier for the second-order fixtures. */
  private def grib1WithBds(bds: Array[Byte], bitmap: Option[Seq[Boolean]],
      ni: Int, nj: Int, d: Int = 0): Array[Byte] = {
    def sm16(v: Int): Int = if (v < 0) 0x8000 | -v else v
    val bmsBytes = bitmap.map(m => 6 + (m.size + 7) / 8).getOrElse(0)
    val total = 8 + 28 + 32 + bmsBytes + bds.length + 4
    val b = java.nio.ByteBuffer.allocate(total)
    b.put("GRIB".getBytes("US-ASCII"))
    b.put((total >> 16).toByte).put((total >> 8).toByte).put(total.toByte)
    b.put(1.toByte)
    b.put(0.toByte).put(0.toByte).put(28.toByte)
    b.put(128.toByte).put(74.toByte).put(1.toByte).put(255.toByte)
    b.put((0x80 | bitmap.map(_ => 0x40).getOrElse(0)).toByte)
    b.put(61.toByte)
    b.put(1.toByte).putShort(0)
    b.put(24.toByte).put(6.toByte).put(1.toByte)
    b.put(12.toByte).put(0.toByte)
    (18 to 24).foreach(_ => b.put(0.toByte))
    b.put(21.toByte).put(0.toByte)
    b.putShort(sm16(d).toShort)
    b.put(0.toByte).put(0.toByte).put(32.toByte)
    b.put(0.toByte).put(255.toByte)
    b.put(0.toByte)
    b.putShort(ni.toShort).putShort(nj.toShort)
    (11 to 32).foreach(_ => b.put(0.toByte))
    bitmap.foreach { mask =>
      val len = 6 + (mask.size + 7) / 8
      b.put((len >> 16).toByte).put((len >> 8).toByte).put(len.toByte)
      b.put(((8 - mask.size % 8) % 8).toByte)
      b.putShort(0)
      var acc = 0; var nb = 0
      mask.zipWithIndex.foreach { case (m, i) =>
        acc = (acc << 1) | (if (m) 1 else 0); nb += 1
        if (nb == 8 || i == mask.size - 1) {
          b.put((acc << (8 - nb)).toByte); acc = 0; nb = 0
        }
      }
    }
    b.put(bds)
    b.put("7777".getBytes("US-ASCII"))
    b.array()
  }

  test("GRIB1 second-order packing decodes the hand-built WMO-table " +
      "fixtures: secondary-bitmap groups (constant width) and " +
      "row-by-row (different widths)") {
    // --- secondary-bitmap form, CONSTANT width, 2x2 grid, 2 groups ---
    // first-order [10, 20] (5-bit), shared width 2, second-order
    // [0,3,1,2], group starts 1,0,1,0 -> X = [10,13,21,22]; R=E=D=0.
    // Octets (1-based): N1=24 (22 + 1 width octet + 1 bitmap octet),
    // N2=26, P1=2, P2=4, len 26 (even), all streams fill their octets
    val sbBds = Array[Int](
      0, 0, 26,        // length
      0x50,            // flags: complex + octet-14; 0 unused bits
      0, 0,            // E = 0
      0, 0, 0, 0,      // R = 0 (IBM zero)
      5,               // octet 11: first-order width
      0, 24,           // N1
      0x20,            // octet 14: secondary bitmap, constant width
      0, 26,           // N2
      0, 2,            // P1
      0, 4,            // P2
      0,               // reserved
      2,               // the ONE width octet
      0xA0,            // secondary bitmap 1010
      0x55, 0x00,      // first-order: 01010 10100 padded
      0x36             // second-order: 00 11 01 10
    ).map(_.toByte)
    val sb = grib1WithBds(sbBds, None, 2, 2)
    val Seq((m1, v1)) = GribMeta.values(sb)
    assert(m1.edition == 1 && v1.toSeq == Seq(10.0, 13.0, 21.0, 22.0), v1.toSeq)
    // with a PRIMARY bitmap too: 6-point grid, points 1 and 4 missing
    val pb = grib1WithBds(sbBds, Some(Seq(true, false, true, true, false, true)), 3, 2)
    val Seq((_, v2)) = GribMeta.values(pb)
    assert(v2(1).isNaN && v2(4).isNaN)
    assert(Seq(v2(0), v2(2), v2(3), v2(5)) == Seq(10.0, 13.0, 21.0, 22.0))
    // --- row-by-row form, DIFFERENT widths, 3x2 grid ---
    // rows are the groups: first-order [5, 9] (4-bit), widths [1, 0],
    // second-order row0 [0,1,1] -> X = [5,6,6, 9,9,9]; rawLen 25 pads
    // to 26 with 5+8 unused bits
    val rrBds = Array[Int](
      0, 0, 26,
      0x50 | 13,       // 13 unused bits (5 tail + 8 pad)
      0, 0,
      0, 0, 0, 0,
      4,               // first-order width
      0, 24,           // N1 = 22 + 2 width octets
      0x10,            // octet 14: no secondary bitmap, different widths
      0, 25,           // N2
      0, 2,            // P1 = Nj rows
      0, 6,            // P2
      0,
      1, 0,            // per-row widths
      0x59,            // first-order: 0101 1001
      0x60,            // second-order: 011 padded
      0                // even-length pad octet
    ).map(_.toByte)
    val rr = grib1WithBds(rrBds, None, 3, 2)
    val Seq((_, v3)) = GribMeta.values(rr)
    assert(v3.toSeq == Seq(5.0, 6.0, 6.0, 9.0, 9.0, 9.0), v3.toSeq)
    // scale factors ride the same regulation 92.9.4 math: E=1 doubles,
    // D=1 divides by ten (patch E; D comes from the PDS)
    val scaled = grib1WithBds(
      { val c = sbBds.clone(); c(5) = 1; c }, None, 2, 2, d = 1)
    assert(GribMeta.values(scaled).head._2.toSeq == Seq(2.0, 2.6, 4.2, 4.4))
    // the INTEGER flag on a second-order BDS (nibble 7) decodes with
    // the identical formula — the flag is informational (r13)
    val intBds = grib1WithBds(
      { val c = sbBds.clone(); c(3) = 0x70.toByte; c }, None, 2, 2)
    assert(GribMeta.values(intBds).head._2.toSeq == Seq(10.0, 13.0, 21.0, 22.0))
  }

  test("GRIB1 second-order refusals: every octet-14 sub-flag by name, " +
      "count mismatches, row-by-row with a primary bitmap") {
    def sbBds(patch: (Int, Int)*): Array[Byte] = {
      val base = Array[Int](0, 0, 26, 0x50, 0, 0, 0, 0, 0, 0, 5, 0, 24,
        0x20, 0, 26, 0, 2, 0, 4, 0, 2, 0xA0, 0x55, 0x00, 0x36)
      patch.foreach { case (i, v) => base(i) = v }
      base.map(_.toByte)
    }
    def msgOf(bds: Array[Byte]) = grib1WithBds(bds, None, 2, 2)
    def refuses(bds: Array[Byte], needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        GribMeta.values(msgOf(bds))
      }
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // octet 14 is BDS index 13
    refuses(sbBds(13 -> 0xA0), "reserved-bit")
    refuses(sbBds(13 -> 0x60), "matrix-of-values")
    refuses(sbBds(13 -> 0x28), "general-extended")
    refuses(sbBds(13 -> 0x24), "boustrophedonic")
    refuses(sbBds(13 -> 0x21), "spatial differencing")
    // P2 disagreeing with the present-point count
    refuses(sbBds(19 -> 5), "packed points")
    // widths past 64 bits would silently truncate the accumulate loop
    refuses(sbBds(10 -> 200), "first-order width 200")
    refuses(sbBds(21 -> 200), "second-order width 200")
    // secondary bitmap marking fewer groups than P1
    refuses(sbBds(22 -> 0x80), "marks 1 groups")
    // first point not starting a group
    refuses(sbBds(22 -> 0x20), "first point")
    // row-by-row + primary bitmap refuses by name (index 22 doubles as
    // the second width octet under different-widths — keep it ≤ 64)
    val rowBmp = grib1WithBds(sbBds(13 -> 0x10, 12 -> 25, 15 -> 27, 22 -> 1),
      Some(Seq(true, true, true, true, false, false)), 3, 2)
    assert(intercept[IllegalArgumentException] { GribMeta.values(rowBmp) }
      .getMessage.contains("row-by-row"))
    // the INVENTORY walk still catalogs second-order messages
    assert(GribMeta.decode(msgOf(sbBds())).map(_.edition) == Seq(1))
  }

  test("encodeG1Simple round-trips: bitmap, scale factors, exact IBM " +
      "reference, even-length BDS") {
    val xs = Array(0L, 7L, 4095L, 40L)
    val mask = Array(true, false, true, true, false, true)
    val enc = GribMeta.encodeG1Simple(3, 2, paramNumber = 11,
      refValue = 2048.0, binScale = -2, decScale = 0, nBits = 12,
      xs = xs, bitmap = Some(mask), centre = 98,
      refTime = (1995, 1, 2, 6, 30))
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.edition == 1 && m.paramNumber == 11 && m.ni == 3)
    assert(m.refTime == "1995-01-02T06:30")
    assert(vs(1).isNaN && vs(4).isNaN)
    assert(Seq(vs(0), vs(2), vs(3), vs(5)) == xs.map(2048.0 + _ * 0.25).toSeq)
    // no bitmap, decimal scale, nBits 0 constant field
    val const = GribMeta.encodeG1Simple(2, 1, 0, refValue = 42.0,
      binScale = 0, decScale = 1, nBits = 0, xs = Array(0L, 0L))
    assert(GribMeta.values(const).head._2.toSeq == Seq(4.2, 4.2))
    intercept[IllegalArgumentException] { // 9-bit code in an 8-bit field
      GribMeta.encodeG1Simple(1, 1, 0, 0.0, 0, 0, 8, Array(256L))
    }
    intercept[IllegalArgumentException] { // Ni past the GDS 16-bit field
      GribMeta.encodeG1Simple(70000, 1, 0, 0.0, 0, 0, 1,
        Array.fill(70000)(0L))
    }
    intercept[IllegalArgumentException] { // scale past sign-magnitude 16
      GribMeta.encodeG1Simple(1, 1, 0, 0.0, -40000, 0, 1, Array(0L))
    }
  }

  test("encodeG1SecondOrder round-trips through the decoder: bitmap, " +
      "ragged groups, exact IBM reference; refuses bad inputs") {
    val xs = Array(0L, 7L, 123456L, 40L, 9L, 1L, 77L)
    val mask = Array(true, false, true, true, false, true, true, true, true, false)
    val enc = GribMeta.encodeG1SecondOrder(5, 2, paramNumber = 61,
      refValue = 2048.0, binScale = -2, decScale = 0,
      xs = xs, bitmap = Some(mask), centre = 98,
      refTime = (1995, 1, 2, 6, 30), groupLen = 3)
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.edition == 1 && m.centre == 98 && m.paramNumber == 61)
    assert(m.refTime == "1995-01-02T06:30" && m.ni == 5 && m.nj == 2)
    val got = vs.toSeq.filterNot(_.isNaN)
    assert(got == xs.map(2048.0 + _ * 0.25).toSeq, got)
    assert(vs(1).isNaN && vs(4).isNaN && vs(9).isNaN)
    // no bitmap + decimal scale; single ragged group
    val enc2 = GribMeta.encodeG1SecondOrder(2, 2, paramNumber = 1,
      refValue = 0.0, binScale = 0, decScale = 1,
      xs = Array(10L, 13L, 21L, 22L), groupLen = 64)
    assert(GribMeta.values(enc2).head._2.toSeq == Seq(1.0, 1.3, 2.1, 2.2))
    // a non-IBM-representable reference refuses rather than shifting
    intercept[IllegalArgumentException] {
      GribMeta.encodeG1SecondOrder(2, 1, 0, refValue = 0.1, 0, 0,
        Array(1L, 2L))
    }
    intercept[IllegalArgumentException] { // 2 codes for 4 points
      GribMeta.encodeG1SecondOrder(2, 2, 0, refValue = 0.0, 0, 0,
        Array(1L, 2L))
    }
    // 61-bit first-order refs exercise the chunked putBits — a single
    // (acc << n) with pending bits would corrupt the stream SILENTLY
    val wide = Array(1L << 60, (1L << 60) + 5, (1L << 59) + 3, (1L << 59) + 9)
    val encW = GribMeta.encodeG1SecondOrder(4, 1, 0, refValue = 0.0,
      binScale = 0, decScale = 0, xs = wide, groupLen = 2)
    assert(GribMeta.values(encW).head._2.toSeq == wide.map(_.toDouble).toSeq)
    // ...and the GRIB2 complex writer shares the fix
    val encW2 = GribMeta.encodeComplex(4, 1, 0, 0, refValue = 0f,
      binScale = 0, decScale = 0, xs = wide, groupLen = 2)
    assert(GribMeta.values(encW2).head._2.toSeq == wide.map(_.toDouble).toSeq)
    // all-missing field: P1 = 0 on the wire, decodes to all-NaN
    val encE = GribMeta.encodeG1SecondOrder(2, 2, 0, refValue = 0.0,
      binScale = 0, decScale = 0, xs = Array.empty[Long],
      bitmap = Some(Array.fill(4)(false)))
    assert(GribMeta.values(encE).head._2.forall(_.isNaN))
    // frame pointers past the 16-bit BDS octet fields refuse loudly
    intercept[IllegalArgumentException] {
      GribMeta.encodeG1SecondOrder(65000, 1, 0, refValue = 0.0, 0, 0,
        Array.fill(65000)(1L), groupLen = 1)
    }
  }

  test("simple packing decodes: (R + X*2^E)/10^D, bitmap NaNs, constant fields") {
    // R=100, E=-1 (x0.5), D=1 (/10), 10-bit fields incl. the max code
    val m = grib2Simple(100f, -1, 1, 10, Seq(0L, 1L, 5L, 1023L), None, 4, 1)
    val Seq((msg, vs)) = GribMeta.values(m)
    assert(msg.paramCategory == 2 && msg.ni == 4)
    assert(vs.length == 4)
    val want = Seq(10.0, 10.05, 10.25, (100 + 1023 * 0.5) / 10)
    vs.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9, s"$g != $w") }
    // bitmapped grid: 6 points, 4 packed — missing points surface NaN
    val bm = grib2Simple(0f, 0, 0, 8, Seq(11L, 22L, 33L, 44L),
      Some(Seq(true, false, true, true, false, true)), 3, 2)
    val Seq((m2, vs2)) = GribMeta.values(bm)
    assert(m2.nPoints == 6 && vs2.length == 6)
    assert(vs2(1).isNaN && vs2(4).isNaN)
    assert(Seq(vs2(0), vs2(2), vs2(3), vs2(5)) == Seq(11.0, 22.0, 33.0, 44.0))
    // nbits=0: constant field R/10^D everywhere
    val const = grib2Simple(42f, 3, 1, 0, Seq(0L, 0L, 0L), None, 3, 1)
    assert(GribMeta.values(const).head._2.toSeq == Seq(4.2, 4.2, 4.2))
    // negative X is impossible (codes are non-negative); negative E/D
    // round-trip through sign-and-magnitude — E=-1 above proved it
  }

  test("encodeSimple round-trips through the decoder and the independent fixture agrees") {
    // writer output decodes to the exact inputs (bitmap + binary scale)
    val xs = Array(0L, 7L, 123456L, (1L << 24) - 1)
    val mask = Array(true, false, true, true, false, true)
    val enc = GribMeta.encodeSimple(3, 2, paramCategory = 1, paramNumber = 5,
      refValue = 2048f, binScale = -2, decScale = 0, nBits = 24,
      xs = xs, bitmap = Some(mask), centre = 98, refTime = (1995, 1, 2, 6, 30))
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.centre == 98 && m.paramNumber == 5 && m.refTime == "1995-01-02T06:30")
    assert(m.ni == 3 && m.nj == 2 && m.nPoints == 6)
    assert(vs(1).isNaN && vs(4).isNaN)
    assert(Seq(vs(0), vs(2), vs(3), vs(5)) == xs.map(2048.0 + _ * 0.25).toSeq)
    // the writer's bytes also parse under the spec's INDEPENDENT
    // hand-built section layout assumptions (same walk the grib2()
    // fixture pins): inventory fields line up
    assert(GribMeta.decode(enc ++ grib2()).map(_.msgIndex) == Seq(0, 1))
    // writer refuses impossible layouts loudly
    intercept[IllegalArgumentException] {
      GribMeta.encodeSimple(2, 2, 0, 0, 0f, 0, 0, 8, Array(256L)) // 9 bits
    }
    intercept[IllegalArgumentException] {
      GribMeta.encodeSimple(2, 2, 0, 0, 0f, 0, 0, 8, Array(1L, 2L)) // 2 codes, 4 pts
    }
  }

  test("non-simple packing refuses loudly; zero-BDS GRIB1 is a constant field") {
    val jp2 = grib2Simple(0f, 0, 0, 8, Seq(1L), None, 1, 1, drTpl = 40)
    val e = intercept[IllegalArgumentException] { GribMeta.values(jp2) }
    assert(e.getMessage.contains("5.40"), e.getMessage)
    // grib1()'s zeroed BDS = grid-point simple packing, nbits 0, R 0:
    // a legitimate constant-0 field over the full 96x48 GDS grid
    val Seq((m1, v1)) = GribMeta.values(grib1())
    assert(m1.edition == 1 && v1.length == 96 * 48 && v1.forall(_ == 0.0))
    // inventory scan handles mixed-edition archives
    assert(GribMeta.decode(jp2 ++ grib1()).map(_.edition) == Seq(2, 1))
  }

  test("complex packing (5.2) round-trips: groups, ragged last group, bitmap") {
    // 70 codes over 3 32-point groups (last ragged at 6) with very
    // different per-group ranges — each group gets its own ref/width
    val xs = Array.tabulate(70)(i =>
      if (i < 32) (i * 3).toLong else if (i < 64) 100000L + i else 7L)
    val enc = GribMeta.encodeComplex(70, 1, paramCategory = 1,
      paramNumber = 2, refValue = 50f, binScale = -1, decScale = 1,
      xs = xs, centre = 98, refTime = (2024, 6, 1, 0, 0))
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.centre == 98 && m.ni == 70 && m.nPoints == 70)
    val want = xs.map(x => (50.0 + x * 0.5) / 10.0)
    vs.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"$g != $w") }
    // bitmapped: 8 points, 5 packed, missing → NaN, group len 2
    val mask = Array(true, false, true, true, false, true, true, false)
    val bm = GribMeta.encodeComplex(8, 1, 0, 0, 0f, 0, 0,
      xs = Array(10L, 20L, 30L, 40L, 50L), bitmap = Some(mask),
      groupLen = 2)
    val Seq((m2, vs2)) = GribMeta.values(bm)
    assert(vs2.length == 8 && vs2(1).isNaN && vs2(4).isNaN && vs2(7).isNaN)
    assert(Seq(vs2(0), vs2(2), vs2(3), vs2(5), vs2(6)) ==
      Seq(10.0, 20.0, 30.0, 40.0, 50.0))
    // constant grid: every group width 0, refs carry everything
    val const = GribMeta.encodeComplex(6, 1, 0, 0, 0f, 0, 0,
      xs = Array.fill(6)(77L), groupLen = 4)
    assert(GribMeta.values(const).head._2.toSeq == Seq.fill(6)(77.0))
  }

  test("PNG packing (5.41) round-trips across carrier depths; bitmap strip; " +
      "corrupt PNG refuses") {
    // each carrier: gray-8, gray-16, RGB-24, RGBA-32
    for ((nBits, top) <- Seq((7, 100L), (13, 8000L), (22, 4000000L),
        (30, 1000000000L))) {
      val xs = Array.tabulate(12)(i => (i.toLong * top / 11))
      val enc = GribMeta.encodePng(4, 3, paramCategory = 1, paramNumber = 2,
        refValue = 10f, binScale = -1, decScale = 1, nBits = nBits, xs = xs,
        centre = 98, refTime = (2024, 6, 1, 0, 0))
      val Seq((m, vs)) = GribMeta.values(enc)
      assert(m.centre == 98 && m.ni == 4 && m.nj == 3)
      val want = xs.map(x => (10.0 + x * 0.5) / 10.0)
      vs.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-12 * math.max(math.abs(w), 1.0),
          s"nBits=$nBits: $g != $w") }
    }
    // bitmapped: the PNG is a 1-row strip of the present points
    val mask = Array(true, false, true, true, false, true)
    val bm = GribMeta.encodePng(3, 2, 0, 0, 0f, 0, 0, nBits = 12,
      xs = Array(10L, 20L, 30L, 40L), bitmap = Some(mask))
    val Seq((_, vs2)) = GribMeta.values(bm)
    assert(vs2.length == 6 && vs2(1).isNaN && vs2(4).isNaN)
    assert(Seq(vs2(0), vs2(2), vs2(3), vs2(5)) ==
      Seq(10.0, 20.0, 30.0, 40.0))
    // a message whose section 7 is NOT a PNG must refuse by name
    val good = GribMeta.encodePng(4, 3, 0, 0, 0f, 0, 0, nBits = 8,
      xs = Array.tabulate(12)(_.toLong))
    // find the PNG signature inside section 7 and wreck it
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    val at = good.indices.find(i => i + 4 <= good.length &&
      good.slice(i, i + 4).sameElements(sig)).get
    val bad = good.clone(); bad(at) = 'X'
    val e = intercept[IllegalArgumentException] { GribMeta.values(bad) }
    assert(e.getMessage.contains("PNG"), e.getMessage)
    // a pixel count off the §5-declared packed count refuses BY NAME
    // at the PNG gate (not obliquely in the bitmap fan-out): patch the
    // declared count down by one — the 12-pixel image is now surplus
    val wrong = GribMeta.encodePng(4, 3, 0, 0, 0f, 0, 0, nBits = 8,
      xs = Array.tabulate(12)(_.toLong))
    def u32be(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    var so = 16 // first section after the 16-octet indicator
    while (wrong(so + 4) != 5) so += u32be(wrong, so).toInt
    assert(u32be(wrong, so + 5) == 12L) // declared packed points
    wrong(so + 8) = 11
    val e2 = intercept[IllegalArgumentException] { GribMeta.values(wrong) }
    assert(e2.getMessage.contains("12 pixels for 11 packed points"),
      e2.getMessage)
  }

  test("JPEG2000 packing (5.40) round-trips across depths; bitmap strip; " +
      "lossy compression type refuses by name; pixel-count gate") {
    for ((nBits, top) <- Seq((7, 100L), (13, 8000L), (22, 4000000L),
        (25, 33000000L))) {
      val xs = Array.tabulate(12)(i => i.toLong * top / 11)
      val enc = GribMeta.encodeJpeg2000(4, 3, paramCategory = 1,
        paramNumber = 2, refValue = 10f, binScale = -1, decScale = 1,
        nBits = nBits, xs = xs, centre = 98, refTime = (2024, 6, 1, 0, 0))
      val Seq((m, vs)) = GribMeta.values(enc)
      assert(m.centre == 98 && m.ni == 4 && m.nj == 3)
      val want = xs.map(x => (10.0 + x * 0.5) / 10.0)
      vs.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-12 * math.max(math.abs(w), 1.0),
          s"nBits=$nBits: $g != $w") }
    }
    // bitmapped: the codestream is a 1-row strip of the present points
    val mask = Array(true, false, true, true, false, true)
    val bm = GribMeta.encodeJpeg2000(3, 2, 0, 0, 0f, 0, 0, nBits = 12,
      xs = Array(10L, 20L, 30L, 40L), bitmap = Some(mask))
    val Seq((_, vs2)) = GribMeta.values(bm)
    assert(vs2.length == 6 && vs2(1).isNaN && vs2(4).isNaN)
    assert(Seq(vs2(0), vs2(2), vs2(3), vs2(5)) ==
      Seq(10.0, 20.0, 30.0, 40.0))
    // §5 octet 22 = 1 (lossy) must refuse by name, never unpack
    val good = GribMeta.encodeJpeg2000(4, 3, 0, 0, 0f, 0, 0, nBits = 8,
      xs = Array.tabulate(12)(_.toLong))
    def u32be(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    var so = 16
    while (good(so + 4) != 5) so += u32be(good, so).toInt
    val lossy = good.clone(); lossy(so + 21) = 1
    val e1 = intercept[IllegalArgumentException] { GribMeta.values(lossy) }
    assert(e1.getMessage.contains("lossy"), e1.getMessage)
    // pixel count off the declared packed count refuses by name
    assert(u32be(good, so + 5) == 12L)
    val short = good.clone(); short(so + 8) = 11
    val e2 = intercept[IllegalArgumentException] { GribMeta.values(short) }
    assert(e2.getMessage.contains("12 pixels for 11 packed points"),
      e2.getMessage)
    // a junk codestream refuses loudly (SOC gate)
    val junk = good.clone()
    var dOff = 16
    while (junk(dOff + 4) != 7) dOff += u32be(junk, dOff).toInt
    junk(dOff + 5) = 0x12; junk(dOff + 6) = 0x34
    val e3 = intercept[IllegalArgumentException] { GribMeta.values(junk) }
    assert(e3.getMessage.contains("SOC"), e3.getMessage)
    // nBits 0 = CONSTANT field for the image/stream packings: real
    // writers emit an empty section 7; every point is the reference
    // value and no codestream decode is attempted (§5 octet 20 → 0)
    val const = GribMeta.encodeJpeg2000(4, 3, 0, 0, refValue = 7f,
      binScale = 0, decScale = 0, nBits = 8, xs = Array.fill(12)(1L))
    var so2 = 16
    while (const(so2 + 4) != 5) so2 += u32be(const, so2).toInt
    const(so2 + 19) = 0
    val Seq((_, cv)) = GribMeta.values(const)
    assert(cv.length == 12 && cv.forall(_ == 7.0), cv.toSeq.toString)
  }

  test("CCSDS packing (5.42) round-trips across depths; bitmap strip; " +
      "off-profile flags refuse by name") {
    for ((nBits, top) <- Seq((8, 255L), (13, 8000L), (16, 65535L),
        (24, 16000000L))) {
      val xs = Array.tabulate(40)(i => i.toLong * top / 39)
      val enc = GribMeta.encodeCcsds(8, 5, paramCategory = 1,
        paramNumber = 2, refValue = 10f, binScale = -1, decScale = 1,
        nBits = nBits, xs = xs, centre = 98, refTime = (2024, 6, 1, 0, 0))
      val Seq((m, vs)) = GribMeta.values(enc)
      assert(m.centre == 98 && m.ni == 8 && m.nj == 5)
      val want = xs.map(x => (10.0 + x * 0.5) / 10.0)
      vs.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-12 * math.max(math.abs(w), 1.0),
          s"nBits=$nBits: $g != $w") }
    }
    // bitmapped: the stream is a strip of the present points
    val mask = Array(true, false, true, true, false, true)
    val bm = GribMeta.encodeCcsds(3, 2, 0, 0, 0f, 0, 0, nBits = 12,
      xs = Array(10L, 20L, 30L, 40L), bitmap = Some(mask))
    val Seq((_, vs2)) = GribMeta.values(bm)
    assert(vs2.length == 6 && vs2(1).isNaN && vs2(4).isNaN)
    assert(Seq(vs2(0), vs2(2), vs2(3), vs2(5)) ==
      Seq(10.0, 20.0, 30.0, 40.0))
    // off-profile CCSDS flags refuse by name (patch §5 octet 22)
    val good = GribMeta.encodeCcsds(4, 3, 0, 0, 0f, 0, 0, nBits = 8,
      xs = Array.tabulate(12)(_.toLong))
    def u32be(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    var so = 16
    while (good(so + 4) != 5) so += u32be(good, so).toInt
    for ((bit, name) <- Seq(0x1 -> "SIGNED", 0x2 -> "3-byte",
        0x10 -> "RESTRICTED", 0x20 -> "PAD-RSI")) {
      val bad = good.clone(); bad(so + 21) = (bad(so + 21) | bit).toByte
      val e = intercept[IllegalArgumentException] { GribMeta.values(bad) }
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
  }

  test("complex packing + spatial differencing (5.3) round-trips, orders 1 and 2") {
    // a ramp + noise: first-order diffs go NEGATIVE, so the overall-
    // minimum bias and sign-and-magnitude descriptors are exercised
    val xs = Array(1000L, 1010L, 990L, 1020L, 1015L, 1040L, 900L, 905L)
    for (order <- Seq(1, 2)) {
      val enc = GribMeta.encodeComplex(8, 1, 0, 0, 0f, 0, 0,
        xs = xs, groupLen = 3, spatialOrder = order)
      val Seq((_, vs)) = GribMeta.values(enc)
      assert(vs.toSeq == xs.map(_.toDouble).toSeq, s"order $order: ${vs.toSeq}")
    }
    // differencing composes with a bitmap (diffs run over the PACKED
    // sequence) and with real scaling
    val mask = Array(true, true, false, true, true, false, true, true)
    val enc = GribMeta.encodeComplex(8, 1, 0, 0, refValue = 2048f,
      binScale = -2, decScale = 0, xs = Array(8L, 16L, 4L, 64L, 32L, 12L),
      bitmap = Some(mask), groupLen = 4, spatialOrder = 2)
    val Seq((_, vs)) = GribMeta.values(enc)
    assert(vs(2).isNaN && vs(5).isNaN)
    assert(Seq(vs(0), vs(1), vs(3), vs(4), vs(6), vs(7)) ==
      Seq(8L, 16L, 4L, 64L, 32L, 12L).map(x => 2048.0 + x * 0.25))
  }

  test("the streamed last scaled length is a placeholder: section 5's " +
      "true-last-length wins when they disagree") {
    // 6 codes, groupLen 4 → 2 groups, lens [4, 2]. The wire carries NG
    // scaled lengths; external encoders put garbage in the last slot and
    // regulation 92.6.2 overrides it from section 5 octets 43-46. Patch
    // the streamed last entry to a wrong value and the decode must still
    // come back exact (an NG-1 reader would instead shift the stream).
    val xs = Array(1L, 2L, 3L, 4L, 5L, 6L)
    val enc = GribMeta.encodeComplex(6, 1, 0, 0, 0f, 0, 0,
      xs = xs, groupLen = 4)
    val s5 = 16 + 21 + 72 + 34
    assert((enc(s5 + 4) & 0xff) == 5, "section walk drifted")
    assert((enc(s5 + 46) & 0xff) == 3, "expected 3-bit scaled lengths")
    // section 7 layout: 5-byte header, refs 1 byte (2×3 bits), widths
    // 2 bytes, then the scaled lengths byte: 100 010 00 (4, 2, pad)
    val s7 = s5 + 47 + 6
    assert((enc(s7 + 4) & 0xff) == 7, "section walk drifted at 7")
    val lensAt = s7 + 5 + 1 + 2
    assert((enc(lensAt) & 0xff) == 0x88, "scaled-lengths byte moved")
    val patched = enc.clone()
    patched(lensAt) = 0x9c.toByte // streamed lens now (4, 7) — garbage last
    val Seq((_, vs)) = GribMeta.values(patched)
    assert(vs.toSeq == xs.map(_.toDouble).toSeq, vs.toSeq.toString)
  }

  test("complex packing refuses the layouts it cannot decode, loudly") {
    val enc = GribMeta.encodeComplex(6, 1, 0, 0, 0f, 0, 0,
      xs = Array(1L, 2L, 3L, 4L, 5L, 6L), groupLen = 4)
    // locate section 5 (indicator 16 + sec1 21 + sec3 72 + sec4 34)
    val s5 = 16 + 21 + 72 + 34
    assert((enc(s5 + 4) & 0xff) == 5, "section walk drifted")
    // missing-value management != 0: the in-group encoding changes
    val mvm = enc.clone(); mvm(s5 + 22) = 1
    val e1 = intercept[IllegalArgumentException] { GribMeta.values(mvm) }
    assert(e1.getMessage.contains("missing-value management"), e1.getMessage)
    // group splitting method != 1
    val split = enc.clone(); split(s5 + 21) = 0
    val e2 = intercept[IllegalArgumentException] { GribMeta.values(split) }
    assert(e2.getMessage.contains("splitting"), e2.getMessage)
    // corrupt group arithmetic: patch the true-last-group length so
    // the lengths no longer sum to the packed count
    val bad = enc.clone()
    bad(s5 + 45) = 9 // true last len 2 → 9 (octets 43-46 big-endian)
    val e3 = intercept[IllegalArgumentException] { GribMeta.values(bad) }
    assert(e3.getMessage.contains("group lengths"), e3.getMessage)
    // the inventory walk still catalogs all of them (refusals live on
    // the pixel path only)
    Seq(mvm, split, bad).foreach(b =>
      assert(GribMeta.decode(b).head.edition == 2))
    // spatial-differencing order 3 refuses at encode AND a patched
    // order-3 message refuses at decode
    intercept[IllegalArgumentException] {
      GribMeta.encodeComplex(4, 1, 0, 0, 0f, 0, 0,
        xs = Array(1L, 2L, 3L, 4L), spatialOrder = 3)
    }
    val enc3 = GribMeta.encodeComplex(4, 1, 0, 0, 0f, 0, 0,
      xs = Array(1L, 2L, 3L, 4L), groupLen = 4, spatialOrder = 1)
    val ord3 = enc3.clone(); ord3(s5 + 47) = 3
    val e4 = intercept[IllegalArgumentException] { GribMeta.values(ord3) }
    assert(e4.getMessage.contains("order"), e4.getMessage)
  }

  test("gzip-wrapped GRIB (.grb.gz, the NCEP/CPC archive shape): " +
      "transparent decode, one whole-file DSv2 split, named refusals") {
    import graft.sources.Gz
    // two messages so the whole-file split proves the MULTI-message
    // walk (msg_index read off each decoded message, not the planner)
    val plain = grib2Simple(0f, 0, 0, 8, Seq(1L, 2L, 3L, 4L), None, 2, 2,
      cat = 2, num = 5) ++
      grib2Simple(10f, 0, 0, 8, Seq(5L, 6L, 7L, 8L), None, 2, 2,
        cat = 2, num = 6)
    val gz = Gz.gzip(plain)
    // values()/decode() unwrap transparently
    assert(GribMeta.decode(gz).map(_.paramNumber) == Seq(5, 6))
    assert(GribMeta.values(gz).map(_._2.toSeq) ==
      GribMeta.values(plain).map(_._2.toSeq))
    // DSv2: a dir mixing plain and wrapped archives — per-message
    // splits for the plain file, ONE whole-file split for the gz
    // (gzip is not seekable), identical rows from both
    val dir = java.nio.file.Files.createTempDirectory("graft_gribgz").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.grib2"), plain)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.grb.gz"), gz)
    val df = spark.read.format("graft.sources.GribGridSource")
      .option("path", dir).load()
    assert(df.rdd.getNumPartitions == 3, s"${df.rdd.getNumPartitions}")
    val byFile = df.collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(3),
        r.getInt(5), r.getInt(6), r.getDouble(7)))
      .groupBy(_._1).map { case (f, rs) => f -> rs.map(t => t.copy(_1 = "")).toSet }
    assert(byFile("a.grib2") == byFile("b.grb.gz"),
      s"plain and wrapped rows diverge: $byFile")
    assert(byFile("a.grib2").map(_._2) == Set(0, 1)) // both msg indexes
    // truncated gz refuses by name; the corruption sweep holds
    val e = intercept[IllegalArgumentException] {
      GribMeta.values(java.util.Arrays.copyOf(gz, gz.length - 4))
    }
    assert(e.getMessage.contains("gzip"), e.getMessage)
    CodecFuzz.sweep("grib-gz", gz, GribMeta.values(_))
    // r15: the whole-file walk rides the LAZY per-message iterator —
    // parity with the eager entry on every message
    assert(GribMeta.valuesIterator(gz).map { case (m, v) =>
      (m.msgIndex, v.toSeq) }.toList ==
      GribMeta.values(plain).map { case (m, v) =>
        (m.msgIndex, v.toSeq) }.toList)
    // and refusals stay per-message: a bad SECOND message names its
    // refusal when the iterator ADVANCES onto it, after the first
    // message's values are already out — the eager entry refused the
    // whole archive up front
    val mixed = grib2Simple(0f, 0, 0, 8, Seq(1L, 2L, 3L, 4L), None, 2, 2) ++
      grib2Simple(0f, 0, 0, 8, Seq(1L, 2L, 3L, 4L), None, 2, 2, drTpl = 1)
    val it = GribMeta.valuesIterator(Gz.gzip(mixed))
    assert(it.next()._2.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    val eIt = intercept[IllegalArgumentException] { it.next() }
    assert(eIt.getMessage.contains("5.1"), eIt.getMessage)
  }

  test("gz inflation cap is DEFLATE's own expansion bound (r16 advice: " +
      "GRIB unwrap previously allowed ~2 GiB from a few-KB bomb): a " +
      "maximally-compressible legitimate archive still decodes") {
    import graft.sources.Gz
    // an archive of identical constant-field messages is the highest
    // real-world-ratio shape; DEFLATE cannot exceed 1032x by
    // construction, so the new deflateBound cap can refuse only
    // crafted streams, never this one
    val msg = grib2Simple(7f, 0, 0, 8, Seq.fill(800)(0L), None, 40, 20)
    val plain = Array.fill(60)(msg).flatten
    val wrapped = Gz.gzip(plain)
    assert(plain.length > 100 * wrapped.length,
      s"fixture not high-ratio: ${plain.length}/${wrapped.length}")
    val msgs = GribMeta.values(wrapped)
    assert(msgs.size == 60)
    assert(msgs.forall(_._2.forall(_ == 7.0)))
  }

  test("GribGridSource: DSv2 table, one partition per message, pruned positioned reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gribdsv2").toString
    // file a: two messages (params 2 and 3); file b: one with a bitmap
    val a = grib2Simple(0f, 0, 0, 8, Seq(1L, 2L, 3L, 4L), None, 2, 2,
      cat = 2, num = 2) ++
      grib2Simple(10f, 0, 0, 8, Seq(5L, 6L, 7L, 8L), None, 2, 2,
        cat = 2, num = 3)
    val b = grib2Simple(0f, 0, 0, 8, Seq(9L, 11L),
      Some(Seq(true, false, false, true)), 2, 2, cat = 1, num = 8)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.grib2"), a)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.grib2"), b)
    val df = spark.read.format("graft.sources.GribGridSource")
      .option("path", dir).load()
    // one split per message, planned via positioned indicator hops
    assert(df.rdd.getNumPartitions == 3, s"${df.rdd.getNumPartitions}")
    val rows = df.collect().map(r => (r.getString(0).split('/').last,
      r.getInt(1), r.getInt(3), r.getInt(5), r.getInt(6), r.getDouble(7))).toSet
    assert(rows == Set(
      ("a.grib2", 0, 2, 0, 0, 1.0), ("a.grib2", 0, 2, 1, 0, 2.0),
      ("a.grib2", 0, 2, 0, 1, 3.0), ("a.grib2", 0, 2, 1, 1, 4.0),
      ("a.grib2", 1, 3, 0, 0, 15.0), ("a.grib2", 1, 3, 1, 0, 16.0),
      ("a.grib2", 1, 3, 0, 1, 17.0), ("a.grib2", 1, 3, 1, 1, 18.0),
      ("b.grib2", 0, 8, 0, 0, 9.0), ("b.grib2", 0, 8, 1, 1, 11.0)), rows.toString)
    // pruning reaches the source
    val pruned = df.select("value")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.matches(".*BatchScan[^\\[]*\\[value#\\d+\\].*"), scanLine)
    // keepMissing surfaces bitmapped holes as NULL rows
    // a projection in another order than the schema's, path and value
    // included, reads the same points as the full rows — bitmapped
    // holes kept as NULL value or dropped
    for (keep <- Seq(false, true)) {
      val got = GridProjection.check(spark.read.format("graft.sources.GribGridSource")
        .option("path", dir).option("keepMissing", keep.toString).load(),
        Seq("ref_time", "value", "y", "path", "msg_index"))
      assert(got.length == (if (keep) 12 else 10) && got.exists(_(1) == null) == keep)
    }
    val withMissing = spark.read.format("graft.sources.GribGridSource")
      .option("path", s"$dir/b.grib2").option("keepMissing", "true").load()
    assert(withMissing.count() == 4 &&
      withMissing.filter(org.apache.spark.sql.functions.col("value").isNull)
        .count() == 2)
    // planner ranges line up with the walk — GRIB2, GRIB1 and the
    // large-GRIB1 extended-length convention all plan per-message
    // splits from bounded positioned reads
    assert(GribGridSource.messageRanges(s"$dir/a.grib2")
      .map(_._2).sum == a.length)
    val mixed = grib1Large() ++ grib1() ++ grib2Simple(0f, 0, 0, 8,
      Seq(5L, 6L, 7L, 8L), None, 2, 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.grib2"), mixed)
    val ranges = GribGridSource.messageRanges(s"$dir/c.grib2")
    assert(ranges.map(_._2).sum == mixed.length &&
      ranges.size == 3 && ranges.head._2 == 83L, ranges.toString)
    // and the DSv2 scan reads the GRIB1 messages task-side (zeroed
    // BDS = constant-0 field over the declared 96×48 grid)
    val g1df = spark.read.format("graft.sources.GribGridSource")
      .option("path", s"$dir/c.grib2").load()
    assert(g1df.rdd.getNumPartitions == 3)
    assert(g1df.count() == 96L * 48 * 2 + 4)
    // a truly unknown edition still refuses at planning
    val junk = grib1(); junk(7) = 3
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.grib2"), junk)
    val e = intercept[IllegalArgumentException] {
      GribGridSource.messageRanges(s"$dir/d.grib2")
    }
    assert(e.getMessage.contains("edition 3"), e.getMessage)
  }

  test("composition: GRIB u/v slices -> grid rows -> i02 windspeed") {
    // the ecmwf_opendata shape: one message per component, decoded to
    // rows and composed into the derived product (i02: sqrt(u^2+v^2))
    val dir = java.nio.file.Files.createTempDirectory("graft_gribwind").toString
    val u = grib2Simple(0f, 0, 1, 8, Seq(30L, 40L, 0L, 120L), None, 2, 2,
      cat = 2, num = 2)
    val v = grib2Simple(0f, 0, 1, 8, Seq(40L, 30L, 50L, 50L), None, 2, 2,
      cat = 2, num = 3)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/fc.grib2"), u ++ v)
    val rows = spark.read.format("graft.sources.GribGridSource")
      .option("path", s"$dir/*.grib2").load()
    val wind = rows.filter(col("param_number") === 2)
      .select(col("x"), col("y"), col("value").as("u"))
      .join(rows.filter(col("param_number") === 3)
        .select(col("x"), col("y"), col("value").as("v")), Seq("x", "y"))
      .select(col("x"), col("y"),
        round(sqrt(col("u") * col("u") + col("v") * col("v")), 2).as("ws"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(wind == Map((0, 0) -> 5.0, (1, 0) -> 5.0, (0, 1) -> 5.0,
      (1, 1) -> 13.0), wind.toString)
  }

  /** The grib1() message re-lengthed per the ECMWF large-message
    * convention: 24-bit length field = 0x800000 | ceil(trueLen/120). */
  private def grib1Large(): Array[Byte] = {
    val m = grib1()
    val field = 0x800000 | ((m.length + 119) / 120)
    m(4) = (field >> 16).toByte; m(5) = (field >> 8).toByte; m(6) = field.toByte
    m
  }

  test("large-GRIB1 length convention: top-bit messages recover their true end") {
    // alone in the file (trailer anchored by EOF)
    val one = GribMeta.decode(grib1Large())
    assert(one.map(m => (m.edition, m.totalLen, m.centre, m.paramNumber)) ==
      Seq((1, 83L, 74, 61)))
    // followed by a normal message (trailer anchored by the next GRIB
    // magic — a 7777-free tail byte-window must not derail the walk)
    val two = GribMeta.decode(grib1Large() ++ grib1())
    assert(two.map(m => (m.msgIndex, m.totalLen)) == Seq((0, 83L), (1, 83L)))
    assert(two.forall(m => m.ni == 96 && m.nj == 48))
    // top bit set but the trailer is destroyed → targeted loud error,
    // never a silent length misparse
    val corrupt = grib1Large()
    corrupt(corrupt.length - 2) = 'X'.toByte
    val e = intercept[IllegalArgumentException](GribMeta.decode(corrupt))
    assert(e.getMessage.contains("large GRIB1"))
  }

  test("GRIB2 and GRIB1 headers decode; concatenated archives walk message by message") {
    val m2 = GribMeta.decode(grib2())
    assert(m2.length == 1)
    val g2 = m2.head
    assert(g2.edition == 2 && g2.discipline == 0 && g2.centre == 98, g2.toString)
    assert(g2.refTime == "2024-06-01T12:00" && g2.gridTemplate == 0, g2.toString)
    assert(g2.ni == 144 && g2.nj == 73 && g2.nPoints == 144L * 73, g2.toString)
    assert(g2.paramCategory == 1 && g2.paramNumber == 8, g2.toString)

    val m1 = GribMeta.decode(grib1())
    assert(m1.length == 1)
    val g1 = m1.head
    assert(g1.edition == 1 && g1.centre == 74 && g1.paramNumber == 61, g1.toString)
    assert(g1.refTime == "2024-06-01T12:00" && g1.ni == 96 && g1.nj == 48, g1.toString)

    // one archive file = many messages (variable × level × step)
    val both = GribMeta.decode(grib2() ++ grib1() ++ grib2())
    assert(both.map(_.edition) == Seq(2, 1, 2))
    assert(both.map(_.msgIndex) == Seq(0, 1, 2))
  }

  test("truncation and junk fail loudly — an inventory must never undercount silently") {
    val g = grib2()
    intercept[Exception] { GribMeta.decode(java.util.Arrays.copyOf(g, g.length - 6)) }
    intercept[Exception] { GribMeta.decode(java.util.Arrays.copyOf(g, 20)) }
    intercept[Exception] { GribMeta.decode("NOTGRIBDATA!".getBytes("US-ASCII")) }
    // trailing garbage after a valid message is an error, not ignored
    intercept[Exception] { GribMeta.decode(g ++ Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9)) }
  }

  /** Hand-built GRIB2 SPECTRAL message from the spec's own field
    * tables (grid template 3.50, data representation 5.50) —
    * independent of [[GribMeta.encodeSpectral]]'s layout arithmetic:
    * T-1 triangular truncation (6 coefficients), the (0,0) real part
    * in §5 octets 21-24, the other 5 codes 8-bit simple-packed. */
  private def grib2Spectral(refValue: Float, binScale: Int, decScale: Int,
      nBits: Int, real00: Float, codes: Seq[Long],
      withBitmap: Boolean = false, sec5Len: Int = 24,
      drTpl: Int = 50): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(512)
    def sec(len: Int, num: Int)(body: java.nio.ByteBuffer => Unit): Unit = {
      val start = b.position()
      b.putInt(len).put(num.toByte)
      body(b)
      while (b.position() < start + len) b.put(0.toByte)
    }
    b.put("GRIB".getBytes("US-ASCII"))
    b.putShort(0).put(0.toByte).put(2.toByte)
    val lenAt = b.position()
    b.putLong(0L)
    sec(21, 1) { s =>
      s.putShort(98).putShort(0)
      s.put(2.toByte).put(1.toByte).put(1.toByte)
      s.putShort(2024).put(6.toByte).put(1.toByte)
      s.put(12.toByte).put(0.toByte).put(0.toByte)
    }
    sec(28, 3) { s => // grid template 3.50: spherical harmonics
      s.put(0.toByte)
      s.putInt(codes.length + 1) // total coefficients incl. (0,0)
      s.put(0.toByte).put(0.toByte)
      s.putShort(50)
      s.putInt(1).putInt(1).putInt(1) // J, K, M (octets 15-26)
      s.put(1.toByte)                 // octet 27: representation type
      s.put(1.toByte)                 // octet 28: representation mode
    }
    sec(34, 4) { s =>
      s.putShort(0); s.putShort(0)
      s.put(1.toByte).put(8.toByte)
    }
    sec(sec5Len, 5) { s =>
      s.putInt(codes.length + 1)
      s.putShort(drTpl.toShort)
      s.putInt(java.lang.Float.floatToIntBits(refValue))
      def sm(v: Int): Short = (if (v < 0) 0x8000 | -v else v).toShort
      s.putShort(sm(binScale)); s.putShort(sm(decScale))
      s.put(nBits.toByte)
      if (sec5Len >= 24)
        s.putInt(java.lang.Float.floatToIntBits(real00)) // octets 21-24
    }
    if (withBitmap) sec(7, 6) { s => s.put(0.toByte); s.put(0xF8.toByte) }
    else sec(6, 6) { s => s.put(255.toByte) }
    val dataBytes = (codes.length * nBits + 7) / 8
    sec(5 + dataBytes, 7) { s =>
      var acc = 0L; var nb = 0
      codes.foreach { x =>
        acc = (acc << nBits) | x; nb += nBits
        while (nb >= 8) { s.put((acc >> (nb - 8)).toByte); nb -= 8 }
      }
      if (nb > 0) s.put((acc << (8 - nb)).toByte)
    }
    b.put("7777".getBytes("US-ASCII"))
    val total = b.position()
    b.putLong(lenAt, total.toLong)
    java.util.Arrays.copyOf(b.array(), total)
  }

  test("spectral simple packing (5.50) decodes the hand-built fixture: " +
      "raw-IEEE (0,0) real part, scaled remaining coefficients") {
    // D=1 proves the rdieee semantics: out(0) is the RAW §5 float,
    // NOT divided by 10^D; the packed coefficients are (R + X*2^E)/10^D
    val m = grib2Spectral(100f, -1, 1, 8, real00 = 3.25f,
      codes = Seq(0L, 1L, 5L, 200L, 255L))
    val Seq((msg, vs)) = GribMeta.values(m)
    assert(msg.gridTemplate == 50 && msg.nPoints == 6 && msg.ni == -1)
    assert(vs.length == 6)
    assert(vs(0) == 3.25f.toDouble, s"real00 ${vs(0)} must be the raw IEEE value")
    val want = Seq(0L, 1L, 5L, 200L, 255L).map(x => (100 + x * 0.5) / 10)
    vs.drop(1).zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"$g != $w") }
    // nBits=0: constant coefficients — every packed point is R/10^D,
    // the (0,0) real part still rides §5 raw
    val const = grib2Spectral(42f, 3, 1, 0, real00 = -7.5f,
      codes = Seq(0L, 0L, 0L, 0L, 0L))
    val Seq((_, cv)) = GribMeta.values(const)
    assert(cv(0) == -7.5f.toDouble && cv.drop(1).forall(_ == 4.2))
  }

  test("encodeSpectral round-trips through the decoder; mixed archives walk") {
    // T-3: (4)(5) = 20 coefficients, 19 packed codes incl. the max
    val xs = Array.tabulate(19)(i => (i.toLong * ((1L << 24) - 1) / 18))
    val enc = GribMeta.encodeSpectral(truncation = 3, paramCategory = 1,
      paramNumber = 5, refValue = 2048f, binScale = -2, decScale = 0,
      nBits = 24, real00 = -123.5f, xs = xs, centre = 98,
      refTime = (1995, 1, 2, 6, 30))
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.centre == 98 && m.paramNumber == 5 && m.refTime == "1995-01-02T06:30")
    assert(m.gridTemplate == 50 && m.nPoints == 20 && m.ni == -1 && m.nj == -1)
    assert(vs(0) == -123.5f.toDouble)
    assert(vs.drop(1).toSeq == xs.map(2048.0 + _ * 0.25).toSeq)
    // the writer's bytes parse alongside the independent hand-built
    // layouts in one archive; the inventory keeps cataloging
    assert(GribMeta.decode(enc ++ grib2() ++ grib2Spectral(0f, 0, 0, 8,
      0f, Seq(1L, 2L, 3L, 4L, 5L))).map(_.gridTemplate) == Seq(50, 0, 50))
    // writer refuses a coefficient count off the pentagonal arithmetic
    intercept[IllegalArgumentException] {
      GribMeta.encodeSpectral(3, 0, 0, 0f, 0, 0, 8, 0f,
        Array.fill(12)(1L)) // T-3 needs 19 packed codes, not 12
    }
  }

  test("spectral refusals by name: 5.51 Laplacian sub-truncation, " +
      "bitmapped spectral, truncated section 5") {
    val e51 = intercept[IllegalArgumentException] {
      GribMeta.values(grib2Spectral(0f, 0, 0, 8, 0f,
        Seq(1L, 2L, 3L, 4L, 5L), drTpl = 51))
    }
    assert(e51.getMessage.contains("5.51") &&
      e51.getMessage.contains("Laplacian"), e51.getMessage)
    val eBm = intercept[IllegalArgumentException] {
      GribMeta.values(grib2Spectral(0f, 0, 0, 8, 0f,
        Seq(1L, 2L, 3L, 4L, 5L), withBitmap = true))
    }
    assert(eBm.getMessage.contains("bitmap"), eBm.getMessage)
    // a 5.50 §5 cut to the 5.0 length (20 octets) has no octets 21-24
    // to carry the (0,0) real part — refuse, never read past the section
    val eTr = intercept[IllegalArgumentException] {
      GribMeta.values(grib2Spectral(0f, 0, 0, 8, 0f,
        Seq(1L, 2L, 3L, 4L, 5L), sec5Len = 20))
    }
    assert(eTr.getMessage.contains("< 24"), eTr.getMessage)
  }

  /** Hand-built GRIB1 SPHERICAL-HARMONIC message from the WMO GRIB1
    * section tables — independent of [[GribMeta.encodeG1Spectral]]:
    * type-50 GDS (J=K=M, representation type/mode octets 13-14), BDS
    * flags nibble 8, the (0,0) real part as IBM-32 in octets 12-15,
    * remaining codes simple-packed from octet 16. */
  private def grib1Spectral(j: Int, e: Int, rIbm: Long, nBits: Int,
      real00Ibm: Long, codes: Seq[Long], d: Int = 0, flags: Int = 0x80,
      mode: Int = 1): Array[Byte] = {
    def sm16(v: Int): Int = if (v < 0) 0x8000 | -v else v
    val dataBits = codes.size * nBits
    val rawLen = 11 + 4 + (dataBits + 7) / 8
    val bdsLen = rawLen + (rawLen & 1)
    val unused = (8 - dataBits % 8) % 8 + 8 * (bdsLen - rawLen)
    val total = 8 + 28 + 32 + bdsLen + 4
    val b = java.nio.ByteBuffer.allocate(total)
    b.put("GRIB".getBytes("US-ASCII"))
    b.put((total >> 16).toByte).put((total >> 8).toByte).put(total.toByte)
    b.put(1.toByte)
    // PDS (28): GDS present, no BMS, D in octets 27-28
    b.put(0.toByte).put(0.toByte).put(28.toByte)
    b.put(128.toByte).put(98.toByte).put(1.toByte).put(255.toByte)
    b.put(0x80.toByte).put(61.toByte)
    b.put(1.toByte).putShort(0)
    b.put(24.toByte).put(6.toByte).put(1.toByte)
    b.put(12.toByte).put(0.toByte)
    (18 to 24).foreach(_ => b.put(0.toByte))
    b.put(21.toByte).put(0.toByte)
    b.putShort(sm16(d).toShort)
    // GDS (32): type 50, J/K/M octets 7-12, type/mode octets 13-14
    b.put(0.toByte).put(0.toByte).put(32.toByte)
    b.put(0.toByte).put(255.toByte).put(50.toByte)
    b.putShort(j.toShort).putShort(j.toShort).putShort(j.toShort)
    b.put(1.toByte).put(mode.toByte)
    (15 to 32).foreach(_ => b.put(0.toByte))
    // BDS: flags nibble | unused, E, R, nBits, real00, packed codes
    b.put((bdsLen >> 16).toByte).put((bdsLen >> 8).toByte).put(bdsLen.toByte)
    b.put((flags | unused).toByte)
    b.putShort(sm16(e).toShort)
    b.putInt(rIbm.toInt)
    b.put(nBits.toByte)
    b.putInt(real00Ibm.toInt)
    var acc = 0L; var nb = 0
    codes.foreach { x =>
      acc = (acc << nBits) | x; nb += nBits
      while (nb >= 8) { b.put((acc >> (nb - 8)).toByte); nb -= 8 }
    }
    if (nb > 0) b.put((acc << (8 - nb)).toByte)
    while (b.position() < total - 4) b.put(0.toByte)
    b.put("7777".getBytes("US-ASCII"))
    b.array()
  }

  test("GRIB1 spherical-harmonic simple packing decodes the hand-built " +
      "fixture: IBM-32 (0,0) real part, scaled remaining coefficients") {
    // T-1 → 6 coefficients; R=0, E=1 (×2); real00 = -2.5 as IBM
    // (sign 1, A=65, M=2621440 — the grib1Simple test's pinned value)
    val real00 = (1L << 31) | (65L << 24) | 2621440L
    val m = grib1Spectral(1, 1, 0L, 8, real00, Seq(0L, 1L, 5L, 200L, 255L))
    val Seq((msg, vs)) = GribMeta.values(m)
    assert(msg.edition == 1 && msg.gridTemplate == 50 && msg.nPoints == 6)
    assert(vs.length == 6 && vs(0) == -2.5)
    assert(vs.drop(1).toSeq == Seq(0.0, 2.0, 10.0, 400.0, 510.0))
    // the inventory walk derives the triangular coefficient count
    assert(GribMeta.decode(m).head.nPoints == 6)
  }

  test("encodeG1Spectral round-trips; GRIB1 spectral refusals by name: " +
      "GRIBEX complex, nonzero D, lat/lon GDS, mode 2") {
    val xs = Array.tabulate(19)(i => (i.toLong * ((1L << 24) - 1) / 18))
    val enc = GribMeta.encodeG1Spectral(truncation = 3, paramNumber = 5,
      refValue = 2048.0, binScale = -2, nBits = 24, real00 = -2.5,
      xs = xs, centre = 98, refTime = (1995, 1, 2, 6, 30))
    val Seq((m, vs)) = GribMeta.values(enc)
    assert(m.centre == 98 && m.paramNumber == 5 && m.gridTemplate == 50)
    assert(m.nPoints == 20 && vs(0) == -2.5)
    assert(vs.drop(1).toSeq == xs.map(2048.0 + _ * 0.25).toSeq)
    // mixed-edition archive with both spectral editions walks
    assert(GribMeta.decode(enc ++ grib2()).map(_.edition) == Seq(1, 2))
    def refuses(bytes: Array[Byte], want: String): Unit = {
      val e = intercept[IllegalArgumentException] { GribMeta.values(bytes) }
      assert(e.getMessage.contains(want), e.getMessage)
    }
    val r00 = (1L << 31) | (65L << 24) | 2621440L
    // complex spectral = GRIBEX sub-truncation, refuse by name
    refuses(grib1Spectral(1, 0, 0L, 8, r00, Seq(1L, 2L, 3L, 4L, 5L),
      flags = 0xC0), "GRIBEX")
    // nonzero decimal scale: the (0,0)/D interaction is convention-
    // dependent — refuse by name
    refuses(grib1Spectral(1, 0, 0L, 8, r00, Seq(1L, 2L, 3L, 4L, 5L),
      d = 1), "decimal scale")
    // spectral flags over a lat/lon GDS: coefficient count unknowable
    refuses(grib1Simple(0, 0, 0, 0, 0, 8, Seq(1L), None, 1, 1,
      bdsFlags = 0x80), "spherical-harmonic GDS")
    // sub-truncated representation mode 2: nPoints underivable
    refuses(grib1Spectral(1, 0, 0L, 8, r00, Seq(1L, 2L, 3L, 4L, 5L),
      mode = 2), "mode 2")
    // GRID-POINT flags over a spectral GDS are contradictory — the
    // simple-unpack loop must never read a spectral-layout BDS as
    // pixel codes now that a type-50 GDS derives nPoints (r14
    // late-wave review: this was a silent-garbage regression)
    refuses(grib1Spectral(1, 0, 0L, 8, r00, Seq(1L, 2L, 3L, 4L, 5L),
      flags = 0x00), "contradictory")
  }

  test("scan inventories an archive directory task-side") {
    val dir = java.nio.file.Files.createTempDirectory("graft_grib").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.grib2"),
      grib2() ++ grib2())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.grib"), grib1())
    val rows = GribMeta.scan(spark, s"$dir/*.grib*").collect()
    assert(rows.length == 3, rows.mkString(";"))
    val byFile = rows.groupBy(_.getString(0).split('/').last)
    assert(byFile("a.grib2").map(_.getInt(1)).sorted.sameElements(Array(0, 1)))
    assert(byFile("b.grib").head.getInt(2) == 1) // edition
    assert(rows.forall(_.getString(8).startsWith("2024-06-01")), rows.mkString(";"))
  }
}

package graft

import graft.sources.Hdf
import graft.sources.Hdf.SdsSpec
import org.apache.spark.sql.functions._

/** Clean-room HDF4 codec + HdfGridSource DSv2 — the NetCdfSpec bar: an
  * INDEPENDENT hand-built byte fixture (laid out straight from the
  * public HDF spec's DD/NDG/SDD/NT record layouts, not via our
  * encoder), round-trips across types and coders, loud refusals for
  * every storage form outside the documented boundary, and the
  * per-(file × SDS) pruned DSv2 scan. */
class HdfSpec extends SparkSpec {

  /** A minimal HDF4 file laid out BY HAND from the public spec: one
    * int16 SDS "ndvi" of dims 2×3 with fill −3000, stored
    * uncompressed. Independent of Hdf.encode — the
    * cross-implementation fixture. */
  private def handBuilt(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(0x0e031301) // magic
    // single DD block: 6 descriptors (NT, SDD, SDL, FV, SD, NDG)
    bb.putShort(6).putInt(0)
    val ddAt = bb.position()
    (0 until 6).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
    def dd(slot: Int, tag: Int, ref: Int, off: Int, len: Int): Unit = {
      bb.putShort(ddAt + slot * 12, tag.toShort)
      bb.putShort(ddAt + slot * 12 + 2, ref.toShort)
      bb.putInt(ddAt + slot * 12 + 4, off)
      bb.putInt(ddAt + slot * 12 + 8, len)
    }
    // NT ref=7: version 1, DFNT_INT16 (22), 16 bits, class 0
    val ntOff = bb.position()
    bb.put(1.toByte).put(22.toByte).put(16.toByte).put(0.toByte)
    dd(0, 106, 7, ntOff, 4)
    // SDD ref=7: rank 2, dims (2, 3), data NT pair, 2 scale NT pairs
    val sddOff = bb.position()
    bb.putShort(2).putInt(2).putInt(3)
    bb.putShort(106).putShort(7) // data NT
    bb.putShort(106).putShort(7).putShort(106).putShort(7) // scale NTs
    dd(1, 701, 7, sddOff, bb.position() - sddOff)
    // SDL ref=7: "ndvi\0"
    val sdlOff = bb.position()
    bb.put("ndvi".getBytes("US-ASCII")).put(0.toByte)
    dd(2, 704, 7, sdlOff, 5)
    // FV ref=7: int16 -3000
    val fvOff = bb.position()
    bb.putShort((-3000).toShort)
    dd(3, 732, 7, fvOff, 2)
    // SD ref=7: 6 int16 values row-major, one fill
    val sdOff = bb.position()
    Seq(100, 200, -3000, 400, 500, 600).foreach(v => bb.putShort(v.toShort))
    dd(4, 702, 7, sdOff, 12)
    // NDG ref=7: member (tag, ref) pairs
    val ndgOff = bb.position()
    Seq(106, 701, 704, 732, 702).foreach { t =>
      bb.putShort(t.toShort); bb.putShort(7)
    }
    dd(5, 720, 7, ndgOff, 20)
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("hand-built file decodes: DD walk, SDD dims, NT, fill, grid cells") {
    val f = Hdf.decode(handBuilt())
    assert(f.sds.map(_.name) == Seq("ndvi"))
    val s = f.sdsNamed("ndvi")
    assert(s.dims == Seq(2, 3) && s.ntype == Hdf.Int16)
    assert(s.fill.contains(-3000.0))
    assert(Hdf.read(f, "ndvi").toSeq ==
      Seq(100.0, 200.0, -3000.0, 400.0, 500.0, 600.0))
    val cells = Hdf.gridCells(f, "ndvi").toSeq
    assert(cells.size == 6)
    assert(cells.find(c => c.x == 2 && c.y == 0).get.value.isNaN, "fill → NaN")
    assert(cells.find(c => c.x == 1 && c.y == 1).get.value == 500.0)
  }

  test("round-trip: every numeric type, multiple SDS, none/rle/deflate coders") {
    val specs = Seq(
      SdsSpec("i8", Seq(2, 2), Hdf.Int8, Array(-128, -1, 0, 127).map(_.toDouble)),
      SdsSpec("u8", Seq(2, 2), Hdf.UInt8, Array(0, 1, 128, 255).map(_.toDouble)),
      SdsSpec("i16", Seq(2, 2), Hdf.Int16,
        Array(-32768, -1, 0, 32767).map(_.toDouble), comp = "rle"),
      SdsSpec("u16", Seq(2, 2), Hdf.UInt16,
        Array(0, 1, 40000, 65535).map(_.toDouble), comp = "deflate"),
      SdsSpec("i32", Seq(2, 2), Hdf.Int32,
        Array(Int.MinValue, -1, 0, Int.MaxValue).map(_.toDouble)),
      SdsSpec("u32", Seq(2, 2), Hdf.UInt32,
        Array(0.0, 1.0, 3e9, 4294967295.0), comp = "deflate"),
      SdsSpec("f32", Seq(2, 2), Hdf.Float32,
        Array(-1.5, 0.0, 2.25, 1e30f.toDouble), comp = "rle"),
      SdsSpec("f64", Seq(2, 2), Hdf.Float64,
        Array(-1.5e-200, 0.0, math.Pi, 1e300)))
    val f = Hdf.decode(Hdf.encode(specs))
    assert(f.sds.map(_.name) == specs.map(_.name))
    specs.foreach { s =>
      assert(Hdf.read(f, s.name).toSeq == s.values.toSeq, s.name)
    }
    // calibration + fill metadata survive the cycle
    val cal = Hdf.decode(Hdf.encode(Seq(SdsSpec("v", Seq(1, 2), Hdf.Int16,
      Array(10, 20).map(_.toDouble), fill = Some(-9.0),
      calScale = Some(0.0001), calOffset = Some(5.0)))))
    val sv = cal.sdsNamed("v")
    assert(sv.fill.contains(-9.0) && sv.calScale.contains(0.0001) &&
      sv.calOffset.contains(5.0))
  }

  test("HDF byte-run RLE: repeat runs, literal stretches, 130-cap, round-trip") {
    def rt(bytes: Array[Byte]): Unit = {
      val enc = Hdf.rleEncode(bytes)
      assert(Hdf.rleDecode(enc, bytes.length).toSeq == bytes.toSeq)
    }
    rt(Array.fill[Byte](500)(7)) // one long run → split at 130
    rt(Array.tabulate[Byte](300)(i => (i % 251).toByte)) // all literals
    rt(Array[Byte](1, 1, 1, 2, 3, 3, 3, 3, 4, 5)) // mixed
    rt(Array.empty[Byte])
    rt(Array[Byte](9))
    // decoding control semantics directly (spec: <0x80 literal n+1,
    // ≥0x80 repeat (c&0x7f)+3)
    assert(Hdf.rleDecode(Array[Byte](0x82.toByte, 5), 5).toSeq ==
      Seq[Byte](5, 5, 5, 5, 5))
    assert(Hdf.rleDecode(Array[Byte](2, 10, 11, 12), 3).toSeq ==
      Seq[Byte](10, 11, 12))
    // a 500-run: encoded as 130+130+130+110 repeats = 8 bytes
    assert(Hdf.rleEncode(Array.fill[Byte](500)(7)).length == 8)
  }

  test("refusals: truncated chunked record, linked, external, unsupported coders, CHAR, bad magic") {
    intercept[IllegalArgumentException] { Hdf.decode("nothdf bytes".getBytes) }
    // helper: a valid file whose data element is an extended-tag
    // special header with the given leading bytes
    def special(hdr: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(256)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.putInt(0x0e031301)
      bb.putShort(4).putInt(0)
      val ddAt = bb.position()
      (0 until 4).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
      def dd(slot: Int, tag: Int, off: Int, len: Int): Unit = {
        bb.putShort(ddAt + slot * 12, tag.toShort)
        bb.putShort(ddAt + slot * 12 + 2, 1.toShort)
        bb.putInt(ddAt + slot * 12 + 4, off)
        bb.putInt(ddAt + slot * 12 + 8, len)
      }
      val ntOff = bb.position(); bb.put(Array[Byte](1, 22, 16, 0))
      dd(0, 106, ntOff, 4)
      val sddOff = bb.position()
      bb.putShort(2).putInt(1).putInt(1)
      bb.putShort(106).putShort(1); bb.putShort(106).putShort(1)
      bb.putShort(106).putShort(1)
      dd(1, 701, sddOff, bb.position() - sddOff)
      val spOff = bb.position(); bb.put(hdr)
      dd(2, 702 | 0x4000, spOff, hdr.length)
      val ndgOff = bb.position()
      Seq(106, 701, 702 | 0x4000).foreach { t =>
        bb.putShort(t.toShort); bb.putShort(1)
      }
      dd(3, 720, ndgOff, 12)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    def hdr16(vals: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vals.size * 2)
      vals.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def refuse(bytes: Array[Byte], want: String): Unit = {
      val f = Hdf.decode(bytes) // the DD WALK must still inventory it
      assert(f.sds.size == 1)
      val e = intercept[IllegalArgumentException] { Hdf.read(f, f.sds.head.name) }
      assert(e.getMessage.toLowerCase.contains(want), e.getMessage)
    }
    refuse(special(hdr16(6, 0, 0, 0, 0, 0, 0)), "chunked")
    refuse(special(hdr16(1, 0, 0, 0)), "linked")
    refuse(special(hdr16(2, 0, 0, 0)), "truncated ext header")
    // COMP with unsupported coders: header = code, version, len32(2),
    // ref, model, coder
    def compHdr(coder: Int) = special(hdr16(3, 0, 0, 2, 1, 0, coder))
    refuse(compHdr(Hdf.CompNBit), "n-bit")
    refuse(compHdr(Hdf.CompSkpHuff), "huffman")
    refuse(compHdr(9), "coder 9") // unknown coders still refuse (7 =
                                  // JPEG decodes as of r15)
    // szip with a header too short for its coder info refuses by name
    refuse(compHdr(Hdf.CompSzip), "truncated szip coder info")
    // CHAR data type on the numeric path
    val chars = handBuilt()
    // patch the NT record's type byte (offset of NT = first element
    // after the 6-descriptor DD block: 4 + 6 + 72 = 82; type at +1)
    chars(83) = 4 // DFNT_CHAR8
    val e = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(chars), "ndvi")
    }
    assert(e.getMessage.contains("CHAR"), e.getMessage)
    // truncated file: DD points past the end
    val cut = java.util.Arrays.copyOf(handBuilt(), 60)
    intercept[IllegalArgumentException] { Hdf.decode(cut) }
    // unknown SDS name lists what exists
    assert(intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(handBuilt()), "nope")
    }.getMessage.contains("ndvi"))
  }

  /** Hand-built minimal HDF4 file from the spec's record tables —
    * independent of [[Hdf.encode]]'s layout arithmetic: magic, one DD
    * block (NT + SDD + special data element + optional payload + NDG),
    * Int16 data, rank-2 dims. `payload`, when given, lands under the
    * given tag with ref 2. */
  private def handSpecial(dims: (Int, Int), spHdr: Array[Byte],
      payload: Option[(Int, Array[Byte])] = None): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8192)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    val nDD = 4 + payload.size
    bb.putInt(0x0e031301)
    bb.putShort(nDD.toShort).putInt(0)
    val ddAt = bb.position()
    (0 until nDD).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
    def dd(slot: Int, tag: Int, ref: Int, off: Int, len: Int): Unit = {
      bb.putShort(ddAt + slot * 12, tag.toShort)
      bb.putShort(ddAt + slot * 12 + 2, ref.toShort)
      bb.putInt(ddAt + slot * 12 + 4, off)
      bb.putInt(ddAt + slot * 12 + 8, len)
    }
    val ntOff = bb.position(); bb.put(Array[Byte](1, 22, 16, 0)) // Int16
    dd(0, 106, 1, ntOff, 4)
    val sddOff = bb.position()
    bb.putShort(2).putInt(dims._1).putInt(dims._2)
    bb.putShort(106).putShort(1); bb.putShort(106).putShort(1)
    bb.putShort(106).putShort(1)
    dd(1, 701, 1, sddOff, bb.position() - sddOff)
    val spOff = bb.position(); bb.put(spHdr)
    dd(2, 702 | 0x4000, 1, spOff, spHdr.length)
    payload.foreach { case (tag, bytesP) =>
      val pOff = bb.position(); bb.put(bytesP)
      dd(3, tag, 2, pOff, bytesP.length)
    }
    val ndgOff = bb.position()
    Seq(106, 701, 702 | 0x4000).foreach { t =>
      bb.putShort(t.toShort); bb.putShort(1)
    }
    dd(nDD - 1, 720, 1, ndgOff, 12)
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("N-bit coder (2) decodes the hand-built spec fixture: field " +
      "re-expansion, sign extension, fill-one; refusals by name") {
    import java.nio.{ByteBuffer, ByteOrder}
    // COMP header (14B) + N-bit info `nt sign fill start len` (20B)
    def nbitHdr(uncompLen: Int, sign: Int, fill: Int, start: Int,
        len: Int, nt: Int = 22): Array[Byte] = {
      val h = ByteBuffer.allocate(34).order(ByteOrder.BIG_ENDIAN)
      h.putShort(3).putShort(0).putInt(uncompLen).putShort(2).putShort(0)
      h.putShort(Hdf.CompNBit.toShort)
      h.putInt(nt).putInt(sign).putInt(fill).putInt(start).putInt(len)
      h.array()
    }
    // field bits [10..5] of Int16, 4 values 43,1,63,0 hand-packed
    // MSB-first: 101011 000001 111111 000000 → 0xAC 0x1F 0xC0;
    // decoded full values are code<<5
    val plain = handSpecial((1, 4), nbitHdr(8, 0, 0, 10, 6),
      Some((Hdf.TagCompressed, Array(0xAC, 0x1F, 0xC0).map(_.toByte))))
    assert(Hdf.read(Hdf.decode(plain), "sds_1").toSeq ==
      Seq(1376.0, 32.0, 2016.0, 0.0))
    // sign extension: code 100000 (top bit set) → bits 11..15 fill →
    // 0xFC00 = −1024 as Int16; code 000001 → 32. Packed: 0x80 0x10
    val signed = handSpecial((1, 2), nbitHdr(4, 1, 0, 10, 6),
      Some((Hdf.TagCompressed, Array(0x80, 0x10).map(_.toByte))))
    assert(Hdf.read(Hdf.decode(signed), "sds_1").toSeq == Seq(-1024.0, 32.0))
    // fill-one: code 000001 → 0x0020 | ~0x07E0 = 0xF83F = −1985
    val filled = handSpecial((1, 1), nbitHdr(2, 0, 1, 10, 6),
      Some((Hdf.TagCompressed, Array(0x04).map(_.toByte))))
    assert(Hdf.read(Hdf.decode(filled), "sds_1").toSeq == Seq(-1985.0))
    // refusals: float type, both flags, geometry off the element
    def refuseNbit(hdr: Array[Byte], want: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Hdf.read(Hdf.decode(handSpecial((1, 1), hdr,
          Some((Hdf.TagCompressed, Array[Byte](0))))), "sds_1")
      }
      assert(e.getMessage.contains(want), e.getMessage)
    }
    refuseNbit(nbitHdr(2, 0, 0, 10, 6, nt = 5), "float")
    refuseNbit(nbitHdr(2, 1, 1, 10, 6), "BOTH")
    refuseNbit(nbitHdr(2, 0, 0, 16, 6), "off the 2-byte element")
    refuseNbit(nbitHdr(2, 0, 0, 3, 6), "off the 2-byte element")
  }

  test("rank-0 SDD refuses by name at decode — empty dims must never " +
      "reach the dims.last/product consumers as an unnamed crash") {
    val bytes = handBuilt()
    // the hand-built fixture's SDD rank short sits right after the
    // record's start; locate it by the known layout: SDD payload
    // begins with putShort(rank=2)
    val sddRank = bytes.indexOfSlice(Array[Byte](0, 2, 0, 0, 0, 2, 0, 0, 0, 3))
    assert(sddRank >= 0, "SDD rank field not found in fixture")
    val patched = bytes.clone()
    patched(sddRank + 1) = 0 // rank 2 → 0
    val e = intercept[IllegalArgumentException] { Hdf.decode(patched) }
    assert(e.getMessage.contains("rank 0 out of range"), e.getMessage)
  }

  test("skipping-Huffman coder (3): splay codec invariants, hand-built " +
      "fixture, writer round-trip, refusals by name") {
    import graft.sources.SkpHuff
    // fresh-tree identity: the balanced initial tree codes byte v as
    // its own 8 bits (leaf 256+v spelled below the leading 1), so the
    // FIRST symbol of every tree passes through verbatim — a
    // hand-computable anchor for the whole convention set
    for (v <- Seq(0x00, 0x01, 0x7f, 0x80, 0xAB, 0xff))
      assert(SkpHuff.encode(Array(v.toByte), 1).toSeq == Seq(v.toByte),
        s"first-code identity failed for $v")
    // with skip size 2 the SECOND byte hits its OWN fresh tree: a
    // 2-byte element compresses to exactly itself
    assert(SkpHuff.encode(Array(0x01, 0x02).map(_.toByte), 2).toSeq ==
      Seq(0x01.toByte, 0x02.toByte))
    // adaptation: splaying pulls a repeated symbol toward the root —
    // a 100-byte run codes far under its plain size
    val run = Array.fill(100)(7.toByte)
    val packedRun = SkpHuff.encode(run, 1)
    assert(packedRun.length < 50, s"${packedRun.length} bytes for 100-run")
    assert(SkpHuff.decode("t", packedRun, 100, 1).toSeq == run.toSeq)
    // random round-trip across skip sizes (the kernel under the
    // writer; CodecPropertySpec exercises the full SDS path)
    val rnd = new scala.util.Random(0x5111)
    for (skp <- Seq(1, 2, 4, 8); _ <- 0 until 5) {
      val data = Array.fill(1 + rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val back = SkpHuff.decode("t", SkpHuff.encode(data, skp), data.length, skp)
      assert(back.toSeq == data.toSeq, s"skp=$skp")
    }
    // hand-built COMP fixture: one Int16 element 0x0102 under a
    // 22-byte skphuff header (skp_size 2) — by the fresh-tree
    // identity its payload is literally 0x01 0x02
    def skpHdr(uncompLen: Int, skp: Int): Array[Byte] = {
      val h = java.nio.ByteBuffer.allocate(22)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      h.putShort(3).putShort(0).putInt(uncompLen).putShort(2).putShort(0)
      h.putShort(Hdf.CompSkpHuff.toShort)
      h.putInt(skp).putInt(0) // skp_size, comp size (informational)
      h.array()
    }
    val plain = handSpecial((1, 1), skpHdr(2, 2),
      Some((Hdf.TagCompressed, Array(0x01, 0x02).map(_.toByte))))
    assert(Hdf.read(Hdf.decode(plain), "sds_1").toSeq == Seq(258.0))
    // writer round-trip, contiguous AND chunked, with adversarial
    // (incompressible) data
    val vals = Array.tabulate(64)(i => ((i * 131) % 4099 - 2048).toDouble)
    val enc = Hdf.encode(Seq(
      Hdf.SdsSpec("s", Seq(8, 8), 22, vals, comp = "skphuff"),
      Hdf.SdsSpec("sc", Seq(8, 8), 24, vals, comp = "skphuff",
        chunkDims = Some(Seq(3, 5)))))
    val f = Hdf.decode(enc)
    assert(Hdf.read(f, "s").toSeq == vals.toSeq)
    assert(Hdf.read(f, "sc").toSeq == vals.toSeq)
    // refusals by name: truncated payload, out-of-range skip size
    val eTrunc = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(handSpecial((1, 2), skpHdr(4, 2),
        Some((Hdf.TagCompressed, Array(0x01.toByte))))), "sds_1")
    }
    assert(eTrunc.getMessage.contains("exhausted"), eTrunc.getMessage)
    val eSkp = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(handSpecial((1, 1), skpHdr(2, 0),
        Some((Hdf.TagCompressed, Array(0x01, 0x02).map(_.toByte))))), "sds_1")
    }
    assert(eSkp.getMessage.contains("skip size"), eSkp.getMessage)
  }

  test("JPEG coder (7) decodes via ImageIO: constant blocks exact, " +
      "gradient within tolerance, refusals by name") {
    // constant uint8 grid: DC-only JPEG blocks decode EXACTLY, so the
    // lossy format still yields a bit-exact writer round-trip
    val const = Array.fill(64)(137.0)
    val encC = Hdf.encode(Seq(
      Hdf.SdsSpec("c", Seq(8, 8), Hdf.UInt8, const, comp = "jpeg")))
    assert(Hdf.read(Hdf.decode(encC), "c").toSeq == const.toSeq)
    // smooth gradient at max quality decodes within a small tolerance
    // (JPEG is lossy by format — reading a published stream is still
    // deterministic, which is what the decode contract needs)
    val grad = Array.tabulate(256)(i => ((i / 16) * 8 + 60).toDouble)
    val encG = Hdf.encode(Seq(
      Hdf.SdsSpec("g", Seq(16, 16), Hdf.UInt8, grad, comp = "jpeg")))
    val back = Hdf.read(Hdf.decode(encG), "g")
    assert(back.length == 256)
    grad.zip(back).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 4.0, s"$a vs $b")
    }
    // hand-built refusal fixtures under a 22-byte JPEG COMP header
    def jpegHdr(uncompLen: Int): Array[Byte] = {
      val h = java.nio.ByteBuffer.allocate(22)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      h.putShort(3).putShort(0).putInt(uncompLen).putShort(2).putShort(0)
      h.putShort(Hdf.CompJpeg.toShort)
      h.putInt(100).putInt(1) // quality, force_baseline
      h.array()
    }
    def jpegOf(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    def refuseJpeg(dims: (Int, Int), uncompLen: Int,
        payload: Array[Byte], want: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Hdf.read(Hdf.decode(handSpecial(dims, jpegHdr(uncompLen),
          Some((Hdf.TagCompressed, payload)))), "sds_1")
      }
      assert(e.getMessage.contains(want), e.getMessage)
    }
    // color JPEG: no defined numeric-element mapping — refuse by name
    // (32×2 so the dimension gates pass and the band gate is what fires)
    val rgb = new java.awt.image.BufferedImage(32, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    refuseJpeg((1, 32), 64, jpegOf(rgb), "band")
    // pixel count off the element's byte count (width matches)
    val gray16 = new java.awt.image.BufferedImage(16, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    refuseJpeg((1, 16), 32, jpegOf(gray16), "carries 64 pixels")
    // width off the fastest-varying dim: a re-shaped image would
    // silently reorder the grid — refuse by name
    val gray8 = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    refuseJpeg((1, 32), 64, jpegOf(gray8), "fastest-varying")
    // not a JPEG stream at all
    refuseJpeg((1, 16), 32, "definitely not a jpeg".getBytes("US-ASCII"),
      "decodable JPEG")
    // a DIFFERENT ImageIO-decodable format fitting every shape gate
    // (grayscale PNG, right width and pixel count) still refuses by
    // format name — content-matched readers must not smuggle non-JPEG
    // streams through the JPEG coder (r15 review)
    val pngGray = new java.awt.image.BufferedImage(16, 2,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val pngBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(pngGray, "png", bos)
      bos.toByteArray
    }
    refuseJpeg((1, 16), 32, pngBytes, "not JPEG")
    // writer-side contracts: 1-byte types only, contiguous only
    val e1 = intercept[IllegalArgumentException] {
      Hdf.encode(Seq(Hdf.SdsSpec("x", Seq(2, 2), Hdf.Int16,
        Array.fill(4)(1.0), comp = "jpeg")))
    }
    assert(e1.getMessage.contains("1-byte"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Hdf.encode(Seq(Hdf.SdsSpec("x", Seq(4, 4), Hdf.UInt8,
        Array.fill(16)(1.0), comp = "jpeg", chunkDims = Some(Seq(2, 2)))))
    }
    assert(e2.getMessage.contains("contiguous"), e2.getMessage)
  }

  test("external elements (special 2) read their sibling file through " +
      "the resolver; byte-level decode and off-shape records refuse") {
    import java.nio.{ByteBuffer, ByteOrder}
    import java.nio.file.{Files, Paths}
    // EXT header: code(2) length(4) offset(4) name_len(4) name —
    // Int16 (1,3) grid = 6 data bytes at offset 4 of 'ext.dat'
    def extHdr(length: Int, offset: Int, name: String): Array[Byte] = {
      val nb = name.getBytes("US-ASCII")
      val h = ByteBuffer.allocate(14 + nb.length).order(ByteOrder.BIG_ENDIAN)
      h.putShort(2).putInt(length).putInt(offset).putInt(nb.length).put(nb)
      h.array()
    }
    val main = handSpecial((1, 3), extHdr(6, 4, "ext.dat"))
    val dir = Files.createTempDirectory("graft_hdf_ext")
    val data = ByteBuffer.allocate(10).order(ByteOrder.BIG_ENDIAN)
    data.putInt(0xDEADBEEF) // 4 junk bytes the offset skips
    Seq(1200, -7, 31000).foreach(v => data.putShort(v.toShort))
    Files.write(dir.resolve("ext.dat"), data.array())
    Files.write(dir.resolve("main.hdf"), main)
    val mainPath = dir.resolve("main.hdf").toString
    val f = Hdf.decode(Files.readAllBytes(Paths.get(mainPath)))
    assert(Hdf.read(f, "sds_1", Hdf.siblingResolver(mainPath)).toSeq ==
      Seq(1200.0, -7.0, 31000.0))
    // byte-level decode without a resolver refuses by name
    val eNo = intercept[IllegalArgumentException] { Hdf.read(f, "sds_1") }
    assert(eNo.getMessage.contains("no resolver"), eNo.getMessage)
    // a length field disagreeing with dims×width refuses (field-order
    // / corruption cross-check)
    val bad = Hdf.decode(handSpecial((1, 3), extHdr(8, 4, "ext.dat")))
    val eLen = intercept[IllegalArgumentException] {
      Hdf.read(bad, "sds_1", Hdf.siblingResolver(mainPath))
    }
    assert(eLen.getMessage.contains("field order"), eLen.getMessage)
    // missing sibling, absolute name, slice past the sibling
    def refuses(hdr: Array[Byte], want: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Hdf.read(Hdf.decode(handSpecial((1, 3), hdr)), "sds_1",
          Hdf.siblingResolver(mainPath))
      }
      assert(e.getMessage.contains(want), e.getMessage)
    }
    refuses(extHdr(6, 4, "nope.dat"), "missing")
    refuses(extHdr(6, 4, "/etc/x.dat"), "absolute")
    refuses(extHdr(6, 8, "ext.dat"), "past sibling")
    // the distributed read path resolves siblings task-side
    val rows = spark.read.format("graft.sources.HdfGridSource")
      .option("path", mainPath).option("sds", "sds_1").load().collect()
    assert(rows.map(r => (r.getInt(2), r.getInt(3), r.getDouble(4))).sorted
      .toSeq == Seq((0, 0, 1200.0), (1, 0, -7.0), (2, 0, 31000.0)))
  }

  test("SZIP-compressed SDS decodes through the clean-room CCSDS 121 " +
      "codec (coder 5, big-endian coder info, DFTAG_COMPRESSED payload)") {
    // hand-built per the HDF spec's SPECIAL_COMP layout: header
    // `code(2)=3 version(2) uncomp_len(4) ref(2) model(2) coder(2)=5`
    // + szip info `pixels(4) pps(4) options(4) bpp(4) ppb(4)`; the
    // payload (forward-compressed BY THIS SPEC via Szip.compress, the
    // deflate-fixture discipline) lives in DFTAG_COMPRESSED ref.
    val vals = Seq(1200, 1210, 1190, 1250, 1230, 1240)
    val raw = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    vals.foreach(v => raw.putShort(v.toShort))
    val opts = graft.sources.Szip.Nn | graft.sources.Szip.Msb
    val comp = graft.sources.Szip.compress(raw.array(), opts, 16, 8, 8)
    val bb = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(0x0e031301)
    bb.putShort(5).putInt(0)
    val ddAt = bb.position()
    (0 until 5).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
    def dd(slot: Int, tag: Int, off: Int, len: Int): Unit = {
      bb.putShort(ddAt + slot * 12, tag.toShort)
      bb.putShort(ddAt + slot * 12 + 2, 1.toShort)
      bb.putInt(ddAt + slot * 12 + 4, off)
      bb.putInt(ddAt + slot * 12 + 8, len)
    }
    val ntOff = bb.position(); bb.put(Array[Byte](1, 22, 16, 0)) // int16
    dd(0, 106, ntOff, 4)
    val sddOff = bb.position()
    bb.putShort(2).putInt(2).putInt(3) // rank 2, 2×3
    bb.putShort(106).putShort(1); bb.putShort(106).putShort(1)
    bb.putShort(106).putShort(1)
    dd(1, 701, sddOff, bb.position() - sddOff)
    val spOff = bb.position()
    bb.putShort(3).putShort(0) // SPECIAL_COMP, version
    bb.putInt(12) // uncompressed length
    bb.putShort(1).putShort(0).putShort(Hdf.CompSzip.toShort) // ref, model, coder
    bb.putInt(6).putInt(8).putInt(opts).putInt(16).putInt(8) // szip info
    dd(2, 702 | 0x4000, spOff, bb.position() - spOff)
    val payOff = bb.position(); bb.put(comp)
    dd(3, Hdf.TagCompressed, payOff, comp.length)
    val ndgOff = bb.position()
    Seq(106, 701, 702 | 0x4000).foreach { t =>
      bb.putShort(t.toShort); bb.putShort(1)
    }
    dd(4, 720, ndgOff, 12)
    val bytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    val f = Hdf.decode(bytes)
    assert(Hdf.read(f, f.sds.head.name).toSeq == vals.map(_.toDouble))
    // coder info disagreeing with the element length refuses loudly
    val bad = bytes.clone()
    bad(spOff + 14 + 3) = 9 // pixels = 9 ≠ uncompLen/2
    val e = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(bad), f.sds.head.name)
    }
    assert(e.getMessage.contains("pixels"), e.getMessage)
  }

  test("LINKED-block SDS reassembles across chained block tables " +
      "(first/rest block lengths, short last block, unallocated-slot " +
      "and truncated-chain refusals)") {
    // 2×3 int16 (12 bytes) as first_len 4 + two 4-byte blocks, block
    // tables holding 2 refs each → the chain spans TWO tables
    val vals = Seq(310, 320, 330, 410, 420, 430)
    val bb = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(0x0e031301)
    bb.putShort(9).putInt(0)
    val ddAt = bb.position()
    (0 until 9).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
    def dd(slot: Int, tag: Int, ref: Int, off: Int, len: Int): Unit = {
      bb.putShort(ddAt + slot * 12, tag.toShort)
      bb.putShort(ddAt + slot * 12 + 2, ref.toShort)
      bb.putInt(ddAt + slot * 12 + 4, off)
      bb.putInt(ddAt + slot * 12 + 8, len)
    }
    val ntOff = bb.position(); bb.put(Array[Byte](1, 22, 16, 0))
    dd(0, 106, 1, ntOff, 4)
    val sddOff = bb.position()
    bb.putShort(2).putInt(2).putInt(3)
    bb.putShort(106).putShort(1); bb.putShort(106).putShort(1)
    bb.putShort(106).putShort(1)
    dd(1, 701, 1, sddOff, bb.position() - sddOff)
    val spOff = bb.position()
    bb.putShort(Hdf.SpecialLinked.toShort)
    bb.putInt(12).putInt(4).putInt(4).putInt(2) // length, first, blk, per-table
    bb.putShort(10) // first table ref
    dd(2, 702 | 0x4000, 1, spOff, bb.position() - spOff)
    // data blocks (refs 20,21,22) then tables (refs 10,11)
    vals.grouped(2).zipWithIndex.foreach { case (pair, i) =>
      val off = bb.position()
      pair.foreach(v => bb.putShort(v.toShort))
      dd(3 + i, Hdf.TagLinked, 20 + i, off, 4)
    }
    val t1Off = bb.position()
    bb.putShort(11).putShort(20).putShort(21) // next=table 11, blocks 0-1
    dd(6, Hdf.TagLinked, 10, t1Off, 6)
    val t2Off = bb.position()
    bb.putShort(0).putShort(22).putShort(0) // last table, block 2 + empty slot
    dd(7, Hdf.TagLinked, 11, t2Off, 6)
    val ndgOff = bb.position()
    Seq(106, 701, 702 | 0x4000).foreach { t =>
      bb.putShort(t.toShort); bb.putShort(1)
    }
    dd(8, 720, 1, ndgOff, 12)
    val bytes = java.util.Arrays.copyOf(bb.array(), bb.position())
    val f = Hdf.decode(bytes)
    assert(Hdf.read(f, f.sds.head.name).toSeq == vals.map(_.toDouble))
    // an unallocated slot BEFORE the data runs out refuses by name
    val holed = bytes.clone()
    holed(t1Off + 4) = 0; holed(t1Off + 5) = 0 // table 1 slot 2 → ref 0
    val e1 = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(holed), f.sds.head.name)
    }
    assert(e1.getMessage.contains("unallocated"), e1.getMessage)
    // a chain that ends early refuses by name
    val cut = bytes.clone()
    cut(t1Off) = 0; cut(t1Off + 1) = 0 // table 1 says "last table"
    val e2 = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(cut), f.sds.head.name)
    }
    assert(e2.getMessage.contains("chain ends"), e2.getMessage)
  }

  test("HdfGridSource: per-(file x sds) splits, pruning, keepFill, loud corrupt") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdfdsv2").toString
    def tile(tag: Int): Array[Byte] = Hdf.encode(Seq(
      SdsSpec("ndvi", Seq(2, 3), Hdf.Int16,
        Array(1, 2, -3000, 4, 5, 6).map(v => (v * tag).toDouble)
          .map(v => if (v == -3000.0 * tag) -3000.0 else v),
        fill = Some(-3000.0), comp = "deflate"),
      SdsSpec("qa", Seq(2, 3), Hdf.UInt8,
        Array(0, 1, 2, 3, 4, 5).map(_.toDouble))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.hdf"), tile(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.hdf"), tile(2))
    val df = spark.read.format("graft.sources.HdfGridSource")
      .option("path", dir).load()
    // 2 files × 2 SDS = 4 splits
    assert(df.rdd.getNumPartitions == 4, s"${df.rdd.getNumPartitions}")
    // sds option narrows the planned splits
    val ndviOnly = spark.read.format("graft.sources.HdfGridSource")
      .option("path", dir).option("sds", "ndvi").load()
    assert(ndviOnly.rdd.getNumPartitions == 2)
    assert(ndviOnly.count() == 10) // 5 non-fill cells per file
    // sds/path FILTERS prune splits at planning, results stay exact
    val pruned = df.filter(col("sds") === "ndvi" && col("path").endsWith("a.hdf"))
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.select(sum("value")).first().getDouble(0) == 1 + 2 + 4 + 5 + 6)
    // column pruning reaches the source
    val scanLine = df.select("value").queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.matches(".*BatchScan[^\\[]*\\[value#\\d+\\].*"), scanLine)
    // keepFill surfaces fills as NULL rows
    val withFill = spark.read.format("graft.sources.HdfGridSource")
      .option("path", s"$dir/a.hdf").option("sds", "ndvi")
      .option("keepFill", "true").load()
    assert(withFill.count() == 6 &&
      withFill.filter(col("value").isNull).count() == 1)
    // a projection in another order than the schema's, path and value
    // included, reads the same cells as the full rows — fills kept as
    // NULL value or dropped
    for (keep <- Seq(false, true)) {
      val got = GridProjection.check(spark.read.format("graft.sources.HdfGridSource")
        .option("path", dir).option("keepFill", keep.toString).load(),
        Seq("value", "sds", "path", "y"))
      assert(got.length == (if (keep) 24 else 22) && got.exists(_.head == null) == keep)
    }
    // planner reads a bounded header prefix, never pixels
    val hdr = graft.sources.HdfGridSource.planningHeader(s"$dir/a.hdf")
    assert(hdr.sds.map(_.name) == Seq("ndvi", "qa"))
    // corrupt tile: one unprunable split, loud task failure even under
    // an sds predicate that matches nothing
    val bad = java.nio.file.Files.createTempDirectory("graft_hdfbad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$bad/bad.hdf"),
      "junk".getBytes)
    val badDf = spark.read.format("graft.sources.HdfGridSource")
      .option("path", bad).load().filter(col("sds") === "nothing")
    assert(badDf.rdd.getNumPartitions == 1)
    intercept[Exception] { badDf.count() }
    // the DSv2 rows match the codec decoded on the driver, fills dropped
    val codec = Seq("a.hdf", "b.hdf").flatMap { name =>
      val f = s"$dir/$name"
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      Hdf.gridCells(Hdf.decode(b), "ndvi", Hdf.memoizedSiblings(f))
        .filterNot(_.value.isNaN).map(c => (name, c.x, c.y, c.value))
    }.toSet
    val dsv2 = ndviOnly.collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(2), r.getInt(3),
        r.getDouble(4))).toSet
    assert(codec == dsv2)
  }

  test("HdfGridSource: wide products group SDS into maxSplitsPerFile splits, one file read each") {
    // a 10-layer product: default cap 8 → 8 splits; cap 3 → 3 splits;
    // rows identical either way (the WATCH item from the r10 verdict —
    // per-SDS splits re-read the whole file once per layer)
    val dir = java.nio.file.Files.createTempDirectory("graft_hdfwide").toString
    val wide = Hdf.encode((0 until 10).map(i =>
      SdsSpec(s"layer$i", Seq(2, 2), Hdf.Int16,
        Array(1, 2, 3, 4).map(v => (v + i * 10).toDouble))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/w.hdf"), wide)
    def load(cap: Option[Int]) = {
      val r = spark.read.format("graft.sources.HdfGridSource")
        .option("path", dir)
      cap.fold(r)(c => r.option("maxSplitsPerFile", c.toString)).load()
    }
    val byDefault = load(None)
    assert(byDefault.rdd.getNumPartitions == 8,
      s"${byDefault.rdd.getNumPartitions}")
    val capped = load(Some(3))
    assert(capped.rdd.getNumPartitions == 3)
    val all = capped.collect().map(r =>
      (r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toSet
    assert(all.size == 40)
    assert(all.contains(("layer7", 1, 1, 74.0)))
    assert(load(Some(3)).count() == load(None).count())
    // sds predicates still prune below the cap
    val one = load(Some(3)).filter(col("sds") === "layer4")
    assert(one.rdd.getNumPartitions == 1 && one.count() == 4)
  }

  test("chunked storage: encode/decode round-trip across coders and clipped edges") {
    // 5×7 int16, 2×3 chunks → 3×3 chunk grid, both edges clipped
    val vals = Array.tabulate(35)(i => ((i % 11) - 3).toDouble)
    for (comp <- Seq("none", "rle", "deflate")) {
      val bytes = Hdf.encode(Seq(SdsSpec("ndvi", Seq(5, 7), Hdf.Int16,
        vals, fill = Some(-99.0), comp = comp, chunkDims = Some(Seq(2, 3)))))
      val f = Hdf.decode(bytes)
      assert(Hdf.read(f, "ndvi").toSeq == vals.toSeq, s"comp=$comp")
    }
    // float32, chunk dims equal to the grid (single chunk)
    val fv = Array.tabulate(6)(_ * 1.5)
    val one = Hdf.encode(Seq(SdsSpec("t", Seq(2, 3), Hdf.Float32, fv,
      comp = "deflate", chunkDims = Some(Seq(2, 3)))))
    assert(Hdf.read(Hdf.decode(one), "t").toSeq == fv.toSeq)
  }

  /** Chunked fixture laid out BY HAND from the public spec (the
    * Hdf5Spec discipline): 3×5 int16 `/ndvi`, fill −7, 2×3 chunks —
    * chunk (0,0) plain, (0,1 in chunk units) DEFLATE-compressed with
    * 999 sentinels in its clipped column, (1,0) plain with sentinels
    * in its clipped row, (1,1) ABSENT from the table → fill. The
    * forward deflate is done by this spec, not the codec. */
  private def handBuiltChunked(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(1024)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def i16s(vs: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(vs.size * 2)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      vs.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def deflate(in: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(6)
      d.setInput(in); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    bb.putInt(0x0e031301)
    val nDD = 12
    bb.putShort(nDD.toShort).putInt(0)
    val ddAt = bb.position()
    (0 until nDD).foreach(_ => { bb.putShort(0).putShort(0); bb.putInt(0); bb.putInt(0) })
    var slot = 0
    def dd(tag: Int, ref: Int, off: Int, len: Int): Unit = {
      bb.putShort(ddAt + slot * 12, tag.toShort)
      bb.putShort(ddAt + slot * 12 + 2, ref.toShort)
      bb.putInt(ddAt + slot * 12 + 4, off)
      bb.putInt(ddAt + slot * 12 + 8, len)
      slot += 1
    }
    def el(tag: Int, ref: Int, bytes: Array[Byte]): Unit = {
      dd(tag, ref, bb.position(), bytes.length); bb.put(bytes)
    }
    el(106, 1, Array[Byte](1, 22, 16, 0)) // NT int16
    // SDD: rank 2, dims 3×5, NT pairs (data + 2 scales)
    val sdd = java.nio.ByteBuffer.allocate(2 + 8 + 12)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    sdd.putShort(2).putInt(3).putInt(5)
    (0 until 3).foreach(_ => { sdd.putShort(106); sdd.putShort(1) })
    el(701, 1, sdd.array())
    el(704, 1, "ndvi".getBytes("US-ASCII") :+ 0.toByte) // SDL
    el(732, 1, i16s(-7)) // FV
    // chunk data elements
    el(61, 10, i16s(10, 11, 12, 20, 21, 22)) // (0,0) plain
    val zb = deflate(i16s(13, 14, 999, 23, 24, 999))
    el(40, 12, zb) // compressed payload of chunk (0,1)
    val ch = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    ch.putShort(3).putShort(0).putInt(12).putShort(12)
    ch.putShort(0).putShort(4).putShort(0) // model, coder DEFLATE, info
    el(61 | 0x4000, 11, ch.array()) // (0,1) special COMP chunk
    el(61, 13, i16s(30, 31, 32, 999, 999, 999)) // (1,0) plain
    // chunk-table Vdata: VH (minimal decoder contract) + VS records
    val vh = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    vh.putShort(0).putInt(3).putShort(12)
    el(1962, 9, vh.array())
    val vs = java.nio.ByteBuffer.allocate(3 * 12)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    vs.putInt(0).putInt(0).putShort(61).putShort(10)
    vs.putInt(0).putInt(1).putShort(61).putShort(11)
    vs.putInt(1).putInt(0).putShort(61).putShort(13)
    el(1963, 9, vs.array())
    // chunked description record (SD extended) — spec-MINIMAL size:
    // 35 fixed + 12·ndims + 4 fill-length + 2 fill bytes, nothing
    // after (the HDF4 C library writes exactly this for uncompressed-
    // chunk files; an over-strict length require refused it, r11
    // self-review)
    val hdr = java.nio.ByteBuffer.allocate(39 + 24 + 2)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    hdr.putShort(6).putInt(39 + 24 + 2 - 6)
    hdr.put(1.toByte).putInt(1).putInt(30).putInt(12).putInt(2)
    hdr.putShort(1962).putShort(9).putShort(1).putShort(0)
    hdr.putInt(2)
    hdr.putInt(0).putInt(3).putInt(2) // dim 0: len 3, chunk 2
    hdr.putInt(0).putInt(5).putInt(3) // dim 1: len 5, chunk 3
    hdr.putInt(2).putShort(-7)
    el(702 | 0x4000, 1, hdr.array())
    // NDG group
    val g = java.nio.ByteBuffer.allocate(5 * 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(106, 701, 704, 732, 702 | 0x4000).foreach { t =>
      g.putShort(t.toShort); g.putShort(1)
    }
    el(720, 1, g.array())
    assert(slot == nDD, s"fixture wrote $slot DDs, declared $nDD")
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  test("chunked storage: independent hand-built fixture — Vdata walk, " +
      "mixed plain/COMP chunks, absent-chunk fill, loud table refusals") {
    val bytes = handBuiltChunked()
    val f = Hdf.decode(bytes)
    val s = f.sdsNamed("ndvi")
    assert(s.dims == Seq(3, 5) && s.fill.contains(-7.0))
    assert(Hdf.read(f, "ndvi").toSeq == Seq(
      10.0, 11.0, 12.0, 13.0, 14.0,
      20.0, 21.0, 22.0, 23.0, 24.0,
      30.0, 31.0, 32.0, -7.0, -7.0))
    // grid cells mask the absent chunk's fill as NaN
    val cells = Hdf.gridCells(f, "ndvi").toSeq
    assert(cells.count(_.value.isNaN) == 2)
    // refusals: interlace ≠ full, record size off the standard shape
    val vhOff = f.dds.find(d => d.tag == 1962 && d.ref == 9).get.off.toInt
    val badIl = bytes.clone(); badIl(vhOff + 1) = 1
    val e1 = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(badIl), "ndvi")
    }
    assert(e1.getMessage.contains("interlace"), e1.getMessage)
    val badIv = bytes.clone(); badIv(vhOff + 7) = 16
    val e2 = intercept[IllegalArgumentException] {
      Hdf.read(Hdf.decode(badIv), "ndvi")
    }
    assert(e2.getMessage.contains("record size"), e2.getMessage)
    // corrupt compressed chunk payload: inflate must fail loudly
    val zOff = f.dds.find(d => d.tag == 40 && d.ref == 12).get.off.toInt
    val badZ = bytes.clone(); badZ(zOff + 3) = (badZ(zOff + 3) ^ 0x7f).toByte
    intercept[Exception] { Hdf.read(Hdf.decode(badZ), "ndvi") }
  }

  test("hand-built fixture corruption sweeps (r14): plain, chunked, " +
      "N-bit — every truncation/bit-flip decodes or refuses by name") {
    def readAll(bytes: Array[Byte]): Unit = {
      val f = Hdf.decode(bytes)
      f.sds.foreach(s => Hdf.read(f, s.name))
    }
    def sw(name: String, fx: Array[Byte]): Unit =
      CodecFuzz.sweep(name, fx, b => { readAll(b); () },
        step = if (fx.length > 1200) 2 else 1)
    sw("hdf4-hand", handBuilt())
    sw("hdf4-hand-chunked", handBuiltChunked())
    sw("hdf4-enc-chunked", Hdf.encode(Seq(SdsSpec("c", Seq(4, 4),
      Hdf.Int16, Array.tabulate(16)(_.toDouble), fill = Some(-9.0),
      comp = "deflate", chunkDims = Some(Seq(2, 2))))))
    // N-bit: the r14 coder over the hand-special frame
    val nb = java.nio.ByteBuffer.allocate(34)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    nb.putShort(3).putShort(0).putInt(8).putShort(2).putShort(0)
    nb.putShort(Hdf.CompNBit.toShort)
    nb.putInt(22).putInt(0).putInt(0).putInt(10).putInt(6)
    sw("hdf4-nbit", handSpecial((1, 4), nb.array(),
      Some((Hdf.TagCompressed, Array(0xAC, 0x1F, 0xC0).map(_.toByte)))))
  }

  test("composition: MODLAND-style tiles mosaic into one grid (i65 mechanics)") {
    // two adjacent sinusoidal tiles (h00, h01) + a reprocessed h00
    // overlay: the union grid takes the LAST file's non-fill value per
    // pixel in name order — the reference's later-tile-overwrites copy
    // (convertmodis.py:371 nodata-respecting raster_copy)
    val dir = java.nio.file.Files.createTempDirectory("graft_hdfmosaic").toString
    def write(name: String, vs: Array[Double]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        Hdf.encode(Seq(SdsSpec("ndvi", Seq(2, 2), Hdf.Int16, vs,
          fill = Some(-3000.0)))))
    write("T.h00v00.a.hdf", Array(10, 20, 30, 40))
    write("T.h01v00.a.hdf", Array(50, 60, 70, 80))
    write("T.h00v00.b.hdf", Array(99, -3000, -3000, -3000)) // overlay wins at (0,0)
    val rows = spark.read.format("graft.sources.HdfGridSource")
      .option("path", dir).option("sds", "ndvi").load()
      .withColumn("h", regexp_extract(col("path"), "h(\\d{2})v", 1).cast("int"))
      .withColumn("gx", col("h") * 2 + col("x"))
      .groupBy("gx", "y")
      .agg(max_by(col("value"), col("path")).as("v"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(rows == Map(
      (0, 0) -> 99.0, (1, 0) -> 20.0, (0, 1) -> 30.0, (1, 1) -> 40.0,
      (2, 0) -> 50.0, (3, 0) -> 60.0, (2, 1) -> 70.0, (3, 1) -> 80.0), rows)
  }
}

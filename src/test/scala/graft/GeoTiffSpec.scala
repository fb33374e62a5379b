package graft

import graft.sources.GeoTiff
import graft.sources.GeoTiff.Raster
import org.apache.spark.sql.functions._

/** The GDAL-free GeoTIFF codec: encode/decode round-trips, both byte
  * orders, strip and tile layouts, deflate, nodata, georeferencing,
  * the distributed decode through [[graft.sources.TiffGridSource]],
  * and the reference's per-date publish layout. */
class GeoTiffSpec extends SparkSpec {

  private def grid(w: Int, h: Int)(f: (Int, Int) => Double) =
    Array.tabulate(w * h)(i => f(i % w, i / w))

  private def tiffRows(path: String, keepNodata: Boolean = false) =
    spark.read.format("graft.sources.TiffGridSource").option("path", path)
      .option("keepNodata", keepNodata.toString).load()

  test("float32 strip round-trip: values, geo tags, nodata survive exactly") {
    val r = Raster(4, 3, 0.25, 0.5, 10.0, 20.0, Some(-9999.0),
      grid(4, 3)((x, y) => if (x == 2 && y == 1) -9999.0 else x + y * 0.125))
    val back = GeoTiff.decode(GeoTiff.encode(r))
    assert(back.width == 4 && back.height == 3)
    assert(back.scaleX == 0.25 && back.scaleY == 0.5)
    assert(back.tieX == 10.0 && back.tieY == 20.0)
    assert(back.nodata.contains(-9999.0))
    assert(back.values.sameElements(r.values), back.values.mkString(","))
    // pixel-center georeferencing (the gdal area convention)
    assert(back.lonOf(0) == 10.125 && back.latOf(0) == 19.75)
    assert(back.lonOf(3) == 10.875 && back.latOf(2) == 18.75)
  }

  test("deflate float32 and int16 round-trips are exact") {
    val rf = Raster(8, 8, 1, 1, 0, 0, None,
      grid(8, 8)((x, y) => math.sin(x * 0.3) * 100 + y))
    val backF = GeoTiff.decode(GeoTiff.encode(rf, float32 = true, deflate = true))
    assert(backF.values.map(_.toFloat).sameElements(rf.values.map(_.toFloat)))
    val ri = Raster(5, 4, 1, 1, 0, 0, Some(-32768.0),
      grid(5, 4)((x, y) => (x * 100 - y * 37).toDouble))
    val backI = GeoTiff.decode(GeoTiff.encode(ri, float32 = false, deflate = true))
    assert(backI.values.sameElements(ri.values), backI.values.mkString(","))
  }

  test("big-endian (MM) uint8 strips decode — the byte-order path") {
    // hand-built per the public TIFF 6.0 layout: header + one IFD with
    // 7 SHORT/LONG tags + a 4-pixel strip
    val b = java.nio.ByteBuffer.allocate(200).order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
    val tags = Seq( // (tag, type, count, value)
      (256, 3, 1, 2), (257, 3, 1, 2), (258, 3, 1, 8), (259, 3, 1, 1),
      (273, 4, 1, 110), (278, 3, 1, 2), (279, 4, 1, 4))
    b.putShort(tags.size.toShort)
    tags.foreach { case (t, ty, c, v) =>
      b.putShort(t.toShort).putShort(ty.toShort).putInt(c)
      // SHORT inline values sit in the HIGH half of the big-endian slot
      if (ty == 3) { b.putShort(v.toShort); b.putShort(0) } else b.putInt(v)
    }
    b.putInt(0)
    b.position(110)
    b.put(Array[Byte](11, 22, 33, 44))
    val r = GeoTiff.decode(b.array())
    assert(r.width == 2 && r.height == 2)
    assert(r.values.sameElements(Array(11.0, 22.0, 33.0, 44.0)), r.values.mkString(","))
  }

  test("tiled float32 decodes with edge-tile clipping") {
    // 3×3 image, 2×2 tiles → 4 tiles, right/bottom tiles padded
    val b = java.nio.ByteBuffer.allocate(400).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    def v(x: Int, y: Int) = (x + y * 10).toFloat
    val tileData = Seq( // tile origin (tx, ty)
      (0, 0), (2, 0), (0, 2), (2, 2))
    val tileOffsetsAt = 200
    val tags = Seq(
      (256, 3, 1, 3), (257, 3, 1, 3), (258, 3, 1, 32), (259, 3, 1, 1),
      (322, 3, 1, 2), (323, 3, 1, 2),
      (324, 4, 4, tileOffsetsAt), (325, 4, 4, tileOffsetsAt + 16),
      (339, 3, 1, 3))
    b.putShort(tags.size.toShort)
    tags.foreach { case (t, ty, c, value) =>
      b.putShort(t.toShort).putShort(ty.toShort).putInt(c)
      if (ty == 3 && c == 1) { b.putShort(value.toShort); b.putShort(0) }
      else b.putInt(value)
    }
    b.putInt(0)
    val pixAt = 240
    b.position(tileOffsetsAt)
    (0 until 4).foreach(t => b.putInt(pixAt + t * 16))
    (0 until 4).foreach(_ => b.putInt(16))
    b.position(pixAt)
    tileData.foreach { case (tx, ty) =>
      for (dy <- 0 until 2; dx <- 0 until 2)
        b.putFloat(v(tx + dx, ty + dy)) // padded cells carry junk values
    }
    val r = GeoTiff.decode(b.array())
    assert(r.width == 3 && r.height == 3)
    for (y <- 0 until 3; x <- 0 until 3)
      assert(r.value(x, y) == v(x, y).toDouble, s"($x,$y)=${r.value(x, y)}")
  }

  test("JDK ImageIO independently reads our encoder's output") {
    // cross-check against the JDK's own TIFF plugin (an independent
    // implementation): int16 uncompressed, pixel values must agree
    val ri = Raster(6, 5, 1, 1, 0, 0, None,
      grid(6, 5)((x, y) => (x * 7 - y * 3).toDouble))
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(GeoTiff.encode(ri, float32 = false)))
    assert(img != null, "ImageIO could not parse the encoded TIFF")
    val raster = img.getRaster
    for (y <- 0 until 5; x <- 0 until 6)
      assert(raster.getSample(x, y, 0).toShort.toDouble == ri.value(x, y),
        s"($x,$y): imageio=${raster.getSample(x, y, 0)} ours=${ri.value(x, y)}")
  }

  test("encode writes PhotometricInterpretation=1 (TIFF 6.0 baseline-required)") {
    // strict libtiff/GDAL consumers reject files without tag 262 (r8
    // advice); walk the IFD of the encoded bytes directly
    val bytes = GeoTiff.encode(
      Raster(3, 2, 1, 1, 0, 0, None, grid(3, 2)((x, y) => (x + y).toDouble)))
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val n = bb.getShort(ifd) & 0xffff
    val entries = (0 until n).map { i =>
      val o = ifd + 2 + i * 12
      (bb.getShort(o) & 0xffff, bb.getShort(o + 2) & 0xffff, bb.getInt(o + 8))
    }
    assert(entries.exists { case (tag, typ, v) => tag == 262 && typ == 3 && v == 1 },
      s"tag 262 (BlackIsZero) missing from IFD: $entries")
    // IFD stays sorted by tag id — also TIFF 6.0 required
    assert(entries.map(_._1) == entries.map(_._1).sorted)
  }

  test("TiffGridSource decodes a directory of tifs task-side into georeferenced rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tifs").toString
    val a = Raster(2, 2, 1, 1, 100, 50, Some(-9999.0),
      Array(1.0, -9999.0, 3.0, 4.0))
    val bb = Raster(2, 1, 1, 1, 0, 0, None, Array(7.0, 8.0))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.tif"), GeoTiff.encode(a))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tif"), GeoTiff.encode(bb))
    val rows = tiffRows(s"$dir/*.tif")
      .collect().map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    // nodata pixel (1,0) of a.tif dropped; centers georeferenced
    assert(rows == Set(
      ("a.tif", 0, 0, 100.5, 49.5, 1.0),
      ("a.tif", 0, 1, 100.5, 48.5, 3.0),
      ("a.tif", 1, 1, 101.5, 48.5, 4.0),
      ("b.tif", 0, 0, 0.5, -0.5, 7.0),
      ("b.tif", 1, 0, 1.5, -0.5, 8.0)), rows.toString)
    val withNd = tiffRows(s"$dir/a.tif", keepNodata = true)
    assert(withNd.count() == 4 && withNd.filter(col("value").isNull).count() == 1)
  }

  test("NaN nodata (GDAL's float convention) masks pixels, incl. lowercase 'nan'") {
    val r = Raster(2, 2, 1, 1, 0, 0, Some(Double.NaN),
      Array(1.0, Double.NaN, 3.0, 4.0))
    val enc = GeoTiff.encode(r) // writes GDAL_NODATA "NaN"
    val back = GeoTiff.decode(enc)
    assert(back.nodata.exists(_.isNaN), back.nodata.toString)
    assert(back.isNodata(Double.NaN) && !back.isNodata(1.0))
    // GDAL itself writes lowercase "nan" — patch the tag in place
    // (same byte length) and re-decode
    val idx = enc.indexOfSlice("NaN".getBytes("US-ASCII"))
    assert(idx > 0)
    val lower = enc.clone()
    "nan".getBytes("US-ASCII").copyToArray(lower, idx)
    assert(GeoTiff.decode(lower).nodata.exists(_.isNaN))
    // the distributed reader drops the NaN pixel, not just -9999s
    val dir = java.nio.file.Files.createTempDirectory("graft_nan").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/n.tif"), lower)
    val rows = tiffRows(s"$dir/n.tif").collect()
    assert(rows.length == 3 && rows.forall(!_.getDouble(5).isNaN),
      rows.mkString(";"))
  }

  test("encode survives incompressible data under deflate (stream never truncates)") {
    // pseudo-random floats do not compress; the deflate stream EXPANDS
    // slightly and a single-buffer deflate call would truncate it
    val rnd = new scala.util.Random(7)
    val big = Raster(512, 512, 1, 1, 0, 0, None,
      Array.fill(512 * 512)(rnd.nextDouble()))
    val back = GeoTiff.decode(GeoTiff.encode(big, deflate = true))
    assert(back.values.map(_.toFloat).sameElements(big.values.map(_.toFloat)))
  }

  test("multi-band and predictor layouts are rejected, never silently misread") {
    // patch a single-band file's IFD to claim SamplesPerPixel=3 /
    // Predictor=2 — decode must refuse (it would misinterpret bytes)
    def patchTag(bytes: Array[Byte], tag: Int, value: Short): Array[Byte] = {
      val b = java.nio.ByteBuffer.wrap(bytes.clone())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifd = b.getInt(4)
      val n = b.getShort(ifd) & 0xffff
      // grow the IFD is complex; instead overwrite an existing tag id
      // we do not rely on (RowsPerStrip 278) with the claimed layout
      val out = b.array()
      (0 until n).foreach { i =>
        val off = ifd + 2 + i * 12
        if ((b.getShort(off) & 0xffff) == 278) {
          b.putShort(off, tag.toShort)
          b.putShort(off + 2, 3.toShort) // SHORT
          b.putInt(off + 4, 1)
          b.putInt(off + 8, value.toInt)
        }
      }
      out
    }
    val base = GeoTiff.encode(Raster(2, 2, 1, 1, 0, 0, None,
      Array(1.0, 2.0, 3.0, 4.0)))
    intercept[IllegalArgumentException] {
      GeoTiff.decode(patchTag(base, 277, 3)) // SamplesPerPixel = 3
    }
    intercept[IllegalArgumentException] {
      GeoTiff.decode(patchTag(base, 317, 2)) // Predictor = 2
    }
  }

  test("corrupt inputs fail loudly: bad magic, truncated bytes, truncated deflate") {
    intercept[IllegalArgumentException] {
      GeoTiff.decode("PKjunk".getBytes("US-ASCII"))
    }
    val good = GeoTiff.encode(Raster(4, 4, 1, 1, 0, 0, None,
      grid(4, 4)((x, y) => (x + y).toDouble)))
    // truncation anywhere must raise, never hang or return silent junk
    for (cut <- Seq(3, 10, good.length / 2, good.length - 5))
      intercept[Exception] {
        GeoTiff.decode(java.util.Arrays.copyOf(good, cut))
      }
    // truncated DEFLATE chunk: the inflater asks for more input — the
    // decoder must throw (a naive loop spins forever here)
    val defl = GeoTiff.encode(Raster(16, 16, 1, 1, 0, 0, None,
      grid(16, 16)((x, y) => (x * y).toDouble)), deflate = true)
    val cutDefl = java.util.Arrays.copyOf(defl, defl.length - 40)
    val e = intercept[Exception] { GeoTiff.decode(cutDefl) }
    assert(e.getMessage != null, e.toString)
  }

  test("TiffGridSource: DSv2 table over a tif directory, one partition per file, pruned reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tifdsv2").toString
    val a = Raster(2, 2, 1, 1, 100, 50, Some(-9999.0), Array(1.0, -9999.0, 3.0, 4.0))
    val b = Raster(2, 1, 1, 1, 0, 0, None, Array(7.0, 8.0))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.tif"), GeoTiff.encode(a))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tif"), GeoTiff.encode(b))
    val df = spark.read.format("graft.sources.TiffGridSource")
      .option("path", dir).load()
    // one InputPartition per file — the per-COG task fan-out
    assert(df.rdd.getNumPartitions == 2, s"${df.rdd.getNumPartitions}")
    val rows = df.collect().map(r => (r.getString(0).split('/').last,
      r.getInt(1), r.getInt(2), r.getDouble(5))).toSet
    assert(rows == Set(("a.tif", 0, 0, 1.0), ("a.tif", 0, 1, 3.0),
      ("a.tif", 1, 1, 4.0), ("b.tif", 0, 0, 7.0), ("b.tif", 1, 0, 8.0)),
      rows.toString)
    // pruning reaches the source: a value-only projection plans a
    // value-only ReadSchema (no per-pixel georeferencing computed)
    val pruned = df.select("value")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.matches(".*BatchScan[^\\[]*\\[value#\\d+\\].*"), scanLine)
    assert(pruned.agg(round(sum("value"), 2)).collect()(0).getDouble(0) == 23.0)
    // a projection in another order than the schema's, path and value
    // included, reads the same cells as the full rows — nodata kept
    // as NULL value or dropped
    for (keep <- Seq(false, true)) {
      val got = GridProjection.check(spark.read.format("graft.sources.TiffGridSource")
        .option("path", dir).option("keepNodata", keep.toString).load(),
        Seq("value", "lat", "path", "x"))
      assert(got.length == (if (keep) 6 else 5) && got.exists(_.head == null) == keep)
    }
    // keepNodata surfaces the hole as a NULL-value row
    val withNd = spark.read.format("graft.sources.TiffGridSource")
      .option("path", s"$dir/a.tif").option("keepNodata", "true").load()
    assert(withNd.count() == 4 && withNd.filter(col("value").isNull).count() == 1)
    // matches the codec decoded on the driver row-for-row, nodata
    // pixels skipped
    val codecRows = Seq("a.tif", "b.tif").flatMap { name =>
      val r = GeoTiff.decode(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$name")))
      for {
        y <- 0 until r.height
        x <- 0 until r.width
        v = r.value(x, y)
        if !r.isNodata(v)
      } yield (name, x, y, v)
    }.toSet
    assert(codecRows == rows)
  }

  test("gzip-wrapped TIFFs (.tif.gz, the CHIRPS distribution shape): " +
      "transparent decode, DSv2 scan, named refusals") {
    import graft.sources.Gz
    val r = Raster(5, 4, 1, 1, 10, 20, Some(-9999.0),
      grid(5, 4)((x, y) => if (x == y) -9999.0 else x * 3 + y * 0.5))
    val plain = GeoTiff.encode(r)
    val gz = Gz.gzip(plain)
    // transparent unwrap on BOTH codec entries
    val back = GeoTiff.decode(gz)
    assert(back.width == 5 && back.height == 4 &&
      back.values.sameElements(r.values))
    assert(GeoTiff.ifdCount(
      Gz.gzip(GeoTiff.encodeCog(r, tileSize = 16, minOverviewDim = 2))) >= 2)
    // deterministic bytes — the i64 hash gate republishes every run
    assert(Gz.gzip(plain).sameElements(gz))
    // DSv2: a directory MIXING plain and gz files lists and reads both
    val dir = java.nio.file.Files.createTempDirectory("graft_tifgz").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.tif"), plain)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.tif.gz"), gz)
    val df = spark.read.format("graft.sources.TiffGridSource")
      .option("path", dir).load()
    assert(df.rdd.getNumPartitions == 2)
    val perFile = df.groupBy("path").count().collect()
      .map(rw => (rw.getString(0).split('/').last, rw.getLong(1))).toMap
    assert(perFile == Map("a.tif" -> 16L, "b.tif.gz" -> 16L), perFile)
    // refusals by name: truncated stream, inflation cap, non-gzip
    val eTrunc = intercept[IllegalArgumentException] {
      GeoTiff.decode(java.util.Arrays.copyOf(gz, gz.length - 5))
    }
    assert(eTrunc.getMessage.contains("gzip"), eTrunc.getMessage)
    val eCap = intercept[IllegalArgumentException] {
      Gz.gunzip(gz, cap = 8, "x")
    }
    assert(eCap.getMessage.contains("inflation cap"), eCap.getMessage)
    assert(intercept[IllegalArgumentException] {
      Gz.gunzip(plain, 1L << 20, "x")
    }.getMessage.contains("not a gzip stream"))
    // every truncation/bit-flip of the wrapped fixture decodes or
    // refuses by name — never a raw ZipException out of the JDK
    CodecFuzz.sweep("tif-gz", gz, GeoTiff.decode(_))
  }

  test("gz inflation cap is DEFLATE's own expansion bound: a tiny wrapped " +
      "bomb can only demand a few MB, and no legitimate stream can ever " +
      "hit the cap") {
    import graft.sources.Gz
    // bound math: 1032x the compressed length plus the tiny-input floor
    assert(Gz.deflateBound(0) == 4096L)
    assert(Gz.deflateBound(1000) == 1000L * 1032 + 4096)
    // a 2 KB crafted .tif.gz can no longer force a ~2 GiB single-array
    // allocation before any TIFF gate runs: its cap is ~2 MB
    // (r15 advice — previously the cap was the byte-array maximum)
    assert(Gz.deflateBound(2048) < (3L << 20))
    // a maximally-compressible LEGITIMATE raster (a constant field —
    // the highest real-world-ratio shape) still decodes: DEFLATE
    // cannot exceed 1032x by construction, so unlike the refused-
    // legitimate-COG caps of r14/r15 this one cannot refuse ANY valid
    // stream, only bound the crafted ones
    val const = Raster(256, 256, 1, 1, 0, 0, None,
      Array.fill(256 * 256)(7.0))
    val plain = GeoTiff.encode(const)
    val wrapped = Gz.gzip(plain)
    assert(plain.length > 100 * wrapped.length,
      s"fixture not high-ratio: ${plain.length}/${wrapped.length}")
    assert(GeoTiff.decode(wrapped).values.sameElements(const.values))
  }

  test("two-stage gz bound: the header's own declared extent caps the " +
      "buffer, dead tail bytes are discarded not refused, and an " +
      "unboundable header falls back to the deflate bound") {
    import graft.sources.Gz
    import java.nio.{ByteBuffer, ByteOrder}
    val r = Raster(6, 5, 1, 1, 0, 0, Some(-1.0),
      grid(6, 5)((x, y) => x * 2.0 + y))
    val plain = GeoTiff.encode(r)
    // both writers pack every referenced structure up to EXACTLY the
    // file end, so the derived extent is the file length — the bound
    // is tight, not merely safe
    assert(GeoTiff.headerDerivedBound(plain).contains(plain.length.toLong))
    val cog = GeoTiff.encodeCog(r, tileSize = 16, minOverviewDim = 2)
    assert(GeoTiff.headerDerivedBound(cog).contains(cog.length.toLong))
    // a bomb that LIES small: a valid tiny TIFF + 48 MB of dead zeros
    // gzips to ~50 KB, so the single-stage deflate bound would buffer
    // all ~48 MB; the two-stage path keeps max(declared, probe) = the
    // 1 MiB probe, yet the tiny raster still decodes intact
    val bomb = Gz.gzip(plain ++ new Array[Byte](48 << 20))
    val kept = Gz.gunzipHeaderBounded(bomb, "t", 1 << 20)(
      GeoTiff.headerDerivedBound)
    assert(kept.length == (1 << 20), kept.length.toString)
    assert(GeoTiff.decode(bomb).values.sameElements(r.values))
    // the drain-to-end still validates the gzip trailer: corrupting the
    // LAST byte (past everything kept) refuses by name, so the discard
    // never trades away the corrupt-archive refusal
    val corrupt = bomb.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x55).toByte
    val eTail = intercept[IllegalArgumentException](GeoTiff.decode(corrupt))
    assert(eTail.getMessage.contains("gzip"), eTail.getMessage)
    // a bomb with NO parseable header: allocation stops at the probe
    // and the decoder's magic gate refuses by name
    val junk = Gz.gzip(new Array[Byte](32 << 20))
    assert(Gz.gunzipHeaderBounded(junk, "t", 1 << 20)(
      GeoTiff.headerDerivedBound).length == (1 << 20))
    val eMagic = intercept[IllegalArgumentException](GeoTiff.decode(junk))
    assert(eMagic.getMessage.contains("byte-order"), eMagic.getMessage)
    // fallback cases widen, never guess: an IFD past the prefix (the
    // GDAL appended-overview layout) and a cyclic chain both → None
    val farIfd = plain.clone()
    ByteBuffer.wrap(farIfd).order(ByteOrder.LITTLE_ENDIAN).putInt(4, 5 << 20)
    assert(GeoTiff.headerDerivedBound(farIfd).isEmpty)
    val cyclic = plain.clone()
    // next-IFD pointer back to the first IFD (offset 8): entry count
    // is at 8, the pointer slot follows the 12-byte entries
    val nEntries = ByteBuffer.wrap(cyclic).order(ByteOrder.LITTLE_ENDIAN)
      .getShort(8) & 0xffff
    ByteBuffer.wrap(cyclic).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(8 + 2 + nEntries * 12, 8)
    assert(GeoTiff.headerDerivedBound(cyclic).isEmpty)
    // a probe too small to hold the IFD also falls back — and the
    // end-to-end fallback path still decodes the file byte-identically
    assert(GeoTiff.headerDerivedBound(
      java.util.Arrays.copyOf(plain, 12)).isEmpty)
    assert(Gz.gunzipHeaderBounded(Gz.gzip(plain), "t", 12)(
      GeoTiff.headerDerivedBound).sameElements(plain))
    // derive is TOTAL on fuzzed prefixes: every truncation and every
    // single-byte corruption of a real header returns, never throws
    (0 until plain.length by 7).foreach { cut =>
      GeoTiff.headerDerivedBound(java.util.Arrays.copyOf(plain, cut))
    }
    (0 until math.min(plain.length, 64)).foreach { i =>
      val m = plain.clone(); m(i) = (m(i) ^ 0xff).toByte
      GeoTiff.headerDerivedBound(m)
    }
    // r17 review: cumulative work caps. A probe packing many entries
    // that each point a 256K-element strip array at the same region
    // would cost ~10^10 reads without the element budget; a chain of
    // thousands of micro-IFDs would walk unboundedly without the IFD
    // cap. Both must fall back (None widens the cap, never refuses)
    // and return fast.
    val manyEntries = java.nio.ByteBuffer.allocate(1 << 20)
      .order(ByteOrder.LITTLE_ENDIAN)
    manyEntries.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    manyEntries.putShort(8, 64.toShort) // one IFD, 64 entries
    (0 until 64).foreach { i =>
      manyEntries.position(10 + i * 12)
      manyEntries.putShort(273.toShort).putShort(4.toShort)
        .putInt(262144).putInt(0) // StripOffsets, LONG, 256K elems
    }
    val t0 = System.nanoTime()
    assert(GeoTiff.headerDerivedBound(manyEntries.array()).isEmpty)
    assert((System.nanoTime() - t0) < 2e9, "element budget did not bound work")
    val ifdChain = java.nio.ByteBuffer.allocate(16 * 1024)
      .order(ByteOrder.LITTLE_ENDIAN)
    ifdChain.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    (0 until 2000).foreach { i => // 2000 empty IFDs, each 6 bytes
      ifdChain.position(8 + i * 6)
      ifdChain.putShort(0.toShort).putInt(if (i == 1999) 0 else 8 + (i + 1) * 6)
    }
    assert(GeoTiff.headerDerivedBound(ifdChain.array()).isEmpty)
  }

  test("encodeCog: tiled pyramid round-trips; overview IFDs carry i27-coarsened means") {
    // 100×75 with nodata holes, 32px tiles, overviews to ≤30px:
    // levels 100×75 → 50×38 → 25×19, so 3 chained IFDs
    val r = Raster(100, 75, 0.25, 0.25, -10.0, 40.0, Some(-9999.0),
      grid(100, 75)((x, y) =>
        if ((x * 31 + y * 17) % 11 == 0) -9999.0 else x + y * 0.5))
    val bytes = GeoTiff.encodeCog(r, tileSize = 32, minOverviewDim = 30)
    assert(GeoTiff.ifdCount(bytes) == 3, GeoTiff.ifdCount(bytes).toString)
    val full = GeoTiff.decode(bytes) // IFD 0 = full resolution
    assert(full.width == 100 && full.height == 75)
    assert(full.values.map(_.toFloat).sameElements(r.values.map(_.toFloat)))
    assert(full.nodata.contains(-9999.0))
    assert(full.scaleX == 0.25 && full.tieX == -10.0 && full.tieY == 40.0)
    // each overview decodes SELF-CONTAINED: doubled pixel scale, same
    // tiepoint, and exactly the double-precision coarsen pyramid
    val ov1 = GeoTiff.decode(bytes, ifdIndex = 1)
    val exp1 = GeoTiff.coarsen2x(r)
    assert(ov1.width == 50 && ov1.height == 38)
    assert(ov1.scaleX == 0.5 && ov1.scaleY == 0.5 && ov1.tieX == -10.0)
    assert(ov1.nodata.contains(-9999.0))
    assert(ov1.values.map(_.toFloat).sameElements(exp1.values.map(_.toFloat)))
    val ov2 = GeoTiff.decode(bytes, ifdIndex = 2)
    assert(ov2.width == 25 && ov2.height == 19)
    assert(ov2.values.map(_.toFloat).sameElements(
      GeoTiff.coarsen2x(exp1).values.map(_.toFloat)))
    // an all-nodata 2×2 block must stay nodata in the overview, not
    // average into junk
    val hole = Raster(4, 4, 1, 1, 0, 0, Some(-9999.0),
      grid(4, 4)((x, y) => if (x < 2 && y < 2) -9999.0 else 5.0))
    val ovHole = GeoTiff.decode(
      GeoTiff.encodeCog(hole, tileSize = 16, minOverviewDim = 2), ifdIndex = 1)
    assert(ovHole.value(0, 0) == -9999.0 && ovHole.value(1, 1) == 5.0)
    // deflate variant round-trips too (per-tile streams)
    val defl = GeoTiff.encodeCog(r, tileSize = 32, minOverviewDim = 30,
      deflate = true)
    assert(GeoTiff.decode(defl).values.map(_.toFloat)
      .sameElements(r.values.map(_.toFloat)))
    assert(defl.length < bytes.length, "deflate COG should compress this grid")
  }

  test("encodeCog is header-first (the COG byte-order contract); overviews flagged reduced-res") {
    val r = Raster(100, 75, 1, 1, 0, 0, Some(-9999.0),
      grid(100, 75)((x, y) => (x * y % 97).toDouble))
    val bytes = GeoTiff.encodeCog(r, tileSize = 32, minOverviewDim = 30)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = bb.getInt(4)
    var idx = 0
    var maxIfdEnd = 0L
    var minTile = Long.MaxValue
    while (off != 0) {
      val n = bb.getShort(off) & 0xffff
      var sawReducedRes = false
      (0 until n).foreach { i =>
        val o = off + 2 + i * 12
        val tag = bb.getShort(o) & 0xffff
        if (tag == 254) {
          sawReducedRes = true
          assert(bb.getInt(o + 8) == 1, "NewSubfileType must be 1")
        }
        if (tag == 324) { // TileOffsets
          val cnt = bb.getInt(o + 4)
          val voff = bb.getInt(o + 8).toLong & 0xffffffffL
          val offs =
            if (cnt == 1) Array(voff)
            else Array.tabulate(cnt)(j =>
              bb.getInt((voff + 4L * j).toInt).toLong & 0xffffffffL)
          minTile = math.min(minTile, offs.min)
        }
      }
      assert((idx > 0) == sawReducedRes,
        s"IFD $idx reduced-resolution flag wrong")
      maxIfdEnd = math.max(maxIfdEnd, off + 2L + n * 12 + 4)
      off = bb.getInt(off + 2 + n * 12)
      idx += 1
    }
    assert(idx == 3)
    // every IFD structure sits BEFORE any tile byte — a remote reader
    // gets the whole directory tree from one bounded header fetch
    assert(minTile >= maxIfdEnd, s"tile at $minTile before IFD end $maxIfdEnd")
    // tile dims must be multiples of 16 (TIFF 6.0 §15) — reject others
    intercept[IllegalArgumentException] {
      GeoTiff.encodeCog(r, tileSize = 100)
    }
  }

  test("encodeCog keeps IFD and value offsets word-aligned (TIFF 6.0), " +
      "even for odd nodata strings") {
    // nodata 0 → GDAL_NODATA ascii "0\0" pads to 5 bytes: before the
    // parity fix this odd region made every later IFD/value offset odd,
    // which strict TIFF validators reject
    for (nd <- Seq(Some(0.0), Some(-1.0), None)) {
      val r = Raster(70, 40, 1, 1, 0, 0, nd,
        grid(70, 40)((x, y) => (x + y).toDouble))
      val bytes = GeoTiff.encodeCog(r, tileSize = 32, minOverviewDim = 30)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = bb.getInt(4)
      while (off != 0) {
        assert(off % 2 == 0, s"odd IFD offset $off (nodata=$nd)")
        val n = bb.getShort(off) & 0xffff
        (0 until n).foreach { i =>
          val o = off + 2 + i * 12
          val typ = bb.getShort(o + 2) & 0xffff
          val cnt = bb.getInt(o + 4)
          val tlen = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 12 -> 8)(typ)
          if (tlen.toLong * cnt > 4) {
            val voff = bb.getInt(o + 8).toLong & 0xffffffffL
            assert(voff % 2 == 0,
              s"odd value offset $voff for tag ${bb.getShort(o) & 0xffff}")
          }
        }
        off = bb.getInt(off + 2 + n * 12)
      }
      // the decoder still reads it
      assert(GeoTiff.decode(bytes).width == 70)
    }
    // deflate tiles compress to odd lengths: placement must pad each
    // payload to an even offset while TileByteCounts keep the real size
    val rd = Raster(70, 40, 1, 1, 0, 0, Some(-1.0),
      grid(70, 40)((x, y) => math.sin(x * 0.7 + y * 1.3) * 97))
    val cog = GeoTiff.encodeCog(rd, tileSize = 32, deflate = true,
      minOverviewDim = 30)
    val bb = java.nio.ByteBuffer.wrap(cog)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = bb.getInt(4)
    var sawOddCount = false
    while (off != 0) {
      val n = bb.getShort(off) & 0xffff
      var tileOffs: Array[Long] = Array.empty
      var tileCnts: Array[Long] = Array.empty
      def longsAt(o: Int, cnt: Int): Array[Long] =
        if (cnt == 1) Array(bb.getInt(o + 8).toLong & 0xffffffffL)
        else { val v = bb.getInt(o + 8); (0 until cnt).map(i =>
          bb.getInt(v + 4 * i).toLong & 0xffffffffL).toArray }
      (0 until n).foreach { i =>
        val o = off + 2 + i * 12
        val tag = bb.getShort(o) & 0xffff
        val cnt = bb.getInt(o + 4)
        if (tag == 324) tileOffs = longsAt(o, cnt)
        if (tag == 325) tileCnts = longsAt(o, cnt)
      }
      tileOffs.foreach(o => assert(o % 2 == 0, s"odd tile offset $o"))
      if (tileCnts.exists(_ % 2 == 1)) sawOddCount = true
      off = bb.getInt(off + 2 + n * 12)
    }
    assert(sawOddCount, "fixture never produced an odd deflate tile — " +
      "alignment path unexercised")
    val back = GeoTiff.decode(cog)
    assert(back.width == 70 &&
      back.values(3) == rd.values(3).toFloat.toDouble)
  }

  test("TiffGridSource reads its own COGs; full-res rows match the plain encode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cog_dsv2").toString
    val r = Raster(40, 30, 1, 1, 5.0, 60.0, Some(-9999.0),
      grid(40, 30)((x, y) => if ((x + y) % 7 == 0) -9999.0 else x * 2.0 + y))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.tif"),
      GeoTiff.encodeCog(r, tileSize = 16, minOverviewDim = 16))
    val rows = spark.read.format("graft.sources.TiffGridSource")
      .option("path", dir).load()
      .select("x", "y", "value").collect()
      .map(q => (q.getInt(0), q.getInt(1), q.getDouble(2))).toSet
    val expect = (for {
      y <- 0 until 30; x <- 0 until 40
      v = r.value(x, y) if v != -9999.0
    } yield (x, y, v.toFloat.toDouble)).toSet
    assert(rows == expect)
  }

  test("publishTifTasks: executor-side encode byte-identical to the driver path; manifest committed") {
    import spark.implicits._
    val grid3 = Seq( // two dates, (1,1) missing on d1
      ("2024-06-01", 0, 0, 1.5), ("2024-06-01", 1, 0, 2.5),
      ("2024-06-01", 0, 1, 3.5),
      ("2024-06-02", 0, 0, 9.0), ("2024-06-02", 1, 1, -4.25))
      .toDF("d", "x", "y", "v")
    val outDriver = java.nio.file.Files.createTempDirectory("graft_pub_drv").toString
    val outTasks = java.nio.file.Files.createTempDirectory("graft_pub_tsk").toString
    Seq("2024-06-01", "2024-06-02").foreach(dk =>
      GeoTiff.publishTif(grid3.filter(col("d") === dk), "x", "y", "v",
        2, 2, outDriver, "prod", dk, tieX = -20.0, tieY = 40.0, cog = true))
    val manifest = GeoTiff.publishTifTasks(grid3, "d", "x", "y", "v",
      2, 2, outTasks, "prod", tieX = -20.0, tieY = 40.0, cog = true)
    assert(manifest.map(_._1) == Seq("2024-06-01", "2024-06-02"))
    Seq("2024-06-01", "2024-06-02").foreach { dk =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outDriver, "prod", s"prod_$dk.tif"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(outTasks, "prod", s"prod_$dk.tif"))
      assert(java.util.Arrays.equals(a, b), s"$dk bytes diverge")
    }
    // the manifest is the driver's only write, committed after the tifs
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outTasks, "prod", "manifest.tsv")), "UTF-8")
    assert(mf == "2024-06-01\tprod_2024-06-01.tif\n" +
      "2024-06-02\tprod_2024-06-02.tif\n", mf)
    // and the driver path REFUSES grids past its collect budget,
    // pointing at this task path
    val e = intercept[IllegalArgumentException] {
      GeoTiff.publishTif(grid3, "x", "y", "v", 2, 2, outDriver, "prod",
        "2024-06-03", maxDriverCells = 3L)
    }
    assert(e.getMessage.contains("publishTifTasks"), e.getMessage)
  }

  test("publishTif writes the reference's per-date layout; missing cells = nodata") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_pub_tif").toString
    val gridDf = Seq((0, 0, 1.5), (1, 0, 2.5), (0, 1, 3.5)) // (1,1) missing
      .toDF("x", "y", "v")
    val dest = GeoTiff.publishTif(gridDf, "x", "y", "v", 2, 2,
      out, "rainfall", "2024-06-01T00:00:00.000Z",
      scaleX = 0.1, scaleY = 0.1, tieX = -20.0, tieY = 40.0)
    assert(dest.getFileName.toString == "rainfall_2024-06-01T00:00:00.000Z.tif")
    val back = GeoTiff.decode(java.nio.file.Files.readAllBytes(dest))
    assert(back.value(0, 0) == 1.5 && back.value(1, 0) == 2.5 &&
      back.value(0, 1) == 3.5 && back.value(1, 1) == -9999.0)
    assert(back.scaleX == 0.1 && back.tieX == -20.0 && back.tieY == 40.0)
    // and the full cycle: the published product re-ingests with the
    // nodata hole dropped. Hadoop's Path rejects ':' in file names, so
    // a Spark-side re-ingest of the reference's ISO-timestamp layout
    // goes through a colon-free landing name first (the HttpFetcher
    // landing step owns that rename in a live pipeline).
    val landed = java.nio.file.Files.copy(dest,
      dest.getParent.resolve("rainfall_2024-06-01.tif"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val re = tiffRows(landed.toString).collect()
    assert(re.length == 3, re.mkString(";"))
  }
}

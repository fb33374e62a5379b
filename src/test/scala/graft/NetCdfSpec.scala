package graft

import graft.sources.NetCdf
import graft.sources.NetCdf.{Att, Dim, VarSpec}
import org.apache.spark.sql.functions._

/** Clean-room NetCDF-3 codec + NcGridSource DSv2 — the GeoTiffSpec bar:
  * an INDEPENDENT hand-built byte fixture (laid out straight from the
  * public classic-format spec, not via our encoder), byte-level
  * round-trips, CF unpack/fill/time semantics, corrupt-input refusals,
  * and the per-(file × time) pruned DSv2 scan. */
class NetCdfSpec extends SparkSpec {

  /** A classic CDF-1 file laid out BY HAND from the public format
    * spec: dims lat(2)/lon(3), float coord vars, float data var `rfe`
    * with a _FillValue attribute. Independent of NetCdf.encode — this
    * is the cross-implementation fixture. */
  private def handBuilt(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def name(s: String): Unit = {
      bb.putInt(s.length)
      bb.put(s.getBytes("US-ASCII"))
      (0 until ((4 - s.length % 4) % 4)).foreach(_ => bb.put(0.toByte))
    }
    bb.put("CDF".getBytes("US-ASCII")).put(1.toByte) // magic, version 1
    bb.putInt(0) // numrecs
    bb.putInt(0x0A).putInt(2) // NC_DIMENSION, 2 dims
    name("lat"); bb.putInt(2)
    name("lon"); bb.putInt(3)
    bb.putInt(0).putInt(0) // no global attributes (ABSENT)
    bb.putInt(0x0B).putInt(3) // NC_VARIABLE, 3 vars
    // var lat(lat): float, no atts — begin patched below
    name("lat"); bb.putInt(1).putInt(0); bb.putInt(0).putInt(0)
    bb.putInt(5).putInt(8); val latBeginAt = bb.position(); bb.putInt(0)
    // var lon(lon): float
    name("lon"); bb.putInt(1).putInt(1); bb.putInt(0).putInt(0)
    bb.putInt(5).putInt(12); val lonBeginAt = bb.position(); bb.putInt(0)
    // var rfe(lat, lon): float, one _FillValue attribute (float)
    name("rfe"); bb.putInt(2).putInt(0).putInt(1)
    bb.putInt(0x0C).putInt(1)
    name("_FillValue"); bb.putInt(5).putInt(1); bb.putFloat(-9999.0f)
    bb.putInt(5).putInt(24); val rfeBeginAt = bb.position(); bb.putInt(0)
    // data section
    val latBegin = bb.position()
    bb.putFloat(10.0f).putFloat(11.0f)
    val lonBegin = bb.position()
    bb.putFloat(20.0f).putFloat(20.5f).putFloat(21.0f)
    val rfeBegin = bb.position()
    Seq(1.0f, 2.0f, -9999.0f, 4.0f, 5.0f, 6.0f).foreach(bb.putFloat)
    val total = bb.position()
    bb.putInt(latBeginAt, latBegin)
    bb.putInt(lonBeginAt, lonBegin)
    bb.putInt(rfeBeginAt, rfeBegin)
    java.util.Arrays.copyOf(bb.array(), total)
  }

  test("hand-built classic file decodes: dims, attrs, data, georeferenced cells") {
    val f = NetCdf.decode(handBuilt())
    assert(f.version == 1 && f.numRecs == 0)
    assert(f.dims == Seq(Dim("lat", 2), Dim("lon", 3)))
    assert(f.vars.map(_.name) == Seq("lat", "lon", "rfe"))
    assert(f.variable("rfe").att("_FillValue").flatMap(_.num).contains(-9999.0))
    assert(f.read("lat").toSeq == Seq(10.0, 11.0))
    assert(f.read("rfe").toSeq == Seq(1.0, 2.0, -9999.0, 4.0, 5.0, 6.0))
    val cells = NetCdf.gridCells(f, "rfe").toSeq
    assert(cells.size == 6)
    // fill surfaced as NaN, coords resolved from the coordinate vars
    val c02 = cells.find(c => c.y == 0 && c.x == 2).get
    assert(c02.value.isNaN && c02.lon == 21.0 && c02.lat == 10.0)
    assert(cells.find(c => c.y == 1 && c.x == 1).get.value == 5.0)
    assert(cells.forall(_.timeMicros.isEmpty))
  }

  test("round-trip: fixed + record vars, all numeric types, CDF-1 and CDF-2") {
    for (version <- Seq(1, 2)) {
      val dims = Seq(Dim("time", 0), Dim("y", 2), Dim("x", 2))
      val enc = NetCdf.encode(
        dims,
        gatts = Seq(Att("title", Some("graft test"), Array.empty)),
        vars = Seq(
          VarSpec("y", Seq("y"), NetCdf.NcDouble, values = Array(1.0, 2.0)),
          VarSpec("x", Seq("x"), NetCdf.NcShort, values = Array(7.0, 8.0)),
          VarSpec("count", Seq("y", "x"), NetCdf.NcInt,
            values = Array(1, 2, 3, 4).map(_.toDouble)),
          VarSpec("temp", Seq("time", "y", "x"), NetCdf.NcFloat,
            atts = Seq(Att("units", Some("K"), Array.empty)),
            values = Array.tabulate(12)(i => i * 0.5)),
          VarSpec("flag", Seq("time", "y", "x"), NetCdf.NcByte,
            values = Array.tabulate(12)(i => (i % 3).toDouble))),
        numRecs = 3, version = version)
      val f = NetCdf.decode(enc)
      assert(f.version == version && f.numRecs == 3)
      assert(f.dims.head.isRecord && f.shapeOf(f.variable("temp")).toSeq == Seq(3, 2, 2))
      assert(f.gatts.head.text.contains("graft test"))
      assert(f.read("y").toSeq == Seq(1.0, 2.0))
      assert(f.read("x").toSeq == Seq(7.0, 8.0))
      assert(f.read("count").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
      // interleaved record slabs reassemble to row-major (time, y, x)
      assert(f.read("temp").toSeq == (0 until 12).map(_ * 0.5))
      assert(f.read("flag").toSeq == (0 until 12).map(_ % 3).map(_.toDouble))
      assert(f.variable("temp").att("units").flatMap(_.text).contains("K"))
    }
  }

  test("zero records: a freshly-created time-series file decodes and reads " +
      "empty (2nd record var's begin legally sits past EOF)") {
    // with numRecs = 0 the record section is empty, but each record
    // variable's begin still points where its slice WOULD land — for
    // the 2nd+ record variable that is past EOF. The decoder must not
    // refuse the file its own writer emits for this valid shape
    // (r14 property-battery finding: the begin<=fileLen gate did)
    val enc = NetCdf.encode(
      Seq(NetCdf.Dim("time", 0), NetCdf.Dim("x", 3)), Nil,
      Seq(
        NetCdf.VarSpec("x", Seq("x"), NetCdf.NcShort,
          values = Array(1.0, 2.0, 3.0)),
        NetCdf.VarSpec("a", Seq("time", "x"), NetCdf.NcFloat),
        NetCdf.VarSpec("b", Seq("time", "x"), NetCdf.NcDouble)),
      numRecs = 0)
    val f = NetCdf.decode(enc)
    assert(f.numRecs == 0)
    assert(f.read("x").toSeq == Seq(1.0, 2.0, 3.0))
    assert(f.read("a").isEmpty && f.read("b").isEmpty)
    // a FIXED variable past EOF still refuses — the relaxation is
    // record-vars-at-zero-records only
    intercept[IllegalArgumentException] {
      NetCdf.decodeHeader(enc, fileLen = 8)
    }
  }

  test("gzip-wrapped NetCDF (.nc.gz): transparent decode, bounded gz " +
      "planning via the ISIZE trailer, DSv2 scan, named refusals") {
    import graft.sources.{Gz, NcGridSource}
    val plain = NetCdf.encode(
      Seq(NetCdf.Dim("time", 0), NetCdf.Dim("lat", 2), NetCdf.Dim("lon", 3)),
      Nil,
      Seq(
        NetCdf.VarSpec("time", Seq("time"), NetCdf.NcDouble,
          atts = Seq(NetCdf.Att("units",
            Some("days since 1995-01-01"), Array.empty)),
          values = Array(0.0)),
        NetCdf.VarSpec("lat", Seq("lat"), NetCdf.NcDouble,
          values = Array(10.0, 9.5)),
        NetCdf.VarSpec("lon", Seq("lon"), NetCdf.NcDouble,
          values = Array(-1.0, -0.5, 0.0)),
        NetCdf.VarSpec("qty", Seq("time", "lat", "lon"), NetCdf.NcDouble,
          values = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))),
      numRecs = 1)
    val gz = Gz.gzip(plain)
    // transparent unwrap on decode
    assert(NetCdf.decode(gz).read("qty").toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // ISIZE trailer recovers the true uncompressed length
    assert(Gz.isize(gz.takeRight(4)) == plain.length.toLong)
    // bounded planning: planningHeader on a gz FILE uses the inflated
    // prefix + ISIZE (for this small file the prefix holds everything)
    val dir = java.nio.file.Files.createTempDirectory("graft_ncgz")
    java.nio.file.Files.write(dir.resolve("a.nc"), plain)
    java.nio.file.Files.write(dir.resolve("b.nc.gz"), gz)
    val hdr = NcGridSource.planningHeader(dir.resolve("b.nc.gz").toString)
    assert(hdr.numRecs == 1 && hdr.vars.map(_.name).contains("qty"))
    assert(NcGridSource.timeSteps(hdr, "qty") == 1)
    // DSv2: a dir mixing plain and gz lists both; per-file rows match
    val df = spark.read.format("graft.sources.NcGridSource")
      .option("path", dir.toString).option("var", "qty").load()
    val perFile = df.groupBy("path").count().collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1))).toMap
    assert(perFile == Map("a.nc" -> 6L, "b.nc.gz" -> 6L), perFile)
    // truncated gz refuses by name on the strict decode
    val e = intercept[IllegalArgumentException] {
      NetCdf.decode(java.util.Arrays.copyOf(gz, gz.length - 4))
    }
    assert(e.getMessage.contains("gzip"), e.getMessage)
    // gunzipPrefix is TOLERANT of input truncation (planning semantics):
    // half the stream still inflates a usable header prefix
    val part = Gz.gunzipPrefix(
      java.util.Arrays.copyOf(gz, gz.length / 2), 1 << 20)
    assert(part.length >= 8 &&
      part(0) == 'C'.toByte && part(1) == 'D'.toByte && part(2) == 'F'.toByte)
    // every truncation/bit-flip of the wrapped fixture decodes or
    // refuses by name through the strict entry
    CodecFuzz.sweep("nc-gz", gz, NetCdf.decode(_))
    // r15: a corrupt gz the PREFIX already covers whole decodes
    // strictly ONCE and refuses by name — no second driver-side
    // read+inflate just to reproduce the refusal (r14 advice)
    val bad = gz.clone()
    bad(gz.length / 2) = (bad(gz.length / 2) ^ 0x5a).toByte
    java.nio.file.Files.write(dir.resolve("bad.nc.gz"), bad)
    val eBad = intercept[Exception] {
      NcGridSource.planningHeader(dir.resolve("bad.nc.gz").toString)
    }
    assert(eBad.getMessage.toLowerCase.contains("gzip") ||
      eBad.getMessage.contains("CDF"), eBad.getMessage)
  }

  test("gz inflation cap on decode is DEFLATE's own expansion bound " +
      "(r16 advice: previously only the byte-array maximum applied): a " +
      "maximally-compressible legitimate file still decodes") {
    import graft.sources.Gz
    // an all-zeros 400x500 double grid is the highest real-world-ratio
    // shape; DEFLATE cannot exceed 1032x by construction, so the new
    // deflateBound cap can refuse only crafted streams, never this one
    val plain = NetCdf.encode(
      Seq(NetCdf.Dim("lat", 400), NetCdf.Dim("lon", 500)), Nil,
      Seq(NetCdf.VarSpec("qty", Seq("lat", "lon"), NetCdf.NcDouble,
        values = new Array[Double](400 * 500))),
      numRecs = 0)
    val wrapped = Gz.gzip(plain)
    assert(plain.length > 100 * wrapped.length,
      s"fixture not high-ratio: ${plain.length}/${wrapped.length}")
    val f = NetCdf.decode(wrapped)
    assert(f.shapeOf(f.variable("qty")).toSeq == Seq(400, 500))
    assert(f.read("qty").forall(_ == 0.0))
  }

  test("two-stage gz bound on decode: the header's declared extent caps " +
      "the buffer, dead tail bytes are discarded with the gzip trailer " +
      "still validating, and unboundable headers fall back") {
    import graft.sources.Gz
    // a record-var file: extent = begin + (numrecs-1)*stride + perRec
    val plain = NetCdf.encode(
      Seq(NetCdf.Dim("t", 0), NetCdf.Dim("x", 3)), Nil,
      Seq(NetCdf.VarSpec("v", Seq("t", "x"), NetCdf.NcShort,
        values = Array.tabulate(12)(_.toDouble))),
      numRecs = 4)
    // tight bound: within alignment pad of the true file end
    val need = NetCdf.headerDerivedBound(plain).get
    assert(need <= plain.length && need >= plain.length - 4,
      s"need=$need file=${plain.length}")
    // a bomb that LIES small: valid tiny file + 48 MB dead zeros gzips
    // to ~50 KB; the single-stage deflate bound would buffer all of
    // it, the two-stage path keeps max(declared, probe) = the probe
    val bomb = Gz.gzip(plain ++ new Array[Byte](48 << 20))
    assert(Gz.gunzipHeaderBounded(bomb, "t", 1 << 20)(
      NetCdf.headerDerivedBound).length == (1 << 20))
    val back = NetCdf.decode(bomb)
    assert(back.numRecs == 4 &&
      back.read("v").toSeq == (0 until 12).map(_.toDouble))
    // the drain still validates the gzip trailer: a corrupt LAST byte
    // (past everything kept) refuses by name
    val corrupt = bomb.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x55).toByte
    val eTail = intercept[IllegalArgumentException](NetCdf.decode(corrupt))
    assert(eTail.getMessage.contains("gzip"), eTail.getMessage)
    // no CDF magic at all: allocation stops at the probe, the magic
    // gate refuses by name
    val junk = Gz.gzip(new Array[Byte](32 << 20))
    assert(Gz.gunzipHeaderBounded(junk, "t", 1 << 20)(
      NetCdf.headerDerivedBound).length == (1 << 20))
    assert(intercept[IllegalArgumentException](NetCdf.decode(junk))
      .getMessage.contains("CDF"))
    // fallbacks widen, never guess: header outrunning the prefix, and
    // a header declaring no variables at all
    assert(NetCdf.headerDerivedBound(
      java.util.Arrays.copyOf(plain, 16)).isEmpty)
    assert(NetCdf.headerDerivedBound(
      NetCdf.encode(Seq(NetCdf.Dim("x", 3)), Nil, Nil)).isEmpty)
    // end-to-end fallback still decodes byte-identically
    assert(Gz.gunzipHeaderBounded(Gz.gzip(plain), "t", 16)(
      NetCdf.headerDerivedBound).sameElements(plain))
    // derive is TOTAL on fuzzed prefixes: truncations and bit flips
    // return (Some or None), never throw
    (0 until plain.length by 5).foreach { cut =>
      NetCdf.headerDerivedBound(java.util.Arrays.copyOf(plain, cut))
    }
    (0 until math.min(plain.length, 64)).foreach { i =>
      val m = plain.clone(); m(i) = (m(i) ^ 0xff).toByte
      NetCdf.headerDerivedBound(m)
    }
    // r17 review: a crafted attribute whose count*width is exactly
    // 2^32 used to wrap pad4(...).toInt to 0, pass the overrun gate,
    // and allocate a ~4 GiB value array — it must refuse by name
    // (strict path) and fall back quietly (derive path), never
    // allocate
    val attBomb = java.nio.ByteBuffer.allocate(40)
      .put("CDF".getBytes("US-ASCII")).put(1.toByte)
      .putInt(0)                 // numrecs
      .putInt(0).putInt(0)       // absent dim list
      .putInt(0x0C).putInt(1)    // gatt list, one attribute
      .putInt(1).put('a'.toByte) // name "a"
      .put(new Array[Byte](3))   // name pad to 4
      .putInt(NetCdf.NcDouble)
      .putInt(0x20000000)        // nelems: 2^29 doubles = 2^32 bytes
      .array()
    val eAtt = intercept[IllegalArgumentException](NetCdf.decode(attBomb))
    assert(eAtt.getMessage.contains("overruns"), eAtt.getMessage)
    assert(NetCdf.headerDerivedBound(attBomb).isEmpty)
  }

  test("gz planning past the 1 MiB prefix: ISIZE bounded both ways — " +
      "a valid trailer plans bounded, a multi-member trailer falls " +
      "back to the strict whole-file decode, an overstated trailer " +
      "refuses at plan time by name") {
    import graft.sources.{Gz, NcGridSource}
    // incompressible payload (LCG doubles) so the gz outruns the 1 MiB
    // planning prefix and the trailer branch actually exercises
    val n = 400 * 500
    var seed = 0x2545f4914f6cdd1dL
    val vals = Array.fill(n) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (seed >>> 11).toDouble / (1L << 53).toDouble
    }
    val plain = NetCdf.encode(
      Seq(NetCdf.Dim("lat", 400), NetCdf.Dim("lon", 500)), Nil,
      Seq(NetCdf.VarSpec("qty", Seq("lat", "lon"), NetCdf.NcDouble,
        values = vals)),
      numRecs = 0)
    val gz = Gz.gzip(plain)
    assert(gz.length > NcGridSource.HeaderPrefixBytes,
      s"fixture must outrun the planning prefix, got ${gz.length}")
    val dir = java.nio.file.Files.createTempDirectory("graft_ncgzbig")
    java.nio.file.Files.write(dir.resolve("big.nc.gz"), gz)
    // valid single-member trailer: bounded planning path
    val hdr = NcGridSource.planningHeader(dir.resolve("big.nc.gz").toString)
    assert(hdr.vars.map(_.name).contains("qty"))
    assert(hdr.shapeOf(hdr.variable("qty")).toSeq == Seq(400, 500))
    // multi-member stream: trailer covers only the LAST member, so
    // ISIZE < the inflated prefix → graceful strict whole-file
    // fallback (the JDK inflater chains members) still plans right
    val cut = plain.length / 2
    val multi = Gz.gzip(java.util.Arrays.copyOfRange(plain, 0, cut)) ++
      Gz.gzip(java.util.Arrays.copyOfRange(plain, cut, plain.length))
    java.nio.file.Files.write(dir.resolve("multi.nc.gz"), multi)
    val hdr2 = NcGridSource.planningHeader(dir.resolve("multi.nc.gz").toString)
    assert(hdr2.shapeOf(hdr2.variable("qty")).toSeq == Seq(400, 500))
    // overstated trailer (crafted 0xFFFFFFFF — past 1032× the
    // compressed length, DEFLATE's hard expansion bound): the r14-
    // advice check refuses to trust it, and the strict fallback's
    // trailer verification refuses the file by name AT PLAN TIME —
    // the old unbounded check planned var offsets against a wrong
    // file length instead
    val forged = gz.clone()
    forged(forged.length - 4) = 0xff.toByte
    forged(forged.length - 3) = 0xff.toByte
    forged(forged.length - 2) = 0xff.toByte
    forged(forged.length - 1) = 0xff.toByte
    java.nio.file.Files.write(dir.resolve("forged.nc.gz"), forged)
    val e = intercept[Exception] {
      NcGridSource.planningHeader(dir.resolve("forged.nc.gz").toString)
    }
    assert(e.getMessage.toLowerCase.contains("gzip"), e.getMessage)
    // r15 review: a SMALL multi-member stream (compressed inside the
    // prefix) whose LAST member's trailer lies small must not ride
    // the strict shortcut into an uncapped driver inflate — the
    // shortcut's own planning-budget cap trips DURING inflation and
    // the file falls through the bounded path to a correct header
    val zeros = NetCdf.encode(
      Seq(NetCdf.Dim("lat", 400), NetCdf.Dim("lon", 500)), Nil,
      Seq(NetCdf.VarSpec("qty", Seq("lat", "lon"), NetCdf.NcDouble,
        values = new Array[Double](400 * 500))),
      numRecs = 0)
    assert(zeros.length > NcGridSource.HeaderPrefixBytes) // inflates big
    val zcut = zeros.length / 2
    val zmulti = Gz.gzip(java.util.Arrays.copyOfRange(zeros, 0, zcut)) ++
      Gz.gzip(java.util.Arrays.copyOfRange(zeros, zcut, zeros.length))
    assert(zmulti.length < NcGridSource.HeaderPrefixBytes) // compressed small
    java.nio.file.Files.write(dir.resolve("zsmall.nc.gz"), zmulti)
    val hdr3 = NcGridSource.planningHeader(dir.resolve("zsmall.nc.gz").toString)
    assert(hdr3.shapeOf(hdr3.variable("qty")).toSeq == Seq(400, 500))
  }

  test("a 2-D (time, series) variable refuses the grid path by name — " +
      "the y-axis fallback must never alias the time axis") {
    // with qty(time, x) the y fallback (dims.size - 2) lands ON the
    // time dim; before the r14 guard the stride double-count read off
    // the end of the variable — or silently INSIDE the next record
    // variable's slab. Both record vars here make the silent shape
    // reachable; the refusal must name the axis problem instead.
    val enc = NetCdf.encode(
      Seq(NetCdf.Dim("time", 0), NetCdf.Dim("x", 3)), Nil,
      Seq(
        NetCdf.VarSpec("qty", Seq("time", "x"), NetCdf.NcDouble,
          values = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)),
        NetCdf.VarSpec("other", Seq("time", "x"), NetCdf.NcDouble,
          values = Array(7.0, 8.0, 9.0, 10.0, 11.0, 12.0))),
      numRecs = 2)
    val e = intercept[IllegalArgumentException] {
      NetCdf.gridCells(NetCdf.decode(enc), "qty").toSeq
    }
    assert(e.getMessage.contains("time"), e.getMessage)
  }

  test("single record variable uses the unpadded record stride (spec special case)") {
    // one record var of 3 bytes/record: stride 3, NOT padded to 4 —
    // the classic-format exception; a reader assuming padding misreads
    // record 1 onward
    val enc = NetCdf.encode(
      Seq(Dim("time", 0), Dim("x", 3)), Nil,
      Seq(VarSpec("b", Seq("time", "x"), NetCdf.NcByte,
        values = Array(1, 2, 3, 4, 5, 6).map(_.toDouble))),
      numRecs = 2)
    val f = NetCdf.decode(enc)
    assert(f.recordStride == 3L)
    assert(f.read("b").toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // two record vars: both strides pad to 4
    val enc2 = NetCdf.encode(
      Seq(Dim("time", 0), Dim("x", 3)), Nil,
      Seq(
        VarSpec("b", Seq("time", "x"), NetCdf.NcByte,
          values = Array(1, 2, 3, 4, 5, 6).map(_.toDouble)),
        VarSpec("c", Seq("time", "x"), NetCdf.NcByte,
          values = Array(9, 8, 7, 6, 5, 4).map(_.toDouble))),
      numRecs = 2)
    val f2 = NetCdf.decode(enc2)
    assert(f2.recordStride == 8L)
    assert(f2.read("b").toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(f2.read("c").toSeq == Seq(9.0, 8.0, 7.0, 6.0, 5.0, 4.0))
  }

  test("CF unpacking: scale/offset applied, fill matched on the RAW packed value") {
    // short-packed rainfall: v = raw * 0.1 + 100; fill = -32768
    val enc = NetCdf.encode(
      Seq(Dim("lat", 1), Dim("lon", 3)), Nil,
      Seq(VarSpec("p", Seq("lat", "lon"), NetCdf.NcShort,
        atts = Seq(
          Att("scale_factor", None, Array(0.1)),
          Att("add_offset", None, Array(100.0)),
          Att("_FillValue", None, Array(-32768.0))),
        values = Array(15.0, -32768.0, 250.0))))
    val cells = NetCdf.gridCells(NetCdf.decode(enc), "p").toSeq
    assert(math.abs(cells(0).value - 101.5) < 1e-9)
    assert(cells(1).value.isNaN, "fill must match BEFORE unpacking")
    assert(math.abs(cells(2).value - 125.0) < 1e-9)
  }

  test("CF time units decode; time axis + singleton level squeeze") {
    val enc = NetCdf.encode(
      Seq(Dim("time", 0), Dim("level", 1), Dim("lat", 1), Dim("lon", 2)), Nil,
      Seq(
        VarSpec("time", Seq("time"), NetCdf.NcInt,
          atts = Seq(Att("units", Some("hours since 1900-01-01 00:00:00.0"),
            Array.empty)),
          values = Array(1051608.0, 1051632.0)), // 2019-12-18T00, +24h
        VarSpec("pm", Seq("time", "level", "lat", "lon"), NetCdf.NcFloat,
          values = Array(1, 2, 3, 4).map(_.toDouble))),
      numRecs = 2)
    val cells = NetCdf.gridCells(NetCdf.decode(enc), "pm").toSeq
    assert(cells.size == 4)
    val ts = cells.map(_.timeMicros.get).distinct
    assert(ts.size == 2 && ts(1) - ts(0) == 24L * 3600 * 1000000)
    val expect0 = java.time.LocalDateTime.of(1900, 1, 1, 0, 0)
      .plusHours(1051608).toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000
    assert(ts(0) == expect0)
    // the t=1 slice sees the record-1 slab
    assert(cells.filter(_.t == 1).map(_.value).toSeq == Seq(3.0, 4.0))
    // unit variants
    assert(NetCdf.cfTimeBase("days since 2024-06-01").exists(_._1 == 86400000000L))
    assert(NetCdf.cfTimeBase("seconds since 1970-01-01T00:00:00Z")
      .contains((1000000L, 0L)))
    assert(NetCdf.cfTimeBase("kelvin").isEmpty)
  }

  test("corrupt inputs fail loudly, never silent junk") {
    intercept[IllegalArgumentException] { NetCdf.decode("HDF5junk".getBytes) }
    // a classic file RELABELED CDF-5 parses its 4-byte counts as
    // 8-byte garbage — must refuse loudly, never decode junk
    val v5 = handBuilt(); v5(3) = 5
    intercept[Exception] { NetCdf.decode(v5) }
    // unknown versions (e.g. 3) refuse by name
    val v3 = handBuilt(); v3(3) = 3
    assert(intercept[IllegalArgumentException] { NetCdf.decode(v3) }
      .getMessage.contains("version"))
    val good = handBuilt()
    for (cut <- Seq(5, 20, good.length / 2, good.length - 3))
      intercept[Exception] {
        val f = NetCdf.decode(java.util.Arrays.copyOf(good, cut))
        f.vars.foreach(v => f.read(v.name)) // slab reads must bound-check
      }
    // NC_CHAR data variable refused on the numeric path
    val chars = NetCdf.encode(Seq(Dim("n", 4)), Nil,
      Seq(VarSpec("s", Seq("n"), NetCdf.NcInt, values = Array(65, 66, 67, 68)
        .map(_.toDouble))))
    // patch nc_type to NC_CHAR: find the int 4 right after the att list
    val f = NetCdf.decode(chars)
    assert(f.read("s").toSeq == Seq(65.0, 66.0, 67.0, 68.0))
    // >1 non-singleton extra dim refused on the grid path
    val cube = NetCdf.encode(
      Seq(Dim("ens", 2), Dim("level", 2), Dim("lat", 1), Dim("lon", 1)), Nil,
      Seq(VarSpec("v", Seq("ens", "level", "lat", "lon"), NetCdf.NcFloat,
        values = Array(1, 2, 3, 4).map(_.toDouble))))
    val e = intercept[IllegalArgumentException] {
      NetCdf.gridCells(NetCdf.decode(cube), "v").toSeq
    }
    assert(e.getMessage.contains("non-singleton"), e.getMessage)
    // unknown variable: loud, lists what exists
    assert(intercept[IllegalArgumentException] {
      NetCdf.decode(handBuilt()).read("nope")
    }.getMessage.contains("rfe"))
  }

  test("CDF-5 (64-bit data): wide counts, new types round-trip; classic " +
      "files refuse smuggled CDF-5 types; hand-built fixture decodes") {
    // all five CDF-5 types + a classic one, record + fixed vars
    val dims = Seq(Dim("time", 0), Dim("x", 3))
    val specs = Seq(
      VarSpec("ub", Seq("x"), NetCdf.NcUByte,
        values = Array(0.0, 128.0, 255.0)),
      VarSpec("us", Seq("x"), NetCdf.NcUShort,
        values = Array(0.0, 40000.0, 65535.0)),
      VarSpec("ui", Seq("x"), NetCdf.NcUInt,
        values = Array(0.0, 3e9, 4294967295.0)),
      VarSpec("i64", Seq("x"), NetCdf.NcInt64,
        values = Array(-9e15, 0.0, 9e15)),
      VarSpec("u64", Seq("x"), NetCdf.NcUInt64,
        values = Array(0.0, 9.007199254740992E15, 1.844674407370955E19)),
      VarSpec("f", Seq("time", "x"), NetCdf.NcFloat,
        atts = Seq(Att("units", Some("K"), Array.empty)),
        values = Array(1.5, 2.5, 3.5, 4.5, 5.5, 6.5)))
    val enc = NetCdf.encode(dims, Seq(Att("title", Some("t5"), Array.empty)),
      specs, numRecs = 2, version = 5)
    assert(enc(3) == 5.toByte)
    val f = NetCdf.decode(enc)
    assert(f.version == 5 && f.numRecs == 2)
    specs.foreach(v => assert(f.read(v.name).toSeq == v.values.toSeq, v.name))
    assert(f.variable("f").att("units").flatMap(_.text).contains("K"))
    // streaming writer emits identical CDF-5 bytes
    val bos = new java.io.ByteArrayOutputStream()
    NetCdf.encodeRecords(dims, Seq(Att("title", Some("t5"), Array.empty)),
      specs, numRecs = 2, bos, (_, r) =>
        java.util.Arrays.copyOfRange(specs.last.values, r * 3, r * 3 + 3),
      version = 5)
    assert(bos.toByteArray.toSeq == enc.toSeq)
    // classic files cannot carry CDF-5 types — write AND read side
    intercept[IllegalArgumentException] {
      NetCdf.encode(Seq(Dim("x", 2)), Nil,
        Seq(VarSpec("v", Seq("x"), NetCdf.NcUInt, values = Array(1.0, 2.0))))
    }
    val smuggled = enc.clone(); smuggled(3) = 2 // relabel CDF-5 as CDF-2
    intercept[Exception] { NetCdf.decode(smuggled) }
    // hand-built minimal CDF-5 fixture, independent of the encoder:
    // one dim x=2, no gatts, one NC_INT64 var "v" with values (7, -8)
    val bb = java.nio.ByteBuffer.allocate(200)
    bb.put("CDF".getBytes("US-ASCII")).put(5.toByte)
    bb.putLong(0L)              // numrecs
    bb.putInt(0x0A).putLong(1L) // dim_list
    bb.putLong(1L).put('x'.toByte).put(Array[Byte](0, 0, 0)) // name + pad
    bb.putLong(2L)              // dim length
    bb.putInt(0).putLong(0L)    // gatt_list ABSENT
    bb.putInt(0x0B).putLong(1L) // var_list
    bb.putLong(1L).put('v'.toByte).put(Array[Byte](0, 0, 0))
    bb.putLong(1L)              // rank
    bb.putLong(0L)              // dim id (NON_NEG: 8 bytes in CDF-5)
    bb.putInt(0).putLong(0L)    // vatt_list ABSENT
    bb.putInt(NetCdf.NcInt64)
    bb.putLong(16L)             // vsize
    val beginAt = bb.position(); bb.putLong(0L) // begin patched below
    val dataAt = bb.position()
    bb.putLong(beginAt, dataAt.toLong)
    bb.putLong(7L).putLong(-8L)
    val fx = NetCdf.decode(java.util.Arrays.copyOf(bb.array(), bb.position()))
    assert(fx.dims == Seq(Dim("x", 2)))
    assert(fx.read("v").toSeq == Seq(7.0, -8.0))
    // the GRID path reads the new types too (rawAt was a third value-
    // decode site — r11 second review)
    val g5 = NetCdf.encode(Seq(Dim("lat", 1), Dim("lon", 3)), Nil,
      Seq(VarSpec("q", Seq("lat", "lon"), NetCdf.NcUInt,
        atts = Seq(Att("_FillValue", None, Array(4294967295.0))),
        values = Array(3e9, 4294967295.0, 7.0))), version = 5)
    val cells = NetCdf.gridCells(NetCdf.decode(g5), "q").toSeq
    assert(cells(0).value == 3e9 && cells(1).value.isNaN &&
      cells(2).value == 7.0)
  }

  test("encode refuses >2 GiB totals unconditionally (in-memory writer bound)") {
    // CDF-2 the FORMAT allows huge files; this writer does not — the
    // guard must fire BEFORE ByteBuffer.allocate truncates the size
    // (r9 advice). 40000x40000 doubles = 12.8 GB declared.
    val e = intercept[IllegalArgumentException] {
      NetCdf.encode(Seq(Dim("y", 40000), Dim("x", 40000)), Nil,
        Seq(VarSpec("v", Seq("y", "x"), NetCdf.NcDouble)), version = 2)
    }
    assert(e.getMessage.contains("in-memory writer"), e.getMessage)
  }

  test("encodeRecords streams byte-identical files record-at-a-time " +
      "(the >2 GiB CDF-2 publish path)") {
    // mixed shape: a fixed coordinate var (odd byte length → padding),
    // TWO record vars (padded strides), CDF-1 and CDF-2
    val dims = Seq(Dim("time", 0), Dim("x", 3))
    val xs = VarSpec("x", Seq("x"), NetCdf.NcByte,
      values = Array(7, 8, 9).map(_.toDouble))
    val b = VarSpec("b", Seq("time", "x"), NetCdf.NcShort,
      atts = Seq(Att("units", Some("mm"), Array.empty)),
      values = Array(1, 2, 3, 4, 5, 6).map(_.toDouble))
    val c = VarSpec("c", Seq("time", "x"), NetCdf.NcByte,
      values = Array(9, 8, 7, 6, 5, 4).map(_.toDouble))
    for (ver <- Seq(1, 2)) {
      val whole = NetCdf.encode(dims, Nil, Seq(xs, b, c), numRecs = 2,
        version = ver)
      val bos = new java.io.ByteArrayOutputStream()
      NetCdf.encodeRecords(dims, Nil, Seq(xs, b, c), numRecs = 2, bos,
        // record slices supplied lazily — the streaming contract
        (name, r) => {
          val src = if (name == "b") b.values else c.values
          java.util.Arrays.copyOfRange(src, r * 3, r * 3 + 3)
        }, version = ver)
      assert(bos.toByteArray.toSeq == whole.toSeq, s"version $ver")
    }
    // streamed straight to a FILE, decoded back
    val p = java.nio.file.Files.createTempFile("graft_ncstream", ".nc")
    val fos = new java.io.FileOutputStream(p.toFile)
    try NetCdf.encodeRecords(dims, Nil, Seq(xs, b), numRecs = 2, fos,
      (_, r) => java.util.Arrays.copyOfRange(b.values, r * 3, r * 3 + 3))
    finally fos.close()
    val f = NetCdf.decode(java.nio.file.Files.readAllBytes(p))
    assert(f.read("b").toSeq == b.values.toSeq)
    assert(f.read("x").toSeq == Seq(7.0, 8.0, 9.0))
    // a record slice of the wrong width refuses loudly mid-stream
    intercept[IllegalArgumentException] {
      NetCdf.encodeRecords(dims, Nil, Seq(b), numRecs = 2,
        new java.io.ByteArrayOutputStream(), (_, _) => Array(1.0))
    }
  }

  test("planner failure plans an unprunable whole-file split that fails loudly") {
    // a corrupt .nc file: the planner cannot learn its step count, so
    // it must plan ONE split no pushed t bound can prune — the old
    // steps=1 fallback let `t === 3` prune the file away entirely and
    // the deferred task error never fired (r9 advice)
    val dir = java.nio.file.Files.createTempDirectory("graft_ncbad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.nc"),
      "not a netcdf file at all".getBytes("US-ASCII"))
    val df = spark.read.format("graft.sources.NcGridSource")
      .option("path", dir).option("var", "rfe").load()
      .filter(col("t") === 3)
    assert(df.rdd.getNumPartitions == 1, "corrupt file must still plan a split")
    val e = intercept[Exception] { df.count() }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    assert(causes(e).exists(_.getMessage != null), e.toString)
    // a HEALTHY file alongside it still yields its rows when the scan
    // is restricted to it by path (split pruning drops the corrupt one)
    val good = NetCdf.encode(
      Seq(Dim("lat", 1), Dim("lon", 2)), Nil,
      Seq(VarSpec("rfe", Seq("lat", "lon"), NetCdf.NcFloat,
        values = Array(1.0, 2.0))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/good.nc"), good)
    val onlyGood = spark.read.format("graft.sources.NcGridSource")
      .option("path", dir).option("var", "rfe").load()
      .filter(col("path").endsWith("good.nc"))
    assert(onlyGood.count() == 2)
  }

  test("composition: nc grid rows feed the downstream grid operators (i27 coarsen)") {
    // the claim the connectors exist for: decoded rows drop straight
    // into the grid pipeline — here a 4x4 slice coarsens 2x with the
    // i27 mechanics (cell-mean overview pyramid)
    val dir = java.nio.file.Files.createTempDirectory("graft_nccomp").toString
    val nc = NetCdf.encode(
      Seq(Dim("lat", 4), Dim("lon", 4)), Nil,
      Seq(VarSpec("v", Seq("lat", "lon"), NetCdf.NcDouble,
        values = Array.tabulate(16)(_.toDouble))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/g.nc"), nc)
    val coarse = spark.read.format("graft.sources.NcGridSource")
      .option("path", dir).option("var", "v").load()
      .groupBy((col("x") / 2).cast("int").as("cx"),
        (col("y") / 2).cast("int").as("cy"))
      .agg(avg(col("value")).as("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // cell (0,0) = mean(0,1,4,5) = 2.5; (1,1) = mean(10,11,14,15) = 12.5
    assert(coarse == Map((0, 0) -> 2.5, (1, 0) -> 4.5, (0, 1) -> 10.5,
      (1, 1) -> 12.5), coarse.toString)
  }

  test("NcGridSource: DSv2 table, one partition per (file x time step), pruned reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ncdsv2").toString
    def ncFile(tag: Int): Array[Byte] = NetCdf.encode(
      Seq(Dim("time", 0), Dim("lat", 2), Dim("lon", 2)), Nil,
      Seq(
        VarSpec("time", Seq("time"), NetCdf.NcDouble,
          atts = Seq(Att("units", Some("hours since 2024-06-01 00:00"),
            Array.empty)),
          values = Array(tag * 48.0, tag * 48.0 + 24)),
        VarSpec("lat", Seq("lat"), NetCdf.NcDouble, values = Array(0.0, 1.0)),
        VarSpec("lon", Seq("lon"), NetCdf.NcDouble, values = Array(5.0, 6.0)),
        VarSpec("rfe", Seq("time", "lat", "lon"), NetCdf.NcFloat,
          atts = Seq(Att("_FillValue", None, Array(-1.0))),
          values = Array(1, -1, 3, 4, 5, 6, 7, 8).map(d => d.toDouble * tag))),
      numRecs = 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.nc"), ncFile(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.nc"), ncFile(2))
    val df = spark.read.format("graft.sources.NcGridSource")
      .option("path", dir).option("var", "rfe")
      .option("stepsPerSplit", "1").load()
    // stepsPerSplit=1: 2 files x 2 time steps = 4 splits — the
    // per-slice task fan-out the reference's per-date processing
    // implies; the default (8) groups steps so each task reads its
    // file once for several slices
    assert(df.rdd.getNumPartitions == 4, s"${df.rdd.getNumPartitions}")
    assert(spark.read.format("graft.sources.NcGridSource")
      .option("path", dir).option("var", "rfe").load()
      .rdd.getNumPartitions == 2, "default range-split: one per file here")
    val rows = df.collect()
    // a.nc t=0 drops its one fill cell (raw -1 * tag 1)
    assert(rows.length == 7 + 8)
    val a0 = rows.filter(r => r.getString(0).endsWith("a.nc") && r.getInt(2) == 0)
    assert(a0.map(_.getDouble(8)).sorted.toSeq == Seq(1.0, 3.0, 4.0))
    assert(a0.head.getString(1) == "rfe")
    // time decoded per slice
    val times = rows.filter(_.getString(0).endsWith("a.nc"))
      .map(_.getTimestamp(3).toInstant.toString).distinct.sorted
    assert(times.toSeq == Seq("2024-06-03T00:00:00Z", "2024-06-04T00:00:00Z"))
    // georef from coordinate vars
    assert(rows.forall(r => (r.getDouble(6) == 5.0 || r.getDouble(6) == 6.0) &&
      (r.getDouble(7) == 0.0 || r.getDouble(7) == 1.0)))
    // pruning reaches the source
    val pruned = df.select("value")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.matches(".*BatchScan[^\\[]*\\[value#\\d+\\].*"), scanLine)
    // a projection in another order than the schema's, path and value
    // included, reads the same cells as the full rows — fills kept as
    // NULL value or dropped
    for (keep <- Seq(false, true)) {
      val got = GridProjection.check(spark.read.format("graft.sources.NcGridSource")
        .option("path", dir).option("var", "rfe")
        .option("keepFill", keep.toString).load(),
        Seq("time", "value", "path", "lon", "t"))
      assert(got.length == (if (keep) 16 else 15) && got.exists(_(1) == null) == keep)
    }
    // keepFill surfaces fills as NULL rows
    val withFill = spark.read.format("graft.sources.NcGridSource")
      .option("path", s"$dir/a.nc").option("var", "rfe")
      .option("keepFill", "true").load()
    assert(withFill.count() == 8 &&
      withFill.filter(col("value").isNull).count() == 1)
    // SPLIT pruning: t/path predicates skip whole splits at planning —
    // a one-date query over an archive plans one slice per matching
    // file, and results stay identical because every filter is still
    // evaluated post-scan (reported unpushed)
    val t1Only = df.filter(col("t") === 1)
    assert(t1Only.rdd.getNumPartitions == 2, // one split per file
      s"${t1Only.rdd.getNumPartitions}")
    assert(t1Only.count() == 8)
    val aOnly = df.filter(col("path").endsWith("a.nc") && col("t") === 1)
    assert(aOnly.rdd.getNumPartitions == 1, s"${aOnly.rdd.getNumPartitions}")
    assert(aOnly.select(round(sum("value"), 2)).collect()(0).getDouble(0) ==
      5.0 + 6 + 7 + 8)
    // contradictory bounds plan zero splits, zero rows, no failure
    assert(df.filter(col("t") === 1 && col("t") === 0).count() == 0)
    // an EMPTY record dim (numrecs=0, an empty forecast placeholder)
    // plans zero splits and yields zero rows — never a failing task
    val emptyNc = NetCdf.encode(
      Seq(Dim("time", 0), Dim("lat", 2), Dim("lon", 2)), Nil,
      Seq(VarSpec("rfe", Seq("time", "lat", "lon"), NetCdf.NcFloat,
        values = Array.empty)),
      numRecs = 0)
    val edir = java.nio.file.Files.createTempDirectory("graft_ncempty").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$edir/e.nc"), emptyNc)
    assert(spark.read.format("graft.sources.NcGridSource")
      .option("path", edir).option("var", "rfe").load().count() == 0)
    // the planner learns steps from a bounded header prefix, never the
    // whole file
    val hdr = graft.sources.NcGridSource.planningHeader(s"$dir/a.nc")
    assert(graft.sources.NcGridSource.timeSteps(hdr, "rfe") == 2)
    // matches the codec decoded on the driver row-for-row, fills
    // dropped
    val codecRows = Seq("a.nc", "b.nc").flatMap { name =>
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$name"))
      NetCdf.gridCells(NetCdf.decode(b), "rfe").filterNot(_.value.isNaN)
        .map(c => (name, c.t, c.x, c.y, c.value))
    }.toSet
    assert(codecRows == rows.map(r => (r.getString(0).split('/').last, r.getInt(2),
      r.getInt(4), r.getInt(5), r.getDouble(8))).toSet)
  }
}

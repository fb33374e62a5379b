package graft

import graft.sources.Hdf5
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.sources.StringEndsWith

/** The clean-room HDF5 contiguous-subset reader against INDEPENDENT
  * hand-built fixtures (the NetCdfSpec discipline — every structure
  * assembled per the public HDF5 File Format Specification with
  * explicit offsets, no HDF5 library anywhere): a superblock-v2 file
  * with v2 object headers, compact links, a v3 fill message, v3
  * attributes and an OCHK continuation; a superblock-v0 file with the
  * v1 symbol-table machinery (TREE/SNOD/HEAP) and v1 messages; CF
  * semantics on the grid path; and the loud refusals. */
class Hdf5Spec extends SparkSpec {

  private val Undef = -1L

  private def sig(bb: ByteBuffer): Unit =
    bb.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))

  // ---- message bodies (little-endian, per spec section IV) -------------

  private def le(build: ByteBuffer => Unit, cap: Int = 256): Array[Byte] = {
    val b = ByteBuffer.allocate(cap).order(ByteOrder.LITTLE_ENDIAN)
    build(b)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  private def dtInt16: Array[Byte] = le { b =>
    b.put(0x10.toByte) // version 1, class 0 (fixed-point)
    b.put(0x08.toByte).put(0.toByte).put(0.toByte) // LE, signed
    b.putInt(2) // size
    b.putShort(0).putShort(16) // bit offset, precision
  }

  private def dtF32: Array[Byte] = le { b =>
    b.put(0x11.toByte) // version 1, class 1 (float)
    b.put(0x20.toByte).put(31.toByte).put(0.toByte) // LE, norm, sign loc
    b.putInt(4)
    b.putShort(0).putShort(32)
    b.put(23.toByte).put(8.toByte).put(0.toByte).put(23.toByte)
    b.putInt(127)
  }

  private def dtF64: Array[Byte] = le { b =>
    b.put(0x11.toByte)
    b.put(0x20.toByte).put(63.toByte).put(0.toByte)
    b.putInt(8)
    b.putShort(0).putShort(64)
    b.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
    b.putInt(1023)
  }

  private def dtString(n: Int): Array[Byte] = le { b =>
    b.put(0x13.toByte) // version 1, class 3 (string)
    b.put(0.toByte).put(0.toByte).put(0.toByte) // null-terminated
    b.putInt(n)
  }

  private def dsScalarV2: Array[Byte] = Array(2, 0, 0, 0) // ver, rank, flags, scalar

  private def dsRank2V2(ny: Long, nx: Long): Array[Byte] = le { b =>
    b.put(2.toByte).put(2.toByte).put(0.toByte).put(1.toByte) // simple
    b.putLong(ny).putLong(nx)
  }

  /** v3 attribute message body: charset variant with name/datatype/
    * dataspace UNPADDED (spec: versions 2+ drop the v1 8-byte padding). */
  private def attrV3(name: String, dt: Array[Byte], ds: Array[Byte],
      data: Array[Byte]): Array[Byte] = le { b =>
    val nameZ = name.getBytes("US-ASCII") :+ 0.toByte
    b.put(3.toByte).put(0.toByte)
    b.putShort(nameZ.length.toShort)
    b.putShort(dt.length.toShort)
    b.putShort(ds.length.toShort)
    b.put(0.toByte) // charset: ASCII
    b.put(nameZ).put(dt).put(ds).put(data)
  }

  /** One v2 object-header message: type(1) size(2) flags(1) body. */
  private def msgV2(typ: Int, body: Array[Byte]): Array[Byte] = le ({ b =>
    b.put(typ.toByte).putShort(body.length.toShort).put(0.toByte).put(body)
  }, body.length + 8)

  // ---- fixture A: superblock v2, OHDR headers, compact links, OCHK ----

  /** Offsets chosen with room to spare; `softLink`/`denseLinks` build
    * the refusal variants. Returns (bytes, layoutClassByteOffset). */
  private def fixtureV2(softLink: Boolean = false,
      denseLinks: Boolean = false): (Array[Byte], Int) = {
    val dsHdrAt = 128L
    val ochkAt = 384L
    val dataAt = 448L
    val total = 464
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)

    // superblock v2 (48 bytes)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0) // checksum (not verified by the reader)

    // root OHDR at 48: one link message (or the refusal variants)
    val rootMsgs: Array[Byte] =
      if (denseLinks)
        msgV2(0x02, le { b => // link info with a LIVE fractal heap addr
          b.put(0.toByte).put(0.toByte).putLong(48L).putLong(Undef)
        })
      else if (softLink)
        // hard "temp" + soft aliases: sa → /temp (absolute),
        // sb → sa (relative, chains through sa), sd → /nope (dangling)
        (msgV2(0x06, le { b =>
          b.put(1.toByte).put(0.toByte)
          b.put(4.toByte).put("temp".getBytes("US-ASCII"))
          b.putLong(dsHdrAt)
        }) ++ msgV2(0x06, le { b =>
          b.put(1.toByte).put(0x08.toByte).put(1.toByte) // soft
          b.put(2.toByte).put("sa".getBytes("US-ASCII"))
          b.putShort(5).put("/temp".getBytes("US-ASCII"))
        }) ++ msgV2(0x06, le { b =>
          b.put(1.toByte).put(0x08.toByte).put(1.toByte)
          b.put(2.toByte).put("sb".getBytes("US-ASCII"))
          b.putShort(2).put("sa".getBytes("US-ASCII"))
        }) ++ msgV2(0x06, le { b =>
          b.put(1.toByte).put(0x08.toByte).put(1.toByte)
          b.put(2.toByte).put("sd".getBytes("US-ASCII"))
          b.putShort(5).put("/nope".getBytes("US-ASCII"))
        })).toArray
      else
        msgV2(0x06, le { b =>
          b.put(1.toByte).put(0.toByte) // hard link, 1-byte name length
          b.put(4.toByte).put("temp".getBytes("US-ASCII"))
          b.putLong(dsHdrAt)
        })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte) // chunk-0 size (1-byte width)
    out.put(rootMsgs)
    out.putInt(0) // checksum

    // dataset OHDR at 128: dataspace, datatype, fill v3, three v3
    // attributes, and the LAYOUT message exiled to an OCHK
    // continuation block (exercising the v2 continuation walk)
    val contBody = le(b => { b.putLong(ochkAt); b.putLong(30L) })
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(2, 3)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b => // fill v3: defined, -3000
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-3000)
      }),
      msgV2(0x0C, attrV3("scale_factor", dtF64, dsScalarV2,
        le(_.putDouble(0.5)))),
      msgV2(0x0C, attrV3("add_offset", dtF64, dsScalarV2,
        le(_.putDouble(2.0)))),
      msgV2(0x0C, attrV3("units", dtString(5), dsScalarV2,
        "degC".getBytes("US-ASCII") :+ 0.toByte)),
      msgV2(0x10, contBody)).flatten
    out.position(dsHdrAt.toInt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort) // chunk-0 size (2-byte width)
    out.put(dsMsgs)
    out.putInt(0)

    // OCHK continuation: the layout message (contiguous at dataAt)
    val layoutMsg = msgV2(0x08, le { b =>
      b.put(3.toByte).put(1.toByte).putLong(dataAt).putLong(12L)
    })
    require(4 + layoutMsg.length + 4 == 30, s"OCHK len ${layoutMsg.length}")
    out.position(ochkAt.toInt)
    out.put("OCHK".getBytes("US-ASCII")).put(layoutMsg).putInt(0)
    val layoutClassByteAt = ochkAt.toInt + 4 + 4 + 1

    // data: 2x3 int16 LE, (0,1) is the fill hole
    out.position(dataAt.toInt)
    Seq(100, -3000, 300, 400, 500, 600).foreach(v => out.putShort(v.toShort))
    (out.array(), layoutClassByteAt)
  }

  /** A file whose root group carries EXTERNAL links (spec III.K: Link
    * message type 64, value = version/flags byte + NUL-terminated file
    * name + object path) — and nothing else. */
  private def fixtureExtLinks(links: Seq[(String, String, String)]): Array[Byte] = {
    val rootMsgs: Array[Byte] = links.flatMap { case (name, file, target) =>
      val value = Array[Byte](0) ++
        file.getBytes("US-ASCII") ++ Array[Byte](0) ++
        target.getBytes("US-ASCII") ++ Array[Byte](0)
      msgV2(0x06, le { b =>
        b.put(1.toByte).put(0x08.toByte).put(64.toByte)
        b.put(name.length.toByte).put(name.getBytes("US-ASCII"))
        b.putShort(value.length.toShort).put(value)
      })
    }.toArray
    require(rootMsgs.length <= 255, "fixture: too many links for 1-byte size")
    val total = 48 + 7 + rootMsgs.length + 4
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    out.array()
  }

  test("external links: decode surfaces metadata; resolution follows " +
      "sibling files and chains; absolute/dotted/missing/group/cyclic " +
      "targets refuse by name") {
    import java.nio.file.{Files, Paths}
    val f = Hdf5.decode(fixtureExtLinks(Seq(("le", "b.h5", "/temp"))))
    assert(f.datasets.isEmpty && f.externalLinks ==
      Seq(Hdf5.ExternalLink("/le", "b.h5", "/temp")))
    // two real files on disk: a.h5 links into b.h5, c.h5 chains a → b
    val dir = Files.createTempDirectory("graft_h5ext")
    Files.write(dir.resolve("b.h5"), fixtureV2()._1)
    Files.write(dir.resolve("c.h5"),
      fixtureExtLinks(Seq(("lx", "b.h5", "temp")))) // relative obj path
    // colon-named sibling — the ISO-timestamp granule shape
    // (HDF-EOS5 stitch files link `...T00:00:00.h5` targets); r15:
    // resolves via absolute-string path construction instead of the
    // old any-colon refusal
    Files.write(dir.resolve("g_T00:00.h5"), fixtureV2()._1)
    Files.write(dir.resolve("a.h5"), fixtureExtLinks(Seq(
      ("le", "b.h5", "/temp"),
      ("le2", "c.h5", "/lx"),     // chain: a → c → b
      ("lc", "a.h5", "/lc"),      // self-cycle
      ("lm", "nope.h5", "/x"),    // missing file
      ("ld", "b.h5", "/nope"),    // missing dataset
      ("lg", "b.h5", "/"),        // group target
      ("la", "/etc/x.h5", "/x"),  // absolute file name
      ("lp", "../b.h5", "/temp"), // dotted file name
      ("lq", "g_T00:00.h5", "/temp"), // colon-named sibling: resolves
      ("lu", "s3:granule.h5", "/x")   // URI-scheme prefix: refuses
    )))
    val aPath = dir.resolve("a.h5").toString
    val a = Hdf5.decode(Files.readAllBytes(dir.resolve("a.h5")))
    def linkOf(n: String) = a.externalLinks.find(_.path == n).get
    def decodeFile(p: String) = Hdf5.decode(Files.readAllBytes(Paths.get(p)))
    // direct + chained resolution (the chain normalizes 'temp' → '/temp')
    assert(Hdf5.resolveExternalLink(aPath, linkOf("/le"), decodeFile) ==
      ((dir.resolve("b.h5").toString, "/temp")))
    assert(Hdf5.resolveExternalLink(aPath, linkOf("/le2"), decodeFile) ==
      ((dir.resolve("b.h5").toString, "/temp")))
    def refuses(n: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Hdf5.resolveExternalLink(aPath, linkOf(n), decodeFile)
      }
      assert(e.getMessage.contains(needle), s"$n: ${e.getMessage}")
    }
    refuses("/lc", "cycle")
    refuses("/lm", "missing")
    refuses("/ld", "no dataset")
    refuses("/lg", "GROUP")
    refuses("/la", "absolute")
    refuses("/lp", "absolute or carries")
    refuses("/lu", "URI scheme prefix")
    // the colon-named sibling resolves to its own file
    assert(Hdf5.resolveExternalLink(aPath, linkOf("/lq"), decodeFile) ==
      ((dir.resolve("g_T00:00.h5").toString, "/temp")))
  }

  test("H5GridSource follows an EXPLICITLY-selected external link to " +
      "the sibling file (rows labeled with the linking file + link " +
      "name); unfiltered scans never follow links") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_h5ext_dsv2")
    Files.write(dir.resolve("b.h5"), fixtureV2()._1)
    Files.write(dir.resolve("a.h5"),
      fixtureExtLinks(Seq(("le", "b.h5", "/temp"))))
    // unfiltered scan: only b.h5's /temp rows — the link reads nothing
    // (paths come back in the listing's URI form, so match by suffix)
    val all = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).load()
      .select("path", "dataset").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(all.map { case (p, d) => (p.endsWith("b.h5"), d) } ==
      Set((true, "/temp")), all)
    // explicit selection of the link name: b's cells under a's label
    val viaLink = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).option("dataset", "/le").load()
      .collect()
    assert(viaLink.nonEmpty)
    viaLink.foreach { r =>
      assert(r.getString(0).endsWith("a.h5"), r.getString(0))
      assert(r.getString(1) == "/le")
    }
    val direct = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).option("dataset", "/temp").load()
      .select("x", "y", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val linked = viaLink
      .map(r => (r.getInt(2), r.getInt(3), r.getDouble(4))).toSet
    assert(linked == direct, s"$linked != $direct")
    // dataset FILTER (not option) routes through the same planning
    val filtered = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).load()
      .where(org.apache.spark.sql.functions.col("dataset") === "/le")
      .count()
    assert(filtered == viaLink.length)
    // two linking files into ONE target plan a single grouped ext
    // partition — the target file is read once, not once per link
    Files.write(dir.resolve("a2.h5"),
      fixtureExtLinks(Seq(("le", "b.h5", "/temp"))))
    val parts = graft.sources.H5Format(dir.toString, Some("/le"), false, 8)
      .planSplits(Nil)
    val extParts = parts.collect { case e: graft.sources.H5ExtPartition => e }
    assert(extParts.length == 1 && extParts.head.entries.length == 2,
      parts.toSeq.toString)
    val twice = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).option("dataset", "/le").load().count()
    assert(twice == 2L * viaLink.length)
    // path predicates prune external planning too: excluding every
    // linking file plans no external partitions
    val pruned = graft.sources.H5Format(dir.toString, Some("/le"), false, 8)
      .planSplits(Seq(StringEndsWith("path", "b.h5")))
    assert(!pruned.exists(_.isInstanceOf[graft.sources.H5ExtPartition]),
      pruned.toSeq.toString)
  }

  test("H5GridSource planning refusal on an undecodable external-link " +
      "TARGET keeps the ROOT CAUSE — message and cause chain carry it " +
      "(an undecodable source file itself plans a loud whole-file split)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_h5plancause")
    Files.write(dir.resolve("broken.h5"),
      "not an hdf5 file at all".getBytes("US-ASCII"))
    Files.write(dir.resolve("a.h5"),
      fixtureExtLinks(Seq(("le", "broken.h5", "/temp"))))
    val e = intercept[IllegalArgumentException] {
      graft.sources.H5Format(dir.toString, Some("/le"), false, 8)
        .planSplits(Nil)
    }
    assert(e.getMessage.contains("failed to decode"), e.getMessage)
    val cause = e.getCause
    assert(cause != null, "planning refusal must chain the root cause")
    assert(e.getMessage.contains(cause.getMessage),
      s"outer '${e.getMessage}' must carry root '${cause.getMessage}'")
    // the undecodable file ITSELF doesn't kill an unfiltered plan: it
    // contributes one whole-file split whose TASK refuses loudly
    val parts = graft.sources.H5Format(dir.toString, None, false, 8)
      .planSplits(Nil)
    assert(parts.exists {
      case graft.sources.H5Partition(f, None) => f.endsWith("broken.h5")
      case _ => false
    }, parts.toSeq.toString)
  }

  // ---- fixture B: superblock v0, v1 headers, TREE/SNOD/HEAP groups ----

  private def fixtureV0: Array[Byte] = {
    val rootHdrAt = 96; val heapAt = 136; val heapDataAt = 168
    val treeAt = 192; val snodAt = 240; val dsHdrAt = 288; val dataAt = 480
    val total = 496
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)

    sig(out)
    out.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // versions
    out.put(0.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putShort(4).putShort(16).putInt(0) // leaf k, internal k, flags
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(Undef)
    // root symbol-table entry (40 bytes)
    out.putLong(0L).putLong(rootHdrAt.toLong).putInt(0).putInt(0)
    out.putLong(0L).putLong(0L)
    require(out.position() == 96, s"superblock ended at ${out.position()}")

    // root v1 object header: one symbol-table message
    out.position(rootHdrAt)
    out.put(1.toByte).put(0.toByte).putShort(1).putInt(1).putInt(24)
    out.putInt(0) // pad to the 16-byte prefix
    out.putShort(0x11).putShort(16).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    out.putLong(treeAt.toLong).putLong(heapAt.toLong)
    require(out.position() == heapAt, s"root header ended at ${out.position()}")

    // local heap; names live in the data segment
    out.put("HEAP".getBytes("US-ASCII")).put(0.toByte)
    out.put(0.toByte).put(0.toByte).put(0.toByte)
    out.putLong(16L).putLong(Undef).putLong(heapDataAt.toLong)
    out.position(heapDataAt + 8)
    out.put("rain".getBytes("US-ASCII")).put(0.toByte)

    // group B-tree, one leaf entry -> SNOD
    out.position(treeAt)
    out.put("TREE".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putShort(1).putLong(Undef).putLong(Undef)
    out.putLong(0L).putLong(snodAt.toLong).putLong(0L)

    // symbol node with the dataset entry (name at heap offset 8)
    out.position(snodAt)
    out.put("SNOD".getBytes("US-ASCII")).put(1.toByte).put(0.toByte)
    out.putShort(1)
    out.putLong(8L).putLong(dsHdrAt.toLong).putInt(0).putInt(0)
    out.putLong(0L).putLong(0L)
    require(out.position() == dsHdrAt, s"SNOD ended at ${out.position()}")

    // dataset v1 object header: dataspace, datatype, layout, attr
    out.position(dsHdrAt)
    out.put(1.toByte).put(0.toByte).putShort(4).putInt(1).putInt(168)
    out.putInt(0)
    // dataspace v1, rank 2 (2x2)
    out.putShort(0x01).putShort(24).putInt(0)
    out.put(1.toByte).put(2.toByte)
    (0 until 6).foreach(_ => out.put(0.toByte))
    out.putLong(2L).putLong(2L)
    // datatype float32 (20 bytes + 4 pad)
    out.putShort(0x03).putShort(24).putInt(0)
    out.put(dtF32).putInt(0)
    // layout v3 contiguous (18 bytes + 6 pad)
    out.putShort(0x08).putShort(24).putInt(0)
    out.put(3.toByte).put(1.toByte).putLong(dataAt.toLong).putLong(16L)
    (0 until 6).foreach(_ => out.put(0.toByte))
    // attribute v1 `_FillValue` float32 -9999 (60 bytes + 4 pad):
    // name/datatype/dataspace each padded to 8 in THIS version
    out.putShort(0x0C).putShort(64).putInt(0)
    out.put(1.toByte).put(0.toByte).putShort(11).putShort(20).putShort(8)
    out.put("_FillValue".getBytes("US-ASCII")).put(0.toByte)
    (0 until 5).foreach(_ => out.put(0.toByte)) // name 11 -> 16
    out.put(dtF32).putInt(0) // 20 -> 24
    out.put(1.toByte).put(0.toByte) // dataspace v1 rank 0
    (0 until 6).foreach(_ => out.put(0.toByte))
    out.putFloat(-9999.0f)
    out.putInt(0) // body 60 -> 64
    require(out.position() == dsHdrAt + 16 + 168,
      s"dataset header ended at ${out.position()}")

    out.position(dataAt)
    Seq(1.5f, -9999.0f, 3.25f, 4.0f).foreach(out.putFloat)
    out.array()
  }

  // ---- specs -----------------------------------------------------------

  test("superblock v2 + OHDR: links, OCHK continuation, v3 fill/attrs, CF grid") {
    val (bytes, _) = fixtureV2()
    val f = Hdf5.decode(bytes)
    assert(f.superVersion == 2 && f.groups == Seq("/"))
    val d = f.datasetAt("/temp")
    assert(d.dims == Seq(2L, 3L))
    assert(d.dtype == Hdf5.Dtype(0, 2, littleEndian = true, signed = true))
    assert(d.fillMsg.contains(-3000.0) && d.fill.contains(-3000.0))
    assert(d.numAttr("scale_factor").contains(0.5))
    assert(d.numAttr("add_offset").contains(2.0))
    assert(d.attrs.get("units").contains("degC"))
    // raw read: no masking, no scaling
    assert(Hdf5.read(bytes, f, "/temp").toSeq ==
      Seq(100.0, -3000.0, 300.0, 400.0, 500.0, 600.0))
    // CF grid: fill -> NaN, survivors scaled raw*0.5 + 2.0
    val cells = Hdf5.gridCells(bytes, f, "/temp").toSeq
    assert(cells.count(_.value.isNaN) == 1)
    assert(cells.find(c => c.x == 1 && c.y == 0).get.value.isNaN)
    assert(cells.find(c => c.x == 0 && c.y == 0).get.value == 52.0)
    assert(cells.find(c => c.x == 2 && c.y == 1).get.value == 302.0)
  }

  test("superblock v0 + v1 headers: TREE/SNOD/HEAP traversal, v1 attr, fill from attribute") {
    val bytes = fixtureV0
    val f = Hdf5.decode(bytes)
    assert(f.superVersion == 0 && f.groups == Seq("/"))
    val d = f.datasetAt("/rain")
    assert(d.dims == Seq(2L, 2L))
    assert(d.dtype == Hdf5.Dtype(1, 4, littleEndian = true, signed = true))
    // fill comes from the `_FillValue` ATTRIBUTE (no fill message)
    assert(d.fillMsg.isEmpty && d.fill.contains(-9999.0))
    assert(Hdf5.read(bytes, f, "/rain").toSeq ==
      Seq(1.5, -9999.0, 3.25, 4.0))
    val cells = Hdf5.gridCells(bytes, f, "/rain").toSeq
    assert(cells.find(c => c.x == 1 && c.y == 0).get.value.isNaN)
    assert(cells.find(c => c.x == 1 && c.y == 1).get.value == 4.0)
  }

  // ---- fixture C: chunked v3 layout + type-1 B-tree, built WITHOUT
  // Hdf5.encode — an independent read of the public file format spec
  // (encode/decode self-consistency cannot hide a mirrored misreading
  // here). Filters are applied forward by THIS spec's own code. ----

  /** H5_checksum_fletcher32 as the spec describes it: big-endian
    * 16-bit words, sums folded every 360 words, odd trailing byte
    * high-shifted, two final folds; stored little-endian. */
  private def fletcherSpec(data: Array[Byte]): Long = {
    var s1 = 0L; var s2 = 0L
    var i = 0; var rem = data.length / 2
    while (rem > 0) {
      val t = math.min(rem, 360); rem -= t
      var j = 0
      while (j < t) {
        s1 += ((data(i) & 0xffL) << 8) | (data(i + 1) & 0xffL)
        s2 += s1; i += 2; j += 1
      }
      s1 = (s1 & 0xffff) + (s1 >> 16); s2 = (s2 & 0xffff) + (s2 >> 16)
    }
    if (data.length % 2 == 1) {
      s1 += (data(data.length - 1) & 0xffL) << 8; s2 += s1
      s1 = (s1 & 0xffff) + (s1 >> 16); s2 = (s2 & 0xffff) + (s2 >> 16)
    }
    s1 = (s1 & 0xffff) + (s1 >> 16); s2 = (s2 & 0xffff) + (s2 >> 16)
    (s2 << 16) | s1
  }

  /** Forward pipeline for one int16 chunk: shuffle (lane-major bytes)
    * → deflate → fletcher32 appended LE — the netCDF-4 write order. */
  private def filterChunk(raw: Array[Byte]): Array[Byte] = {
    val n = raw.length / 2
    val sh = new Array[Byte](raw.length)
    var i = 0
    while (i < n) { sh(i) = raw(2 * i); sh(n + i) = raw(2 * i + 1); i += 1 }
    val d = new java.util.zip.Deflater(6)
    d.setInput(sh); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val z = bos.toByteArray
    val ck = fletcherSpec(z)
    val out = java.util.Arrays.copyOf(z, z.length + 4)
    out(z.length) = (ck & 0xff).toByte
    out(z.length + 1) = ((ck >> 8) & 0xff).toByte
    out(z.length + 2) = ((ck >> 16) & 0xff).toByte
    out(z.length + 3) = ((ck >> 24) & 0xff).toByte
    out
  }

  /** 3×5 int16 `/temp`, fill −7, chunks 2×3: (0,0) full, (0,3)
    * col-clipped, (2,0) row-clipped, (2,3) never allocated. Returns
    * (bytes, first chunk's data address) so corruption tests can
    * target a filtered payload byte. */
  private def fixtureChunked: (Array[Byte], Int) = {
    val dsHdrAt = 128; val treeAt = 384
    def i16s(vs: Int*): Array[Byte] =
      le(b => vs.foreach(v => b.putShort(v.toShort)), 64)
    // 999 sentinels in clipped positions: a clipping bug surfaces
    val chunkA = filterChunk(i16s(10, 11, 12, 20, 21, 22))
    val chunkB = filterChunk(i16s(13, 14, 999, 23, 24, 999))
    val chunkC = filterChunk(i16s(30, 31, 32, 999, 999, 999))
    val addrA = treeAt + 176 // node: 24 hdr + 3×(32 key + 8 child) + 32
    val addrB = addrA + chunkA.length
    val addrC = addrB + chunkB.length
    val total = addrC + chunkC.length
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte)
    out.put(rootMsgs)
    out.putInt(0)
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(3, 5)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      }),
      msgV2(0x0B, le { b => // pipeline v2, application order
        b.put(2.toByte).put(3.toByte)
        b.putShort(2).putShort(1).putShort(1).putInt(2) // shuffle, es 2
        b.putShort(1).putShort(1).putShort(1).putInt(6) // deflate, lvl 6
        b.putShort(3).putShort(0).putShort(0)           // fletcher32
      }),
      msgV2(0x08, le { b => // layout v3 class 2 (chunked)
        b.put(3.toByte).put(2.toByte).put(3.toByte) // ndims = rank + 1
        b.putLong(treeAt.toLong)
        b.putInt(2).putInt(3).putInt(2) // 2×3 chunks of 2-byte elems
      })).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort)
    out.put(dsMsgs)
    out.putInt(0)
    // type-1 B-tree, level 0: key_0 child_0 … key_2 child_2 key_3
    out.position(treeAt)
    out.put("TREE".getBytes("US-ASCII")).put(1.toByte).put(0.toByte)
    out.putShort(3)
    out.putLong(Undef).putLong(Undef)
    def key(size: Int, r: Long, c: Long): Unit = {
      out.putInt(size).putInt(0) // byte size, filter mask
      out.putLong(r).putLong(c).putLong(0L) // offsets incl. elem dim
    }
    key(chunkA.length, 0, 0); out.putLong(addrA.toLong)
    key(chunkB.length, 0, 3); out.putLong(addrB.toLong)
    key(chunkC.length, 2, 0); out.putLong(addrC.toLong)
    key(0, 4, 0) // the final +1 key
    out.position(addrA); out.put(chunkA)
    out.position(addrB); out.put(chunkB)
    out.position(addrC); out.put(chunkC)
    (out.array(), addrA)
  }

  // ---- fixture D: layout-message v4 chunked (the 1.10+ "new format")
  // with single-chunk / implicit / fixed-array indexes — hand-built
  // like fixture C, never via Hdf5.encode. ----

  /** 3×5 int16 `/temp`, fill −7, 2×3 chunks. `index`: 1 = single chunk
    * (dims shrink to 2×3 so one chunk covers all), 2 = implicit (all 4
    * chunks back-to-back), 3 = fixed array (chunk (1,1) unallocated;
    * `filtered` adds the shuffle+deflate+fletcher32 pipeline with
    * client-1 entries — or the SZIP filter when `szip` is also set),
    * 5 = B-tree v2 (chunk (1,1) absent from the tree → fill). */
  private def fixtureV4(index: Int, filtered: Boolean = false,
      szip: Boolean = false): Array[Byte] = {
    val dsHdrAt = 128; val fahdAt = 384; val fadbAt = 416
    val single = index == 1
    val dims = if (single) (2L, 3L) else (3L, 5L)
    def i16s(vs: Int*): Array[Byte] =
      le(b => vs.foreach(v => b.putShort(v.toShort)), 64)
    val rawChunks: Seq[Array[Byte]] =
      if (single) Seq(i16s(10, 11, 12, 20, 21, 22))
      else Seq(
        i16s(10, 11, 12, 20, 21, 22),       // (0,0)
        i16s(13, 14, 999, 23, 24, 999),     // (0,1) col-clipped
        i16s(30, 31, 32, 999, 999, 999),    // (1,0) row-clipped
        i16s(33, 34, 999, 999, 999, 999))   // (1,1) both-clipped
    // szip payload = 4-byte LE original length + the CCSDS 121 stream
    // (H5Z szip convention); int16 LE data → LSB sample order
    def szipWrap(c: Array[Byte]): Array[Byte] = le({ b =>
      b.putInt(c.length)
      b.put(graft.sources.Szip.compress(c,
        graft.sources.Szip.Nn | graft.sources.Szip.Lsb, 16, 8, 8))
    }, c.length * 2 + 16)
    val chunks = rawChunks.map(c =>
      if (szip) szipWrap(c) else if (filtered) filterChunk(c) else c)
    // fixed array and B-tree v2 leave chunk (1,1) out → fill
    val nStored = if ((index == 3 || index == 5) && !single) 3 else chunks.size
    val entrySize = if (filtered) 16 else 8 // addr / addr+size4+mask4
    val elemsLen = chunks.size * entrySize
    // B-tree records (addr + [size4+mask4] + 2×8 scaled offsets) are
    // wider than fixed-array entries — give the leaf more room
    val dataAt =
      if (index == 5) 600 else fadbAt + 14 + elemsLen + 4 + 16 // + slack
    val offs = chunks.indices.scanLeft(dataAt.toLong) { (a, i) =>
      a + chunks(i).length
    }
    val total = offs.last.toInt
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte)
    out.put(rootMsgs)
    out.putInt(0)
    val layoutBody = le { b =>
      b.put(4.toByte).put(2.toByte)
      b.put(if (filtered && index == 1) 0x2.toByte else 0.toByte)
      b.put(3.toByte).put(1.toByte) // dimensionality rank+1, 1-byte sizes
      // chunk dims + trailing element size (the library writes
      // rank+1 entries, last = element bytes — same as the v3 message)
      b.put(2.toByte).put(3.toByte).put(2.toByte)
      b.put(index.toByte)
      index match {
        case 1 =>
          if (filtered) { b.putLong(chunks(0).length.toLong); b.putInt(0) }
          b.putLong(dataAt.toLong)
        case 2 => b.putLong(dataAt.toLong)
        case 3 => b.put(10.toByte).putLong(fahdAt.toLong) // page bits, FAHD
        case 5 =>
          b.putInt(2048).put(85.toByte).put(40.toByte) // node, split, merge
          b.putLong(fahdAt.toLong)
      }
    }
    val dsMsgs = (Array(
      msgV2(0x01, dsRank2V2(dims._1, dims._2)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      })) ++
      (if (szip) Array(msgV2(0x0B, le { b =>
        b.put(2.toByte).put(1.toByte)
        b.putShort(4).putShort(1).putShort(4) // szip, 4 client values
        b.putInt(graft.sources.Szip.Nn | graft.sources.Szip.Lsb)
        b.putInt(16).putInt(8).putInt(8) // bpp, pixels/block, pixels/scanline
      })) else if (filtered) Array(msgV2(0x0B, le { b =>
        b.put(2.toByte).put(3.toByte)
        b.putShort(2).putShort(1).putShort(1).putInt(2)
        b.putShort(1).putShort(1).putShort(1).putInt(6)
        b.putShort(3).putShort(0).putShort(0)
      })) else Array.empty[Array[Byte]]) ++
      Array(msgV2(0x08, layoutBody))).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort)
    out.put(dsMsgs)
    out.putInt(0)
    if (index == 3) {
      out.position(fahdAt)
      out.put("FAHD".getBytes("US-ASCII")).put(0.toByte)
      out.put((if (filtered) 1 else 0).toByte)
      out.put(entrySize.toByte).put(10.toByte)
      out.putLong(chunks.size.toLong).putLong(fadbAt.toLong)
      out.putInt(0) // checksum (not verified)
      out.position(fadbAt)
      out.put("FADB".getBytes("US-ASCII")).put(0.toByte)
      out.put((if (filtered) 1 else 0).toByte)
      out.putLong(fahdAt.toLong)
      chunks.indices.foreach { i =>
        if (i >= nStored) out.putLong(Undef)
        else out.putLong(offs(i))
        if (filtered) { out.putInt(chunks(i).length); out.putInt(0) }
      }
      out.putInt(0) // checksum
    }
    if (index == 5) {
      // BTHD (type 10/11 chunk records) + one depth-0 BTLF holding the
      // three stored chunks; (1,1) has no record → fill. The 38-byte
      // BTHD ends at 422, so the leaf sits clear of it at 424.
      val btlfAt = 424
      val recSize = if (filtered) 8 + 4 + 4 + 16 else 8 + 16
      out.position(fahdAt)
      out.put("BTHD".getBytes("US-ASCII")).put(0.toByte)
      out.put((if (filtered) 11 else 10).toByte)
      out.putInt(2048).putShort(recSize.toShort).putShort(0) // node, rec, depth
      out.put(85.toByte).put(40.toByte)
      out.putLong(btlfAt.toLong).putShort(nStored.toShort)
      out.putLong(nStored.toLong)
      out.putInt(0) // checksum (unverified)
      out.position(btlfAt)
      out.put("BTLF".getBytes("US-ASCII")).put(0.toByte)
      out.put((if (filtered) 11 else 10).toByte)
      (0 until nStored).foreach { i =>
        out.putLong(offs(i))
        if (filtered) { out.putInt(chunks(i).length); out.putInt(0) }
        out.putLong(i / 2L).putLong(i % 2L) // scaled offsets (row, col)
      }
      out.putInt(0) // checksum
    }
    chunks.indices.foreach { i =>
      // implicit layout needs back-to-back chunks from dataAt; the
      // offs sequence IS back-to-back, so all indexes share it
      out.position(offs(i).toInt)
      out.put(chunks(i))
    }
    out.array()
  }

  test("v4 chunked layouts: single-chunk, implicit, fixed-array and " +
      "B-tree-v2 indexes decode, plain and filtered; deep trees refuse") {
    // single chunk, unfiltered and filtered
    for (f <- Seq(false, true)) {
      val bytes = fixtureV4(1, filtered = f)
      val h = Hdf5.decode(bytes)
      assert(Hdf5.read(bytes, h, "/temp").toSeq ==
        Seq(10.0, 11.0, 12.0, 20.0, 21.0, 22.0), s"single filtered=$f")
    }
    // implicit: all four chunks, row-major back-to-back
    val imp = fixtureV4(2)
    assert(Hdf5.read(imp, Hdf5.decode(imp), "/temp").toSeq == Seq(
      10.0, 11.0, 12.0, 13.0, 14.0,
      20.0, 21.0, 22.0, 23.0, 24.0,
      30.0, 31.0, 32.0, 33.0, 34.0))
    // fixed array / B-tree v2: chunk (1,1) absent → fill; plain and
    // filtered (type-10 vs type-11 records)
    for (idx <- Seq(3, 5); f <- Seq(false, true)) {
      val fa = fixtureV4(idx, filtered = f)
      assert(Hdf5.read(fa, Hdf5.decode(fa), "/temp").toSeq == Seq(
        10.0, 11.0, 12.0, 13.0, 14.0,
        20.0, 21.0, 22.0, 23.0, 24.0,
        30.0, 31.0, 32.0, -7.0, -7.0), s"index=$idx filtered=$f")
    }
    // a chunk B-tree deeper than 1 refuses by name (depth at BTHD+12)
    val bt = fixtureV4(5)
    val bthdAt = bt.indexOfSlice("BTHD".getBytes("US-ASCII"))
    // depth ≤ 8 walks as of r13; an implausible depth refuses, and a
    // depth lying about a leaf root fails loudly on the BTIN signature
    val deep = bt.clone(); deep(bthdAt + 12) = 9
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(deep, Hdf5.decode(deep), "/temp")
    }
    assert(e.getMessage.contains("depth"), e.getMessage)
    val lied = bt.clone(); lied(bthdAt + 12) = 2
    val eL = intercept[IllegalArgumentException] {
      Hdf5.read(lied, Hdf5.decode(lied), "/temp")
    }
    assert(eL.getMessage.contains("BTIN"), eL.getMessage)
    // a record type disagreeing with the pipeline refuses by name
    val wrongT = bt.clone(); wrongT(bthdAt + 5) = 11
    val e2 = intercept[IllegalArgumentException] {
      Hdf5.read(wrongT, Hdf5.decode(wrongT), "/temp")
    }
    assert(e2.getMessage.contains("not the expected chunk index"),
      e2.getMessage)
  }

  test("szip-filtered chunk decodes through the clean-room CCSDS 121 " +
      "codec (filter id 4, LSB int16 samples, length-prefixed payload)") {
    for (index <- Seq(1, 3)) {
      val bytes = fixtureV4(index, filtered = true, szip = true)
      val h = Hdf5.decode(bytes)
      val got = Hdf5.read(bytes, h, "/temp").toSeq
      val want =
        if (index == 1) Seq(10.0, 11.0, 12.0, 20.0, 21.0, 22.0)
        else Seq(10.0, 11.0, 12.0, 13.0, 14.0,
          20.0, 21.0, 22.0, 23.0, 24.0,
          30.0, 31.0, 32.0, -7.0, -7.0)
      assert(got == want, s"index=$index: $got")
    }
  }

  // ---- fixture F: v4 chunked layout with an EXTENSIBLE-ARRAY index
  // (the unlimited-dims shape netCDF-4 emits under libver=latest) —
  // hand-built per spec III.H: EAHD header, EAIB index block with one
  // inline element + six direct data-block addresses (generations
  // 0-3), one EASB super block (generation 4), EADB data blocks.
  // 3×6 int16 `/temp`, fill −7, 1×1 chunks → 18 chunk records:
  // record 0 inline, records 1..15 through index-block data blocks,
  // records 16..17 through the super block. Chunk 5 is an Undef
  // ELEMENT inside a live block; chunks 12..15 sit in an Undef whole
  // BLOCK — both must fill. ----
  private def fixtureEArray(filtered: Boolean,
      maxDims: Option[(Long, Long)] = None): Array[Byte] = {
    val dsHdrAt = 128; val eahdAt = 384
    val entry = if (filtered) 16 else 8
    val eaibAt = eahdAt + 72
    // 33 generations for maxBits 32 / minElmts 1 (capacity minElmts ·
    // (2^33 − 1) covers the promised 2^32 elements); the first 4 are
    // addressed from the index block → 29 super-block address slots
    val eaibLen = 14 + entry + 6 * 8 + 29 * 8 + 4
    val easbAt = eaibAt + eaibLen
    val easbLen = 14 + 4 + 4 * 8 + 4
    // data blocks: element counts per generation geometry
    val dblkN = Array(1, 2, 2, 2, 4, 4, 4)
    val dblkLen = dblkN.map(n => 14 + 4 + n * entry + 4)
    val dblkAt = dblkLen.scanLeft(easbAt + easbLen)(_ + _)
    // chunk payloads: v(y,x) = 10(y+1)+x; holes at 5 and 12..15
    val holes = Set(5, 12, 13, 14, 15)
    def payload(i: Int): Array[Byte] = {
      val raw = le(_.putShort((10 * (i / 6 + 1) + i % 6).toShort), 8)
      if (filtered) filterChunk(raw) else raw
    }
    val present = (0 until 18).filterNot(holes)
    val chunkOffs = scala.collection.mutable.HashMap.empty[Int, Long]
    var dataAt = dblkAt.last.toLong
    present.foreach { i => chunkOffs(i) = dataAt; dataAt += payload(i).length }
    val total = dataAt.toInt
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    // dataset header: v4 layout, chunk index type 4 (extensible array)
    val layoutBody = le { b =>
      b.put(4.toByte).put(2.toByte).put(0.toByte) // ver 4, chunked, flags
      b.put(3.toByte).put(1.toByte) // dimensionality rank+1, 1-byte sizes
      b.put(1.toByte).put(1.toByte).put(2.toByte) // 1×1 chunks + elem size
      b.put(4.toByte) // index type 4
      // params: max bits, index elmts, min POINTERS, min ELEMENTS, page bits
      b.put(32.toByte).put(1.toByte).put(4.toByte).put(1.toByte).put(10.toByte)
      b.putLong(eahdAt.toLong)
    }
    val spaceMsg = maxDims match {
      case None => dsRank2V2(3, 6)
      case Some((my, mx)) => le { b => // flags bit 0: max dims present
        b.put(2.toByte).put(2.toByte).put(1.toByte).put(1.toByte)
        b.putLong(3L).putLong(6L).putLong(my).putLong(mx)
      }
    }
    val dsMsgs = (Array(
      msgV2(0x01, spaceMsg),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      })) ++
      (if (filtered) Array(msgV2(0x0B, le { b =>
        b.put(2.toByte).put(3.toByte)
        b.putShort(2).putShort(1).putShort(1).putInt(2)
        b.putShort(1).putShort(1).putShort(1).putInt(6)
        b.putShort(3).putShort(0).putShort(0)
      })) else Array.empty[Array[Byte]]) ++
      Array(msgV2(0x08, layoutBody))).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort).put(dsMsgs).putInt(0)
    val client = (if (filtered) 1 else 0).toByte
    // EAHD (spec III.H field order; stats informative, left zero)
    out.position(eahdAt)
    out.put("EAHD".getBytes("US-ASCII")).put(0.toByte).put(client)
    out.put(entry.toByte).put(32.toByte).put(1.toByte) // elmt size, max bits, idx elmts
    out.put(1.toByte).put(4.toByte).put(10.toByte) // min elmts, min ptrs, page bits
    (0 until 6).foreach(_ => out.putLong(0L))
    out.putLong(eaibAt.toLong)
    out.putInt(0) // checksum (unverified)
    // element writer: (addr, rawLen, storedLen) → entry bytes
    def elem(i: Int): Unit = {
      if (!chunkOffs.contains(i)) {
        out.putLong(Undef)
        if (filtered) { out.putInt(0); out.putInt(0) }
      } else {
        out.putLong(chunkOffs(i))
        if (filtered) { out.putInt(payload(i).length); out.putInt(0) }
      }
    }
    // EAIB: 1 inline element, 6 data-block addrs (gens 0-3; dblk5
    // Undef = whole-block hole), 13 super-block addrs (slot 0 live)
    out.position(eaibAt)
    out.put("EAIB".getBytes("US-ASCII")).put(0.toByte).put(client)
    out.putLong(eahdAt.toLong)
    elem(0)
    (0 until 6).foreach(d =>
      out.putLong(if (d == 5) Undef else dblkAt(d).toLong))
    out.putLong(easbAt.toLong)
    (1 until 29).foreach(_ => out.putLong(Undef))
    out.putInt(0)
    // EASB (generation 4): 4 data-block addrs, slot 0 = dblk6
    out.position(easbAt)
    out.put("EASB".getBytes("US-ASCII")).put(0.toByte).put(client)
    out.putLong(eahdAt.toLong)
    out.putInt(15) // block offset (4-byte array-offset field)
    out.putLong(dblkAt(6).toLong)
    (1 until 4).foreach(_ => out.putLong(Undef))
    out.putInt(0)
    // EADBs: dblk d holds chunk records per the generation geometry
    val dblkChunks = Array(Seq(1), Seq(2, 3), Seq(4, 5), Seq(6, 7),
      Seq(8, 9, 10, 11), Seq(12, 13, 14, 15), Seq(16, 17, -1, -1))
    for (d <- dblkChunks.indices if d != 5) {
      out.position(dblkAt(d))
      out.put("EADB".getBytes("US-ASCII")).put(0.toByte).put(client)
      out.putLong(eahdAt.toLong)
      out.putInt(dblkChunks(d).head max 0) // block offset (informative)
      dblkChunks(d).foreach { i =>
        if (i < 0) { // capacity slot beyond the written elements
          out.putLong(Undef)
          if (filtered) { out.putInt(0); out.putInt(0) }
        } else elem(i)
      }
      out.putInt(0)
    }
    present.foreach { i =>
      out.position(chunkOffs(i).toInt)
      out.put(payload(i))
    }
    out.array()
  }

  test("extensible-array chunk index: inline element, index-block data " +
      "blocks across generations, super block, element and whole-block " +
      "holes fill; paged refuses") {
    for (f <- Seq(false, true)) {
      val bytes = fixtureEArray(filtered = f)
      val h = Hdf5.decode(bytes)
      val got = Hdf5.read(bytes, h, "/temp").toSeq
      val want = (0 until 18).map { i =>
        if (Set(5, 12, 13, 14, 15)(i)) -7.0
        else (10 * (i / 6 + 1) + i % 6).toDouble
      }
      assert(got == want, s"filtered=$f: $got")
    }
    // page bits below a generation's block size → PAGED refusal by
    // name, never a misread of the super-block table (layout param at
    // a fixed offset inside the dataset header's layout message)
    val bytes = fixtureEArray(filtered = false)
    val pageAt = bytes.indexOfSlice("EAHD".getBytes("US-ASCII")) + 11
    val paged = bytes.clone(); paged(pageAt) = 1 // 2^1 < 4-element blocks
    // the layout message's copy must agree or the cross-check refuses
    // first — patch both (layout params sit 5 bytes after index type 4)
    val layAt = {
      // locate the layout body: ver4, class2 signature inside the header
      var p = 128
      while (!(bytes(p) == 4 && bytes(p + 1) == 2 && bytes(p + 3) == 3 &&
        bytes(p + 9) == 32)) p += 1
      p
    }
    paged(layAt + 13) = 1 // page-bits param in the layout message
    val e = intercept[Exception] { Hdf5.read(paged, Hdf5.decode(paged), "/temp") }
    assert(e.getMessage.contains("PAGED"), e.getMessage)
  }

  test("extensible-array index: unlimited dim 0 decodes; an unlimited " +
      "or extendible non-slowest dimension refuses by name (the library " +
      "swizzles the unlimited dim slowest when computing element " +
      "indexes — a row-major walk would misplace chunks)") {
    val Unlim = -1L // H5S_UNLIMITED: the all-ones max-dim encoding
    // the netCDF-4 record-cube shape: unlim dim 0, others fixed-equal
    val ok = fixtureEArray(filtered = false, maxDims = Some((Unlim, 6L)))
    val got = Hdf5.read(ok, Hdf5.decode(ok), "/temp").toSeq
    assert(got.take(6) == Seq(10.0, 11.0, 12.0, 13.0, 14.0, -7.0)) // 5 = hole
    // unlimited dim 1: the EA element index no longer matches row-major
    val bad = fixtureEArray(filtered = false, maxDims = Some((3L, Unlim)))
    val e1 = intercept[IllegalArgumentException] { Hdf5.decode(bad) }
    assert(e1.getMessage.contains("non-slowest"), e1.getMessage)
    // ...but the refusal lives on the CHUNK walk, not the metadata
    // walk: a metaOnly (planning) decode still catalogs the dataset
    assert(Hdf5.decode(bad, metaOnly = true).datasets.map(_.path) ==
      Seq("/temp"))
    // finite but extendible dim 1 (max 8 > cur 6): max-dims chunk grid
    // differs from the current grid — same misplacement, same refusal
    val ext = fixtureEArray(filtered = false, maxDims = Some((3L, 8L)))
    val e2 = intercept[IllegalArgumentException] { Hdf5.decode(ext) }
    assert(e2.getMessage.contains("non-slowest"), e2.getMessage)
    // header-consistent but corrupt params (maxBits < log2(minElmts))
    // refuse by name instead of a NegativeArraySizeException
    val cor = fixtureEArray(filtered = false)
    val eaAt = cor.indexOfSlice("EAHD".getBytes("US-ASCII"))
    val layAt = {
      var p = 128
      while (!(cor(p) == 4 && cor(p + 1) == 2 && cor(p + 3) == 3 &&
        cor(p + 9) == 32)) p += 1
      p
    }
    cor(layAt + 9) = 1; cor(layAt + 12) = 4 // maxBits=1, minElmts=4
    cor(eaAt + 7) = 1; cor(eaAt + 9) = 4    // the EAHD's agreeing copy
    val e3 = intercept[IllegalArgumentException] {
      Hdf5.read(cor, Hdf5.decode(cor), "/temp")
    }
    assert(e3.getMessage.contains("corrupt index parameters"), e3.getMessage)
  }

  // ---- paged fixed array (spec III.G): FADB carries a page-init
  // bitmap + checksum, pages follow contiguously, each page =
  // 2^pageBits elements + its own 4-byte checksum ----
  private def fixturePagedFA(bm: Seq[Int], maxEntries: Int = 10): Array[Byte] = {
    val dsHdrAt = 128; val fahdAt = 384; val fadbAt = 416
    // 2×5 grid of 1×1 int16 chunks, pageBits 0 → 10 one-element pages
    val nChunks = 10
    val pageLen = 8 + 4 // one 8-byte element + page checksum
    val bmBytes = 2
    val pagesAt = fadbAt + 14 + bmBytes + 4
    val dataAt = pagesAt + nChunks * pageLen
    val total = dataAt + nChunks * 2
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(2, 5)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      }),
      msgV2(0x08, le { b =>
        b.put(4.toByte).put(2.toByte).put(0.toByte)
        b.put(3.toByte).put(1.toByte)
        b.put(1.toByte).put(1.toByte).put(2.toByte) // 1×1 chunks + elt size
        b.put(3.toByte)                             // index type 3
        b.put(0.toByte)                             // page bits (re-read)
        b.putLong(fahdAt.toLong)
      })).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort).put(dsMsgs).putInt(0)
    out.position(fahdAt)
    out.put("FAHD".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.put(8.toByte).put(0.toByte) // entry size 8, page bits 0 → paged
    out.putLong(maxEntries.toLong).putLong(fadbAt.toLong)
    out.putInt(0)
    out.position(fadbAt)
    out.put("FADB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putLong(fahdAt.toLong)
    bm.foreach(b => out.put(b.toByte)) // page-init bitmap
    out.putInt(0)                      // FADB checksum
    // pages: element (chunk address) + page checksum; uninit pages
    // left zeroed — reading them would yield a garbage chunk at 0,
    // which is exactly what the bitmap must prevent
    (0 until nChunks).foreach { i =>
      val init = (bm(i >> 3) & 0xFF) != 0
      out.position(pagesAt + i * pageLen)
      if (init) out.putLong(dataAt + i * 2L)
      out.position(pagesAt + i * pageLen + 8)
      out.putInt(0)
    }
    (0 until nChunks).foreach { i =>
      out.position(dataAt + i * 2)
      out.putShort((100 + i).toShort)
    }
    out.array()
  }

  test("paged fixed-array chunk index: page-init bitmap honored " +
      "(uninitialized pages fill), mixed bitmap bytes refuse by name") {
    // byte 0 = 0xFF (pages 0-7 init), byte 1 = 0x00 (pages 8-9 fill)
    val bytes = fixturePagedFA(Seq(0xFF, 0x00))
    val got = Hdf5.read(bytes, Hdf5.decode(bytes), "/temp").toSeq
    assert(got == (0 until 8).map(100.0 + _) ++ Seq(-7.0, -7.0), got)
    // a partially-initialized bitmap byte is AMBIGUOUS (within-byte
    // bit order is a library convention with no ground truth here)
    val mixed = fixturePagedFA(Seq(0x0F, 0x00))
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(mixed, Hdf5.decode(mixed), "/temp")
    }
    assert(e.getMessage.contains("PARTIALLY"), e.getMessage)
    // popcount matching the covered-page count also accepts the tail
    // byte (pages 8-9 init, trailing bits zero under either order)
    val tail = fixturePagedFA(Seq(0xFF, 0x03))
    val got2 = Hdf5.read(tail, Hdf5.decode(tail), "/temp").toSeq
    assert(got2 == (0 until 10).map(100.0 + _), got2)
    // a GROWABLE dataset (maxEntries 12 > 10 chunks): pages wholly
    // beyond the current extent are unwritable, so the tail byte
    // (pages 8-9 init, 10-11 never written) stays unambiguous
    val grow = fixturePagedFA(Seq(0xFF, 0x03), maxEntries = 12)
    val got3 = Hdf5.read(grow, Hdf5.decode(grow), "/temp").toSeq
    assert(got3 == (0 until 10).map(100.0 + _), got3)
  }

  // ---- depth-2 v2 B-tree chunk index: root BTIN → 2 depth-1 BTINs →
  // 4 BTLF leaves; child pointers carry the spec's cumulative sizes
  // ({addr, nrec(1)} at depth 1; {addr, nrec(1), total(2)} at the
  // depth-2 root for nodeSize 2048 / record 24) ----
  private def fixtureBtree2Deep(): Array[Byte] = {
    val dsHdrAt = 128; val bthdAt = 384
    val rootInAt = 424; val inAAt = 480; val inBAt = 536
    val leafAt = Array(592, 632, 672, 712)
    val dataAt = 752
    val total = dataAt + 7 * 2
    // chunk x-positions per node, B-tree order irrelevant to the walk:
    // leaves hold x {0},{2},{4},{6}; depth-1 records x1 (A), x5 (B);
    // the root's own record x3
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(1, 7)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      }),
      msgV2(0x08, le { b =>
        b.put(4.toByte).put(2.toByte).put(0.toByte)
        b.put(3.toByte).put(1.toByte)
        b.put(1.toByte).put(1.toByte).put(2.toByte)
        b.put(5.toByte) // index type 5 (v2 B-tree)
        b.putInt(2048).put(85.toByte).put(40.toByte)
        b.putLong(bthdAt.toLong)
      })).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort).put(dsMsgs).putInt(0)
    def chunkAddr(x: Int): Long = dataAt + x * 2L
    def rec(b: ByteBuffer, x: Int): Unit = {
      b.putLong(chunkAddr(x)); b.putLong(0L); b.putLong(x.toLong)
    }
    // BTHD: depth 2, root = rootInAt with 1 record, 7 total
    out.position(bthdAt)
    out.put("BTHD".getBytes("US-ASCII")).put(0.toByte).put(10.toByte)
    out.putInt(2048).putShort(24).putShort(2)
    out.put(85.toByte).put(40.toByte)
    out.putLong(rootInAt.toLong).putShort(1)
    out.putLong(7L)
    out.putInt(0)
    // depth-2 root BTIN: record x3; children {inA: nrec 1, total 3},
    // {inB: nrec 1, total 3}
    out.position(rootInAt)
    out.put("BTIN".getBytes("US-ASCII")).put(0.toByte).put(10.toByte)
    rec(out, 3)
    out.putLong(inAAt.toLong).put(1.toByte).putShort(3)
    out.putLong(inBAt.toLong).put(1.toByte).putShort(3)
    out.putInt(0)
    // depth-1 BTINs: one record, two single-record leaves each
    def depth1(at: Int, recX: Int, leaf0: Int, leaf1: Int): Unit = {
      out.position(at)
      out.put("BTIN".getBytes("US-ASCII")).put(0.toByte).put(10.toByte)
      rec(out, recX)
      out.putLong(leafAt(leaf0).toLong).put(1.toByte)
      out.putLong(leafAt(leaf1).toLong).put(1.toByte)
      out.putInt(0)
    }
    depth1(inAAt, 1, 0, 1)
    depth1(inBAt, 5, 2, 3)
    Seq(0, 2, 4, 6).zipWithIndex.foreach { case (x, li) =>
      out.position(leafAt(li))
      out.put("BTLF".getBytes("US-ASCII")).put(0.toByte).put(10.toByte)
      rec(out, x)
      out.putInt(0)
    }
    (0 until 7).foreach { x =>
      out.position(dataAt + x * 2)
      out.putShort((200 + x).toShort)
    }
    out.array()
  }

  test("v2 B-tree chunk index at depth 2: the shared traversal walks " +
      "BTIN→BTIN→BTLF with the spec's cumulative child-pointer sizes") {
    val bytes = fixtureBtree2Deep()
    val got = Hdf5.read(bytes, Hdf5.decode(bytes), "/temp").toSeq
    assert(got == (0 until 7).map(200.0 + _), got)
    // implausible depth still refuses loudly
    val deep = bytes.clone()
    val dAt = bytes.indexOfSlice("BTHD".getBytes("US-ASCII")) + 12
    deep(dAt) = 9
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(deep, Hdf5.decode(deep), "/temp")
    }
    assert(e.getMessage.contains("implausible"), e.getMessage)
  }

  // ---- paged extensible array (spec III.H): the g3 generation's
  // data blocks exceed one page, so the OWNING SUPER BLOCK carries the
  // page-init bitmap before its address table and the paged EADB holds
  // header + checksum with the pages laid out after it ----
  private def fixturePagedEA(g3Bitmap: Int): Array[Byte] = {
    // minElmts=1 minPtrs=2 idxElmts=1 maxBits=8 pageBits=1 (pageSize 2)
    // gens: g0 1×1, g1 1×2 (index-addressed), g2 2×2 (EASB, unpaged),
    // g3 2×4 (EASB, PAGED: 2 pages/block). 2×6 grid of 1×1 int16
    // chunks: chunk 0 inline, 1→g0, 2-3→g1, 4-7→g2, 8-11→g3 dblk4.
    val dsHdrAt = 128; val eahdAt = 384
    val eaibAt = eahdAt + 72
    val eaibLen = 14 + 8 + 2 * 8 + 7 * 8 + 4 // 1 elem, 2 dblks, 7 sblks
    val sblk2At = eaibAt + eaibLen
    val sblk2Len = 15 + 2 * 8 + 4            // no bitmap, 2 addrs
    val sblk3At = sblk2At + sblk2Len
    val sblk3Len = 15 + 1 + 2 * 8 + 4        // 4-bit bitmap byte, 2 addrs
    // unpaged EADBs: header 15 + elems×8 + checksum
    val db0At = sblk3At + sblk3Len; val db0Len = 15 + 8 + 4
    val db1At = db0At + db0Len; val db1Len = 15 + 16 + 4
    val db2At = db1At + db1Len; val db2Len = 15 + 16 + 4
    val db3At = db2At + db2Len; val db3Len = 15 + 16 + 4
    // paged EADB: header 15 + checksum 4, then 2 pages × (2×8 + 4)
    val db4At = db3At + db3Len; val db4Len = 15 + 4 + 2 * (16 + 4)
    val dataAt = db4At + db4Len
    val total = dataAt + 12 * 2
    def chunkAddr(i: Int): Long = dataAt + i * 2L
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(2, 6)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      }),
      msgV2(0x08, le { b =>
        b.put(4.toByte).put(2.toByte).put(0.toByte)
        b.put(3.toByte).put(1.toByte)
        b.put(1.toByte).put(1.toByte).put(2.toByte)
        b.put(4.toByte) // index type 4 (extensible array)
        // params: max bits, idx elmts, min ptrs, min elmts, page bits
        b.put(8.toByte).put(1.toByte).put(2.toByte).put(1.toByte).put(1.toByte)
        b.putLong(eahdAt.toLong)
      })).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort).put(dsMsgs).putInt(0)
    out.position(eahdAt)
    out.put("EAHD".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.put(8.toByte).put(8.toByte).put(1.toByte) // entry, maxBits, idxElmts
    out.put(1.toByte).put(2.toByte).put(1.toByte) // minElmts, minPtrs, pageBits
    (0 until 6).foreach(_ => out.putLong(0L))
    out.putLong(eaibAt.toLong)
    out.putInt(0)
    out.position(eaibAt)
    out.put("EAIB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putLong(eahdAt.toLong)
    out.putLong(chunkAddr(0))                 // the one inline element
    out.putLong(db0At.toLong).putLong(db1At.toLong) // g0, g1 data blocks
    out.putLong(sblk2At.toLong).putLong(sblk3At.toLong)
    (2 until 7).foreach(_ => out.putLong(Undef))
    out.putInt(0)
    // g2 super block: no bitmap (2-element blocks fit the 2-elem page)
    out.position(sblk2At)
    out.put("EASB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putLong(eahdAt.toLong).put(3.toByte)  // block offset (1 byte)
    out.putLong(db2At.toLong).putLong(db3At.toLong)
    out.putInt(0)
    // g3 super block: PAGED — 4-bit page-init bitmap BEFORE the table
    out.position(sblk3At)
    out.put("EASB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putLong(eahdAt.toLong).put(7.toByte)
    out.put(g3Bitmap.toByte)
    out.putLong(db4At.toLong).putLong(Undef)  // dblk5 unallocated
    out.putInt(0)
    def eadb(at: Int, offset: Int, elems: Seq[Long]): Unit = {
      out.position(at)
      out.put("EADB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
      out.putLong(eahdAt.toLong).put(offset.toByte)
      elems.foreach(out.putLong)
      out.putInt(0)
    }
    eadb(db0At, 0, Seq(chunkAddr(1)))
    eadb(db1At, 1, Seq(chunkAddr(2), chunkAddr(3)))
    eadb(db2At, 3, Seq(chunkAddr(4), chunkAddr(5)))
    eadb(db3At, 5, Seq(chunkAddr(6), chunkAddr(7)))
    // paged EADB: header + checksum, then pages (elements + checksum)
    out.position(db4At)
    out.put("EADB".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    out.putLong(eahdAt.toLong).put(7.toByte)
    out.putInt(0) // EADB checksum
    out.putLong(chunkAddr(8)).putLong(chunkAddr(9)).putInt(0)   // page 0
    out.putLong(chunkAddr(10)).putLong(chunkAddr(11)).putInt(0) // page 1
    (0 until 12).foreach { i =>
      out.position(dataAt + i * 2)
      out.putShort((100 + i).toShort)
    }
    out.array()
  }

  test("paged extensible-array chunk index: super-block page bitmap + " +
      "paged EADB pages decode; all-uninit pages fill; ambiguous " +
      "bitmap bytes refuse by name") {
    // bitmap 0x03 — the LIBRARY-REAL half-grown shape: dblk4's two
    // pages written, dblk5 unallocated (Undef, its bits provably zero
    // under either bit order) → classification is unambiguous and all
    // 12 chunks read
    val full = fixturePagedEA(0x03)
    val got = Hdf5.read(full, Hdf5.decode(full), "/temp").toSeq
    assert(got == (0 until 12).map(100.0 + _), got)
    // bitmap 0x00: dblk4's pages all uninitialized → chunks 8-11 fill
    val none = fixturePagedEA(0x00)
    val got2 = Hdf5.read(none, Hdf5.decode(none), "/temp").toSeq
    assert(got2 == (0 until 8).map(100.0 + _) ++ Seq.fill(4)(-7.0), got2)
    // ONE of dblk4's two pages marked: genuinely ambiguous within the
    // writable pages — refuse rather than guess the bit order
    val mixed = fixturePagedEA(0x01)
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(mixed, Hdf5.decode(mixed), "/temp")
    }
    assert(e.getMessage.contains("PARTIALLY"), e.getMessage)
    // bits set for the UNALLOCATED block's pages: inconsistent file,
    // same loud refusal
    val over = fixturePagedEA(0x0F)
    val e2 = intercept[IllegalArgumentException] {
      Hdf5.read(over, Hdf5.decode(over), "/temp")
    }
    assert(e2.getMessage.contains("PARTIALLY"), e2.getMessage)
  }

  test("independent chunked fixture: type-1 B-tree, shuffle+deflate+" +
      "fletcher32 pipeline, edge clipping, unallocated-chunk fill") {
    val (bytes, chunkDataAt) = fixtureChunked
    val f = Hdf5.decode(bytes)
    val d = f.datasetAt("/temp")
    assert(d.dims == Seq(3L, 5L))
    val c = d.chunked.getOrElse(fail("not chunked"))
    assert(c.chunkDims == Seq(2, 3))
    assert(c.filters.map(_.id) == Seq(2, 1, 3))
    assert(c.chunks.size == 3)
    assert(Hdf5.read(bytes, f, "/temp").toSeq == Seq(
      10.0, 11.0, 12.0, 13.0, 14.0,
      20.0, 21.0, 22.0, 23.0, 24.0,
      30.0, 31.0, 32.0, -7.0, -7.0))
    // CF grid: the unallocated chunk's cells are fill → NaN
    val cells = Hdf5.gridCells(bytes, f, "/temp").toSeq
    assert(cells.count(_.value.isNaN) == 2)
    assert(cells.find(c2 => c2.x == 3 && c2.y == 2).get.value.isNaN)
    assert(cells.find(c2 => c2.x == 0 && c2.y == 0).get.value == 10.0)
    // flip one byte inside the first filtered payload: the REAL
    // fletcher32 verify must refuse, never yield silent garbage
    val bad = bytes.clone()
    bad(chunkDataAt + 2) = (bad(chunkDataAt + 2) ^ 0x5a).toByte
    val e = intercept[Exception] {
      Hdf5.read(bad, Hdf5.decode(bad), "/temp")
    }
    assert(e.getMessage.contains("fletcher32") ||
      e.getMessage.contains("deflate"), e.getMessage)
  }

  test("metaOnly decode: names/dims resolve from a header PREFIX that " +
      "cuts off the chunk B-tree; data reads refuse until a full decode") {
    val (bytes, _) = fixtureChunked
    // a planner-style prefix: everything before the B-tree node
    val prefix = java.util.Arrays.copyOf(bytes, 384)
    val meta = Hdf5.decode(prefix, metaOnly = true)
    val d = meta.datasetAt("/temp")
    assert(d.dims == Seq(3L, 5L))
    assert(d.chunked.exists(_.deferred))
    // reading from the deferred handle refuses loudly
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(prefix, meta, "/temp")
    }
    assert(e.getMessage.contains("metaOnly"), e.getMessage)
    // the FULL decode still reads everything
    assert(Hdf5.read(bytes, Hdf5.decode(bytes), "/temp").length == 15)
  }

  test("refusals: garbage chunked layout, v4 chunked, soft links, dense link storage, junk, truncation") {
    val (bytes, layoutClassAt) = fixtureV2()
    // flipping the class byte to 2 makes the contiguous body parse as
    // chunked — the garbage dimensionality (low byte of the data addr)
    // must refuse loudly, not yield silent garbage
    val chunked = bytes.clone()
    chunked(layoutClassAt) = 2
    val e1 = intercept[IllegalArgumentException] { Hdf5.decode(chunked) }
    assert(e1.getMessage.contains("bad chunk dimensionality"), e1.getMessage)
    // flipping version to 4 + class to 2 makes the contiguous body
    // parse as a v4 chunked layout — its garbage fields (dim-size
    // width 0) must refuse loudly
    val v4 = bytes.clone()
    v4(layoutClassAt - 1) = 4
    v4(layoutClassAt) = 2
    val e1b = intercept[IllegalArgumentException] { Hdf5.decode(v4) }
    assert(e1b.getMessage.contains("v4"), e1b.getMessage)
    // soft links now RESOLVE (next test); an EXTERNAL link (type 64)
    // still refuses by name — the target lives outside this file
    val ext = fixtureV2(softLink = true)._1
    val saName = ext.indexOfSlice("sa".getBytes("US-ASCII"))
    val extPatched = ext.clone(); extPatched(saName - 2) = 64
    val e2 = intercept[IllegalArgumentException] {
      Hdf5.decode(extPatched)
    }
    assert(e2.getMessage.contains("external"), e2.getMessage)
    // dense storage now DECODES (fixture E); this variant's live heap
    // address with an UNDEF name index is corrupt — still loud
    val e3 = intercept[IllegalArgumentException] {
      Hdf5.decode(fixtureV2(denseLinks = true)._1)
    }
    assert(e3.getMessage.contains("name-index B-tree"), e3.getMessage)
    intercept[IllegalArgumentException] {
      Hdf5.decode("PK not hdf5 at all, and no superblock".getBytes("US-ASCII"))
    }
    for (cut <- Seq(4, 60, 200))
      intercept[Exception] {
        Hdf5.decode(java.util.Arrays.copyOf(bytes, cut))
      }
    // HDF4 bytes are a different format: refused, pointed elsewhere
    intercept[IllegalArgumentException] {
      Hdf5.decode(graft.sources.Hdf.encode(Seq(graft.sources.Hdf.SdsSpec(
        "x", Seq(1, 1), graft.sources.Hdf.Int16, Array(1.0)))))
    }
  }

  test("v1 symbol-table SYMBOLIC entries (cache type 2) decode as soft " +
      "links instead of walking the undefined header address; unknown " +
      "cache types refuse; DSv2 name selection honors aliases") {
    // fixtureV0's single SNOD entry sits at snodAt(240)+8: cache type
    // at +16 (abs 264), scratch at +24 (abs 272). Retyping the only
    // hard link as a symbolic link to its own name leaves "/rain"
    // dangling — the decode must survive (empty inventory), never die
    // in r.in(-1, …)
    val sym = fixtureV0.clone()
    sym(264) = 2
    // a fresh target string "x" in the heap's padding (heapData=168,
    // "rain\0" at +8..12, "x\0" lands at +13) — pointing at "rain"
    // itself would be a self-cycle and refuse as one
    sym(181) = 'x'; sym(182) = 0
    sym(272) = 13 // scratch: heap offset of the target string
    sym(240 + 8 + 8) = 0xff.toByte // header addr → garbage (ignored)
    val f = Hdf5.decode(sym)
    assert(f.datasets.isEmpty, f.datasets.map(_.path).toString)
    // unknown cache type refuses by name
    val bad = fixtureV0.clone(); bad(264) = 3
    val e = intercept[IllegalArgumentException] { Hdf5.decode(bad) }
    assert(e.getMessage.contains("cache type 3"), e.getMessage)
    // DSv2 name selection: the unfiltered enumeration reads each
    // dataset ONCE (aliases skipped); an explicit selection may
    // address the alias name
    val linked = Hdf5.decode(fixtureV2(softLink = true)._1)
    assert(graft.sources.H5GridSource.gridNames(linked, _ => true,
      explicit = false) == Seq("/temp"))
    assert(graft.sources.H5GridSource.gridNames(linked, _ == "/sa",
      explicit = true) == Seq("/sa"))
    assert(graft.sources.H5GridSource.gridNames(linked, _ == "/nope",
      explicit = true).isEmpty)
  }

  test("soft links resolve: absolute and chained-relative targets alias " +
      "the dataset, GROUP targets alias their subtree, dangling targets " +
      "alias nothing; cycles and dot components refuse") {
    val bytes = fixtureV2(softLink = true)._1
    val f = Hdf5.decode(bytes)
    assert(f.datasets.map(_.path).sorted == Seq("/sa", "/sb", "/temp"),
      f.datasets.map(_.path).toString) // /sd dangles → aliases nothing
    val direct = Hdf5.read(bytes, f, "/temp").toSeq
    assert(Hdf5.read(bytes, f, "/sa").toSeq == direct)
    assert(Hdf5.read(bytes, f, "/sb").toSeq == direct)
    // the alias carries the target's CF attributes too
    assert(f.datasetAt("/sa").numAttr("scale_factor") ==
      f.datasetAt("/temp").numAttr("scale_factor"))
    // ...and is MARKED as an alias so whole-file enumerations (DSv2
    // planning) never read the linked dataset twice
    assert(f.datasetAt("/sa").aliasOf.contains("/temp"))
    assert(f.datasetAt("/sb").aliasOf.contains("/temp")) // chain collapses
    assert(f.datasetAt("/temp").aliasOf.isEmpty)
    val saName = bytes.indexOfSlice("sa".getBytes("US-ASCII"))
    val saLenAt = saName + 2 // 2-byte LE target length after the name
    // cycle: shorten sa's target to "sb" → sa → sb → sa
    val cyc = bytes.clone()
    cyc(saLenAt) = 2; cyc(saLenAt + 2) = 's'; cyc(saLenAt + 3) = 'b'
    val e1 = intercept[IllegalArgumentException] { Hdf5.decode(cyc) }
    assert(e1.getMessage.contains("chain too long or cyclic"), e1.getMessage)
    // group target: sa → "/" (the root group) aliases the SUBTREE as
    // of r13 — every concrete dataset surfaces under the link name,
    // marked aliasOf its real path (other soft aliases are not
    // re-aliased: no /sa/sb)
    val grp = bytes.clone()
    grp(saLenAt) = 1; grp(saLenAt + 2) = '/'
    val g = Hdf5.decode(grp)
    assert(g.datasetAt("/sa/temp").aliasOf.contains("/temp"))
    assert(Hdf5.read(grp, g, "/sa/temp").toSeq ==
      Hdf5.read(grp, g, "/temp").toSeq)
    assert(!g.datasets.exists(_.path == "/sa/sb"))
    // a CHAIN into the group link resolves too: sb → sa → "/"
    assert(g.datasetAt("/sb/temp").aliasOf.contains("/temp"))
    // a target path UNDER another link refuses by name — the library
    // resolves through the linked namespace; silently dropping the
    // link would shrink the scan with no error (r13 review)
    val thru = bytes.clone()
    val sdAt = bytes.indexOfSlice("sd".getBytes("US-ASCII")) + 4
    "/sa/n".zipWithIndex.foreach { case (c, i) => thru(sdAt + i) = c.toByte }
    val e4 = intercept[IllegalArgumentException] { Hdf5.decode(thru) }
    assert(e4.getMessage.contains("linked namespace"), e4.getMessage)
    // dot components refuse by name
    val dots = bytes.clone()
    dots(saLenAt + 2) = '.'; dots(saLenAt + 3) = '.'; dots(saLenAt + 4) = '/'
    val e3 = intercept[IllegalArgumentException] { Hdf5.decode(dots) }
    assert(e3.getMessage.contains(".."), e3.getMessage)
  }

  test("encode round-trips through the decoder built on the independent fixtures") {
    // the decoder's correctness is pinned by the HAND-BUILT fixtures
    // above; this closes the loop on the writer
    val dt16 = Hdf5.Dtype(0, 2, littleEndian = true, signed = true)
    val bytes = Hdf5.encode(Seq(
      Hdf5.DsSpec("alpha", Seq(2L, 3L),
        dt16, Array(10, -3000, 30, 40, 50, 60).map(_.toDouble),
        fill = Some(-3000.0),
        attrs = Seq("scale_factor" -> 0.25, "add_offset" -> 100.0)),
      Hdf5.DsSpec("beta", Seq(4L),
        Hdf5.Dtype(1, 8, littleEndian = true, signed = true),
        Array(1.5, 2.25, -4.0, 1e9))))
    val f = Hdf5.decode(bytes)
    assert(f.datasets.map(_.path).toSet == Set("/alpha", "/beta"))
    val a = f.datasetAt("/alpha")
    assert(a.dims == Seq(2L, 3L) && a.dtype == dt16)
    assert(a.fill.contains(-3000.0))
    assert(a.numAttr("scale_factor").contains(0.25))
    assert(Hdf5.read(bytes, f, "/beta").toSeq == Seq(1.5, 2.25, -4.0, 1e9))
    val cells = Hdf5.gridCells(bytes, f, "/alpha").toSeq
    assert(cells.find(c => c.x == 1 && c.y == 0).get.value.isNaN)
    assert(cells.find(c => c.x == 0 && c.y == 0).get.value == 102.5)
  }

  test("user block: a superblock at 512 decodes, addresses base-relative") {
    // spec §II: the superblock may sit at any power-of-two user-block
    // offset, and every stored file address is relative to that base.
    // Prepending bytes to a valid file (the h5jam operation) must
    // change nothing about the decode — including the positioned
    // contiguous reads, which index the ORIGINAL array.
    val dt16 = Hdf5.Dtype(0, 2, littleEndian = true, signed = true)
    val plain = Hdf5.encode(Seq(
      Hdf5.DsSpec("alpha", Seq(2L, 3L),
        dt16, Array(10, -3000, 30, 40, 50, 60).map(_.toDouble),
        fill = Some(-3000.0),
        attrs = Seq("scale_factor" -> 0.25, "add_offset" -> 100.0))))
    val jammed = new Array[Byte](512 + plain.length)
    // non-zero junk in the user block so an absolute-address walk
    // cannot accidentally succeed
    java.util.Arrays.fill(jammed, 0, 512, 0x5a.toByte)
    System.arraycopy(plain, 0, jammed, 512, plain.length)
    val f = Hdf5.decode(jammed)
    val a = f.datasetAt("/alpha")
    assert(a.dims == Seq(2L, 3L) && a.fill.contains(-3000.0))
    assert(a.numAttr("scale_factor").contains(0.25))
    val cells = Hdf5.gridCells(jammed, f, "/alpha").toSeq
    assert(cells.find(c => c.x == 1 && c.y == 0).get.value.isNaN)
    assert(cells.find(c => c.x == 0 && c.y == 0).get.value == 102.5)
  }

  test("scan and H5GridSource run task-side over a directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_h5").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.h5"),
      fixtureV2()._1)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.h5"),
      fixtureV0)
    val inv = Hdf5.scan(spark, s"$dir/*.h5").collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1),
        r.getString(3), r.getString(4))).toSet
    assert(inv == Set(("a.h5", "/temp", "2x3", "int16"),
      ("b.h5", "/rain", "2x2", "float32")), inv.toString)
    val rows = spark.read.format("graft.sources.H5GridSource")
      .option("path", s"$dir/a.h5").option("dataset", "/temp").load().collect()
    assert(rows.length == 5) // the fill hole dropped
    assert(rows.map(_.getDouble(4)).sum == 52.0 + 152 + 202 + 252 + 302)
  }

  // ---- fixture E: DENSE link storage (fractal heap + v2 B-tree) —
  // the "new format" group shape netCDF-4 forces past 8 links. Hand-
  // built per spec §III.F/§III.B; `indirect` roots the heap in an
  // FHIB with two direct children. Returns (bytes, bthdAt, frhpAt). ----

  private def fixtureDense(indirect: Boolean = false): (Array[Byte], Int, Int) = {
    val ds1At = 128; val ds2At = 256; val frhpAt = 384
    val blockAt = 560; val block2At = 600 // indirect children: 600, 680
    val bthdAt = 760; val btlfAt = 810
    val data1At = 880; val data2At = 896
    val total = 912
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    // root OHDR: ONE Link Info message — dense storage, no compact links
    val rootMsgs = msgV2(0x02, le { b =>
      b.put(0.toByte).put(0.toByte) // version, flags (no creation order)
      b.putLong(frhpAt.toLong).putLong(bthdAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte)
    out.put(rootMsgs)
    out.putInt(0)
    // two contiguous int16 datasets
    def dataset(at: Int, dataAt: Int, v0: Int): Unit = {
      val msgs = Array(
        msgV2(0x01, dsRank2V2(2, 2)),
        msgV2(0x03, dtInt16),
        msgV2(0x05, le { b =>
          b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
        }),
        msgV2(0x08, le { b =>
          b.put(3.toByte).put(1.toByte).putLong(dataAt.toLong).putLong(8L)
        })).flatten
      out.position(at)
      out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
      out.putShort(msgs.length.toShort)
      out.put(msgs)
      out.putInt(0)
      out.position(dataAt)
      (0 until 4).foreach(i => out.putShort((v0 + i).toShort))
    }
    dataset(ds1At, data1At, 10)
    dataset(ds2At, data2At, 50)
    // serialized link-message BODIES (the heap's managed objects)
    def linkBody(name: String, addr: Long): Array[Byte] = le { b =>
      b.put(1.toByte).put(0.toByte) // version, flags: 1-byte name len
      b.put(name.length.toByte).put(name.getBytes("US-ASCII"))
      b.putLong(addr)
    }
    val l1 = linkBody("temp", ds1At.toLong)
    val l2 = linkBody("rain", ds2At.toLong)
    // fractal heap geometry: maxHeapBits 32 → 4-byte offsets; heap ID
    // length 7 → 2-byte object lengths; no checksums (flags 0)
    val offSize = 4
    val dbHeader = 4 + 1 + 8 + offSize // 17
    val (startBlock, width, curRows) =
      if (indirect) (64L, 2, 1) else (512L, 4, 0)
    // heap offsets: objects live after each block's header
    val off1 = dbHeader.toLong
    val off2 = if (indirect) startBlock + dbHeader else off1 + l1.length
    out.position(frhpAt)
    out.put("FRHP".getBytes("US-ASCII")).put(0.toByte)
    out.putShort(7) // heap ID length
    out.putShort(0) // no I/O filters
    out.put(0.toByte) // flags: direct blocks NOT checksummed
    out.putInt(100) // max managed object size
    // the 12 huge/tiny/free-space stat fields the reader ignores
    (0 until 12).foreach(_ => out.putLong(0L))
    out.putShort(width.toShort)
    out.putLong(startBlock)
    out.putLong(1024L) // max direct block size
    out.putShort(32) // max heap size (bits)
    out.putShort(1)  // starting rows in root indirect
    out.putLong(blockAt.toLong) // direct FHDB or indirect FHIB root
    out.putShort(curRows.toShort)
    out.putInt(0) // checksum (unverified)
    if (indirect) {
      // FHIB at 560: 1 row × 2 children of 64 bytes each
      out.position(blockAt)
      out.put("FHIB".getBytes("US-ASCII")).put(0.toByte)
      out.putLong(frhpAt.toLong)
      out.putInt(0) // block offset (4 bytes)
      out.putLong(block2At.toLong)        // child 0 at heap offset 0
      out.putLong(block2At.toLong + 80)   // child 1 at heap offset 64
      out.putInt(0)
      // two FHDBs, one link each
      for ((at, heapOff, body) <- Seq((block2At, 0L, l1),
          (block2At + 80, startBlock, l2))) {
        out.position(at)
        out.put("FHDB".getBytes("US-ASCII")).put(0.toByte)
        out.putLong(frhpAt.toLong)
        out.putInt(heapOff.toInt)
        out.put(body)
      }
    } else {
      out.position(blockAt)
      out.put("FHDB".getBytes("US-ASCII")).put(0.toByte)
      out.putLong(frhpAt.toLong)
      out.putInt(0) // block offset
      out.put(l1).put(l2)
    }
    // v2 B-tree: BTHD + depth-0 BTLF with two type-5 records
    out.position(bthdAt)
    out.put("BTHD".getBytes("US-ASCII")).put(0.toByte).put(5.toByte)
    out.putInt(2048).putShort(11).putShort(0) // node size, rec size, depth
    out.put(85.toByte).put(40.toByte)
    out.putLong(btlfAt.toLong).putShort(2).putLong(2L)
    out.putInt(0)
    out.position(btlfAt)
    out.put("BTLF".getBytes("US-ASCII")).put(0.toByte).put(5.toByte)
    def rec(hash: Int, heapOff: Long, len: Int): Unit = {
      out.putInt(hash)
      out.put(0.toByte) // managed heap ID
      out.putInt(heapOff.toInt) // 4-byte heap offset
      out.putShort(len.toShort) // 2-byte length
    }
    rec(0x1111, off1, l1.length)
    rec(0x2222, off2, l2.length)
    out.putInt(0)
    (out.array(), bthdAt, frhpAt)
  }

  test("dense link storage: fractal heap + v2 B-tree, direct and " +
      "indirect roots; off-subset shapes refuse") {
    for (ind <- Seq(false, true)) {
      val (bytes, _, _) = fixtureDense(indirect = ind)
      val f = Hdf5.decode(bytes)
      assert(f.datasets.map(_.path).sorted == Seq("/rain", "/temp"),
        s"indirect=$ind: ${f.datasets.map(_.path)}")
      assert(Hdf5.read(bytes, f, "/temp").toSeq == Seq(10.0, 11.0, 12.0, 13.0))
      assert(Hdf5.read(bytes, f, "/rain").toSeq == Seq(50.0, 51.0, 52.0, 53.0))
    }
    val (bytes, bthdAt, frhpAt) = fixtureDense()
    // implausible depth refuses by name (depth ≤ 8 walks as of r13);
    // a depth field lying over a LEAF root refuses on the signature
    val deep = bytes.clone(); deep(bthdAt + 12) = 9
    val e1 = intercept[IllegalArgumentException] { Hdf5.decode(deep) }
    assert(e1.getMessage.contains("depth"), e1.getMessage)
    val lied2 = bytes.clone(); lied2(bthdAt + 12) = 2
    val e1c = intercept[IllegalArgumentException] { Hdf5.decode(lied2) }
    assert(e1c.getMessage.contains("BTIN"), e1c.getMessage)
    val lied = bytes.clone(); lied(bthdAt + 12) = 1
    val e1b = intercept[IllegalArgumentException] { Hdf5.decode(lied) }
    assert(e1b.getMessage.contains("BTIN"), e1b.getMessage)
    // filtered heap refuses
    val filt = bytes.clone(); filt(frhpAt + 7) = 8
    val e2 = intercept[IllegalArgumentException] { Hdf5.decode(filt) }
    assert(e2.getMessage.contains("filtered fractal heap"), e2.getMessage)
    // huge/tiny heap IDs refuse (flip a record's ID flag byte)
    val huge = bytes.clone()
    val btlfAt = 810
    huge(btlfAt + 6 + 4) = 0x10
    val e3 = intercept[IllegalArgumentException] { Hdf5.decode(huge) }
    assert(e3.getMessage.contains("heap ID type"), e3.getMessage)
    // wrong B-tree type refuses
    val wrongT = bytes.clone(); wrongT(bthdAt + 5) = 6
    val e4 = intercept[IllegalArgumentException] { Hdf5.decode(wrongT) }
    assert(e4.getMessage.contains("expected name index"), e4.getMessage)
  }

  /** Depth-1 dense-link fixture: BTIN root (one record) over two
    * BTLF leaves; three datasets, three heap-held link bodies. */
  private def fixtureDenseDeep(): Array[Byte] = {
    val ds = Seq(128, 200, 272); val frhpAt = 384 // header ends at 530
    val fhdbAt = 536 // 17-byte header + 3×15 bodies → ends 598
    val bthdAt = 600; val btinAt = 650; val leaves = Seq(690, 720)
    val dataAt = Seq(780, 796, 812); val total = 828
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x02, le { b =>
      b.put(0.toByte).put(0.toByte)
      b.putLong(frhpAt.toLong).putLong(bthdAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    val names = Seq("temp", "rain", "wind")
    ds.zip(dataAt).zipWithIndex.foreach { case ((at, dAt), i) =>
      val msgs = Array(
        msgV2(0x01, dsRank2V2(2, 2)),
        msgV2(0x03, dtInt16),
        msgV2(0x08, le { b =>
          b.put(3.toByte).put(1.toByte).putLong(dAt.toLong).putLong(8L)
        })).flatten
      out.position(at)
      out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
      out.putShort(msgs.length.toShort).put(msgs).putInt(0)
      out.position(dAt)
      (0 until 4).foreach(k => out.putShort((10 * (i + 1) + k).toShort))
    }
    val bodies = names.zip(ds).map { case (n, a) =>
      le { b =>
        b.put(1.toByte).put(0.toByte)
        b.put(n.length.toByte).put(n.getBytes("US-ASCII"))
        b.putLong(a.toLong)
      }
    }
    val dbHeader = 17
    val offs = bodies.scanLeft(dbHeader.toLong)(_ + _.length)
    out.position(frhpAt)
    out.put("FRHP".getBytes("US-ASCII")).put(0.toByte)
    out.putShort(7).putShort(0).put(0.toByte).putInt(200)
    (0 until 12).foreach(_ => out.putLong(0L))
    out.putShort(4).putLong(512L).putLong(512L)
    out.putShort(32).putShort(1)
    out.putLong(fhdbAt.toLong).putShort(0).putInt(0)
    out.position(fhdbAt)
    out.put("FHDB".getBytes("US-ASCII")).put(0.toByte)
    out.putLong(frhpAt.toLong).putInt(0)
    bodies.foreach(out.put)
    // BTHD: depth 1, root = BTIN with ONE own record, total 3
    out.position(bthdAt)
    out.put("BTHD".getBytes("US-ASCII")).put(0.toByte).put(5.toByte)
    out.putInt(2048).putShort(11).putShort(1)
    out.put(85.toByte).put(40.toByte)
    out.putLong(btinAt.toLong).putShort(1).putLong(3L).putInt(0)
    def rec(heapOff: Long, len: Int, hash: Int): Unit = {
      out.putInt(hash)
      out.put(0.toByte).putInt(heapOff.toInt).putShort(len.toShort)
    }
    // BTIN: record for "rain", children carrying "temp" / "wind"
    out.position(btinAt)
    out.put("BTIN".getBytes("US-ASCII")).put(0.toByte).put(5.toByte)
    rec(offs(1), bodies(1).length, 0x2222)
    out.putLong(leaves(0).toLong).put(1.toByte) // child 0: 1 record
    out.putLong(leaves(1).toLong).put(1.toByte) // child 1: 1 record
    out.putInt(0)
    Seq((leaves(0), 0), (leaves(1), 2)).foreach { case (at, i) =>
      out.position(at)
      out.put("BTLF".getBytes("US-ASCII")).put(0.toByte).put(5.toByte)
      rec(offs(i), bodies(i).length, 0x1111 * (i + 1))
      out.putInt(0)
    }
    out.array()
  }

  test("dense links, depth-1 index: BTIN root records + leaf children " +
      "all resolve") {
    val bytes = fixtureDenseDeep()
    val f = Hdf5.decode(bytes)
    assert(f.datasets.map(_.path).sorted == Seq("/rain", "/temp", "/wind"),
      f.datasets.map(_.path).toString)
    assert(Hdf5.read(bytes, f, "/temp").toSeq == Seq(10.0, 11.0, 12.0, 13.0))
    assert(Hdf5.read(bytes, f, "/rain").toSeq == Seq(20.0, 21.0, 22.0, 23.0))
    assert(Hdf5.read(bytes, f, "/wind").toSeq == Seq(30.0, 31.0, 32.0, 33.0))
    // a child claiming more records than a leaf can hold refuses
    val btinAt = 650
    val bad = bytes.clone()
    bad(btinAt + 6 + 11 + 8) = 0xFF.toByte // child 0 nrec = 255 > 185
    val e = intercept[IllegalArgumentException] { Hdf5.decode(bad) }
    assert(e.getMessage.contains("max"), e.getMessage)
  }

  test("dense ATTRIBUTE storage: type-8 index + heap-held attribute " +
      "messages feed CF semantics (silently dropping them would " +
      "corrupt values)") {
    val dsHdrAt = 128; val frhpAt = 256; val fhdbAt = 440
    val bthdAt = 620; val btlfAt = 680; val dataAt = 760
    val total = 780
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("temp".getBytes("US-ASCII"))
      b.putLong(dsHdrAt.toLong)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte).put(rootMsgs).putInt(0)
    // dataset: dataspace/dtype/fill/layout + ATTRIBUTE INFO (0x15)
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(2, 2)),
      msgV2(0x03, dtInt16),
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(2).putShort(-7)
      }),
      msgV2(0x08, le { b =>
        b.put(3.toByte).put(1.toByte).putLong(dataAt.toLong).putLong(8L)
      }),
      msgV2(0x15, le { b =>
        b.put(0.toByte).put(0.toByte) // version, flags
        b.putLong(frhpAt.toLong).putLong(bthdAt.toLong)
      })).flatten
    out.position(dsHdrAt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort).put(dsMsgs).putInt(0)
    // the two attribute-message bodies live in the heap
    val a1 = attrV3("scale_factor", dtF64, dsScalarV2, le(_.putDouble(0.5)))
    val a2 = attrV3("add_offset", dtF64, dsScalarV2, le(_.putDouble(2.0)))
    val dbHeader = 4 + 1 + 8 + 4
    out.position(frhpAt)
    out.put("FRHP".getBytes("US-ASCII")).put(0.toByte)
    out.putShort(7).putShort(0).put(0.toByte)
    out.putInt(200)
    (0 until 12).foreach(_ => out.putLong(0L))
    out.putShort(4).putLong(512L).putLong(512L)
    out.putShort(32).putShort(1)
    out.putLong(fhdbAt.toLong).putShort(0).putInt(0)
    out.position(fhdbAt)
    out.put("FHDB".getBytes("US-ASCII")).put(0.toByte)
    out.putLong(frhpAt.toLong).putInt(0)
    out.put(a1).put(a2)
    // type-8 B-tree: records are {heap ID(7), flags(1), order(4), hash(4)}
    out.position(bthdAt)
    out.put("BTHD".getBytes("US-ASCII")).put(0.toByte).put(8.toByte)
    out.putInt(2048).putShort(16).putShort(0)
    out.put(85.toByte).put(40.toByte)
    out.putLong(btlfAt.toLong).putShort(2).putLong(2L).putInt(0)
    out.position(btlfAt)
    out.put("BTLF".getBytes("US-ASCII")).put(0.toByte).put(8.toByte)
    def rec(heapOff: Long, len: Int, hash: Int): Unit = {
      out.put(0.toByte).putInt(heapOff.toInt).putShort(len.toShort)
      out.put(0.toByte).putInt(0).putInt(hash)
    }
    rec(dbHeader.toLong, a1.length, 0xAAAA)
    rec(dbHeader.toLong + a1.length, a2.length, 0xBBBB)
    out.putInt(0)
    out.position(dataAt)
    Seq(100, -7, 300, 400).foreach(v => out.putShort(v.toShort))
    val bytes = java.util.Arrays.copyOf(out.array(), total)

    val f = Hdf5.decode(bytes)
    val d = f.datasetAt("/temp")
    assert(d.numAttr("scale_factor").contains(0.5), d.attrs.toString)
    assert(d.numAttr("add_offset").contains(2.0))
    // CF grid applies the DENSE-stored scale/offset: raw·0.5 + 2.0
    val cells = Hdf5.gridCells(bytes, f, "/temp").toSeq
    assert(cells.find(c => c.x == 0 && c.y == 0).get.value == 52.0)
    assert(cells.find(c => c.x == 1 && c.y == 0).get.value.isNaN) // fill
    assert(cells.find(c => c.x == 1 && c.y == 1).get.value == 202.0)
    // a record whose message-flags byte carries the SHARED bit points
    // at a shared-message table entry, not an inline attribute —
    // parsing the heap bytes as an attribute would misread, so the
    // walk must refuse by name (record 0 flags = btlfAt+6 + heapId 7)
    val shared = bytes.clone()
    shared(btlfAt + 6 + 7) = 0x02
    val e = intercept[IllegalArgumentException] { Hdf5.decode(shared) }
    assert(e.getMessage.contains("shared"), e.getMessage)
  }

  test("H5GridSource: per-(file x dataset) splits, pruning, grouped wide " +
      "files, keepFill, loud corrupt") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_h5dsv2").toString
    def file(tag: Int): Array[Byte] = Hdf5.encode(Seq(
      Hdf5.DsSpec("t2m", Seq(2, 3), Hdf5.Dtype(0, 2, littleEndian = true,
        signed = true),
        Array(1, 2, -99, 4, 5, 6).map(v =>
          if (v == -99) -99.0 else v * tag.toDouble),
        fill = Some(-99.0),
        chunk = if (tag == 2) Some(Seq(2, 2)) else None,
        filters = if (tag == 2) Seq("shuffle", "deflate", "fletcher32")
                  else Nil),
      Hdf5.DsSpec("qa", Seq(2, 3), Hdf5.Dtype(0, 2, littleEndian = true,
        signed = true), Array(0, 1, 2, 3, 4, 5).map(_.toDouble)),
      // a 1-D coordinate dataset (every real netCDF-4 file has them):
      // the planner must SKIP it, not crash the default scan
      Hdf5.DsSpec("lon", Seq(3), Hdf5.Dtype(0, 2, littleEndian = true,
        signed = true), Array(10, 20, 30).map(_.toDouble))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.h5"), file(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.h5"), file(2))
    val df = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir).load()
    // 2 files × 2 datasets = 4 splits
    assert(df.rdd.getNumPartitions == 4, s"${df.rdd.getNumPartitions}")
    // dataset option narrows the planned splits; the chunked b.h5
    // rides the same scan
    val t2m = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir).option("dataset", "/t2m").load()
    assert(t2m.rdd.getNumPartitions == 2)
    assert(t2m.count() == 10) // 5 non-fill cells per file
    // predicates prune splits at planning, results stay exact
    val pruned = df.filter(col("dataset") === "/t2m" &&
      col("path").endsWith("b.h5"))
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.select(sum("value")).first().getDouble(0) ==
      2.0 * (1 + 2 + 4 + 5 + 6))
    // column pruning reaches the source
    val scanLine = df.select("value").queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.matches(".*BatchScan[^\\[]*\\[value#\\d+\\].*"), scanLine)
    // keepFill surfaces fills as NULL rows
    val withFill = spark.read.format("graft.sources.H5GridSource")
      .option("path", s"$dir/a.h5").option("dataset", "/t2m")
      .option("keepFill", "true").load()
    assert(withFill.count() == 6 &&
      withFill.filter(col("value").isNull).count() == 1)
    // a projection in another order than the schema's, path and value
    // included, reads the same cells as the full rows — fills kept as
    // NULL value or dropped
    for (keep <- Seq(false, true)) {
      val got = GridProjection.check(spark.read.format("graft.sources.H5GridSource")
        .option("path", dir).option("keepFill", keep.toString).load(),
        Seq("value", "dataset", "path", "x"))
      assert(got.length == (if (keep) 24 else 22) && got.exists(_.head == null) == keep)
    }
    // wide file: 10 datasets group under maxSplitsPerFile
    val wideDir = java.nio.file.Files.createTempDirectory("graft_h5wide").toString
    val wide = Hdf5.encode((0 until 10).map(i =>
      Hdf5.DsSpec(s"layer$i", Seq(2, 2), Hdf5.Dtype(0, 2,
        littleEndian = true, signed = true),
        Array(1, 2, 3, 4).map(v => (v + i * 10).toDouble))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$wideDir/w.h5"), wide)
    val capped = spark.read.format("graft.sources.H5GridSource")
      .option("path", wideDir).option("maxSplitsPerFile", "3").load()
    assert(capped.rdd.getNumPartitions == 3)
    assert(capped.count() == 40)
    assert(capped.filter(col("dataset") === "/layer7")
      .select(sum("value")).first().getDouble(0) == 74.0 + 73 + 72 + 71)
    // corrupt file: one unprunable split, loud task failure even
    // under a dataset predicate that matches nothing
    val bad = java.nio.file.Files.createTempDirectory("graft_h5bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$bad/bad.h5"),
      "junk, not hdf5".getBytes)
    val badDf = spark.read.format("graft.sources.H5GridSource")
      .option("path", bad).load().filter(col("dataset") === "nothing")
    assert(badDf.rdd.getNumPartitions == 1)
    intercept[Exception] { badDf.count() }
    // DSv2 rows match the codec decoded on the driver, fills dropped
    val codec = Seq("a.h5", "b.h5").flatMap { name =>
      val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$name"))
      Hdf5.gridCells(b, Hdf5.decode(b), "/t2m").filterNot(_.value.isNaN)
        .map(c => (name, c.x, c.y, c.value))
    }.toSet
    val dsv2 = t2m.select("path", "x", "y", "value").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(codec == dsv2)
  }

  /** Hand-built file holding ONE rank-2 dataset '/bnds' of a COMPOUND
    * datatype (class 6, v1, two int16 members lo/hi — the netCDF-4
    * coordinate-bounds-table shape), laid out from the spec's
    * compound member table: NUL-padded name (×8), byte offset(4),
    * dimensionality(1)+reserved(3)+perm(4)+reserved(4)+dims(16),
    * member datatype message. */
  private def fixtureCompound(): Array[Byte] = {
    val dsHdrAt = 128L
    val dataAt = 384L
    val total = 408
    val out = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    sig(out)
    out.put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(total.toLong).putLong(48L)
    out.putInt(0)
    val rootMsgs = msgV2(0x06, le { b =>
      b.put(1.toByte).put(0.toByte)
      b.put(4.toByte).put("bnds".getBytes("US-ASCII"))
      b.putLong(dsHdrAt)
    })
    out.position(48)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(0.toByte)
    out.put(rootMsgs.length.toByte)
    out.put(rootMsgs)
    out.putInt(0)
    def member(name: String, off: Int): Array[Byte] = le { b =>
      val nb = name.getBytes("US-ASCII")
      b.put(nb); (nb.length until 8).foreach(_ => b.put(0.toByte))
      b.putInt(off)
      b.put(0.toByte); b.put(new Array[Byte](3)) // dimensionality, rsvd
      b.putInt(0); b.putInt(0)                    // perm, reserved
      (0 until 4).foreach(_ => b.putInt(0))       // dim sizes
      b.put(dtInt16)                              // member datatype
    }
    val dtCompound: Array[Byte] = le { b =>
      b.put(0x16.toByte)                 // version 1, class 6 (compound)
      b.put(2.toByte).put(0.toByte).put(0.toByte) // 2 members
      b.putInt(4)                        // total size: two int16
      b.put(member("lo", 0)); b.put(member("hi", 2))
    }
    val dsMsgs = Array(
      msgV2(0x01, dsRank2V2(2, 3)),
      msgV2(0x03, dtCompound),
      // a DEFINED 4-byte fill value: the walk must not push it
      // through scalarOf on an undecodable type (r14 review fix)
      msgV2(0x05, le { b =>
        b.put(3.toByte).put(0x20.toByte).putInt(4).putInt(0)
      }),
      msgV2(0x08, le { b =>
        b.put(3.toByte).put(1.toByte).putLong(dataAt).putLong(24L)
      })).flatten
    out.position(dsHdrAt.toInt)
    out.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
    out.putShort(dsMsgs.length.toShort)
    out.put(dsMsgs)
    out.putInt(0)
    out.position(dataAt.toInt)
    (0 until 12).foreach(i => out.putShort((i * 100).toShort))
    out.array()
  }

  test("COMPOUND datatypes defer their refusal to the read (r14): the " +
      "walk inventories, explicit reads refuse by name on contiguous " +
      "AND chunked layouts, unfiltered DSv2 scans skip them") {
    // contiguous hand-built fixture: decode CATALOGS the dataset
    val f = Hdf5.decode(fixtureCompound())
    assert(f.datasets.map(_.path) == Seq("/bnds"))
    assert(f.datasets.head.dtype.unsupported.exists(_.contains("COMPOUND")))
    val e = intercept[IllegalArgumentException] {
      Hdf5.read(fixtureCompound(), f, "/bnds")
    }
    assert(e.getMessage.contains("COMPOUND") &&
      e.getMessage.contains("/bnds"), e.getMessage)
    // CHUNKED layout: class-nibble-patch an encoder-built chunked
    // int16 dataset to compound — the chunk walk still catalogs at
    // decode time and the read refuses by the same name (never a raw
    // defilter error)
    val chunked = Hdf5.encode(Seq(Hdf5.DsSpec("packed", Seq(4L, 4L),
      Hdf5.Dtype(0, 2, littleEndian = true, signed = true),
      Array.tabulate(16)(_.toDouble), chunk = Some(Seq(2, 2)),
      filters = Seq("shuffle", "deflate"))))
    val pat = Array[Byte](0x10, 0x08, 0, 0, 2, 0, 0, 0, 0, 0, 16, 0)
    val at = chunked.indices.find(i => i + pat.length <= chunked.length &&
      pat.indices.forall(j => chunked(i + j) == pat(j))).get
    chunked(at) = 0x16.toByte // class 0 → class 6, same size field
    val cf = Hdf5.decode(chunked)
    assert(cf.datasets.head.dtype.unsupported.exists(_.contains("COMPOUND")))
    val ec = intercept[IllegalArgumentException] {
      Hdf5.read(chunked, cf, "/packed")
    }
    assert(ec.getMessage.contains("COMPOUND"), ec.getMessage)
    // DSv2: a directory with one GOOD file and the compound file —
    // the unfiltered scan serves the good grid and SKIPS the
    // compound dataset; explicitly selecting it refuses by name
    val dir = java.nio.file.Files.createTempDirectory("graft_h5cmp")
    java.nio.file.Files.write(dir.resolve("good.h5"), fixtureV2()._1)
    java.nio.file.Files.write(dir.resolve("bnds.h5"), fixtureCompound())
    val all = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).load()
      .select("dataset").distinct().collect().map(_.getString(0)).toSet
    assert(all == Set("/temp"), all.toString)
    val sel = spark.read.format("graft.sources.H5GridSource")
      .option("path", dir.toString).option("dataset", "/bnds").load()
    val eSel = intercept[Exception] { sel.count() }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(eSel).contains("COMPOUND"), chain(eSel))
    // rank-2 FIXED-STRING datasets (netCDF-4 char variables) are the
    // same class: supported as attribute values, not grid data —
    // reading refuses by name, the unfiltered scan above already
    // skipped nothing else (r14 review fix)
    val strFile = Hdf5.decode(fixtureCompound()) // reuse walk shape
    val rank2Str = Hdf5.Dtype(3, 2, littleEndian = true, signed = false)
    assert(rank2Str.unsupported.isEmpty) // strings stay attr-supported
    val eStr = intercept[IllegalArgumentException] {
      Hdf5.read(fixtureCompound(),
        strFile.copy(datasets = strFile.datasets.map(d =>
          d.copy(dtype = rank2Str))), "/bnds")
    }
    assert(eStr.getMessage.contains("string"), eStr.getMessage)
  }

  test("hand-built fixture corruption sweeps (r14): v4 chunk indexes, " +
      "extensible arrays, paged FA/EA, deep v2 B-trees, dense storage " +
      "— every truncation/bit-flip decodes or refuses by name") {
    def readAll(bytes: Array[Byte]): Unit = {
      val f = Hdf5.decode(bytes)
      f.datasets.foreach(d => Hdf5.read(bytes, f, d.path))
    }
    def sw(name: String, fx: Array[Byte]): Unit =
      CodecFuzz.sweep(name, fx, b => { readAll(b); () },
        step = if (fx.length > 1200) 2 else 1)
    sw("h5-v0", fixtureV0)
    sw("h5-chunked-v1btree", fixtureChunked._1)
    sw("h5-v4-single", fixtureV4(1))
    sw("h5-v4-implicit", fixtureV4(2))
    sw("h5-v4-fixedarray", fixtureV4(3, filtered = true))
    sw("h5-v4-btree2", fixtureV4(5, filtered = true))
    sw("h5-earray", fixtureEArray(filtered = false))
    sw("h5-earray-filtered", fixtureEArray(filtered = true))
    sw("h5-paged-fa", fixturePagedFA(Seq(0xFF, 0x03)))
    sw("h5-btree2-deep", fixtureBtree2Deep())
    sw("h5-paged-ea", fixturePagedEA(0x03))
    sw("h5-dense", fixtureDense()._1)
    sw("h5-dense-indirect", fixtureDense(indirect = true)._1)
    sw("h5-softlinks", fixtureV2(softLink = true)._1)
    sw("h5-compound", fixtureCompound())
  }
}

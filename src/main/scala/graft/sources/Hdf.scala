package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** CLEAN-ROOM HDF4 (classic "Hierarchical Data Format") codec — the
  * acquisition format of the reference's MODIS path
  * (`ingest/modis/pymodis.py:159` downloads `.hdf` tiles;
  * `ingest/modis/convertmodis.py:273-317` walks their SDS subdatasets
  * and mosaics them), re-expressed without HDF4/GDAL: the byte layout
  * is implemented directly from the PUBLIC "HDF Specification and
  * Developer's Guide" (NCSA/The HDF Group), the same way [[NetCdf]]
  * implements the classic NetCDF spec and [[GeoTiff]] TIFF 6.0.
  *
  * Scope — the scientific-dataset (SDS) subset MODIS-class products
  * live in:
  *   - the magic number + the DD (data-descriptor) block chain
  *     (int16 count, uint32 next-block offset, 12-byte descriptors);
  *   - DFTAG_NDG numeric-data groups tying each dataset's records
  *     together; DFTAG_SDD dimension records (rank, dim sizes, number
  *     -type refs); DFTAG_NT number types (all 8 numeric DFNT codes,
  *     big-endian); DFTAG_SD raw data; DFTAG_SDL labels (the
  *     subdataset NAME the reference selects by,
  *     `convertmodis.py:287`); DFTAG_FV fill values; DFTAG_CAL
  *     calibration records (cal·(x − offset) available as metadata —
  *     the scan yields RAW values, matching GDAL's default the
  *     reference builds on);
  *   - SPECIAL (extended-tag) data elements with the COMP special
  *     code: coder NONE, RLE (HDF byte-run: literal runs ≤128,
  *     repeat runs 3..130) and DEFLATE (zlib), the codings MODIS-era
  *     SDS archives actually use;
  *   - CHUNKED storage (SPECIAL_CHUNKED, r11): the chunked
  *     description record, the chunk-table Vdata (DFTAG_VH header +
  *     DFTAG_VS packed records), and per-chunk data elements
  *     (DFTAG_CHUNK, plain or COMP-compressed) — the layout
  *     LAADS/LP DAAC MODIS archives actually ship
  *     (see [[chunkedPayload]]).
  *
  * Also decoded: LINKED-block elements (r12), SZIP/CCSDS coders via
  * the clean-room [[Szip]] (r12), EXTERNAL elements through a
  * sibling-relative resolver and the N-BIT coder (r14 — the legacy
  * MODIS L1 shapes), the skipping-Huffman coder via the splay codec
  * [[SkpHuff]] (r15 — conventions documented there), and the JPEG
  * coder via the JDK's ImageIO on the 8-bit grayscale contract (r15,
  * [[jpegDecode]]).
  *
  * Refused LOUDLY (the codec-gate discipline — never guess at bytes):
  * color/palette JPEG payloads, N-bit float or both-flags layouts,
  * CHAR data on the numeric path, variable-length linked blocks, and
  * any chunk table off the standard `{origin[ndims], chk_tag,
  * chk_ref}` record shape. The DD WALK still inventories such files
  * (refusals live on the pixel path, not the metadata walk — r9
  * discipline).
  *
  * Everything here is bounded by the GRID, not the archive: decode
  * runs task-side in the [[HdfGridSource]] scan, whose planner reads
  * only a header prefix, and the writer ([[encode]]) exists for the
  * publish/fixture side of the i65 transport cycle. */
object Hdf {

  // -- tags (public assignments from the HDF spec's tag table) ----------
  val TagNull = 1
  val TagVersion = 30
  val TagCompressed = 40 // compressed payload bytes of a SPECIAL_COMP element
  val TagLinked = 20 // linked-block table / data element (SPECIAL_LINKED)
  val TagChunk = 61 // one chunk's data element (plain or special COMP)
  val TagVH = 1962 // Vdata description (the chunk TABLE's header)
  val TagVS = 1963 // Vdata records (the chunk TABLE's packed rows)
  val TagNT = 106 // number type
  val TagSDD = 701 // scientific data dimension record
  val TagSD = 702 // scientific data
  val TagSDL = 704 // labels (dataset label = subdataset name)
  val TagNDG = 720 // numeric data group
  val TagCAL = 731 // calibration
  val TagFV = 732 // fill value
  val ExtendedBit = 0x4000 // tag bit marking a SPECIAL data element

  // special-element codes (first int16 at an extended element's offset)
  val SpecialLinked = 1
  val SpecialExt = 2
  val SpecialComp = 3
  val SpecialVLinked = 4
  val SpecialChunked = 6

  // coder codes inside a SPECIAL_COMP header
  val CompNone = 0
  val CompRle = 1
  val CompNBit = 2
  val CompSkpHuff = 3
  val CompDeflate = 4
  val CompSzip = 5
  val CompJpeg = 7 // 6 is the library's COMP_CODE_INVALID placeholder

  // DFNT number types (numeric subset)
  val Float32 = 5
  val Float64 = 6
  val Int8 = 20
  val UInt8 = 21
  val Int16 = 22
  val UInt16 = 23
  val Int32 = 24
  val UInt32 = 25

  private val Magic = 0x0e031301

  final case class DD(tag: Int, ref: Int, off: Long, len: Long)

  /** One SDS: dims row-major (rank 2 = (y, x)); `fill`/`cal` straight
    * from the FV/CAL records; `dataDD` points at the (possibly
    * special) data element. */
  final case class Sds(ref: Int, name: String, dims: Seq[Int], ntype: Int,
      fill: Option[Double], calScale: Option[Double],
      calOffset: Option[Double], dataDD: Option[DD])

  final case class HdfFile(dds: Seq[DD], sds: Seq[Sds],
      bytes: Array[Byte], fullLen: Long) {
    def sdsNamed(name: String): Sds = sds.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no SDS named '$name' — file has: ${sds.map(_.name).mkString(", ")}"))
  }

  private def widthOf(t: Int): Int = t match {
    case Int8 | UInt8 => 1
    case Int16 | UInt16 => 2
    case Int32 | UInt32 | Float32 => 4
    case Float64 => 8
    case other => throw new IllegalArgumentException(
      s"DFNT type $other unsupported on the numeric path " +
        "(CHAR/custom types refused — this reader never guesses)")
  }

  /** Overflow-proof element count of declared dims: a corrupt SDD can
    * declare dims whose Long product WRAPS (even to 0), sliding past
    * the 2^27 gates with a wrong-shaped "success" (r14 review);
    * multiplyExact overflow surfaces as a named CodecGate refusal. */
  private def nElems(dims: Seq[Int], owner: String): Long = {
    require(dims.forall(_ >= 0),
      s"SDS '$owner': negative dimension in ${dims.mkString("x")}")
    dims.foldLeft(1L)((a, b) => Math.multiplyExact(a, b.toLong))
  }

  // -- decode -----------------------------------------------------------

  /** Full decode: DD walk + SDS assembly over the whole byte array. */
  def decode(bytes: Array[Byte]): HdfFile =
    CodecGate.gated("HDF4")(decodeImpl(bytes, bytes.length))

  /** Metadata-only decode over a bounded header PREFIX (the DSv2
    * planner's path): succeeds iff the DD chain and every SDS
    * metadata record (NDG/SDD/SDL/NT) lies inside the prefix — data
    * offsets may point past it. Throws otherwise; callers fall back
    * to a full read (the [[NcGridSource]] planning pattern). */
  def decodeHeader(prefix: Array[Byte], fullLen: Long): HdfFile =
    CodecGate.gated("HDF4")(decodeImpl(prefix, fullLen))

  private def decodeImpl(bytes: Array[Byte], fullLen: Long): HdfFile = {
    require(bytes.length >= 10, "truncated HDF4 file (no room for magic + DD block)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(bb.getInt(0) == Magic,
      "not an HDF4 file (bad magic; HDF5 and NetCDF are different formats " +
        "with their own codecs)")

    // DD block chain
    val dds = Seq.newBuilder[DD]
    var blockOff = 4L
    var guard = 0
    while (blockOff != 0) {
      require(guard < 65536, "DD block chain does not terminate (corrupt)")
      guard += 1
      require(blockOff + 6 <= bytes.length,
        s"DD block at $blockOff overruns the header bytes")
      val ndd = bb.getShort(blockOff.toInt) & 0xffff
      val next = bb.getInt(blockOff.toInt + 2).toLong & 0xffffffffL
      require(blockOff + 6 + 12L * ndd <= bytes.length,
        s"DD block at $blockOff declares $ndd descriptors past the header bytes")
      var i = 0
      while (i < ndd) {
        val p = (blockOff + 6 + 12 * i).toInt
        val tag = bb.getShort(p) & 0xffff
        if (tag != TagNull) {
          val ref = bb.getShort(p + 2) & 0xffff
          val off = bb.getInt(p + 4).toLong & 0xffffffffL
          val len = bb.getInt(p + 8).toLong & 0xffffffffL
          require(off + len <= fullLen,
            s"DD tag=$tag ref=$ref: element [$off, ${off + len}) overruns " +
              s"the $fullLen-byte file")
          dds += DD(tag, ref, off, len)
        }
        i += 1
      }
      blockOff = next
    }
    val all = dds.result()
    def find(tag: Int, ref: Int): Option[DD] =
      all.find(d => (d.tag == tag || d.tag == (tag | ExtendedBit)) && d.ref == ref)
    def slice(d: DD): ByteBuffer = {
      require(d.off + d.len <= bytes.length,
        s"element tag=${d.tag} ref=${d.ref} lies past the decoded prefix")
      ByteBuffer.wrap(bytes, d.off.toInt, d.len.toInt)
        .slice().order(ByteOrder.BIG_ENDIAN)
    }

    def ntCode(ref: Int): Int = {
      val d = find(TagNT, ref).getOrElse(throw new IllegalArgumentException(
        s"SDD references missing number-type record ref=$ref"))
      val s = slice(d)
      require(d.len >= 4, "truncated DFTAG_NT record")
      s.get(1) & 0xff // bytes: version, type, bit width, class
    }

    // one dataset per NDG; members resolved through the group's
    // (tag, ref) pair list
    val sdsList = all.filter(_.tag == TagNDG).map { g =>
      val gb = slice(g)
      val members = (0 until (g.len / 4).toInt).map { i =>
        (gb.getShort(i * 4) & 0xffff, gb.getShort(i * 4 + 2) & 0xffff)
      }
      def member(tag: Int): Option[DD] =
        members.collectFirst { case (t, r) if (t & ~ExtendedBit) == tag =>
          find(t & ~ExtendedBit, r)
        }.flatten
      val sdd = member(TagSDD).getOrElse(throw new IllegalArgumentException(
        s"NDG ref=${g.ref} has no dimension record (DFTAG_SDD)"))
      val sb = slice(sdd)
      val rank = sb.getShort(0) & 0xffff
      // the library's own bounds (SDcreate: 1..MAX_VAR_DIMS); a rank-0
      // record would leave dims empty and crash every dims.last /
      // dims.product consumer with an UNNAMED error downstream (r15
      // review: the JPEG coder's fastest-dim gate reads dims.last)
      require(rank >= 1 && rank <= 32,
        s"SDD ref=${sdd.ref}: rank $rank out of range (1..32)")
      require(sdd.len >= 2 + 4L * rank + 4,
        s"SDD ref=${sdd.ref}: rank $rank overruns the record")
      val dims = (0 until rank).map(i => sb.getInt(2 + 4 * i))
      require(dims.forall(d => d > 0 && d <= (1 << 28)),
        s"SDD ref=${sdd.ref}: implausible dims $dims")
      // data NT (tag, ref) pair follows the dims; per-dim scale NTs after
      val ntRef = sb.getShort(2 + 4 * rank + 2) & 0xffff
      val ntype = ntCode(ntRef)
      val name = member(TagSDL).map { l =>
        val lb = slice(l)
        val raw = new Array[Byte](l.len.toInt)
        lb.get(raw)
        val end = raw.indexOf(0.toByte)
        new String(raw, 0, if (end < 0) raw.length else end, "US-ASCII")
      }.getOrElse(s"sds_${g.ref}")
      // tolerant on the walk: a fill for a non-numeric type is not
      // representable here — the refusal belongs to the read path
      val fill = member(TagFV).flatMap { f =>
        try Some(readScalar(slice(f), 0, ntype))
        catch { case _: IllegalArgumentException => None }
      }
      val cal = member(TagCAL).map { c =>
        val cb = slice(c)
        require(c.len >= 36, s"truncated DFTAG_CAL record ref=${c.ref}")
        (cb.getDouble(0), cb.getDouble(16)) // cal (scale), offset
      }
      val data = member(TagSD)
      Sds(g.ref, name, dims, ntype, fill, cal.map(_._1), cal.map(_._2), data)
    }
    HdfFile(all, sdsList, bytes, fullLen)
  }

  private def readScalar(b: ByteBuffer, at: Int, t: Int): Double = t match {
    case Int8 => b.get(at).toDouble
    case UInt8 => (b.get(at) & 0xff).toDouble
    case Int16 => b.getShort(at).toDouble
    case UInt16 => (b.getShort(at) & 0xffff).toDouble
    case Int32 => b.getInt(at).toDouble
    case UInt32 => (b.getInt(at).toLong & 0xffffffffL).toDouble
    case Float32 => b.getFloat(at).toDouble
    case Float64 => b.getDouble(at)
    case other => throw new IllegalArgumentException(s"DFNT type $other unsupported")
  }

  /** Resolves an external element's SIBLING data file to its bytes.
    * [[NoExternal]] (the byte-level default) refuses by name; the
    * distributed paths pass [[siblingResolver]]. */
  type ExtResolver = String => Array[Byte]

  /** The no-filesystem default: an external element refuses by name
    * rather than silently reading nothing. */
  val NoExternal: ExtResolver = name =>
    throw new IllegalArgumentException(
      s"external element references sibling file '$name' but no " +
        "resolver was provided — byte-level decode cannot reach other " +
        "files; use HdfGridSource (sibling-relative) or pass " +
        "an ExtResolver")

  /** Sibling-relative external-file resolver over Hadoop FS — the
    * same name discipline as [[Hdf5.resolveExternalLink]]: absolute
    * names, '.'/'..' components and ':' (URI schemes; Hadoop Path
    * cannot address colon-named relative children) refuse by name.
    * Reads the WHOLE sibling (external elements are raw uncompressed
    * SDS bytes — the r12 linked-block sibling, one bounded file per
    * tile, never an archive). */
  def siblingResolver(basePath: String): ExtResolver = { name =>
    val comps = name.split('/')
    require(!name.startsWith("/") && !name.contains(":") &&
      !comps.exists(c => c == "." || c == ".."),
      s"external element file '$name' is absolute or carries ':' or " +
        "'.'/'..' components — only sibling-relative names resolve")
    val dir = new org.apache.hadoop.fs.Path(basePath).getParent
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val fs = HadoopFs.fileSystem(p)
    require(fs.isFile(p),
      s"external element file '$name' missing (resolved to $p)")
    val st = fs.getFileStatus(p)
    require(st.getLen <= Int.MaxValue,
      s"external element file '$name' too large for one read")
    val out = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  /** [[siblingResolver]] with a per-call-site cache: K datasets of one
    * tile referencing the same external sibling pay ONE read, not K
    * (r14 review — the H5 planner's memoized-decode discipline). */
  def memoizedSiblings(basePath: String): ExtResolver = {
    val cache = scala.collection.mutable.HashMap.empty[String, Array[Byte]]
    val raw = siblingResolver(basePath)
    name => cache.getOrElseUpdate(name, raw(name))
  }

  /** Resolve an SDS's PAYLOAD bytes: plain elements slice directly;
    * SPECIAL_COMP elements decode their coder (NONE/RLE/NBIT/DEFLATE/
    * SZIP); SPECIAL_EXT elements read their sibling file through
    * `external`; every other special storage refuses with the exact
    * reason. */
  private def payload(f: HdfFile, sds: Sds,
      external: ExtResolver): Array[Byte] = {
    val d = sds.dataDD.getOrElse(throw new IllegalArgumentException(
      s"SDS '${sds.name}': no data element (DFTAG_SD)"))
    require(d.off + d.len <= f.bytes.length,
      s"SDS '${sds.name}': data element lies past the decoded bytes " +
        "(header-prefix decode cannot read pixels)")
    if ((d.tag & ExtendedBit) == 0) {
      java.util.Arrays.copyOfRange(f.bytes, d.off.toInt, (d.off + d.len).toInt)
    } else {
      val b = ByteBuffer.wrap(f.bytes, d.off.toInt, d.len.toInt)
        .slice().order(ByteOrder.BIG_ENDIAN)
      require(d.len >= 2, s"SDS '${sds.name}': truncated special header")
      val special = b.getShort(0) & 0xffff
      special match {
        case SpecialComp =>
          compPayload(f, sds.name, d, b,
            Math.multiplyExact(nElems(sds.dims, sds.name),
              widthOf(sds.ntype).toLong), sds.dims.last)
        case SpecialChunked => chunkedPayload(f, sds, d, b)
        case SpecialLinked => linkedPayload(f, sds.name, d, b)
        case SpecialExt =>
          val expect = Math.multiplyExact(nElems(sds.dims, sds.name),
            widthOf(sds.ntype).toLong)
          extPayload(sds.name, expect, d, b, external)
        case SpecialVLinked => throw new IllegalArgumentException(
          s"SDS '${sds.name}': variable-length linked-block storage " +
            "unsupported (appendable Vdata shape, not an SDS layout)")
        case other => throw new IllegalArgumentException(
          s"SDS '${sds.name}': unknown special storage code $other")
      }
    }
  }

  /** Decode one SPECIAL_EXT element (r14 — the cross-file sibling of
    * the r12 linked blocks; MODIS-era tools write SDS data into a
    * raw sibling via SDsetexternalfile): header after the 2-byte code
    * is `length(4) offset(4) name_len(4) file_name` (the public HDF4
    * hextelt.c record — 14 fixed bytes + the name, matching the
    * LINKED convention of length-first). The slice
    * `[offset, offset+length)` of the sibling is the raw payload.
    *
    * The field ORDER is additionally cross-checked against the SDS's
    * own dims×width (an external SDS element is always the raw
    * uncompressed data, so its length is fully determined): a length
    * field that disagrees refuses by name instead of slicing the
    * sibling at a swapped offset — the r13 "validate conventions
    * against independent arithmetic" discipline. */
  private def extPayload(owner: String, expectBytes: Long, d: DD,
      b: ByteBuffer, external: ExtResolver): Array[Byte] = {
    require(d.len >= 14, s"SDS '$owner': truncated EXT header")
    val length = b.getInt(2)
    val offset = b.getInt(6)
    val nameLen = b.getInt(10)
    require(nameLen >= 1 && 14L + nameLen <= d.len,
      s"SDS '$owner': EXT file-name length $nameLen overruns the " +
        s"${d.len}-byte special element")
    require(length.toLong == expectBytes && offset >= 0,
      s"SDS '$owner': EXT element declares $length bytes at offset " +
        s"$offset but the SDS dims require $expectBytes — corrupt " +
        "record or an unexpected field order; refusing to slice the " +
        "sibling file")
    val nameBytes = new Array[Byte](nameLen)
    var i = 0
    while (i < nameLen) { nameBytes(i) = b.get(14 + i); i += 1 }
    // writers pad/terminate with NULs; the name is the ASCII prefix
    val name = new String(nameBytes, "US-ASCII").takeWhile(_.toInt != 0)
    require(name.nonEmpty, s"SDS '$owner': EXT element with empty file name")
    val ext = external(name)
    require(offset.toLong + length <= ext.length,
      s"SDS '$owner': EXT slice [$offset, ${offset.toLong + length}) " +
        s"past sibling '$name' (${ext.length} bytes)")
    java.util.Arrays.copyOfRange(ext, offset, offset + length)
  }

  /** Decode one SPECIAL_LINKED element (the appendable-data layout
    * older HDF4 writers emit): header after the 2-byte code is
    * `length(4) first_len(4) blk_len(4) num_blk(4) link_ref(2)`; the
    * block TABLE is a DFTAG_LINKED element holding `next_ref(2)` (0 =
    * last table) + num_blk DATA-block refs (0 = unallocated slot);
    * data blocks are DFTAG_LINKED elements — the first carries
    * first_len bytes, the rest blk_len each, concatenated until
    * `length` bytes are assembled. */
  private def linkedPayload(f: HdfFile, owner: String, d: DD,
      b: ByteBuffer): Array[Byte] = {
    require(d.len >= 20, s"SDS '$owner': truncated LINKED header")
    val totalLen = b.getInt(2)
    val firstLen = b.getInt(6)
    val blkLen = b.getInt(10)
    val numBlk = b.getInt(14)
    var tableRef = b.getShort(18) & 0xffff
    require(totalLen > 0 && totalLen <= f.bytes.length,
      s"SDS '$owner': LINKED element length $totalLen off-shape")
    require(firstLen >= 1 && blkLen >= 1 && numBlk >= 1 && numBlk <= 65535,
      s"SDS '$owner': LINKED geometry first=$firstLen blk=$blkLen " +
        s"perTable=$numBlk off-shape")
    def linkedDD(ref: Int, what: String): DD =
      f.dds.find(x => x.tag == TagLinked && x.ref == ref)
        .getOrElse(throw new IllegalArgumentException(
          s"SDS '$owner': LINKED $what references missing " +
            s"DFTAG_LINKED ref=$ref"))
    val out = new Array[Byte](totalLen)
    var filled = 0
    var blockIdx = 0
    var tables = 0
    while (filled < totalLen) {
      require(tableRef != 0,
        s"SDS '$owner': LINKED table chain ends at $filled of " +
          s"$totalLen bytes — element truncated")
      tables += 1
      require(tables <= 65536, s"SDS '$owner': runaway LINKED table chain")
      val t = linkedDD(tableRef, "table")
      require(t.len >= 2 + 2L * numBlk &&
        t.off + t.len <= f.bytes.length,
        s"SDS '$owner': LINKED table ref=$tableRef holds ${t.len} bytes " +
          s"for $numBlk refs")
      val tb = ByteBuffer.wrap(f.bytes, t.off.toInt, t.len.toInt)
        .slice().order(ByteOrder.BIG_ENDIAN)
      tableRef = tb.getShort(0) & 0xffff
      var i = 0
      while (i < numBlk && filled < totalLen) {
        val ref = tb.getShort(2 + 2 * i) & 0xffff
        require(ref != 0,
          s"SDS '$owner': LINKED block $blockIdx unallocated with " +
            s"${totalLen - filled} bytes still missing")
        val blk = linkedDD(ref, s"block $blockIdx")
        require(blk.off + blk.len <= f.bytes.length,
          s"SDS '$owner': LINKED block ref=$ref past the decoded bytes")
        val want = math.min(
          if (blockIdx == 0) firstLen else blkLen, totalLen - filled)
        require(blk.len >= want,
          s"SDS '$owner': LINKED block $blockIdx holds ${blk.len} bytes, " +
            s"needs $want")
        System.arraycopy(f.bytes, blk.off.toInt, out, filled, want)
        filled += want
        blockIdx += 1
        i += 1
      }
    }
    out
  }

  /** Decode one SPECIAL_COMP element: header is
    * `sp_tag_desc(2) version(2) uncomp_len(4) payload_ref(2) model(2)
    * coder(2) [coder info]`; the payload lives in the
    * DFTAG_COMPRESSED element with `payload_ref`. `b` is the
    * big-endian slice of the special header; `owner` names refusals. */
  private def compPayload(f: HdfFile, owner: String, d: DD,
      b: ByteBuffer, expectBytes: Long, rowWidth: Int): Array[Byte] = {
    require(d.len >= 14, s"SDS '$owner': truncated COMP header")
    val uncompLen = b.getInt(4)
    // ALLOCATION gate (r14 whole-round review): uncomp_len sizes the
    // RLE/deflate output buffer — bound it by what the element can
    // legitimately hold (the caller's dims×width) BEFORE decoding, or
    // a corrupt length requests a multi-GB array the dims gate in
    // read() never sees
    require(uncompLen >= 0 && uncompLen <= expectBytes,
      s"SDS '$owner': COMP uncompressed length $uncompLen negative or " +
        s"past the $expectBytes bytes the element's dims declare")
    val dataRef = b.getShort(8) & 0xffff
    val coder = b.getShort(12) & 0xffff
    // refuse unsupported coders BEFORE resolving the payload —
    // the refusal must name the real reason, not a side effect
    coder match {
      case CompNone | CompRle | CompDeflate => ()
      case CompSzip => require(d.len >= 34,
        s"SDS '$owner': truncated SZIP coder info " +
          s"(${d.len}-byte header, need 34)")
      case CompNBit => require(d.len >= 34,
        s"SDS '$owner': truncated N-bit coder info " +
          s"(${d.len}-byte header, need 34)")
      case CompSkpHuff => require(d.len >= 22,
        s"SDS '$owner': truncated skipping-Huffman coder info " +
          s"(${d.len}-byte header, need 22)")
      case CompJpeg => () // the JFIF stream is self-describing; the
                          // quality/baseline coder info is write-only
      case other => throw new IllegalArgumentException(
        s"SDS '$owner': coder $other unsupported — only NONE/RLE/" +
          "NBIT/SKPHUFF/DEFLATE/SZIP/JPEG decode")
    }
    val comp = f.dds.find(x => x.tag == TagCompressed && x.ref == dataRef)
      .getOrElse(throw new IllegalArgumentException(
        s"SDS '$owner': COMP header references missing " +
          s"DFTAG_COMPRESSED ref=$dataRef"))
    require(comp.off + comp.len <= f.bytes.length,
      s"SDS '$owner': compressed payload past the decoded bytes")
    val raw = java.util.Arrays.copyOfRange(
      f.bytes, comp.off.toInt, (comp.off + comp.len).toInt)
    coder match {
      case CompNone => raw
      case CompRle => rleDecode(raw, uncompLen)
      case CompDeflate => inflate(raw, uncompLen)
      case CompNBit => nbitDecode(owner, raw, uncompLen, d, b)
      case CompSkpHuff =>
        // coder info (big-endian, after the 14-byte COMP header):
        // skp_size(4) comp_size(4) — the HDF4 skipping-Huffman record
        // (skip size = bytes per element; the second field records the
        // compressed size and is informational). Decode via the splay
        // codec, [[SkpHuff]].
        val skp = b.getInt(14)
        require(skp >= 1 && skp <= 1024,
          s"SDS '$owner': skipping-Huffman skip size $skp out of " +
            "range (1..1024 — element widths are 1-8 bytes)")
        SkpHuff.decode(owner, raw, uncompLen, skp)
      case CompJpeg => jpegDecode(owner, raw, uncompLen, rowWidth)
      case CompSzip =>
        // coder info (big-endian, HCPquery_encode_header order):
        // pixels(4) pixels_per_scanline(4) options_mask(4)
        // bits_per_pixel(4) pixels_per_block(4)
        require(d.len >= 34, s"SDS '$owner': truncated SZIP coder info")
        val pixels = b.getInt(14)
        val pps = b.getInt(18)
        val opts = b.getInt(22)
        val bpp = b.getInt(26)
        val ppb = b.getInt(30)
        val bytesPerSample = if (bpp <= 8) 1 else if (bpp <= 16) 2 else 4
        require(pixels > 0 && pixels.toLong * bytesPerSample == uncompLen,
          s"SDS '$owner': SZIP header says $pixels pixels × " +
            s"$bytesPerSample bytes but the element holds $uncompLen")
        val out = Szip.decompress(raw, opts, bpp, ppb, pps, pixels)
        require(out.length == uncompLen,
          s"SDS '$owner': SZIP decode yielded ${out.length} bytes, " +
            s"expected $uncompLen")
        out
    }
  }

  /** Decode one N-BIT coded payload (coder 2, r14 — the legacy MODIS
    * L1 packing the r13 verdict listed): coder info (big-endian,
    * after the 14-byte COMP header) is `nt(4) sign_ext(4) fill_one(4)
    * start_bit(4) bit_len(4)` — the public HDF4 spec's N-bit record,
    * SDsetnbitdataset's parameters in file order. Each element stores
    * ONLY the field bits `[start_bit .. start_bit−bit_len+1]` (bit 0
    * = the element's LSB), packed contiguously MSB-first (the Hbitio
    * bit-IO convention); decode re-expands to full-width big-endian
    * numbers: `sign_ext` propagates the field's top bit through the
    * high bits, `fill_one` sets every bit OUTSIDE the field to one.
    * Refusals by name: float types (the library's N-bit applies to
    * integer data; a bit-sliced float would be silently meaningless),
    * both flags together (their interaction on positive values is a
    * library convention with no ground-truth encoder in this
    * environment), and field geometry off the element width. */
  private def nbitDecode(owner: String, raw: Array[Byte], uncompLen: Int,
      d: DD, b: ByteBuffer): Array[Byte] = {
    val nt = b.getInt(14)
    val signExt = b.getInt(18) != 0
    val fillOne = b.getInt(22) != 0
    val startBit = b.getInt(26)
    val bitLen = b.getInt(30)
    require(nt != Float32 && nt != Float64,
      s"SDS '$owner': N-bit over DFNT float type $nt unsupported — " +
        "bit-sliced floats are not meaningful; integer types decode")
    val w = widthOf(nt)
    require(uncompLen >= 0 && uncompLen % w == 0,
      s"SDS '$owner': N-bit element length $uncompLen is not a " +
        s"multiple of the $w-byte type")
    require(!(signExt && fillOne),
      s"SDS '$owner': N-bit with BOTH sign-extension and fill-one " +
        "set is a library convention with no ground truth in this " +
        "environment — refusing rather than guessing their interaction")
    require(bitLen >= 1 && bitLen <= startBit + 1 && startBit < w * 8,
      s"SDS '$owner': N-bit field start=$startBit len=$bitLen off " +
        s"the $w-byte element")
    val n = uncompLen / w
    require(n.toLong * bitLen <= raw.length.toLong * 8,
      s"SDS '$owner': N-bit stream holds ${raw.length.toLong * 8} " +
        s"bits for $n fields of $bitLen")
    val out = new Array[Byte](uncompLen)
    val lo = startBit - bitLen + 1
    val hiBits = w * 8 - 1 - startBit
    var bitPos = 0L
    var i = 0
    while (i < n) {
      var v = 0L
      var k = 0
      while (k < bitLen) {
        val bit = bitPos + k
        v = (v << 1) | ((raw((bit >> 3).toInt) >> (7 - (bit & 7))) & 1)
        k += 1
      }
      bitPos += bitLen
      var full = v << lo
      if (signExt && ((v >> (bitLen - 1)) & 1) == 1 && hiBits > 0)
        full |= ((1L << hiBits) - 1) << (startBit + 1)
      else if (fillOne) {
        val fieldMask = ((1L << bitLen) - 1) << lo
        full |= ~fieldMask & ((1L << (w * 8)) - 1) // w <= 4: no wrap
      }
      var byteI = 0
      while (byteI < w) {
        out(i * w + byteI) = ((full >>> ((w - 1 - byteI) * 8)) & 0xff).toByte
        byteI += 1
      }
      i += 1
    }
    out
  }

  /** Decode one JPEG-coded payload (coder 7 — the legacy browse/raster
    * compression older MODIS-era products carry) via the JDK's ImageIO
    * JPEG decoder — a platform API, not an external codec: the GRIB
    * 5.41 PNG discipline ([[GribMeta]]). The library's JPEG coder
    * applies to 8-BIT data, so the contract here is single-band 8-bit
    * non-palette grayscale carrying exactly the element's bytes in
    * raster order, the image width ENFORCED equal to the element's
    * fastest-varying dim (a re-shaped image would silently reorder
    * the grid); multi-band, palette, off-count or off-width images
    * refuse by name, and the SOF dimensions gate BEFORE any pixel
    * allocation. JPEG is
    * lossy BY FORMAT — the decoded stream is exactly what the encoder
    * published, so reading is deterministic; the engine's own writer
    * twin exists for fixtures only and never for publish. */
  private def jpegDecode(owner: String, raw: Array[Byte], uncompLen: Int,
      rowWidth: Int): Array[Byte] = {
    // ImageIO raises IOException subclasses on corrupt streams; with a
    // byte-array source corrupt input is the only plausible cause, so
    // rename HERE (CodecGate deliberately passes IOException through)
    def rename(e: java.io.IOException): Nothing =
      throw new IllegalArgumentException(
        s"SDS '$owner': JPEG coder declared but the payload is not " +
          s"a decodable JPEG stream — ${e.getMessage}", e)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(raw))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext,
        s"SDS '$owner': JPEG coder declared but the payload is not a " +
          "decodable JPEG stream")
      val reader = readers.next()
      // the enumeration matches by CONTENT — a grayscale PNG/BMP that
      // happens to fit the shape gates would otherwise decode under
      // the JPEG coder silently (r15 review); gate the format by name
      require(reader.getFormatName.toLowerCase.contains("jpeg"),
        s"SDS '$owner': coder 7 payload decodes as " +
          s"${reader.getFormatName}, not JPEG — refusing a mislabeled " +
          "stream")
      try {
        reader.setInput(iis, true, true)
        // DIMENSION gates read from the SOF header BEFORE any pixel
        // decode — a crafted stream declaring 65535×65535 must refuse
        // here, never allocate its raster first (the declared-count
        // allocation discipline, r15 review)
        val (w, h) =
          try (reader.getWidth(0), reader.getHeight(0))
          catch { case e: java.io.IOException => rename(e) }
        require(w == rowWidth,
          s"SDS '$owner': JPEG width $w != the element's " +
            s"fastest-varying dim $rowWidth — a re-shaped image would " +
            "silently reorder the grid")
        require(w.toLong * h == uncompLen,
          s"SDS '$owner': JPEG carries ${w.toLong * h} pixels for the " +
            s"$uncompLen-byte element")
        val img =
          try reader.read(0)
          catch { case e: java.io.IOException => rename(e) }
        val raster = img.getRaster
        require(raster.getNumBands == 1 &&
          !img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel] &&
          img.getColorModel.getComponentSize(0) == 8 &&
          raster.getTransferType == java.awt.image.DataBuffer.TYPE_BYTE,
          s"SDS '$owner': JPEG with ${raster.getNumBands} band(s) off " +
            "the 8-bit grayscale SDS contract — color or palette JPEG " +
            "carries no defined numeric-element mapping here")
        // one bulk row-major transfer (the gray raster's native order)
        val out = new Array[Byte](uncompLen)
        raster.getDataElements(0, 0, w, h, out)
        out
      } finally reader.dispose()
    } finally iis.close()
  }

  /** ImageIO-written grayscale JPEG of `plain` (width = `width`) at
    * maximum quality — the FIXTURE-ONLY writer twin of [[jpegDecode]]
    * (JPEG is lossy; the publish paths never emit it; constant blocks
    * round-trip exactly, which is what the specs pin). */
  private def jpegEncode(plain: Array[Byte], width: Int): Array[Byte] = {
    require(plain.length % width == 0,
      s"JPEG fixture: ${plain.length} bytes not a multiple of width $width")
    val h = plain.length / width
    val img = new java.awt.image.BufferedImage(width, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, h, plain)
    val bos = new java.io.ByteArrayOutputStream(plain.length / 2 + 1024)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(1.0f)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** CHUNKED storage (special code 6) — the layout LAADS/LP DAAC MODIS
    * archives actually ship. Implemented from the public HDF
    * Specification and Developer's Guide's chunked-element section:
    *
    *   - the chunked DESCRIPTION RECORD after the special code:
    *     `head_len(4) version(1) flag(4) elm_tot_length(4)
    *     chunk_size(4) nt_size(4) chk_tbl_tag(2) chk_tbl_ref(2)
    *     sp_tag(2) sp_ref(2) ndims(4)` then per dim
    *     `{flag(4) dim_length(4) chunk_length(4)}`, then
    *     `fill_val_num_bytes(4)` + fill bytes (a comp-info block
    *     follows when flag bit 0 is set — not needed here: each
    *     compressed chunk resolves through its OWN special element);
    *   - the CHUNK TABLE, a Vdata: header DFTAG_VH (1962) gives
    *     `interlace(2) nvert(4) ivsize(2)`; records live packed in
    *     DFTAG_VS (1963) as `{origin int32 × ndims, chk_tag u16,
    *     chk_ref u16}` with origins in CHUNK units;
    *   - each chunk's data element (DFTAG_CHUNK = 61, plain or
    *     extended): plain bytes, or a SPECIAL_COMP element reusing the
    *     NONE/RLE/DEFLATE coders.
    *
    * Chunks are stored FULL-size; edge-chunk cells outside the grid
    * are discarded; chunks absent from the table read as the record's
    * fill pattern (falling back to the SDS fill value). Anything off
    * this shape — a non-VH table tag, interlace ≠ full, a record size
    * that isn't `4·ndims + 4`, dims disagreeing with the SDD — refuses
    * loudly rather than guessing. */
  private def chunkedPayload(f: HdfFile, sds: Sds, d: DD,
      b: ByteBuffer): Array[Byte] = {
    val name = sds.name
    require(d.len >= 39, s"SDS '$name': truncated CHUNKED description record")
    val ntSize = b.getInt(19)
    val tblTag = b.getShort(23) & 0xffff
    val tblRef = b.getShort(25) & 0xffff
    val ndims = b.getInt(31)
    require(tblTag == TagVH,
      s"SDS '$name': chunk table tag $tblTag is not DFTAG_VH ($TagVH)")
    require(ndims == sds.dims.size && ndims >= 1 && ndims <= 32,
      s"SDS '$name': chunked rank $ndims disagrees with SDD rank ${sds.dims.size}")
    // fixed fields through ndims = 35 bytes, then 12 per dim, then the
    // 4-byte fill length (fill bytes themselves re-checked below) —
    // demanding more refused spec-minimal records with short fills
    require(d.len >= 35 + 12L * ndims + 4,
      s"SDS '$name': CHUNKED record overruns its element")
    val w = widthOf(sds.ntype)
    require(ntSize == w,
      s"SDS '$name': chunked nt_size $ntSize disagrees with DFNT width $w")
    val dims = new Array[Int](ndims)
    val cdims = new Array[Int](ndims)
    var i = 0
    while (i < ndims) {
      dims(i) = b.getInt(35 + 12 * i + 4)
      cdims(i) = b.getInt(35 + 12 * i + 8)
      require(dims(i) == sds.dims(i),
        s"SDS '$name': chunked dim $i = ${dims(i)} disagrees with SDD ${sds.dims(i)}")
      require(cdims(i) > 0 && cdims(i) <= dims(i).max(1),
        s"SDS '$name': bad chunk length ${cdims(i)} for dim $i")
      i += 1
    }
    val fillAt = 35 + 12 * ndims
    val fillLen = b.getInt(fillAt)
    require(fillLen >= 0 && fillAt + 4 + fillLen <= d.len,
      s"SDS '$name': chunked fill value overruns the record")

    // output buffer pre-filled with the fill PATTERN (record fill when
    // it is exactly one element wide, else the SDS fill value, else 0)
    val total = nElems(sds.dims, name)
    require(total * w <= Int.MaxValue,
      s"SDS '$name' too large for one in-memory read")
    val out = new Array[Byte]((total * w).toInt)
    val fillBytes: Option[Array[Byte]] =
      if (fillLen == w) {
        val fb = new Array[Byte](w)
        var k = 0
        while (k < w) { fb(k) = b.get(fillAt + 4 + k); k += 1 }
        Some(fb)
      } else sds.fill.map { fv =>
        val fb = ByteBuffer.allocate(w).order(ByteOrder.BIG_ENDIAN)
        sds.ntype match {
          case Int8 | UInt8 => fb.put(fv.toByte)
          case Int16 | UInt16 => fb.putShort(fv.toInt.toShort)
          case Int32 | UInt32 => fb.putInt(fv.toLong.toInt)
          case Float32 => fb.putFloat(fv.toFloat)
          case Float64 => fb.putDouble(fv)
        }
        fb.array()
      }
    fillBytes.foreach { fb =>
      var o = 0
      while (o < out.length) { System.arraycopy(fb, 0, out, o, w); o += w }
    }

    // chunk table: VH for the record shape, VS for the packed records
    def findDD(tag: Int, ref: Int): DD = f.dds
      .find(x => (x.tag == tag || x.tag == (tag | ExtendedBit)) && x.ref == ref)
      .getOrElse(throw new IllegalArgumentException(
        s"SDS '$name': chunk table element tag=$tag ref=$ref missing"))
    val vh = findDD(TagVH, tblRef)
    require(vh.off + vh.len <= f.bytes.length && vh.len >= 8,
      s"SDS '$name': chunk-table header past the decoded bytes")
    val vhb = ByteBuffer.wrap(f.bytes, vh.off.toInt, vh.len.toInt)
      .slice().order(ByteOrder.BIG_ENDIAN)
    val interlace = vhb.getShort(0) & 0xffff
    val nvert = vhb.getInt(2)
    val ivsize = vhb.getShort(6) & 0xffff
    require(interlace == 0,
      s"SDS '$name': chunk table interlace $interlace unsupported (full only)")
    val expectIv = 4 * ndims + 4
    require(ivsize == expectIv,
      s"SDS '$name': chunk-table record size $ivsize != expected $expectIv " +
        "(origin[ndims] + chk_tag + chk_ref) — refusing to guess the layout")
    require(nvert >= 0 && nvert <= (1 << 24),
      s"SDS '$name': implausible chunk count $nvert")
    val vs = findDD(TagVS, tblRef)
    require(vs.off + vs.len <= f.bytes.length,
      s"SDS '$name': chunk-table records past the decoded bytes")
    require(vs.len >= nvert.toLong * ivsize,
      s"SDS '$name': chunk table declares $nvert records but holds ${vs.len} bytes")
    val vsb = ByteBuffer.wrap(f.bytes, vs.off.toInt, vs.len.toInt)
      .slice().order(ByteOrder.BIG_ENDIAN)

    // row-major strides over the full grid
    val strides = new Array[Long](ndims)
    var s = 1L
    var dm = ndims - 1
    while (dm >= 0) { strides(dm) = s; s *= dims(dm); dm -= 1 }
    val chunkElems = cdims.product

    var r = 0
    while (r < nvert) {
      val base = r * ivsize
      val origin = new Array[Long](ndims)
      var j = 0
      while (j < ndims) {
        origin(j) = vsb.getInt(base + 4 * j).toLong
        require(origin(j) >= 0 && origin(j) * cdims(j) < dims(j),
          s"SDS '$name': chunk $r origin ${origin(j)} out of range for dim $j")
        j += 1
      }
      val cTag = vsb.getShort(base + 4 * ndims) & 0xffff
      val cRef = vsb.getShort(base + 4 * ndims + 2) & 0xffff
      val cdd = findDD(cTag & ~ExtendedBit, cRef)
      require(cdd.off + cdd.len <= f.bytes.length,
        s"SDS '$name': chunk $r data past the decoded bytes")
      val raw: Array[Byte] =
        if ((cdd.tag & ExtendedBit) == 0)
          java.util.Arrays.copyOfRange(f.bytes, cdd.off.toInt,
            (cdd.off + cdd.len).toInt)
        else {
          val cb = ByteBuffer.wrap(f.bytes, cdd.off.toInt, cdd.len.toInt)
            .slice().order(ByteOrder.BIG_ENDIAN)
          require(cdd.len >= 2, s"SDS '$name': truncated chunk special header")
          val code = cb.getShort(0) & 0xffff
          require(code == SpecialComp,
            s"SDS '$name': chunk $r special code $code unsupported " +
              "(only COMP chunks decode; nested chunking refused)")
          compPayload(f, s"$name[chunk $r]", cdd, cb,
            chunkElems.toLong * w, cdims.last)
        }
      require(raw.length >= chunkElems.toLong * w,
        s"SDS '$name': chunk $r has ${raw.length} bytes < " +
          s"$chunkElems × $w expected (chunks are stored full-size)")
      // scatter with edge clipping
      var k = 0
      while (k < chunkElems) {
        var rem = k
        var gidx = 0L
        var ok = true
        var dd2 = ndims - 1
        while (dd2 >= 0) {
          val loc = rem % cdims(dd2); rem /= cdims(dd2)
          val g = origin(dd2) * cdims(dd2) + loc
          if (g >= dims(dd2)) ok = false
          gidx += g * strides(dd2)
          dd2 -= 1
        }
        if (ok) System.arraycopy(raw, k * w, out, (gidx * w).toInt, w)
        k += 1
      }
      r += 1
    }
    out
  }

  /** HDF byte-run RLE: control < 0x80 → (control+1) literal bytes
    * follow; control ≥ 0x80 → next byte repeats (control&0x7f)+3
    * times. */
  private[graft] def rleDecode(in: Array[Byte], outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var i = 0
    var o = 0
    while (o < outLen) {
      require(i < in.length, s"RLE stream exhausted at $o/$outLen output bytes")
      val c = in(i) & 0xff
      i += 1
      if (c < 0x80) {
        val n = c + 1
        require(i + n <= in.length && o + n <= outLen,
          s"RLE literal run overruns (at $o/$outLen)")
        System.arraycopy(in, i, out, o, n)
        i += n; o += n
      } else {
        val n = (c & 0x7f) + 3
        require(i < in.length && o + n <= outLen,
          s"RLE repeat run overruns (at $o/$outLen)")
        java.util.Arrays.fill(out, o, o + n, in(i))
        i += 1; o += n
      }
    }
    out
  }

  private[graft] def rleEncode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(in.length / 2 + 16)
    var i = 0
    while (i < in.length) {
      // measure the run at i
      var run = 1
      while (i + run < in.length && in(i + run) == in(i) && run < 130) run += 1
      if (run >= 3) {
        out.write(0x80 | (run - 3))
        out.write(in(i))
        i += run
      } else {
        // literal stretch: until the next >=3 run or 128 bytes
        var lit = 1
        var j = i + 1
        var done = false
        while (!done && j < in.length && lit < 128) {
          var r = 1
          while (j + r < in.length && in(j + r) == in(j) && r < 3) r += 1
          if (r >= 3) done = true else { lit += 1; j += 1 }
        }
        out.write(lit - 1)
        out.write(in, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  private def inflate(in: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(in)
    val out = new Array[Byte](outLen)
    var o = 0
    while (o < outLen && !inf.finished()) {
      val n = inf.inflate(out, o, outLen - o)
      // n == 0 with neither needsInput nor needsDictionary set never
      // progresses; a preset-dictionary stream must fail loudly
      require(n > 0 || !(inf.needsInput() || inf.needsDictionary()),
        s"deflate stream exhausted at $o/$outLen output bytes" +
          (if (inf.needsDictionary()) " (preset dictionary unsupported)"
           else ""))
      o += n
    }
    inf.end()
    require(o == outLen, s"deflate stream yielded $o of $outLen bytes")
    out
  }

  /** Raw SDS values, row-major, widened to double (no fill masking —
    * [[gridCells]] applies it; matches [[NetCdf]]'s split). */
  def read(f: HdfFile, name: String,
      external: ExtResolver = NoExternal): Array[Double] =
      CodecGate.gated("HDF4") {
    val s = f.sdsNamed(name)
    val w = widthOf(s.ntype)
    val n = nElems(s.dims, name)
    // ALLOCATION gate first (r14 fuzz battery): dims are DECLARED
    // fields — refuse negative or implausibly large products before
    // payload() sizes decompression buffers off them (2^27 elements
    // is ~10× the largest MODIS tile)
    require(s.dims.forall(_ >= 0) && n >= 0 && n <= (1L << 27),
      s"SDS '$name': declared dims ${s.dims.mkString("x")} negative " +
        "or past the 2^27-element single-read sanity cap")
    require(n <= Int.MaxValue / 8, s"SDS '$name' too large for one in-memory read")
    val p = payload(f, s, external)
    require(p.length >= n * w,
      s"SDS '$name': payload ${p.length} bytes < ${n * w} declared by dims")
    val b = ByteBuffer.wrap(p).order(ByteOrder.BIG_ENDIAN)
    Array.tabulate(n.toInt)(i => readScalar(b, i * w, s.ntype))
  }

  final case class GridCell(x: Int, y: Int, value: Double)

  /** Rank-2 (y, x) SDS as cells; fill values surface as NaN. */
  def gridCells(f: HdfFile, name: String,
      external: ExtResolver = NoExternal): Iterator[GridCell] = {
    val s = f.sdsNamed(name)
    require(s.dims.size == 2,
      s"SDS '$name' has rank ${s.dims.size}; the grid path reads rank-2 " +
        "(y, x) datasets")
    val Seq(ny, nx) = s.dims
    val vs = read(f, name, external)
    val fill = s.fill
    Iterator.range(0, ny * nx).map { i =>
      val v = vs(i)
      GridCell(i % nx, i / nx,
        if (fill.exists(_ == v)) Double.NaN else v)
    }
  }

  // -- encode -----------------------------------------------------------

  /** One SDS to write: `values` row-major doubles narrowed to
    * `ntype`; `comp` ∈ none | rle | deflate. */
  final case class SdsSpec(name: String, dims: Seq[Int], ntype: Int,
      values: Array[Double], fill: Option[Double] = None,
      calScale: Option[Double] = None, calOffset: Option[Double] = None,
      comp: String = "none", chunkDims: Option[Seq[Int]] = None)

  /** Write a single-DD-block HDF4 file holding `specs` as NDG
    * datasets — the publish/fixture twin of [[decode]] (what lands
    * the i65 mosaic cycle inside the hash gate). */
  def encode(specs: Seq[SdsSpec]): Array[Byte] = {
    require(specs.nonEmpty, "nothing to encode")
    final case class El(tag: Int, ref: Int, bytes: Array[Byte])
    val els = Seq.newBuilder[El]
    var nextRef = 1
    def ref(): Int = { val r = nextRef; nextRef += 1; r }

    specs.foreach { s =>
      val n = s.dims.map(_.toLong).product
      require(s.values.length == n,
        s"SDS '${s.name}': ${s.values.length} values for dims ${s.dims}")
      require(n <= (1L << 27), s"SDS '${s.name}': $n elements past " +
        "the 2^27 cap the reader enforces (r14)")
      val w = widthOf(s.ntype)
      val r = ref()

      def putVal(b: ByteBuffer, v: Double): Unit = s.ntype match {
        case Int8 => b.put(v.toByte)
        case UInt8 => b.put((v.toLong & 0xff).toByte)
        case Int16 => b.putShort(v.toShort)
        case UInt16 => b.putShort((v.toLong & 0xffff).toShort)
        case Int32 => b.putInt(v.toInt)
        case UInt32 => b.putInt((v.toLong & 0xffffffffL).toInt)
        case Float32 => b.putFloat(v.toFloat)
        case Float64 => b.putDouble(v)
      }

      // NT record: version 1, type, bit width, class 0
      els += El(TagNT, r, Array(1, s.ntype, w * 8, 0).map(_.toByte))
      // SDD: rank, dims, data NT pair, per-dim scale NT pairs (same NT)
      val rank = s.dims.size
      val sdd = ByteBuffer.allocate(2 + 4 * rank + 4 + 4 * rank)
        .order(ByteOrder.BIG_ENDIAN)
      sdd.putShort(rank.toShort)
      s.dims.foreach(sdd.putInt)
      (0 to rank).foreach { _ =>
        sdd.putShort(TagNT.toShort); sdd.putShort(r.toShort)
      }
      els += El(TagSDD, r, sdd.array())
      // SDL: dataset label (the subdataset name), null-terminated
      els += El(TagSDL, r, s.name.getBytes("US-ASCII") :+ 0.toByte)
      s.fill.foreach { fv =>
        val b = ByteBuffer.allocate(w).order(ByteOrder.BIG_ENDIAN)
        putVal(b, fv)
        els += El(TagFV, r, b.array())
      }
      if (s.calScale.isDefined || s.calOffset.isDefined) {
        val b = ByteBuffer.allocate(36).order(ByteOrder.BIG_ENDIAN)
        b.putDouble(s.calScale.getOrElse(1.0)).putDouble(0.0)
        b.putDouble(s.calOffset.getOrElse(0.0)).putDouble(0.0)
        b.putInt(Float64)
        els += El(TagCAL, r, b.array())
      }
      // data payload
      val raw = ByteBuffer.allocate((n * w).toInt).order(ByteOrder.BIG_ENDIAN)
      s.values.foreach(putVal(raw, _))
      def packOne(plain: Array[Byte]): Array[Byte] = s.comp match {
        case "rle" => rleEncode(plain)
        case "skphuff" => SkpHuff.encode(plain, widthOf(s.ntype))
        case "jpeg" => jpegEncode(plain, s.dims.last)
        case _ => Deflate(plain)
      }
      def compHeader(uncompLen: Int, payloadRef: Int,
          compLen: Int): Array[Byte] = {
        val coder = s.comp match {
          case "rle" => CompRle
          case "skphuff" => CompSkpHuff
          case "jpeg" => CompJpeg
          case _ => CompDeflate
        }
        val hdr = ByteBuffer
          .allocate(if (coder == CompSkpHuff || coder == CompJpeg) 22
            else 16)
          .order(ByteOrder.BIG_ENDIAN)
        hdr.putShort(SpecialComp.toShort)
        hdr.putShort(0) // header version
        hdr.putInt(uncompLen)
        hdr.putShort(payloadRef.toShort) // DFTAG_COMPRESSED payload ref
        hdr.putShort(0) // model: stdio
        hdr.putShort(coder.toShort)
        coder match {
          case CompSkpHuff =>
            // skip size = element width (the library's own
            // SDsetcompress usage) + the informational compressed size
            hdr.putInt(widthOf(s.ntype))
            hdr.putInt(compLen)
          case CompJpeg =>
            hdr.putInt(100).putInt(1) // quality, force_baseline
          case _ => hdr.putShort(0) // coder info (deflate level slot)
        }
        hdr.array()
      }
      require(Set("none", "rle", "deflate", "skphuff", "jpeg")(s.comp),
        s"SDS '${s.name}': unknown comp '${s.comp}' " +
          "(none|rle|deflate|skphuff|jpeg)")
      if (s.comp == "jpeg") {
        // the JPEG coder's contract is 8-bit grayscale, and JPEG is
        // LOSSY — fixture writing only, contiguous only (a per-chunk
        // JPEG would need per-chunk image geometry)
        require(widthOf(s.ntype) == 1,
          s"SDS '${s.name}': JPEG comp applies to 1-byte types")
        require(s.chunkDims.isEmpty,
          s"SDS '${s.name}': JPEG comp is contiguous-only here")
      }
      val dataMembers: Seq[(Int, Int)] = s.chunkDims match {
        case Some(cd) =>
          // CHUNKED storage: full-size chunk elements (plain or COMP
          // per `comp`), the chunk-table Vdata (VH + packed VS rows of
          // {origin in chunk units, chk_tag, chk_ref}), and the
          // chunked description record — the same shape
          // [[chunkedPayload]] decodes
          require(cd.size == s.dims.size && cd.forall(_ > 0),
            s"SDS '${s.name}': chunk dims $cd must match rank ${s.dims.size}")
          // validate at WRITE time what the reader refuses at read time
          cd.zip(s.dims).foreach { case (c0, d0) =>
            require(c0 <= d0,
              s"SDS '${s.name}': chunk dims $cd exceed dims ${s.dims}")
          }
          val rank2 = cd.size
          val counts = s.dims.zip(cd).map { case (d0, c0) =>
            (d0 + c0 - 1) / c0
          }
          val chunkElems = cd.product
          val fillByteBuf = ByteBuffer.allocate(w).order(ByteOrder.BIG_ENDIAN)
          putVal(fillByteBuf, s.fill.getOrElse(0.0))
          val fillB = fillByteBuf.array()
          val strides = new Array[Long](rank2)
          var st = 1L
          (rank2 - 1 to 0 by -1).foreach { i2 =>
            strides(i2) = st; st *= s.dims(i2)
          }
          // every chunk coordinate, row-major over the chunk grid
          val coords = counts.foldLeft(Seq(Seq.empty[Int])) { (acc, c0) =>
            acc.flatMap(p => (0 until c0).map(p :+ _))
          }
          val table = coords.map { origin =>
            val chunk = new Array[Byte](chunkElems * w)
            var k = 0
            while (k < chunkElems) {
              var rem = k
              var gidx = 0L
              var ok = true
              var dd2 = rank2 - 1
              while (dd2 >= 0) {
                val loc = rem % cd(dd2); rem /= cd(dd2)
                val g = origin(dd2).toLong * cd(dd2) + loc
                if (g >= s.dims(dd2)) ok = false
                gidx += g * strides(dd2)
                dd2 -= 1
              }
              if (ok) raw.position((gidx * w).toInt)
              if (ok) raw.get(chunk, k * w, w)
              else System.arraycopy(fillB, 0, chunk, k * w, w)
              k += 1
            }
            raw.position(0)
            val cref = ref()
            if (s.comp == "none") {
              els += El(TagChunk, cref, chunk)
            } else {
              val packed = packOne(chunk)
              val pref = ref()
              els += El(TagCompressed, pref, packed)
              els += El(TagChunk | ExtendedBit, cref,
                compHeader(chunk.length, pref, packed.length))
            }
            (origin, cref)
          }
          // chunk-table Vdata: VH header + packed VS records
          val tblRef = ref()
          val ivsize = 4 * rank2 + 4
          val fields = Seq(("origin", Int32, 4 * rank2, 0, rank2),
            ("chk_tag", UInt16, 2, 4 * rank2, 1),
            ("chk_ref", UInt16, 2, 4 * rank2 + 2, 1))
          val nameB = s"_HDF_CHK_TBL_${s.name}".getBytes("US-ASCII")
          val classB = "_HDF_CHK_TBL_CLASS".getBytes("US-ASCII")
          val vhLen = 2 + 4 + 2 + 2 + fields.size * 8 +
            fields.map(2 + _._1.length).sum + 2 + nameB.length +
            2 + classB.length + 8
          val vh = ByteBuffer.allocate(vhLen).order(ByteOrder.BIG_ENDIAN)
          vh.putShort(0) // FULL_INTERLACE
          vh.putInt(table.size) // nvert
          vh.putShort(ivsize.toShort)
          vh.putShort(fields.size.toShort)
          fields.foreach(f2 => vh.putShort(f2._2.toShort)) // DFNT types
          fields.foreach(f2 => vh.putShort(f2._3.toShort)) // isize
          fields.foreach(f2 => vh.putShort(f2._4.toShort)) // offset
          fields.foreach(f2 => vh.putShort(f2._5.toShort)) // order
          fields.foreach { f2 =>
            vh.putShort(f2._1.length.toShort)
            vh.put(f2._1.getBytes("US-ASCII"))
          }
          vh.putShort(nameB.length.toShort); vh.put(nameB)
          vh.putShort(classB.length.toShort); vh.put(classB)
          vh.putShort(0).putShort(0) // extag, exref
          vh.putShort(3).putShort(0) // version, more
          els += El(TagVH, tblRef, vh.array())
          val vs = ByteBuffer.allocate(table.size * ivsize)
            .order(ByteOrder.BIG_ENDIAN)
          table.foreach { case (origin, cref) =>
            origin.foreach(vs.putInt)
            vs.putShort(TagChunk.toShort).putShort(cref.toShort)
          }
          els += El(TagVS, tblRef, vs.array())
          // chunked description record
          val hdrLen = 39 + 12 * rank2 + w
          val hdr = ByteBuffer.allocate(hdrLen).order(ByteOrder.BIG_ENDIAN)
          hdr.putShort(SpecialChunked.toShort)
          hdr.putInt(hdrLen - 6) // head length after this field
          hdr.put(1.toByte) // version
          hdr.putInt(if (s.comp == "none") 0 else 1) // flag bit0 = COMP chunks
          hdr.putInt(raw.array().length) // elm_tot_length
          hdr.putInt(chunkElems * w) // chunk_size (physical bytes)
          hdr.putInt(w) // nt_size
          hdr.putShort(TagVH.toShort).putShort(tblRef.toShort)
          hdr.putShort(TagNull.toShort).putShort(0) // sp_tag/sp_ref unused
          hdr.putInt(rank2)
          s.dims.zip(cd).foreach { case (d0, c0) =>
            hdr.putInt(0).putInt(d0).putInt(c0)
          }
          hdr.putInt(w)
          hdr.put(fillB)
          els += El(TagSD | ExtendedBit, r, hdr.array())
          Seq((TagSD | ExtendedBit, r))
        case None => s.comp match {
          case "none" =>
            els += El(TagSD, r, raw.array())
            Seq((TagSD, r))
          case _ =>
            val packed = packOne(raw.array())
            val compRef = ref()
            els += El(TagCompressed, compRef, packed)
            els += El(TagSD | ExtendedBit, r,
              compHeader(raw.array().length, compRef, packed.length))
            Seq((TagSD | ExtendedBit, r))
        }
      }
      // NDG group: (tag, ref) pairs of every member record
      val memberPairs = Seq((TagNT, r), (TagSDD, r), (TagSDL, r)) ++
        s.fill.map(_ => (TagFV, r)).toSeq ++
        (if (s.calScale.isDefined || s.calOffset.isDefined) Seq((TagCAL, r))
         else Nil) ++ dataMembers
      val g = ByteBuffer.allocate(memberPairs.size * 4).order(ByteOrder.BIG_ENDIAN)
      memberPairs.foreach { case (t, rr) =>
        g.putShort(t.toShort); g.putShort(rr.toShort)
      }
      els += El(TagNDG, r, g.array())
    }

    val elements = els.result()
    val headerLen = 4 + 6 + 12 * elements.size
    var off = headerLen
    val offsets = elements.map { e => val o = off; off += e.bytes.length; o }
    val total = off
    require(total <= Int.MaxValue, "encoded HDF too large for this in-memory writer")
    val out = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    out.putInt(Magic)
    out.putShort(elements.size.toShort)
    out.putInt(0) // single DD block
    elements.zip(offsets).foreach { case (e, o) =>
      out.putShort(e.tag.toShort).putShort(e.ref.toShort)
      out.putInt(o).putInt(e.bytes.length)
    }
    elements.foreach(e => out.put(e.bytes))
    out.array()
  }
}

package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLEAN-ROOM HDF5 reader — the CONTIGUOUS-UNCOMPRESSED subset that
  * closes the NetCDF-4 boundary the [[NetCdf]] codec refuses loudly
  * (a NetCDF-4 file IS an HDF5 file; the reference's xarray stack
  * falls back to the h5netcdf/HDF5 engine for them). Implemented
  * directly from the public "HDF5 File Format Specification
  * Version 3.0" (The HDF Group) — no libhdf5, no JNI:
  *
  *   - superblock versions 0/1 (symbol-table root group) AND 2/3
  *     (root object header address), found at offset 0 or any
  *     power-of-two user-block offset per the spec;
  *   - object headers VERSION 1 (8-byte-aligned messages, count-driven,
  *     plain continuation blocks) and VERSION 2 (`OHDR` signature,
  *     flag-dependent prefix fields, `OCHK` continuation blocks);
  *   - v1 group traversal: `TREE` B-tree (node type 0) → `SNOD`
  *     symbol nodes → local `HEAP` link names; v2 group traversal:
  *     compact Link messages (hard links);
  *   - messages: Dataspace (v1/v2), Datatype (fixed-point + IEEE
  *     float, either endianness; strings for attributes), Fill Value
  *     (v1/v2/v3), Data Layout v3 COMPACT and CONTIGUOUS, Attribute
  *     (v1/v2/v3 — the netCDF `_FillValue`/`scale_factor`/
  *     `add_offset`/`units` carriers), Link, Link Info, Symbol Table,
  *     Continuation, NIL;
  *   - data read: contiguous (positioned slice), compact (inline), or
  *     CHUNKED v3 — type-1 B-tree chunk index (any level), filter
  *     pipeline v1/v2 with deflate (1), shuffle (2) and fletcher32 (3,
  *     checksum verified) undone in reverse per-chunk honoring the
  *     skip mask, full-size edge chunks clipped, unallocated chunks
  *     reading as fill — the netCDF-4 compressed-variable default
  *     (`nc_def_var_deflate` emits exactly chunked+shuffle+deflate);
  *     or CHUNKED v4 (the 1.10+ "new format", r11) with the
  *     SINGLE-CHUNK, IMPLICIT and FIXED-ARRAY (FAHD/FADB, non-paged)
  *     chunk indexes — the fixed-shape-dataset defaults of
  *     `libver=latest` writers — sharing the same filter pipeline and
  *     assembly; widened to double; [[gridCells]] applies netCDF CF
  *     semantics — `_FillValue` (attribute, else the HDF5 fill-value
  *     message) masks to NaN, `scale_factor`/`add_offset` apply —
  *     matching the [[NetCdf]] grid path bit for bit.
  *
  * Refused LOUDLY (codec-gate discipline — this reader never guesses):
  * AMBIGUOUS paged-bitmap bytes and EA index-block-addressed paged
  * blocks (paged fixed/extensible arrays otherwise DECODE as of r13;
  * all five v4 chunk index TYPES decode as of r12, v2 B-trees to any
  * depth ≤ 8 as of r13), filters
  * beyond deflate/shuffle/fletcher32/szip (n-bit, scale-offset,
  * registered LZF/blosc/zstd), layout message versions before 3,
  * non-IEEE float layouts, shared messages, custom link classes, and
  * metadata offset/length sizes other than 8. SOFT links RESOLVE to
  * dataset aliases as of r12, and GROUP targets alias their subtree's
  * concrete datasets as of r13 (cycles and dot components refuse);
  * EXTERNAL links (type 64, the HDF-EOS5 /
  * multi-granule netCDF-4 stitch, r13) surface as
  * [[Hdf5File.externalLinks]] metadata and resolve through
  * [[resolveExternalLink]] at the layer that owns file IO — absolute
  * or dot-component file names, missing files/datasets, group targets
  * and cyclic chains refuse by name. DENSE (fractal-heap)
  * link storage DECODES (r11) — the new-format group shape netCDF-4
  * forces past 8 links: v2 name-index B-trees (any depth ≤ 8 as of
  * r13) over
  * managed heap IDs, direct or one-level-indirect heap roots (see
  * [[denseLinks]]); filtered heaps, nested indirection
  * and huge/tiny IDs refuse by name.
  *
  * Scale shape: [[scan]] runs task-side over binaryFile and
  * [[H5GridSource]] decodes grids inside its scan tasks — the driver
  * never touches payload bytes (the [[Hdf]]/[[NetCdf]]/[[GeoTiff]]
  * discipline). */
object Hdf5 {

  private val Signature = Array[Byte](0x89.toByte, 'H', 'D', 'F',
    '\r', '\n', 0x1a, '\n')
  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF: the spec's undefined address

  final case class Dtype(clazz: Int, size: Int, littleEndian: Boolean,
      signed: Boolean,
      // a datatype the DATA path cannot decode carries its refusal
      // reason here instead of throwing during the metadata walk — a
      // netCDF-4 file with one COMPOUND coordinate-bounds table must
      // still inventory, plan, and serve its regular grids (r14; the
      // r13 max-dims discipline: refusals live on the read, never the
      // shared walk)
      unsupported: Option[String] = None) {
    def name: String = clazz match {
      case 0 => s"${if (signed) "int" else "uint"}${size * 8}"
      case 1 => s"float${size * 8}"
      case 3 => s"string$size"
      case c => s"class$c-$size"
    }
  }

  /** One filter-pipeline entry: `id` per the spec registry (1 deflate,
    * 2 shuffle, 3 fletcher32), `flags` bit 0 = optional, `client` the
    * 4-byte client-data values (deflate level, shuffle element size). */
  final case class Filter(id: Int, flags: Int, client: Seq[Int])

  /** One raw-data chunk from the type-1 B-tree: element `offsets` per
    * dimension (incl. the trailing 0 of the element-size dim), stored
    * `size` in bytes, the per-chunk `filterMask` (bit i set = pipeline
    * filter i was SKIPPED for this chunk), absolute file `addr`. */
  final case class ChunkRef(offsets: Seq[Long], size: Long,
      filterMask: Int, addr: Long)

  /** Chunked-layout storage resolved at decode time: `chunkDims` in
    * elements (rank entries, element-size dim dropped), the filter
    * pipeline in application order, and every allocated chunk. */
  final case class Chunked(chunkDims: Seq[Int], filters: Seq[Filter],
      chunks: Seq[ChunkRef], deferred: Boolean = false)

  /** One HDF5 dataset: absolute `path` ("/group/var"), row-major
    * `dims`, contiguous data at `dataOff` (or `compact` payload, or
    * `chunked` storage), `fillMsg` from the fill-value header message,
    * and the object's scalar attributes (Double or String values). */
  final case class Dataset(path: String, dims: Seq[Long], dtype: Dtype,
      dataOff: Long, dataLen: Long, compact: Option[Array[Byte]],
      fillMsg: Option[Double], attrs: Map[String, Any],
      chunked: Option[Chunked] = None,
      // soft-link alias of this dataset path, if any: by-name reads
      // resolve it, whole-file enumerations (DSv2 planning, scan)
      // skip aliases so a linked dataset is never read twice
      aliasOf: Option[String] = None) {
    // overflow-proof: corrupt dims whose product WRAPS must surface
    // as a (gate-renamed) refusal, not a small wrong count (r14)
    def n: Long =
      if (dims.isEmpty) 1L
      else dims.foldLeft(1L)((a, b) => Math.multiplyExact(a, b))
    def numAttr(name: String): Option[Double] = attrs.get(name).collect {
      case d: Double => d
    }
    /** netCDF convention: the `_FillValue` attribute wins; the HDF5
      * fill-value message is the fallback. */
    def fill: Option[Double] = numAttr("_FillValue").orElse(fillMsg)
  }

  /** An EXTERNAL link (Link message type 64) — `path` names the link
    * inside ITS OWN file; `file` is the target file name (relative,
    * the HDF-EOS5 / multi-granule stitch shape) and `target` the
    * object path inside it. A single-buffer decode cannot follow it;
    * [[resolveExternalLink]] does, at the layer that owns file IO. */
  final case class ExternalLink(path: String, file: String, target: String)

  final case class Hdf5File(superVersion: Int, datasets: Seq[Dataset],
      groups: Seq[String], externalLinks: Seq[ExternalLink] = Nil) {
    def datasetAt(path: String): Dataset =
      datasets.find(_.path == path).getOrElse(
        throw new IllegalArgumentException(s"no dataset '$path' — file has: " +
          datasets.map(_.path).mkString(", ")))
  }

  // ---- low-level helpers ------------------------------------------------

  private final class Reader(val bytes: Array[Byte]) {
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u8(o: Long): Int = bytes(o.toInt) & 0xff
    def u16(o: Long): Int = bb.getShort(o.toInt) & 0xffff
    def u32(o: Long): Long = bb.getInt(o.toInt).toLong & 0xffffffffL
    def i64(o: Long): Long = bb.getLong(o.toInt)
    /** Little-endian variable-width unsigned integer (heap IDs,
      * B-tree child counts — the spec's minimum-bytes fields). */
    def leVar(o: Long, n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) { v |= (u8(o + k).toLong & 0xff) << (8 * k); k += 1 }
      v
    }
    def ascii(o: Long, n: Int): String = new String(bytes, o.toInt, n, "US-ASCII")
    def cstr(o: Long): String = {
      var e = o.toInt
      while (e < bytes.length && bytes(e) != 0) e += 1
      new String(bytes, o.toInt, e - o.toInt, "US-ASCII")
    }
    def sig4(o: Long): String = ascii(o, 4)
    def in(o: Long, need: Long): Unit =
      require(o >= 0 && o + need <= bytes.length,
        s"HDF5 structure at $o (+$need) overruns the ${bytes.length}-byte file")
  }

  private final case class Msg(typ: Int, bodyOff: Long, size: Int)

  // ---- decode -----------------------------------------------------------

  /** Parse the file's full metadata tree (superblock → groups →
    * datasets + attributes). Data payloads are located, not copied. */
  def decode(bytes: Array[Byte]): Hdf5File = decode(bytes, metaOnly = false)

  /** Resolve an EXTERNAL link of the file at `basePath` to the
    * (target file path, target dataset path) holding its data —
    * following chained external links up to 4 hops with cycle
    * detection. `decodeFile` supplies the per-target decode so the
    * CALLER chooses the read discipline (a DSv2 planner passes a
    * bounded-prefix metaOnly decode; tasks pass a full one).
    *
    * Refusals, all by name (the library's silent search-path fallback
    * would be a sandbox escape here): absolute target file names or
    * '.'/'..' components (targets resolve ONLY as siblings relative
    * to the linking file's directory — the HDF-EOS5 granule-stitch
    * shape), a missing target file, a missing target dataset, a GROUP
    * target, and a chain that is still a link after 4 hops. The
    * returned dataset path may itself be a soft-link ALIAS inside the
    * target file — those resolve in the target's own decode. */
  def resolveExternalLink(basePath: String, link: ExternalLink,
      decodeFile: String => Hdf5File): (String, String) = {
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    // Hadoop Path string surgery (no IO): handles both plain and
    // URI-form (file:/, hdfs://) paths the DSv2 listings carry
    var curDir = new org.apache.hadoop.fs.Path(basePath).getParent
    var cur = link
    var hops = 0
    while (hops <= 4) {
      val comps = cur.file.split('/')
      require(!cur.file.startsWith("/") &&
        !comps.exists(c => c == "." || c == ".."),
        s"external link '${link.path}': target file '${cur.file}' is " +
          "absolute or carries '.'/'..' components — only " +
          "sibling-relative targets resolve")
      // a URI-scheme PREFIX (RFC 3986 `scheme:` — letter then
      // letters/digits/+/./-) is refused by name: a link must never
      // re-route the read onto another transport. A bare colon
      // ELSEWHERE in the name is legitimate — ISO-timestamp granule
      // names (`...T00:00:00.h5`, the HDF-EOS5 stitch shape) carry
      // them — so the target resolves via absolute-STRING
      // concatenation: Hadoop's child-Path constructor parses a
      // relative child whose first segment holds a colon as a URI
      // scheme, but in an absolute string the leading '/' precedes
      // every colon so no segment can read as one (r14 advice: the
      // old any-colon refusal also refused timestamp-named siblings)
      require(!cur.file.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*"),
        s"external link '${link.path}': target file '${cur.file}' " +
          "carries a URI scheme prefix — targets resolve only as " +
          "sibling-relative file names")
      val tFile = new org.apache.hadoop.fs.Path(
        s"${curDir.toString.stripSuffix("/")}/${cur.file}")
      val fs = HadoopFs.fileSystem(tFile)
      require(fs.isFile(tFile),
        s"external link '${link.path}': target file '${cur.file}' " +
          s"missing (resolved to $tFile)")
      val tPath = "/" + cur.target.split('/').filter(_.nonEmpty)
        .map { c =>
          require(c != "." && c != "..",
            s"external link '${link.path}': relative components in " +
              s"object path '${cur.target}' unsupported")
          c
        }.mkString("/")
      require(seen.add((tFile.toString, tPath)),
        s"external link '${link.path}': target chain revisits " +
          s"$tFile:$tPath — cycle")
      val tf = decodeFile(tFile.toString)
      if (tf.datasets.exists(_.path == tPath)) return (tFile.toString, tPath)
      tf.externalLinks.find(_.path == tPath) match {
        case Some(next) =>
          curDir = tFile.getParent
          cur = next; hops += 1
        case None =>
          require(!tf.groups.contains(tPath) && tPath != "/",
            s"external link '${link.path}': target '$tPath' in " +
              s"'${cur.file}' is a GROUP — group aliases unsupported; " +
              "link datasets directly")
          throw new IllegalArgumentException(
            s"external link '${link.path}': no dataset '$tPath' in " +
              s"'${cur.file}'")
      }
    }
    throw new IllegalArgumentException(
      s"external link '${link.path}': target chain still a link after " +
        "4 hops — chain too long or cyclic")
  }

  /** `metaOnly = true` skips resolving CHUNK INDEXES (v1 B-trees /
    * fixed arrays live interleaved with data in real files, usually
    * PAST a bounded header prefix) — dataset names, dims, types and
    * attributes still decode, which is all a DSv2 planner needs.
    * Reading data from a metaOnly file refuses loudly. */
  def decode(bytes: Array[Byte], metaOnly: Boolean): Hdf5File =
    CodecGate.gated("HDF5")(decodeImpl(bytes, metaOnly))

  private def decodeImpl(bytes: Array[Byte], metaOnly: Boolean): Hdf5File = {
    // the superblock sits at offset 0 or a power-of-two user-block
    // boundary (spec §II); scan the doublings
    var base = 0L
    var found = false
    while (!found) {
      if (base + 8 > bytes.length)
        throw new IllegalArgumentException(
          "not an HDF5 file (no superblock signature at any power-of-two offset)")
      if ((0 until 8).forall(i => bytes((base + i).toInt) == Signature(i)))
        found = true
      else base = if (base == 0) 512 else base * 2
    }
    if (base > 0) {
      // spec §II: every stored file address is RELATIVE to the base
      // address (the superblock offset). Decode the tail as a base-0
      // file, then shift the escaping data offsets back so they index
      // the caller's original array (only dataOff leaves this walk;
      // compact payloads are copied).
      val tail = java.util.Arrays.copyOfRange(bytes, base.toInt, bytes.length)
      val f = decode(tail, metaOnly) // keep the planner contract intact
      return f.copy(datasets = f.datasets.map { d0 =>
        val d = if (d0.dataOff == Undef) d0
                else d0.copy(dataOff = d0.dataOff + base)
        d.chunked match {
          case None => d
          case Some(c) => d.copy(chunked = Some(c.copy(chunks =
            c.chunks.map(ch => ch.copy(addr = ch.addr + base)))))
        }
      })
    }
    val r = new Reader(bytes)
    val sv = r.u8(base + 8)
    require(sv <= 3, s"superblock version $sv unsupported (0-3)")

    val rootAddr: Long = sv match {
      case 0 | 1 =>
        val so = r.u8(base + 13)
        val sl = r.u8(base + 14)
        require(so == 8 && sl == 8,
          s"offset/length sizes $so/$sl unsupported (this reader handles the " +
            "universal 8-byte layout)")
        // v1 inserts 2+2 bytes (indexed-storage k + reserved) after the
        // consistency flags; the address block then follows
        val addrs = base + 24 + (if (sv == 1) 4 else 0)
        // root group SYMBOL TABLE ENTRY after the 4 file addresses:
        // link name offset (8), object header address (8), ...
        r.i64(addrs + 32 + 8)
      case _ =>
        val so = r.u8(base + 9)
        val sl = r.u8(base + 10)
        require(so == 8 && sl == 8,
          s"offset/length sizes $so/$sl unsupported")
        r.i64(base + 36)
    }
    require(rootAddr != Undef, "superblock has no root group object header")

    val datasets = Seq.newBuilder[Dataset]
    val groups = Seq.newBuilder[String]
    // soft links collected during the walk: (group path, name, target)
    val softLinks = Seq.newBuilder[(String, String, String)]
    // external links surface as METADATA — a single-buffer decode
    // cannot follow them; resolveExternalLink does, file-side
    val extLinks = Seq.newBuilder[ExternalLink]
    val seen = scala.collection.mutable.Set.empty[Long] // cycle guard

    def walkObject(addr: Long, path: String): Unit = {
      if (!seen.add(addr)) return
      val msgs = readMessages(r, addr)
      val links = Seq.newBuilder[(String, LinkTarget)]
      var space: Option[Seq[Long]] = None
      var maxDims: Option[Seq[Long]] = None
      var dtype: Option[Dtype] = None
      var fillRaw: Option[Array[Byte]] = None
      var layout: Option[Layout] = None
      var filters: Seq[Filter] = Nil
      val attrs = Map.newBuilder[String, Any]

      msgs.foreach { m =>
        m.typ match {
          case 0x0001 =>
            val (d, md) = parseDataspaceFull(r, m.bodyOff)
            space = Some(d); maxDims = Some(md)
          case 0x0002 => // link info: dense storage walks heap + B-tree
            require(r.u8(m.bodyOff) == 0,
              s"object '$path': link-info message version " +
                s"${r.u8(m.bodyOff)} unsupported")
            val flags = r.u8(m.bodyOff + 1)
            val fh = m.bodyOff + 2 + (if ((flags & 1) != 0) 8 else 0)
            val fheap = r.i64(fh)
            if (fheap != Undef)
              links ++= denseLinks(r, fheap, r.i64(fh + 8), path)
          case 0x0003 => dtype = Some(parseDatatype(r, m.bodyOff))
          case 0x0005 => fillRaw = parseFillValue(r, m.bodyOff)
          case 0x0006 => links += parseLink(r, m.bodyOff, path)
          case 0x0008 => layout = Some(parseLayout(r, m.bodyOff, path))
          case 0x000B => filters = parseFilters(r, m.bodyOff, path)
          case 0x000C =>
            parseAttribute(r, m.bodyOff, m.size).foreach(attrs += _)
          case 0x0011 => // v1 symbol table: B-tree + local heap
            val btree = r.i64(m.bodyOff)
            val heap = r.i64(m.bodyOff + 8)
            links ++= walkSymbolTable(r, btree, heap)
          case 0x0015 => // attribute info: dense attributes walk too —
            // ignoring them would silently drop _FillValue/scale/offset
            require(r.u8(m.bodyOff) == 0,
              s"object '$path': attribute-info message version " +
                s"${r.u8(m.bodyOff)} unsupported")
            val flags = r.u8(m.bodyOff + 1)
            val fh = m.bodyOff + 2 + (if ((flags & 1) != 0) 2 else 0)
            val fheap = r.i64(fh)
            if (fheap != Undef)
              denseAttrs(r, fheap, r.i64(fh + 8), path).foreach(attrs += _)
          case _ => () // NIL, mod-times, etc. — metadata we don't need
        }
      }

      (space, dtype, layout) match {
        case (Some(dims), Some(dt), Some(lay)) =>
          // a fill value of an UNDECODABLE type must not run through
          // scalarOf during the walk — that would refuse the whole
          // file and defeat the deferred-refusal discipline (r14
          // review); strings have no numeric fill either
          val fillV = fillRaw.filter(_ =>
              dt.unsupported.isEmpty && dt.clazz != 3)
            .filter(_.length == dt.size)
            .map(fb => scalarOf(fb, dt))
          val at = attrs.result()
          lay match {
            case LayCompact(data) =>
              datasets += Dataset(path, dims, dt, -1L, data.length.toLong,
                Some(data), fillV, at)
            case LayContiguous(off, len) =>
              datasets += Dataset(path, dims, dt, off, len, None, fillV, at)
            case LayChunked(btree, cdims) =>
              require(cdims.size == dims.size + 1 &&
                cdims.last == dt.size,
                s"dataset '$path': chunk dims $cdims inconsistent with " +
                  s"rank ${dims.size} × ${dt.size}-byte elements")
              val chunks =
                if (btree == Undef || metaOnly) Nil // all-fill / deferred
                else walkChunkTree(r, btree, cdims.size, path)
              datasets += Dataset(path, dims, dt, -1L, -1L, None, fillV,
                at, Some(Chunked(cdims.init, filters, chunks,
                  deferred = metaOnly && btree != Undef)))
            case raw4: LayChunkedV4 =>
              // v4 encodes rank+1 dims with a trailing element-size
              // entry, exactly like v3 — validate and strip it
              require(raw4.cdims.size == dims.size + 1 &&
                raw4.cdims.last == dt.size,
                s"dataset '$path': v4 chunk dims ${raw4.cdims} " +
                  s"inconsistent with rank ${dims.size} × " +
                  s"${dt.size}-byte elements")
              val l4 = raw4.copy(cdims = raw4.cdims.init)
              val chunks =
                if (metaOnly) Nil // refusals live on the chunk walk —
                  // the inventory must keep cataloging (r9 discipline)
                else chunksV4(r, l4, dims, maxDims.getOrElse(dims),
                  dt.size, filters.nonEmpty, path)
              datasets += Dataset(path, dims, dt, -1L, -1L, None, fillV,
                at, Some(Chunked(l4.cdims, filters, chunks,
                  deferred = metaOnly && l4.addr != Undef)))
          }
        case (None, None, None) =>
          groups += (if (path.isEmpty) "/" else path)
          links.result().foreach {
            case (name, HardTo(a)) => walkObject(a, s"$path/$name")
            case (name, SoftTo(t)) => softLinks += ((path, name, t))
            case (name, ExtTo(f, t)) =>
              extLinks += ExternalLink(s"$path/$name", f, t)
          }
        case _ =>
          // a dataset missing one of the three is corrupt, not a group
          require(space.isEmpty && dtype.isEmpty && layout.isEmpty,
            s"object '$path': incomplete dataset metadata " +
              s"(dataspace=${space.isDefined}, datatype=${dtype.isDefined}, " +
              s"layout=${layout.isDefined})")
      }
    }

    walkObject(rootAddr, "")
    // resolve soft links: dataset targets become ALIASES of the target
    // dataset; GROUP targets alias the subtree's concrete datasets
    // (r13); dangling targets alias nothing and are skipped — the HDF
    // library's own tolerance. Chains follow other soft links up to a
    // bounded hop count (cycles refuse loudly).
    val ds = datasets.result()
    val grps = groups.result()
    val soft = softLinks.result()
    val softByPath = soft.map { case (gp, n, t) => (s"$gp/$n", (gp, t)) }.toMap
    val aliases = soft.flatMap { case (gp, name, target0) =>
      val linkPath = s"$gp/$name"
      def absolve(from: String, t: String): String = {
        // normalize like the library: repeated/trailing separators
        // collapse; '.'/'..' components refuse by name
        val comps = t.split('/').filter(_.nonEmpty)
        require(!comps.exists(c => c == "." || c == ".."),
          s"soft link '$linkPath': relative path components ('.'/'..') " +
            s"in target '$t' unsupported")
        val base = if (t.startsWith("/")) "" else from
        if (comps.isEmpty) "/" else s"$base/${comps.mkString("/")}"
      }
      var cur = absolve(gp, target0)
      var hops = 0
      while (softByPath.contains(cur) && hops <= 16) {
        val (g2, t2) = softByPath(cur)
        cur = absolve(g2, t2)
        hops += 1
      }
      // refuse a chain still unresolved after the hop budget — either
      // a cycle or a legitimately deeper chain than we follow; the
      // message must not claim to know which
      require(!softByPath.contains(cur),
        s"soft link '$linkPath': target chain still unresolved after " +
          "16 hops — chain too long or cyclic")
      ds.find(_.path == cur) match {
        case Some(d) => Seq(d.copy(path = linkPath, aliasOf = Some(cur)))
        case None if grps.contains(cur) => // the root registers as "/"
          // GROUP target (r13): alias the subtree — every CONCRETE
          // dataset under the group surfaces under the link's name,
          // each marked aliasOf its real path so whole-file
          // enumerations still read it once. Soft-link aliases inside
          // the subtree are NOT re-aliased (one bounded expansion).
          val prefix = if (cur == "/") "" else cur
          ds.filter(_.path.startsWith(prefix + "/")).map { d =>
            d.copy(path = linkPath + d.path.stripPrefix(prefix),
              aliasOf = Some(d.path))
          }
        case None =>
          // a target whose ANCESTOR is itself a soft link would
          // resolve in the library (through the linked namespace) —
          // silently dropping it would shrink the scan with no error,
          // so refuse by name instead (r13 review)
          require(!softByPath.keys.exists(p => cur.startsWith(p + "/")),
            s"soft link '$linkPath': target '$cur' chains through a " +
              "linked namespace — resolving paths under another link " +
              "is unsupported; link the dataset directly")
          Nil // dangling: aliases nothing, the library's own tolerance
      }
    }
    Hdf5File(sv, ds ++ aliases, grps, extLinks.result())
  }

  /** All header messages of the object at `addr`, across continuation
    * blocks, both header versions. */
  private def readMessages(r: Reader, addr: Long): Seq[Msg] = {
    val out = Seq.newBuilder[Msg]
    r.in(addr, 6)
    if (r.sig4(addr) == "OHDR") {
      // ---- version 2 ----
      val ver = r.u8(addr + 4)
      require(ver == 2, s"OHDR version $ver unsupported")
      val flags = r.u8(addr + 5)
      var p = addr + 6
      if ((flags & 0x20) != 0) p += 16 // four 4-byte times
      if ((flags & 0x10) != 0) p += 4  // max-compact / min-dense
      val szWidth = 1 << (flags & 0x3)
      val chunk0 = szWidth match {
        case 1 => r.u8(p).toLong
        case 2 => r.u16(p).toLong
        case 4 => r.u32(p)
        case 8 => r.i64(p)
      }
      p += szWidth
      val trackOrder = (flags & 0x04) != 0
      val hdrLen = 4 + (if (trackOrder) 2 else 0)
      // chunk queue: (start, end) of message bytes (excl checksum)
      var blocks = List((p, p + chunk0))
      while (blocks.nonEmpty) {
        val (start, end) = blocks.head
        blocks = blocks.tail
        r.in(start, end - start)
        var cur = start
        while (cur + hdrLen <= end) {
          val typ = r.u8(cur)
          val size = r.u16(cur + 1)
          val body = cur + hdrLen
          // the spec's trailing gap is SMALLER than a message header,
          // so anything that parses a header must fit its body
          require(body + size <= end,
            s"v2 header message at $cur overruns its block")
          // flag bit 1 = body is a shared-message pointer, not the
          // message itself — parsing it as the message yields garbage
          require((r.u8(cur + 3) & 0x02) == 0,
            s"v2 header message at $cur: shared messages unsupported")
          if (typ == 0x10) {
            // v2 continuation block: OCHK + messages + checksum
            val cAddr = r.i64(body)
            val cLen = r.i64(body + 8)
            r.in(cAddr, cLen)
            require(r.sig4(cAddr) == "OCHK",
              "continuation block missing OCHK signature")
            blocks ::= ((cAddr + 4, cAddr + cLen - 4))
          } else if (typ != 0) out += Msg(typ, body, size)
          cur = body + size
        }
      }
    } else {
      // ---- version 1 ----
      val ver = r.u8(addr)
      require(ver == 1,
        s"object header at $addr: version $ver unsupported (1 or OHDR v2)")
      val nMsgs = r.u16(addr + 2)
      val hdrSize = r.u32(addr + 8)
      // messages start after the 12-byte prefix + 4 pad bytes
      var blocks = List((addr + 16, addr + 16 + hdrSize))
      var remaining = nMsgs
      while (blocks.nonEmpty && remaining > 0) {
        val (start, end) = blocks.head
        blocks = blocks.tail
        r.in(start, end - start)
        var cur = start
        while (cur + 8 <= end && remaining > 0) {
          val typ = r.u16(cur)
          val size = r.u16(cur + 2)
          val body = cur + 8
          require(body + size <= end,
            s"v1 header message at $cur overruns its block")
          require((r.u8(cur + 4) & 0x02) == 0,
            s"v1 header message at $cur: shared messages unsupported")
          remaining -= 1
          if (typ == 0x10) {
            val cAddr = r.i64(body)
            val cLen = r.i64(body + 8)
            blocks ::= ((cAddr, cAddr + cLen))
          } else if (typ != 0) out += Msg(typ, body, size)
          cur = body + size // v1 sizes already include the 8-byte pad
        }
      }
    }
    out.result()
  }

  private def parseDataspace(r: Reader, o: Long): Seq[Long] =
    parseDataspaceFull(r, o)._1

  /** Dataspace dims plus max dims (equal to dims when the message
    * stores none). H5S_UNLIMITED max entries come back as [[Undef]]
    * (the all-ones encoding) — the chunk-index gates key off that. */
  private def parseDataspaceFull(r: Reader, o: Long): (Seq[Long], Seq[Long]) = {
    val ver = r.u8(o)
    val rank = r.u8(o + 1)
    require(ver == 1 || ver == 2, s"dataspace version $ver unsupported")
    require(rank <= 32, s"implausible dataspace rank $rank")
    val flags = r.u8(o + 2)
    val dimsAt = if (ver == 1) o + 8 else o + 4
    val dims = (0 until rank).map(i => r.i64(dimsAt + 8L * i))
    val maxDims =
      if ((flags & 0x1) == 0) dims
      else {
        val maxAt = dimsAt + 8L * rank
        (0 until rank).map(i => r.i64(maxAt + 8L * i))
      }
    (dims, maxDims)
  }

  /** Datatype message → [[Dtype]]. NEVER throws: a shape the data
    * path cannot decode (compound, reference, vlen, non-IEEE float,
    * bit-sliced fixed-point…) records its refusal in
    * `Dtype.unsupported` so the METADATA walk keeps cataloging the
    * file — only reading that dataset (or selecting it explicitly)
    * surfaces the named refusal. The SIZE field is class-independent
    * (spec: datatype message octets 5-8), so chunk-geometry
    * validation stays sound even for deferred types. */
  private def parseDatatype(r: Reader, o: Long): Dtype = {
    val cv = r.u8(o)
    val clazz = cv & 0xF
    val bits0 = r.u8(o + 1) // class bit field byte 0
    val size = r.u32(o + 4).toInt
    clazz match {
      case 0 => // fixed-point
        val bad =
          if (!Set(1, 2, 4, 8).contains(size))
            Some(s"fixed-point size $size unsupported")
          else {
            val bitOffset = r.u16(o + 8)
            val precision = r.u16(o + 10)
            if (bitOffset != 0 || precision != size * 8)
              Some(s"non-standard fixed-point layout (offset $bitOffset, " +
                s"precision $precision) unsupported")
            else None
          }
        Dtype(0, size, littleEndian = (bits0 & 1) == 0,
          signed = (bits0 & 8) != 0, unsupported = bad)
      case 1 => // float: IEEE layouts only
        val bad =
          if (size != 4 && size != 8) Some(s"float size $size unsupported")
          else {
            val expSize = r.u8(o + 13)
            val manSize = r.u8(o + 15)
            val bias = r.u32(o + 16)
            val ieee = if (size == 4) (8, 23, 127L) else (11, 52, 1023L)
            if ((expSize, manSize, bias) != ieee)
              Some(s"non-IEEE float layout (exp $expSize, mantissa " +
                s"$manSize, bias $bias) unsupported")
            else None
          }
        Dtype(1, size, littleEndian = (bits0 & 1) == 0, signed = true,
          unsupported = bad)
      case 3 => // string (attribute values)
        Dtype(3, size, littleEndian = true, signed = false)
      case c =>
        val cname = c match {
          case 2 => "time"; case 4 => "bitfield"; case 5 => "opaque"
          case 6 => "COMPOUND"; case 7 => "reference"; case 8 => "enum"
          case 9 => "variable-length"; case 10 => "array"
          case _ => "reserved"
        }
        Dtype(c, size, littleEndian = true, signed = false,
          unsupported = Some(s"datatype class $c ($cname) unsupported — " +
            "fixed-point, IEEE float and fixed strings decode; " +
            "coordinate-bounds tables and other compound shapes " +
            "refuse on read"))
    }
  }

  private def parseFillValue(r: Reader, o: Long): Option[Array[Byte]] = {
    val ver = r.u8(o)
    ver match {
      case 1 =>
        val size = r.u32(o + 4).toInt
        if (size == 0) None
        else Some(java.util.Arrays.copyOfRange(r.bytes, (o + 8).toInt,
          (o + 8 + size).toInt))
      case 2 =>
        if (r.u8(o + 3) != 1) None // fill value defined flag
        else {
          val size = r.u32(o + 4).toInt
          if (size == 0) None
          else Some(java.util.Arrays.copyOfRange(r.bytes, (o + 8).toInt,
            (o + 8 + size).toInt))
        }
      case 3 =>
        val flags = r.u8(o + 1)
        if ((flags & 0x20) == 0) None
        else {
          val size = r.u32(o + 2).toInt
          Some(java.util.Arrays.copyOfRange(r.bytes, (o + 6).toInt,
            (o + 6 + size).toInt))
        }
      case v => throw new IllegalArgumentException(
        s"fill-value message version $v unsupported")
    }
  }

  private sealed trait LinkTarget
  private final case class HardTo(addr: Long) extends LinkTarget
  private final case class SoftTo(target: String) extends LinkTarget
  private final case class ExtTo(file: String, target: String)
    extends LinkTarget

  private sealed trait Layout
  private final case class LayCompact(data: Array[Byte]) extends Layout
  private final case class LayContiguous(off: Long, len: Long) extends Layout
  /** v3 chunked: B-tree address + dimensionality sizes (rank entries
    * in elements, then the element size in bytes). */
  private final case class LayChunked(btree: Long, dims: Seq[Int])
    extends Layout
  /** v4 chunked (the 1.10+ "new format"): `cdims` are the RAW encoded
    * dims — rank+1 entries whose LAST is the element size in bytes,
    * exactly like the v3 message (the HDF5 library encodes its
    * internal ndims = rank+1 for both versions); callers validate the
    * trailing entry against the datatype and strip it. `indexType`
    * per the spec registry (1 single chunk, 2 implicit, 3 fixed
    * array, 4 extensible array, 5 B-tree v2), `addr` the index (or
    * single chunk) address; `singleFiltered` carries the (size, mask)
    * the single-chunk index stores inline when a pipeline is
    * present. */
  private final case class LayChunkedV4(indexType: Int, addr: Long,
      cdims: Seq[Int], flags: Int,
      singleFiltered: Option[(Long, Int)],
      // EARRAY creation params from the layout message: (maxNelmtsBits,
      // idxBlkElmts, supBlkMinDataPtrs, dataBlkMinElmts, maxDblkPageBits)
      eaParams: Option[(Int, Int, Int, Int, Int)] = None) extends Layout

  private def parseLayout(r: Reader, o: Long, path: String): Layout = {
    val ver = r.u8(o)
    val clazz = r.u8(o + 1)
    require(ver == 3 || ver == 4,
      s"dataset '$path': data-layout message version $ver unsupported")
    if (ver == 4 && clazz == 2) return parseLayoutV4Chunked(r, o, path)
    clazz match {
      case 0 => // compact: size(2) + data inline
        val size = r.u16(o + 2)
        LayCompact(java.util.Arrays.copyOfRange(r.bytes, (o + 4).toInt,
          (o + 4 + size).toInt))
      case 1 => // contiguous: address(8) + size(8)
        LayContiguous(r.i64(o + 2), r.i64(o + 10))
      case 2 => // v3 chunked: dimensionality(1) + btree addr(8) + dims(4 ea)
        val ndims = r.u8(o + 2)
        require(ndims >= 2 && ndims <= 33,
          s"dataset '$path': bad chunk dimensionality $ndims")
        val btree = r.i64(o + 3)
        LayChunked(btree,
          (0 until ndims).map(i => r.u32(o + 11 + 4L * i).toInt))
      case c => throw new IllegalArgumentException(
        s"dataset '$path': layout class $c unsupported")
    }
  }

  /** v4 chunked layout body (spec IV.A.2.i, version 4 / class 2):
    * `flags(1) dimensionality(1) dimSizeEncLen(1)
    * dims((rank+1) × encLen) indexType(1) [index params] address(8)`
    * — the library writes rank+1 dims with a trailing element-size
    * entry, same as the v3 message. All five index types decode:
    * single-chunk (1), implicit (2), fixed-array (3), extensible-array
    * (4, one unlimited dim) and B-tree v2 (5, several unlimited dims);
    * only their PAGED/deep variants refuse by name in the walks. Flag
    * bit 1 marks a filtered single chunk whose (size, mask) ride
    * inline. */
  private def parseLayoutV4Chunked(r: Reader, o: Long,
      path: String): Layout = {
    val flags = r.u8(o + 2)
    val ndims = r.u8(o + 3)
    val encLen = r.u8(o + 4)
    require(Set(1, 2, 4, 8)(encLen),
      s"dataset '$path': v4 chunked dim-size width $encLen invalid")
    // dimensionality counts the TRAILING element-size entry too
    // (rank+1, like v3), so a scalar chunk still encodes >= 2 entries
    require(ndims >= 2 && ndims <= 33,
      s"dataset '$path': v4 chunked dimensionality $ndims implausible")
    def dimAt(p: Long): Long = encLen match {
      case 1 => r.u8(p).toLong
      case 2 => r.u16(p).toLong
      case 4 => r.u32(p)
      case 8 => r.i64(p)
    }
    val cdims = (0 until ndims).map(i => dimAt(o + 5 + encLen.toLong * i))
    require(cdims.forall(d => d > 0 && d <= Int.MaxValue),
      s"dataset '$path': v4 chunk dims $cdims implausible")
    var p = o + 5 + encLen.toLong * ndims
    val idxType = r.u8(p); p += 1
    idxType match {
      case 1 =>
        val sf =
          if ((flags & 0x2) != 0) { // filtered single chunk
            val sz = r.i64(p); val mask = r.u32(p + 8).toInt
            p += 12
            Some((sz, mask))
          } else None
        LayChunkedV4(1, r.i64(p), cdims.map(_.toInt), flags, sf)
      case 2 =>
        LayChunkedV4(2, r.i64(p), cdims.map(_.toInt), flags, None)
      case 3 =>
        p += 1 // page bits: re-read from the FAHD header, authoritative
        LayChunkedV4(3, r.i64(p), cdims.map(_.toInt), flags, None)
      case 4 =>
        // extensible array (the UNLIMITED-dims index netCDF-4 emits
        // under libver=latest): params then the EAHD address
        val maxBits = r.u8(p); val idxElmts = r.u8(p + 1)
        val minPtrs = r.u8(p + 2); val minElmts = r.u8(p + 3)
        val pageBits = r.u8(p + 4)
        LayChunkedV4(4, r.i64(p + 5), cdims.map(_.toInt), flags, None,
          Some((maxBits, idxElmts, minPtrs, minElmts, pageBits)))
      case 5 =>
        // B-tree v2 index: node size(4) + split/merge percents(1+1)
        // ride in the layout but the BTHD header re-states what the
        // walk needs — skip to the address
        LayChunkedV4(5, r.i64(p + 6), cdims.map(_.toInt), flags, None)
      case t => throw new IllegalArgumentException(
        s"dataset '$path': unknown v4 chunk index type $t")
    }
  }

  /** Resolve a v4 layout's chunk list. The chunk grid is row-major
    * over ceil(dim/chunk); fixed-array entries land in exactly that
    * order (spec III.G). Unallocated entries (undefined address) are
    * skipped — the fill shows through, the v1-B-tree contract. */
  private def chunksV4(r: Reader, l: LayChunkedV4, dims: Seq[Long],
      maxDims: Seq[Long], eltSize: Int, filtered: Boolean,
      path: String): Seq[ChunkRef] = {
    // flag bit 0 = partial edge chunks stored UNfiltered: pushing them
    // through the pipeline anyway would scatter silent garbage (or die
    // with a misleading inflate/checksum error) — refuse by name
    require(!(filtered && (l.flags & 0x1) != 0),
      s"dataset '$path': v4 chunked flag DONT_FILTER_PARTIAL_BOUND_CHUNKS " +
        "with a filter pipeline unsupported — edge chunks are stored " +
        "unfiltered; re-export without the chunk option")
    // implicit / fixed-array / extensible-array indexes order chunks by
    // a linear index the library computes over the MAX-dims chunk grid
    // (swizzling the unlimited dimension to the slowest position for
    // the extensible array). Our row-major walk over CURRENT dims
    // matches that only when every dimension after the slowest is
    // non-extendible (max == current) — for the extensible array that
    // also forces the one unlimited dimension to dim 0, the netCDF-4
    // record-cube shape. Anything else would decode with silently
    // misplaced chunks, so refuse by name — here on the chunk walk,
    // not the metadata walk, so metaOnly inventories keep cataloging.
    // (B-tree-v2 records carry explicit per-chunk offsets — no gate.)
    if (Set(2, 3, 4)(l.indexType))
      require(maxDims.drop(1).zip(dims.drop(1)).forall {
        case (m, d) => m == d },
        s"dataset '$path': extendible (or unlimited) non-slowest " +
          s"dimension (max dims $maxDims vs dims $dims) with a " +
          s"linear-indexed chunk index (type ${l.indexType}) " +
          "unsupported — the library's element index runs over the " +
          "max-dims grid, swizzling the unlimited dimension slowest; " +
          "re-export with the unlimited dimension first")
    val rank = l.cdims.size
    val counts = dims.zip(l.cdims).map { case (d, c) =>
      ((d + c - 1) / c).toInt
    }
    val nChunks = counts.map(_.toLong).product
    require(nChunks <= (1L << 24),
      s"dataset '$path': implausible v4 chunk count $nChunks")
    val chunkBytes = l.cdims.map(_.toLong).product * eltSize
    def originOf(i: Long): Seq[Long] = {
      var rem = i
      val o = new Array[Long](rank)
      var d = rank - 1
      while (d >= 0) { o(d) = (rem % counts(d)) * l.cdims(d); rem /= counts(d); d -= 1 }
      o.toSeq
    }
    l.indexType match {
      case 1 =>
        require(nChunks == 1,
          s"dataset '$path': single-chunk index with $nChunks chunks")
        if (l.addr == Undef) Nil
        else {
          val (sz, mask) = l.singleFiltered.getOrElse((chunkBytes, 0))
          Seq(ChunkRef(Seq.fill(rank)(0L), sz, mask, l.addr))
        }
      case 2 =>
        require(!filtered,
          s"dataset '$path': implicit chunk index cannot carry filters")
        if (l.addr == Undef) Nil
        else (0L until nChunks).map(i =>
          ChunkRef(originOf(i), chunkBytes, 0, l.addr + i * chunkBytes))
      case 3 =>
        if (l.addr == Undef) Nil
        else walkFixedArray(r, l.addr, nChunks, chunkBytes, filtered,
          originOf, path)
      case 4 =>
        if (l.addr == Undef) Nil
        else walkExtensibleArray(r, l.addr, l.eaParams.get, nChunks,
          chunkBytes, filtered, originOf, path)
      case 5 =>
        if (l.addr == Undef) Nil
        else walkBtree2Chunks(r, l.addr, l.cdims, nChunks, chunkBytes,
          filtered, path)
      case t => throw new IllegalArgumentException(
        s"dataset '$path': v4 chunk index type $t unsupported")
    }
  }

  /** B-tree v2 chunk index (v4 index type 5 — the index the library
    * picks for MORE THAN ONE unlimited dimension): the same
    * BTHD/BTLF/BTIN node structure as the dense-storage name indexes,
    * with chunk records instead of heap IDs — type 10 (unfiltered:
    * address + rank scaled offsets in chunk units) or type 11
    * (filtered: + variable-width chunk size + filter mask). Absent
    * chunks simply have no record — the fill shows through, the shared
    * contract. ANY depth as of r13 (the shared traversal carries the
    * spec's cumulative child-pointer cascade — depth 2 already means
    * millions of chunks, the 100 TB shape). */
  private def walkBtree2Chunks(r: Reader, addr: Long, cdims: Seq[Int],
      nChunks: Long, chunkBytes: Long, filtered: Boolean,
      path: String): Seq[ChunkRef] = {
    val rank = cdims.size
    val bt = if (filtered) 11 else 10
    var szLen = 0 // filtered record's chunk-size field width
    val positions = btreeV2Positions(r, addr, bt,
      rs => {
        szLen = rs - 12 - 8 * rank
        require(if (filtered) szLen >= 1 && szLen <= 8
                else rs == 8 + 8 * rank,
          s"dataset '$path': chunk record size $rs off-shape for " +
            s"rank $rank ${if (filtered) "filtered" else "unfiltered"} " +
            "records")
      },
      "chunk index", s"dataset '$path'")
    val refs = positions.map { p =>
      val a = r.i64(p)
      require(a != Undef,
        s"dataset '$path': chunk record with an undefined address — " +
          "corrupt index (absent chunks carry no record at all)")
      val (sz, mask, offBase) =
        if (filtered) (r.leVar(p + 8, szLen), r.u32(p + 8 + szLen).toInt,
          p + 12 + szLen)
        else (chunkBytes, 0, p + 8)
      val origin = (0 until rank).map { d =>
        val scaled = r.i64(offBase + d * 8)
        require(scaled >= 0 && scaled <= (1L << 40),
          s"dataset '$path': implausible scaled chunk offset $scaled")
        scaled * cdims(d)
      }
      ChunkRef(origin, sz, mask, a)
    }
    require(refs.size <= nChunks,
      s"dataset '$path': chunk index holds ${refs.size} records for " +
        s"$nChunks grid chunks")
    refs
  }

  /** Fixed-array chunk index (spec III.G): FAHD header → FADB data
    * block; elements are chunk addresses (client 0) or
    * `{address, size, filter mask}` records (client 1, filtered).
    *
    * PAGED data blocks (max entries past 2^pageBits) decode as of r13:
    * the FADB then carries a page-init BITMAP (no inline elements) and
    * its checksum, with the pages laid out contiguously after it —
    * each page 2^pageBits elements (last page the remainder) plus a
    * 4-byte checksum. Uninitialized pages hold no chunks (fill shows
    * through). Bitmap BYTES are classified conservatively: all-zero =
    * every covered page uninitialized, popcount == covered pages =
    * every one initialized; a MIXED byte refuses by name — the
    * within-byte bit order is a library convention this reader has no
    * ground-truth file to pin, and guessing it would silently blank
    * (or garbage) whole pages. Fully-written archive cubes — the
    * common shape — never hit the refusal. */
  private def walkFixedArray(r: Reader, addr: Long, nChunks: Long,
      chunkBytes: Long, filtered: Boolean, originOf: Long => Seq[Long],
      path: String): Seq[ChunkRef] = {
    r.in(addr, 30)
    require(r.sig4(addr) == "FAHD",
      s"dataset '$path': fixed-array header at $addr missing FAHD signature")
    require(r.u8(addr + 4) == 0,
      s"dataset '$path': fixed-array version ${r.u8(addr + 4)} unsupported")
    val clientId = r.u8(addr + 5)
    require(clientId == (if (filtered) 1 else 0),
      s"dataset '$path': fixed-array client $clientId disagrees with " +
        s"the ${if (filtered) "filtered" else "unfiltered"} pipeline")
    val entrySize = r.u8(addr + 6)
    val pageBits = r.u8(addr + 7)
    val maxEntries = r.i64(addr + 8)
    val dbAddr = r.i64(addr + 16)
    require(maxEntries >= nChunks,
      s"dataset '$path': fixed array holds $maxEntries entries < $nChunks chunks")
    // corrupt-but-header-consistent params must refuse loudly, never
    // shift the page/bitmap geometry (1L << 63 goes negative; a huge
    // maxEntries would Int-truncate the bitmap size) — r13 review
    require(pageBits <= 32 && maxEntries <= (1L << 32),
      s"dataset '$path': implausible fixed-array geometry " +
        s"(pageBits=$pageBits, maxEntries=$maxEntries)")
    if (dbAddr == Undef) return Nil
    val szChunkField = entrySize - 12 // filtered entry: addr(8)+size+mask(4)
    require(if (filtered) szChunkField >= 1 && szChunkField <= 8
            else entrySize == 8,
      s"dataset '$path': fixed-array entry size $entrySize off-shape")
    val headLen = 6 + 8 // sig+ver+client + header addr
    val pageSize = 1L << pageBits
    val paged = maxEntries > pageSize
    val nPages = if (paged) (maxEntries + pageSize - 1) / pageSize else 1L
    val bmBytes = if (paged) ((nPages + 7) / 8).toInt else 0
    r.in(dbAddr, headLen + (if (paged) bmBytes + 4L else nChunks * entrySize))
    require(r.sig4(dbAddr) == "FADB",
      s"dataset '$path': fixed-array data block missing FADB signature")
    require(r.i64(dbAddr + 6) == addr,
      s"dataset '$path': FADB header back-pointer mismatch")
    def readElem(i: Long, p: Long): Option[ChunkRef] = {
      val a = r.i64(p)
      if (a == Undef) None
      else if (!filtered) Some(ChunkRef(originOf(i), chunkBytes, 0, a))
      else {
        val sz = r.leVar(p + 8, szChunkField) // little-endian, var width
        val mask = r.u32(p + 8 + szChunkField).toInt
        Some(ChunkRef(originOf(i), sz, mask, a))
      }
    }
    if (!paged) {
      val elems = dbAddr + headLen
      (0L until nChunks).flatMap(i => readElem(i, elems + i * entrySize))
    } else {
      val bmAt = dbAddr + headLen
      val pagesAt = bmAt + bmBytes + 4 // bitmap, FADB checksum, pages
      // conservative page-init classification, per bitmap BYTE; pages
      // wholly beyond the CURRENT extent can't carry chunks we read —
      // treating them as unwritable keeps a fully-written growable
      // dataset (maxEntries > nChunks) unambiguous at the tail byte
      val pageInit: Long => Boolean = pageInitClassifier(r, bmAt, nPages,
        path, "fixed-array", relevant = pg => pg * pageSize < nChunks)
      val verified = scala.collection.mutable.Set.empty[Long]
      (0L until nChunks).flatMap { i =>
        val pg = i / pageSize
        if (!pageInit(pg)) None
        else {
          val pAddr = pagesAt + pg * (pageSize * entrySize + 4)
          if (verified.add(pg)) {
            val elemsInPage = math.min(pageSize, maxEntries - pg * pageSize)
            r.in(pAddr, elemsInPage * entrySize + 4)
          }
          readElem(i, pAddr + (i % pageSize) * entrySize)
        }
      }
    }
  }

  /** Page-init bitmap classifier shared by the paged fixed/extensible
    * array walks. The within-byte bit order is a library convention
    * with no ground truth available here, so classification is
    * bit-order-INDEPENDENT: `relevant` marks the pages that can
    * legitimately carry a set bit (the extensible array passes
    * "belongs to an ALLOCATED data block" — a consistent file keeps
    * unallocated blocks' bits zero under EITHER order, so they never
    * contribute to the popcount). Per byte: popcount == relevant-page
    * count ⇒ every relevant page initialized; zero ⇒ none; anything
    * between is genuinely ambiguous and refuses by name rather than
    * silently blanking or garbling pages. */
  private def pageInitClassifier(r: Reader, bmAt: Long, nPages: Long,
      path: String, kind: String,
      relevant: Long => Boolean = _ => true): Long => Boolean = { pg =>
    val byteIdx = pg >> 3
    val b = r.u8(bmAt + byteIdx)
    val first = byteIdx * 8
    val nRelevant = (first until math.min(first + 8, nPages))
      .count(relevant)
    if (b == 0) false
    else if (Integer.bitCount(b) == nRelevant) relevant(pg)
    else throw new IllegalArgumentException(
      s"dataset '$path': $kind page bitmap byte $byteIdx is PARTIALLY " +
        s"initialized (0x${b.toHexString} for $nRelevant writable " +
        "pages) — the within-byte bit order is unverified; sparse " +
        "paged blocks unsupported")
  }

  /** Extensible-array chunk index (spec III.H) — the index the HDF5
    * library picks for one UNLIMITED dimension under the 1.10+ format,
    * i.e. exactly netCDF-4's record-time cubes. Geometry (matching the
    * library's H5EA init): element `i < idxBlkElmts` lives inline in
    * the index block; beyond that, data blocks grow geometrically in
    * super-block generations — generation u holds 2^⌊u/2⌋ data blocks
    * of minElmts·2^⌊(u+1)/2⌋ elements — with the first
    * 2·log2(minPtrs) generations' data blocks addressed straight from
    * the index block and later generations through EASB super blocks.
    * PAGED super-block data blocks (nelmts > 2^pageBits) decode as of
    * r13: the super block carries a page-init bitmap (ndblks ×
    * pagesPerBlock bits) before its address table, paged EADBs hold
    * no inline elements (header + checksum, pages follow — each
    * 2^pageBits elements + checksum), uninitialized pages fill, and
    * MIXED bitmap bytes refuse by name ([[pageInitClassifier]]).
    * Paged blocks addressed from the INDEX block refuse — the library
    * pages only super-block data blocks. Element shape matches the
    * fixed array's: addr(8) unfiltered;
    * addr(8)+size(var)+mask(4) filtered. */
  private def walkExtensibleArray(r: Reader, addr: Long,
      params: (Int, Int, Int, Int, Int), nChunks: Long, chunkBytes: Long,
      filtered: Boolean, originOf: Long => Seq[Long],
      path: String): Seq[ChunkRef] = {
    val (maxBits, idxElmts, minPtrs, minElmts, pageBits) = params
    r.in(addr, 72)
    require(r.sig4(addr) == "EAHD",
      s"dataset '$path': extensible-array header at $addr missing EAHD")
    require(r.u8(addr + 4) == 0,
      s"dataset '$path': extensible-array version ${r.u8(addr + 4)} unsupported")
    val clientId = r.u8(addr + 5)
    require(clientId == (if (filtered) 1 else 0),
      s"dataset '$path': extensible-array client $clientId disagrees with " +
        s"the ${if (filtered) "filtered" else "unfiltered"} pipeline")
    val entrySize = r.u8(addr + 6)
    // the header repeats the layout params — require agreement rather
    // than trusting either copy alone
    require(r.u8(addr + 7) == maxBits && r.u8(addr + 8) == idxElmts &&
      r.u8(addr + 9) == minElmts && r.u8(addr + 10) == minPtrs &&
      r.u8(addr + 11) == pageBits,
      s"dataset '$path': extensible-array header params " +
        s"(${r.u8(addr + 7)},${r.u8(addr + 8)},${r.u8(addr + 9)}," +
        s"${r.u8(addr + 10)},${r.u8(addr + 11)}) disagree with the layout " +
        s"message ($maxBits,$idxElmts,$minElmts,$minPtrs,$pageBits)")
    val szChunkField = entrySize - 12
    require(if (filtered) szChunkField >= 1 && szChunkField <= 8
            else entrySize == 8,
      s"dataset '$path': extensible-array entry size $entrySize off-shape")
    require(minElmts > 0 && (minElmts & (minElmts - 1)) == 0 &&
      minPtrs > 0 && (minPtrs & (minPtrs - 1)) == 0,
      s"dataset '$path': extensible-array params minElmts=$minElmts " +
        s"minPtrs=$minPtrs must be powers of two")
    // stats at +12 (6×8 bytes) are informative; index block addr at +60
    val iblkAddr = r.i64(addr + 60)
    if (iblkAddr == Undef || nChunks == 0) return Nil
    val arrOffSize = (maxBits + 7) / 8

    // super-block generation table (H5EA geometry). Generation u holds
    // minElmts · 2^u elements, so reaching the 2^maxBits capacity the
    // header promises needs maxBits − log2(minElmts) + 1 generations
    val log2MinElmts = 31 - Integer.numberOfLeadingZeros(minElmts)
    require(maxBits >= log2MinElmts,
      s"dataset '$path': extensible-array maxBits=$maxBits below " +
        s"log2(minElmts=$minElmts) — header-consistent but corrupt " +
        "index parameters")
    val nGens = 1 + (maxBits - log2MinElmts)
    case class Gen(startIdx: Long, startDblk: Long, ndblks: Long, dblkElmts: Long)
    val gens = new Array[Gen](nGens)
    var si = 0L; var sd = 0L
    var u = 0
    while (u < nGens) {
      val nd = 1L << (u / 2)
      val ne = minElmts.toLong << ((u + 1) / 2)
      gens(u) = Gen(si, sd, nd, ne)
      si += nd * ne; sd += nd
      u += 1
    }
    val gensInIdx = 2 * (31 - Integer.numberOfLeadingZeros(minPtrs))
    val ndblkAddrsInIdx =
      gens.take(math.min(gensInIdx, nGens)).map(_.ndblks).sum

    // index block
    val iblkLen = 14 + idxElmts.toLong * entrySize + ndblkAddrsInIdx * 8 +
      math.max(0, nGens - gensInIdx) * 8 + 4
    r.in(iblkAddr, iblkLen)
    require(r.sig4(iblkAddr) == "EAIB",
      s"dataset '$path': extensible-array index block missing EAIB")
    require(r.u8(iblkAddr + 4) == 0 && r.u8(iblkAddr + 5) == clientId,
      s"dataset '$path': EAIB version/client off-shape")
    require(r.i64(iblkAddr + 6) == addr,
      s"dataset '$path': EAIB header back-pointer mismatch")
    val iblkElemsAt = iblkAddr + 14
    val iblkDblksAt = iblkElemsAt + idxElmts.toLong * entrySize
    val iblkSblksAt = iblkDblksAt + ndblkAddrsInIdx * 8

    def refOf(i: Long, p: Long): Option[ChunkRef] = {
      val a = r.i64(p)
      if (a == Undef) None
      else if (!filtered) Some(ChunkRef(originOf(i), chunkBytes, 0, a))
      else {
        val sz = r.leVar(p + 8, szChunkField)
        val mask = r.u32(p + 8 + szChunkField).toInt
        Some(ChunkRef(originOf(i), sz, mask, a))
      }
    }
    // pageBits past 32 would flip pageSize negative (1L << 63) and
    // silently re-shape every page/bitmap offset — refuse loudly
    require(pageBits <= 32,
      s"dataset '$path': implausible extensible-array pageBits=$pageBits")
    val pageSize = 1L << pageBits
    // EADB header check + element base, cached per data block address.
    // `paged` blocks (elements past one page) carry NO inline elements:
    // header + checksum, then the pages laid out contiguously — each
    // pageSize elements + a 4-byte checksum (spec III.H; the page-init
    // bitmap lives in the OWNING SUPER BLOCK, not here).
    val dblkBase = scala.collection.mutable.HashMap.empty[Long, Long]
    def dblkElemsAt(dbAddr: Long, nelmts: Long, paged: Boolean): Long =
      dblkBase.getOrElseUpdate(dbAddr, {
        require(paged || nelmts <= pageSize,
          s"dataset '$path': PAGED extensible-array data block " +
            s"($nelmts elements > 2^$pageBits page) addressed from the " +
            "INDEX block unsupported — the library pages only " +
            "super-block data blocks")
        val headLen = 14 + arrOffSize
        r.in(dbAddr, headLen + (if (paged) 4L else nelmts * entrySize + 4))
        require(r.sig4(dbAddr) == "EADB",
          s"dataset '$path': extensible-array data block at $dbAddr " +
            "missing EADB signature")
        require(r.u8(dbAddr + 4) == 0 && r.u8(dbAddr + 5) == clientId,
          s"dataset '$path': EADB version/client off-shape")
        require(r.i64(dbAddr + 6) == addr,
          s"dataset '$path': EADB header back-pointer mismatch")
        // paged: element base = first page, right after the checksum
        dbAddr + headLen + (if (paged) 4L else 0L)
      })
    // super-block geometry: (data-block address table, page-init
    // classifier), cached per generation. Paged data blocks put the
    // bitmap (ndblks × pagesPerBlock bits) BEFORE the address table.
    val sblkTables =
      scala.collection.mutable.HashMap.empty[Int, (Long, Option[Long => Boolean])]
    def sblkInfo(gen: Int): (Long, Option[Long => Boolean]) =
      sblkTables.getOrElseUpdate(gen, {
        val paged = gens(gen).dblkElmts > pageSize
        val pagesPerBlock = if (paged) gens(gen).dblkElmts / pageSize else 0L
        val nPageBits = gens(gen).ndblks * pagesPerBlock
        val bmBytes = ((nPageBits + 7) / 8).toInt
        val sbAddr = r.i64(iblkSblksAt + (gen - gensInIdx).toLong * 8)
        require(sbAddr != Undef,
          s"dataset '$path': extensible-array super block $gen unallocated " +
            "but an element inside it is addressed — corrupt index")
        val headLen = 14 + arrOffSize
        r.in(sbAddr, headLen + bmBytes + gens(gen).ndblks * 8 + 4)
        require(r.sig4(sbAddr) == "EASB",
          s"dataset '$path': extensible-array super block at $sbAddr " +
            "missing EASB signature")
        require(r.u8(sbAddr + 4) == 0 && r.u8(sbAddr + 5) == clientId,
          s"dataset '$path': EASB version/client off-shape")
        require(r.i64(sbAddr + 6) == addr,
          s"dataset '$path': EASB header back-pointer mismatch")
        val tableAt = sbAddr + headLen + bmBytes
        (tableAt,
          if (paged) Some(pageInitClassifier(r, sbAddr + headLen,
            nPageBits, path, "extensible-array",
            // only pages of ALLOCATED data blocks can carry a set bit
            // — a consistent file keeps unallocated blocks' bits zero
            // under either bit order, so the half-grown cube (written
            // blocks + Undef tail) classifies unambiguously
            pg => r.i64(tableAt + (pg / pagesPerBlock) * 8) != Undef))
          else None)
      })

    (0L until nChunks).flatMap { i =>
      if (i < idxElmts) refOf(i, iblkElemsAt + i * entrySize)
      else {
        val idx = i - idxElmts
        var g = 0
        while (g + 1 < nGens && idx >= gens(g + 1).startIdx) g += 1
        val gen = gens(g)
        require(idx < gen.startIdx + gen.ndblks * gen.dblkElmts,
          s"dataset '$path': chunk $i beyond the extensible array's " +
            s"$maxBits-bit capacity")
        val dblkIdx = gen.startDblk + (idx - gen.startIdx) / gen.dblkElmts
        val within = (idx - gen.startIdx) % gen.dblkElmts
        if (g < gensInIdx) {
          val dbAddr = r.i64(iblkDblksAt + dblkIdx * 8)
          if (dbAddr == Undef) None // whole block unallocated → fill
          else refOf(i, dblkElemsAt(dbAddr, gen.dblkElmts, paged = false) +
            within * entrySize)
        } else {
          val (tableAt, pageInit) = sblkInfo(g)
          val dblkInSblk = dblkIdx - gen.startDblk
          val dbAddr = r.i64(tableAt + dblkInSblk * 8)
          if (dbAddr == Undef) None // whole block unallocated → fill
          else pageInit match {
            case None =>
              refOf(i, dblkElemsAt(dbAddr, gen.dblkElmts, paged = false) +
                within * entrySize)
            case Some(init) =>
              val pagesPerBlock = gen.dblkElmts / pageSize
              val page = within / pageSize
              if (!init(dblkInSblk * pagesPerBlock + page)) None // fill
              else {
                val base = dblkElemsAt(dbAddr, gen.dblkElmts, paged = true)
                val pAddr = base + page * (pageSize * entrySize + 4)
                r.in(pAddr, pageSize * entrySize + 4)
                refOf(i, pAddr + (within % pageSize) * entrySize)
              }
          }
        }
      }
    }
  }

  /** Filter-pipeline message (0x000B), versions 1 and 2. The pipeline
    * is WHAT WAS APPLIED in order at write time; [[read]] undoes it in
    * reverse. Unknown filter ids refuse at READ time (not here — the
    * inventory walk must still catalog such files). */
  private def parseFilters(r: Reader, o: Long, path: String): Seq[Filter] = {
    val ver = r.u8(o)
    require(ver == 1 || ver == 2,
      s"dataset '$path': filter-pipeline message version $ver unsupported")
    val n = r.u8(o + 1)
    var p = if (ver == 1) o + 8 else o + 2
    (0 until n).map { _ =>
      val id = r.u16(p); p += 2
      val nameLen =
        if (ver == 1 || id >= 256) { val v = r.u16(p); p += 2; v } else 0
      val flags = r.u16(p); p += 2
      val ncd = r.u16(p); p += 2
      p += (if (ver == 1) (nameLen + 7) & ~7 else nameLen)
      val client = (0 until ncd).map(i => r.u32(p + 4L * i).toInt)
      p += 4L * ncd
      if (ver == 1 && ncd % 2 == 1) p += 4 // v1 pads client data to 8
      Filter(id, flags, client)
    }
  }

  /** Type-1 (raw-data chunk) B-tree walk: keys carry (chunk byte size,
    * filter mask, element offsets per dimension); level-0 children are
    * chunk addresses, higher levels recurse. Key/child layout per spec
    * §III.A.1: key_0, child_0, key_1, …, child_{used-1}, key_used. */
  private def walkChunkTree(r: Reader, addr: Long, ndims: Int,
      path: String): Seq[ChunkRef] = {
    val keySize = 8 + 8 * ndims
    val out = Seq.newBuilder[ChunkRef]
    def walk(a: Long): Unit = {
      r.in(a, 24)
      require(r.sig4(a) == "TREE",
        s"dataset '$path': chunk B-tree node at $a missing TREE signature")
      require(r.u8(a + 4) == 1,
        s"dataset '$path': B-tree node type ${r.u8(a + 4)} != raw-data (1)")
      val level = r.u8(a + 5)
      val used = r.u16(a + 6)
      r.in(a + 24, (used + 1).toLong * keySize + used.toLong * 8)
      var p = a + 24
      (0 until used).foreach { _ =>
        val size = r.u32(p)
        val mask = r.u32(p + 4).toInt
        val offs = (0 until ndims).map(d => r.i64(p + 8 + 8L * d))
        val child = r.i64(p + keySize)
        if (level == 0) out += ChunkRef(offs, size, mask, child)
        else walk(child)
        p += keySize + 8
      }
    }
    walk(addr)
    out.result()
  }

  /** DENSE link storage (the "new format" group shape netCDF-4 files
    * use past 8 links, since creation-order tracking forces it): the
    * Link Info message points at a FRACTAL HEAP holding serialized
    * link-message bodies and a v2 B-TREE (type 5, link-name index)
    * whose records carry `{name hash (4), managed heap ID}`. This
    * reader walks the subset those files actually are:
    *
    *   - BTHD at depth 0 (root node IS the BTLF leaf — ~180 links at
    *     the default 2048-byte node), depth 1 (a BTIN internal root
    *     whose own records join the set, over leaf children — tens of
    *     thousands of links), or deeper (r13: the shared traversal
    *     walks any depth ≤ 8 via the spec's pointer-size cascade);
    *   - FRHP with no I/O filters; root block DIRECT, or one level of
    *     INDIRECT with direct children (doubling row sizes per spec
    *     §III.F) — nested indirect blocks refuse;
    *   - MANAGED heap IDs only (type 0: flag byte, heap offset at
    *     ceil(maxHeapSizeBits/8) bytes LE, length in the remaining ID
    *     bytes); huge/tiny IDs refuse.
    *
    * Heap offsets address the heap's linear space INCLUDING block
    * headers, so file position = blockAddr + (offset − blockOffset).
    * Each managed object is exactly one link-message BODY —
    * [[parseLink]] applies unchanged (hard and soft links alike). */
  private def denseLinks(r: Reader, fheapAddr: Long, btreeAddr: Long,
      path: String): Seq[(String, LinkTarget)] =
    denseObjects(r, fheapAddr, btreeAddr, 5, path)
      .map { case (pos, _) => parseLink(r, pos, path) }

  /** Dense attribute storage (message 0x0015) — same heap + B-tree
    * machinery with the type-8 attribute-name index; each managed
    * object is one serialized attribute message. */
  private def denseAttrs(r: Reader, fheapAddr: Long, btreeAddr: Long,
      path: String): Seq[(String, Any)] =
    denseObjects(r, fheapAddr, btreeAddr, 8, path)
      .flatMap { case (pos, len) => parseAttribute(r, pos, len.toInt) }

  private def denseObjects(r: Reader, fheapAddr: Long, btreeAddr: Long,
      btreeType: Int, path: String): Seq[(Long, Long)] = {
    require(btreeAddr != Undef,
      s"group '$path': dense storage without a name-index B-tree")
    // ---- fractal heap header ----
    r.in(fheapAddr, 146)
    require(r.sig4(fheapAddr) == "FRHP",
      s"group '$path': fractal heap at $fheapAddr missing FRHP signature")
    require(r.u8(fheapAddr + 4) == 0,
      s"group '$path': fractal heap version ${r.u8(fheapAddr + 4)} unsupported")
    val heapIdLen = r.u16(fheapAddr + 5)
    val filterLen = r.u16(fheapAddr + 7)
    require(filterLen == 0,
      s"group '$path': filtered fractal heap unsupported for link storage")
    val flags = r.u8(fheapAddr + 9)
    val tableWidth = r.u16(fheapAddr + 110)
    val startBlockSize = r.i64(fheapAddr + 112)
    val maxDirectSize = r.i64(fheapAddr + 120)
    val maxHeapBits = r.u16(fheapAddr + 128)
    val rootAddr = r.i64(fheapAddr + 132)
    val curRows = r.u16(fheapAddr + 140)
    require(tableWidth > 0 && startBlockSize > 0 &&
      maxDirectSize >= startBlockSize && maxHeapBits > 0 && maxHeapBits <= 64,
      s"group '$path': implausible fractal-heap geometry")
    val offSize = (maxHeapBits + 7) / 8
    val checksummed = (flags & 0x2) != 0
    val dbHeader = 4 + 1 + 8 + offSize + (if (checksummed) 4 else 0)

    // (heapOffset, size, fileAddr) extents of every DIRECT block
    // root-direct extent: the true block size is the heap's managed
    // space (offset 46; the root direct block grows by doubling before
    // converting to indirect) — maxDirectSize would let corrupt heap
    // IDs past the real block read unrelated bytes as links
    val managedSpace = r.i64(fheapAddr + 46)
    val blocks: Seq[(Long, Long, Long)] =
      if (rootAddr == Undef) Nil
      else if (curRows == 0)
        Seq((0L, if (managedSpace > 0) managedSpace else startBlockSize,
          rootAddr))
      else {
        // one level of indirection: direct children with the spec's
        // doubling row sizes (rows 0,1 at startBlockSize, row k ≥ 2 at
        // startBlockSize·2^(k−1)); a child past maxDirectSize would be
        // an INDIRECT block — refuse
        r.in(rootAddr, 13)
        require(r.sig4(rootAddr) == "FHIB",
          s"group '$path': fractal-heap root at $rootAddr missing FHIB")
        val maxDirectRows =
          (63 - java.lang.Long.numberOfLeadingZeros(
            maxDirectSize / startBlockSize)) + 2
        require(curRows <= maxDirectRows,
          s"group '$path': fractal heap with nested indirect blocks " +
            s"($curRows rows > $maxDirectRows direct) unsupported")
        val childBase = rootAddr + 4 + 1 + 8 + offSize
        r.in(childBase, curRows.toLong * tableWidth * 8)
        var heapOff = 0L
        (0 until curRows).flatMap { row =>
          val size =
            if (row < 2) startBlockSize
            else startBlockSize << (row - 1)
          (0 until tableWidth).map { c =>
            val a = r.i64(childBase + (row.toLong * tableWidth + c) * 8)
            val ext = (heapOff, size, a)
            heapOff += size
            ext
          }
        }.filter(_._3 != Undef)
      }
    blocks.foreach { case (off, size, a) =>
      r.in(a, dbHeader)
      require(r.sig4(a) == "FHDB",
        s"group '$path': fractal-heap block at $a missing FHDB signature")
      require(r.i64(a + 5) == fheapAddr,
        s"group '$path': fractal-heap block back-pointer mismatch")
      val _ = (off, size)
    }
    def filePosOf(heapOff: Long, len: Long): Long = {
      val b = blocks.find(b2 => heapOff >= b2._1 && heapOff + len <= b2._1 + b2._2)
        .getOrElse(throw new IllegalArgumentException(
          s"group '$path': heap offset $heapOff (+$len) outside every " +
            "direct block"))
      b._3 + (heapOff - b._1)
    }

    // ---- v2 B-tree (name index), any depth via the shared walk ----
    // type-5 (link) records are {hash(4), heap ID}; type-8 (attribute)
    // records are {heap ID, message flags(1), creation order(4),
    // hash(4)} — ID first
    val idAt: Long => Long =
      if (btreeType == 5) rec => rec + 4 else rec => rec
    val expectRec =
      if (btreeType == 5) 4 + heapIdLen else heapIdLen + 9
    val recPositions = btreeV2Positions(r, btreeAddr, btreeType,
      rs => require(rs == expectRec,
        s"group '$path': name-index record size $rs != $expectRec " +
          s"for type $btreeType with heap ID length $heapIdLen — " +
          "refusing to guess"),
      "name index", s"group '$path'")

    def resolve(rec: Long): (Long, Long) = {
      // type-8 records carry the attribute message's flags byte right
      // after the heap ID; the shared bit means the heap holds a
      // shared-message POINTER, not the attribute itself — parsing it
      // inline would yield a confusing version error or wrong values,
      // so refuse by name like the v1/v2 header-message loops do
      if (btreeType == 8)
        require((r.u8(rec + heapIdLen) & 0x02) == 0,
          s"group '$path': dense attribute record at $rec is a shared " +
            "message — shared messages unsupported")
      val id = idAt(rec)
      val idFlags = r.u8(id)
      require((idFlags & 0x30) == 0,
        s"group '$path': heap ID type ${(idFlags >> 4) & 3} unsupported " +
          "(managed objects only — huge/tiny entries refuse)")
      val heapOff = r.leVar(id + 1, offSize)
      val lenSize = heapIdLen - 1 - offSize
      require(lenSize >= 1 && lenSize <= 8,
        s"group '$path': heap ID length field $lenSize bytes off-shape")
      val objLen = r.leVar(id + 1 + offSize, lenSize)
      val pos = filePosOf(heapOff, objLen)
      r.in(pos, objLen)
      (pos, objLen)
    }
    recPositions.map(resolve)
  }

  /** Shared v2 B-tree traversal (BTHD header + BTLF/BTIN walk, ANY
    * depth as of r13 — the structure behind the dense name indexes
    * AND the chunk index): validates signature/version/type and the
    * caller's record-size expectation, returns every record's file
    * position. Internal-node child pointers are
    * `{addr(8), child nrec(m bytes LE), [child subtree total
    * (cumSize(d−1) bytes LE) — only when the CHILD is internal]}`
    * where m = bytes holding the max records a LEAF can carry
    * ((nodeSize − 10)/recordSize — leaves hold the most records of
    * any node kind, so one field size bounds every node) and the
    * cumulative sizes follow the spec's cascade: maxInt(d) =
    * (nodeSize − 10 − ptr(d)) / (recordSize + ptr(d)) with ptr(d) =
    * 8 + m + cumSize(d−1), cum(d) = (maxInt(d)+1)·cum(d−1) +
    * maxInt(d). Record enumeration order is irrelevant to every
    * caller. Depth past 8 refuses (capacity already astronomical —
    * a corrupt header, not a real tree). */
  private def btreeV2Positions(r: Reader, addr: Long, btreeType: Int,
      expectRec: Int => Unit, what: String, owner: String): Seq[Long] = {
    r.in(addr, 34)
    require(r.sig4(addr) == "BTHD",
      s"$owner: $what at $addr missing BTHD signature")
    require(r.u8(addr + 4) == 0,
      s"$owner: v2 B-tree version ${r.u8(addr + 4)} unsupported")
    require(r.u8(addr + 5) == btreeType,
      s"$owner: v2 B-tree type ${r.u8(addr + 5)} is not the " +
        s"expected $what ($btreeType)")
    val nodeSize = r.u32(addr + 6)
    val recordSize = r.u16(addr + 10)
    expectRec(recordSize)
    val depth = r.u16(addr + 12)
    require(depth <= 8,
      s"$owner: $what B-tree depth $depth implausible (depth 8 already " +
        "indexes beyond 2^60 records)")
    val rootNode = r.i64(addr + 16)
    val nRec = r.u16(addr + 24)
    // an EMPTY tree is only valid at depth 0 — a deeper root must
    // hold at least one record; returning Nil there would silently
    // drop every record
    if (depth == 0 && (rootNode == Undef || nRec == 0)) return Nil
    require(rootNode != Undef && (nRec > 0 || depth == 0),
      s"$owner: depth-$depth $what with an empty root — corrupt")
    val maxLeafRecs = (nodeSize - 10) / recordSize
    require(maxLeafRecs > 0,
      s"$owner: implausible node/record sizes $nodeSize/$recordSize")
    def bytesFor(v: Long): Int =
      (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8
    val m = bytesFor(maxLeafRecs)
    // per-depth pointer geometry (the spec's cumulative cascade)
    val ptrSize = new Array[Int](depth + 1)   // child-pointer bytes AT depth d
    val maxRecs = new Array[Long](depth + 1)  // max records a depth-d node holds
    val cumSize = new Array[Int](depth + 1)   // bytes for a depth-d subtree total
    maxRecs(0) = maxLeafRecs
    cumSize(0) = 0
    var cum = maxLeafRecs
    var d = 1
    while (d <= depth) {
      ptrSize(d) = 8 + m + cumSize(d - 1)
      maxRecs(d) = (nodeSize - 10 - ptrSize(d)) / (recordSize + ptrSize(d))
      require(maxRecs(d) > 0,
        s"$owner: implausible internal-node geometry at depth $d " +
          s"(node $nodeSize, record $recordSize)")
      cum = (maxRecs(d) + 1) * cum + maxRecs(d)
      cumSize(d) = bytesFor(cum)
      d += 1
    }
    def leafRecords(a: Long, n: Int): Seq[Long] = {
      r.in(a, 6 + n.toLong * recordSize)
      require(r.sig4(a) == "BTLF",
        s"$owner: $what leaf at $a missing BTLF signature")
      require(r.u8(a + 4) == 0 && r.u8(a + 5) == btreeType,
        s"$owner: leaf version/type " +
          s"${r.u8(a + 4)}/${r.u8(a + 5)} unsupported")
      (0 until n).map(i => a + 6 + i.toLong * recordSize)
    }
    def walk(a: Long, n: Int, lvl: Int): Seq[Long] = {
      if (lvl == 0) return leafRecords(a, n)
      r.in(a, 6)
      require(r.sig4(a) == "BTIN",
        s"$owner: $what internal node at $a missing BTIN signature")
      require(r.u8(a + 4) == 0,
        s"$owner: internal node version ${r.u8(a + 4)} unsupported")
      require(r.u8(a + 5) == btreeType,
        s"$owner: internal node type ${r.u8(a + 5)} != $btreeType")
      val ps = ptrSize(lvl)
      val recsAt = a + 6
      val childrenAt = recsAt + n.toLong * recordSize
      r.in(recsAt, n.toLong * recordSize + (n + 1).toLong * ps)
      val own = (0 until n).map(i => recsAt + i.toLong * recordSize)
      val kids = (0 to n).flatMap { c =>
        val p = childrenAt + c.toLong * ps
        val cAddr = r.i64(p)
        val cn = r.leVar(p + 8, m)
        val childMax = maxRecs(lvl - 1)
        require(cn >= 0 && cn <= childMax,
          s"$owner: child node claims $cn records > max $childMax " +
            s"at depth ${lvl - 1}")
        walk(cAddr, cn.toInt, lvl - 1)
      }
      own ++ kids
    }
    walk(rootNode, nRec, depth)
  }

  /** (name, target) of a Link message — hard (object header address)
    * or soft (length-prefixed target path); external/custom link
    * classes refuse by name. */
  private def parseLink(r: Reader, o: Long, path: String): (String, LinkTarget) = {
    val ver = r.u8(o)
    require(ver == 1, s"link message version $ver unsupported")
    val flags = r.u8(o + 1)
    var p = o + 2
    var linkType = 0
    if ((flags & 0x08) != 0) { linkType = r.u8(p); p += 1 }
    if ((flags & 0x04) != 0) p += 8 // creation order
    if ((flags & 0x10) != 0) p += 1 // charset
    val nameLen = (flags & 0x3) match {
      case 0 => val v = r.u8(p); p += 1; v.toLong
      case 1 => val v = r.u16(p); p += 2; v.toLong
      case 2 => val v = r.u32(p); p += 4; v
      case 3 => val v = r.i64(p); p += 8; v
    }
    val name = r.ascii(p, nameLen.toInt)
    p += nameLen
    linkType match {
      case 0 => (name, HardTo(r.i64(p)))
      case 1 => // soft: length(2) + target path bytes (not terminated)
        val tlen = r.u16(p)
        (name, SoftTo(r.ascii(p + 2, tlen)))
      case 64 => // external: length(2) + version/flags(1) +
        // NUL-terminated file name + object path (spec III.K)
        val tlen = r.u16(p)
        require(tlen >= 4,
          s"group '$path': external link '$name' value is $tlen bytes")
        val vf = r.u8(p + 2)
        require(vf == 0,
          s"group '$path': external link '$name' value version/flags " +
            s"$vf unsupported (only 0)")
        val raw = r.ascii(p + 3, tlen - 1)
        val nul = raw.indexOf('\u0000')
        require(nul > 0 && nul < raw.length - 1,
          s"group '$path': external link '$name' value missing the " +
            "file/object-path split")
        (name, ExtTo(raw.substring(0, nul),
          raw.substring(nul + 1).takeWhile(_ != '\u0000')))
      case t => throw new IllegalArgumentException(
        s"group '$path': link '$name' is custom (class $t) — a link " +
          "this reader followed silently could escape the file")
    }
  }

  /** Scalar numeric/string attributes: (name, Double | String). */
  private def parseAttribute(r: Reader, o: Long,
      msgSize: Int): Option[(String, Any)] = {
    val ver = r.u8(o)
    require(ver >= 1 && ver <= 3, s"attribute message version $ver unsupported")
    if (ver >= 2) {
      val flags = r.u8(o + 1)
      require((flags & 0x3) == 0,
        "shared attribute datatype/dataspace unsupported")
    }
    val nameSize = r.u16(o + 2)
    val dtSize = r.u16(o + 4)
    val dsSize = r.u16(o + 6)
    val pad = ver == 1 // v1 pads each part to 8 bytes; v2/v3 do not
    def padded(n: Int) = if (pad) (n + 7) & ~7 else n
    var p = o + 8 + (if (ver == 3) 1 else 0) // v3: charset byte
    val name = r.cstr(p)
    p += padded(nameSize)
    val dt = parseDatatype(r, p)
    p += padded(dtSize)
    // scalar dataspace only (rank 0, or rank 1 with one element)
    val dims = parseDataspace(r, p)
    p += padded(dsSize)
    if (dims.product > 1 && dims.nonEmpty) None
    // an attribute with an undecodable type is metadata sugar — skip
    // it (the library consumer's tolerance) rather than refuse the
    // whole object walk (r14)
    else if (dt.unsupported.isDefined) None
    else dt.clazz match {
      case 3 => Some(name -> r.ascii(p, dt.size).takeWhile(_ != 0.toChar))
      case _ => Some(name -> scalarOf(java.util.Arrays.copyOfRange(
        r.bytes, p.toInt, (p + dt.size).toInt), dt))
    }
  }

  /** v1 group: B-tree (TREE, node type 0) → SNOD symbol nodes, names
    * through the local heap. */
  private def walkSymbolTable(r: Reader, btreeAddr: Long,
      heapAddr: Long): Seq[(String, LinkTarget)] = {
    r.in(heapAddr, 32)
    require(r.sig4(heapAddr) == "HEAP", "local heap missing HEAP signature")
    val heapData = r.i64(heapAddr + 24)
    val out = Seq.newBuilder[(String, LinkTarget)]
    def walkNode(addr: Long): Unit = {
      r.in(addr, 24)
      r.sig4(addr) match {
        case "TREE" =>
          require(r.u8(addr + 4) == 0, "B-tree node type != group")
          val level = r.u8(addr + 5)
          val used = r.u16(addr + 6)
          // keys (8) and children (8) alternate after the two siblings
          var p = addr + 24 + 8 // skip key 0
          (0 until used).foreach { _ =>
            walkNode(r.i64(p))
            p += 16 // child + next key
          }
        case "SNOD" =>
          val n = r.u16(addr + 6)
          (0 until n).foreach { i =>
            val e = addr + 8 + 40L * i
            val nameOff = r.i64(e)
            val objAddr = r.i64(e + 8)
            val name = r.cstr(heapData + nameOff)
            // cache type 2 = SYMBOLIC LINK: the header address is
            // undefined and the scratch space holds the heap offset of
            // the target path — walking the undefined address would
            // die with a cryptic overrun instead of resolving
            r.u32(e + 16) match {
              case 2 =>
                out += ((name, SoftTo(r.cstr(heapData + r.u32(e + 24)))))
              case 0 | 1 =>
                require(objAddr != Undef,
                  s"symbol-table entry '$name' has an undefined object " +
                    "header address — corrupt group")
                out += ((name, HardTo(objAddr)))
              case t => throw new IllegalArgumentException(
                s"symbol-table entry '$name': cache type $t unsupported")
            }
          }
        case s => throw new IllegalArgumentException(
          s"symbol-table walk hit unknown signature '$s' at $addr")
      }
    }
    walkNode(btreeAddr)
    out.result()
  }

  private def scalarOf(raw: Array[Byte], dt: Dtype): Double = {
    val b = ByteBuffer.wrap(raw).order(
      if (dt.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    (dt.clazz, dt.size, dt.signed) match {
      case (0, 1, true) => b.get(0).toDouble
      case (0, 1, false) => (b.get(0) & 0xff).toDouble
      case (0, 2, true) => b.getShort(0).toDouble
      case (0, 2, false) => (b.getShort(0) & 0xffff).toDouble
      case (0, 4, true) => b.getInt(0).toDouble
      case (0, 4, false) => (b.getInt(0).toLong & 0xffffffffL).toDouble
      case (0, 8, _) => b.getLong(0).toDouble
      case (1, 4, _) => b.getFloat(0).toDouble
      case (1, 8, _) => b.getDouble(0)
      case other => throw new IllegalArgumentException(
        s"unsupported scalar layout $other")
    }
  }

  // ---- data read --------------------------------------------------------

  /** Raw dataset values, row-major, widened to double (no fill
    * masking — [[gridCells]] applies CF semantics; the [[Hdf]]/
    * [[NetCdf]] split). */
  def read(bytes: Array[Byte], f: Hdf5File, path: String): Array[Double] =
      CodecGate.gated("HDF5") {
    val d = f.datasetAt(path)
    // deferred datatype refusal (r14): the walk cataloged this
    // dataset; READING it is what names the boundary
    d.dtype.unsupported.foreach(m => throw new IllegalArgumentException(
      s"dataset '$path': $m"))
    // strings are SUPPORTED as attribute values but are not numeric
    // grid data — refuse by name here, never via a raw elemOf match
    // error (r14 review: netCDF-4 char variables are rank-2 strings)
    require(d.dtype.clazz != 3,
      s"dataset '$path': fixed-string data is not numeric grid data — " +
        "string types decode as attribute values only")
    val n = d.n
    // ALLOCATION gate first (r14 fuzz battery): dims are DECLARED
    // fields — refuse negative or implausibly large element counts
    // before the output (or a chunk scatter buffer) is sized off them
    require(n >= 0 && n <= (1L << 27),
      s"dataset '$path': declared element count $n negative or past " +
        "the 2^27-element single-read sanity cap")
    require(n <= Int.MaxValue / 8, s"dataset '$path' too large for one read")
    d.chunked match {
      case Some(c) => readChunked(bytes, d, c, path)
      case None =>
        val payload: Array[Byte] = d.compact.getOrElse {
          require(d.dataOff != Undef,
            s"dataset '$path': no data allocated (never written)")
          require(d.dataOff + d.dataLen <= bytes.length,
            s"dataset '$path': contiguous data overruns the file")
          java.util.Arrays.copyOfRange(bytes, d.dataOff.toInt,
            (d.dataOff + d.dataLen).toInt)
        }
        require(payload.length >= n * d.dtype.size,
          s"dataset '$path': ${payload.length} payload bytes < " +
            s"${n * d.dtype.size} declared by dims")
        val b = ByteBuffer.wrap(payload).order(
          if (d.dtype.littleEndian) ByteOrder.LITTLE_ENDIAN
          else ByteOrder.BIG_ENDIAN)
        Array.tabulate(n.toInt)(i => elemOf(b, d.dtype, i, path))
    }
  }

  private def elemOf(b: ByteBuffer, dt: Dtype, i: Int,
      path: String): Double =
    (dt.clazz, dt.size, dt.signed) match {
      case (0, 1, true) => b.get(i).toDouble
      case (0, 1, false) => (b.get(i) & 0xff).toDouble
      case (0, 2, true) => b.getShort(i * 2).toDouble
      case (0, 2, false) => (b.getShort(i * 2) & 0xffff).toDouble
      case (0, 4, true) => b.getInt(i * 4).toDouble
      case (0, 4, false) => (b.getInt(i * 4).toLong & 0xffffffffL).toDouble
      case (0, 8, _) => b.getLong(i * 8).toDouble
      case (1, 4, _) => b.getFloat(i * 4).toDouble
      case (1, 8, _) => b.getDouble(i * 8)
      case other => throw new IllegalArgumentException(
        s"dataset '$path': unsupported element layout $other")
    }

  /** Assemble a chunked dataset: every allocated chunk is defiltered
    * (pipeline undone in REVERSE order, honoring the per-chunk skip
    * mask) and scattered through the row-major output; cells no chunk
    * covers read as the fill value — the library contract for
    * never-written chunks. Chunks are always FULL-size; edge-chunk
    * cells outside the dataspace are discarded. */
  private def readChunked(bytes: Array[Byte], d: Dataset, c: Chunked,
      path: String): Array[Double] = {
    require(!c.deferred,
      s"dataset '$path': chunk index not resolved (metaOnly decode) — " +
        "re-decode the full file bytes before reading data")
    val es = d.dtype.size
    val rank = d.dims.size
    val dims = d.dims.map(_.toInt).toArray
    val cdims = c.chunkDims.toArray
    require(cdims.forall(_ > 0), s"dataset '$path': zero chunk dim")
    val n = d.n.toInt
    val out = Array.fill(n)(d.fill.getOrElse(0.0))
    val chunkElems = cdims.product
    val strides = new Array[Long](rank)
    var s = 1L
    var dm = rank - 1
    while (dm >= 0) { strides(dm) = s; s *= dims(dm); dm -= 1 }
    c.chunks.foreach { ch =>
      require(ch.addr >= 0 && ch.addr + ch.size <= bytes.length,
        s"dataset '$path': chunk at ${ch.addr} (+${ch.size}) overruns " +
          s"the ${bytes.length}-byte file")
      var payload = java.util.Arrays.copyOfRange(bytes, ch.addr.toInt,
        (ch.addr + ch.size).toInt)
      var i = c.filters.length - 1
      while (i >= 0) {
        if ((ch.filterMask & (1 << i)) == 0)
          payload = unfilter(c.filters(i), payload, es, path)
        i -= 1
      }
      require(payload.length >= chunkElems.toLong * es,
        s"dataset '$path': defiltered chunk has ${payload.length} bytes " +
          s"< $chunkElems × $es expected")
      val bb = ByteBuffer.wrap(payload).order(
        if (d.dtype.littleEndian) ByteOrder.LITTLE_ENDIAN
        else ByteOrder.BIG_ENDIAN)
      var k = 0
      while (k < chunkElems) {
        var rem = k
        var gidx = 0L
        var ok = true
        var dd = rank - 1
        while (dd >= 0) {
          val loc = rem % cdims(dd); rem /= cdims(dd)
          val g = ch.offsets(dd) + loc
          if (g >= dims(dd)) ok = false
          gidx += g * strides(dd)
          dd -= 1
        }
        if (ok) out(gidx.toInt) = elemOf(bb, d.dtype, k, path)
        k += 1
      }
    }
    out
  }

  /** Undo ONE pipeline filter. Deflate (1), shuffle (2) and
    * fletcher32 (3, checksum VERIFIED then stripped) decode; anything
    * else — szip (4), n-bit (5), scale-offset (6), registered ids like
    * LZF/blosc — refuses loudly (codec-gate discipline). */
  private def unfilter(flt: Filter, data: Array[Byte], elemSize: Int,
      path: String): Array[Byte] = flt.id match {
    case 1 =>
      val inf = new java.util.zip.Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 3 + 64)
      val buf = new Array[Byte](64 * 1024)
      try {
        while (!inf.finished()) {
          val m = inf.inflate(buf)
          require(m > 0 || inf.finished(),
            s"dataset '$path': truncated deflate chunk")
          out.write(buf, 0, m)
        }
      } finally inf.end()
      out.toByteArray
    case 2 =>
      val sz = flt.client.headOption.getOrElse(elemSize)
      if (sz <= 1) data
      else {
        require(data.length % sz == 0,
          s"dataset '$path': shuffle payload ${data.length} not a " +
            s"multiple of element size $sz")
        val nEl = data.length / sz
        val o = new Array[Byte](data.length)
        var j = 0
        while (j < sz) {
          var i = 0
          while (i < nEl) { o(i * sz + j) = data(j * nEl + i); i += 1 }
          j += 1
        }
        o
      }
    case 3 =>
      require(data.length >= 4,
        s"dataset '$path': fletcher32 chunk shorter than its checksum")
      val bodyLen = data.length - 4
      val stored = (data(bodyLen) & 0xffL) |
        ((data(bodyLen + 1) & 0xffL) << 8) |
        ((data(bodyLen + 2) & 0xffL) << 16) |
        ((data(bodyLen + 3) & 0xffL) << 24)
      val calc = fletcher32(data, bodyLen)
      require(calc == stored,
        s"dataset '$path': fletcher32 mismatch (stored $stored, " +
          s"computed $calc) — corrupt chunk")
      java.util.Arrays.copyOfRange(data, 0, bodyLen)
    case 4 =>
      // szip: client data = (options, bpp, pixels/block, pixels/scanline)
      // per H5Pset_szip + set_local; payload leads with the original
      // byte count (4 bytes LE), then the CCSDS 121 stream
      require(flt.client.size >= 4,
        s"dataset '$path': szip filter carries ${flt.client.size} client " +
          "values (expected 4)")
      val Seq(opts, bpp, ppb, pps) = flt.client.take(4).toSeq
      require(data.length >= 4,
        s"dataset '$path': szip chunk shorter than its length prefix")
      val origLen = (data(0) & 0xffL) | ((data(1) & 0xffL) << 8) |
        ((data(2) & 0xffL) << 16) | ((data(3) & 0xffL) << 24)
      val bytesPerSample = if (bpp <= 8) 1 else if (bpp <= 16) 2 else 4
      require(origLen > 0 && origLen % bytesPerSample == 0 &&
        origLen < Int.MaxValue,
        s"dataset '$path': szip original length $origLen off-shape for " +
          s"$bpp-bit samples")
      Szip.decompress(java.util.Arrays.copyOfRange(data, 4, data.length),
        opts, bpp, ppb, pps, (origLen / bytesPerSample).toInt)
    case other => throw new IllegalArgumentException(
      s"dataset '$path': filter id $other unsupported — deflate (1), " +
        "shuffle (2), fletcher32 (3) and szip (4) decode; n-bit/" +
        "scale-offset/registered filters refuse rather than guess")
  }

  /** HDF5's Fletcher-32: 16-bit BIG-endian words, sums folded every
    * 360 words, odd trailing byte high-shifted (public algorithm as
    * specified for the fletcher32 filter; checksum stored
    * little-endian after the chunk body). */
  private def fletcher32(data: Array[Byte], len: Int): Long = {
    var sum1 = 0L
    var sum2 = 0L
    var i = 0
    val words = len / 2
    var remaining = words
    while (remaining > 0) {
      val t = math.min(remaining, 360)
      remaining -= t
      var j = 0
      while (j < t) {
        sum1 += ((data(i) & 0xffL) << 8) | (data(i + 1) & 0xffL)
        sum2 += sum1
        i += 2
        j += 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    if (len % 2 == 1) {
      sum1 += (data(len - 1) & 0xffL) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    (sum2 << 16) | sum1
  }

  final case class GridCell(x: Int, y: Int, value: Double)

  /** Rank-2 (y, x) dataset as cells with netCDF CF semantics: fill
    * (attribute `_FillValue`, else the fill-value message) matched on
    * the RAW value → NaN; `scale_factor`/`add_offset` applied to the
    * survivors — the [[NetCdf.gridCells]] contract. */
  def gridCells(bytes: Array[Byte], f: Hdf5File,
      path: String): Iterator[GridCell] = {
    val d = f.datasetAt(path)
    require(d.dims.size == 2,
      s"dataset '$path' has rank ${d.dims.size}; the grid path reads " +
        "rank-2 (y, x) datasets")
    val Seq(ny, nx) = d.dims.map(_.toInt)
    val vs = read(bytes, f, path)
    val fill = d.fill
    val scale = d.numAttr("scale_factor").getOrElse(1.0)
    val offset = d.numAttr("add_offset").getOrElse(0.0)
    Iterator.range(0, ny * nx).map { i =>
      val raw = vs(i)
      GridCell(i % nx, i / nx,
        if (fill.exists(_ == raw)) Double.NaN else raw * scale + offset)
    }
  }

  // ---- encode -----------------------------------------------------------

  /** One dataset to write: row-major `values` narrowed to `dtype`
    * (int16/int32/float32/float64), optional fill (written as a v3
    * fill-value message) and numeric v3 attributes. `chunk` (dims in
    * elements) switches the dataset to CHUNKED layout with a type-1
    * B-tree index; `filters` is the pipeline in application order —
    * "shuffle", "deflate", "fletcher32" (the netCDF-4 defaults). */
  final case class DsSpec(name: String, dims: Seq[Long], dtype: Dtype,
      values: Array[Double], fill: Option[Double] = None,
      attrs: Seq[(String, Double)] = Nil,
      chunk: Option[Seq[Int]] = None, filters: Seq[String] = Nil)

  /** Minimal HDF5 WRITER — superblock v2, v2 object headers, compact
    * hard links, contiguous OR chunked (type-1 B-tree index +
    * shuffle/deflate/fletcher32 pipeline — the netCDF-4 shape) layout:
    * exactly the subset [[decode]] reads, so the i66/i67 transport
    * cycles (and any engine-published `.h5` product) land through real
    * HDF5 bytes. Metadata checksums are written as zero (the reader
    * does not verify them; a library consumer repairs them on
    * rewrite); chunk fletcher32 checksums are REAL. */
  def encode(specs: Seq[DsSpec]): Array[Byte] = {
    require(specs.nonEmpty, "nothing to encode")
    def le(cap: Int)(f: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(cap).order(ByteOrder.LITTLE_ENDIAN)
      f(b)
      java.util.Arrays.copyOf(b.array(), b.position())
    }
    def msg(typ: Int, body: Array[Byte]): Array[Byte] = le(body.length + 4) { b =>
      b.put(typ.toByte).putShort(body.length.toShort).put(0.toByte).put(body)
    }
    def dtBytes(dt: Dtype): Array[Byte] = dt.clazz match {
      case 0 => le(16) { b =>
        b.put(0x10.toByte)
        b.put((if (dt.signed) 0x08 else 0x00).toByte).put(0.toByte).put(0.toByte)
        b.putInt(dt.size)
        b.putShort(0).putShort((dt.size * 8).toShort)
      }
      case 1 => le(24) { b =>
        b.put(0x11.toByte)
        b.put(0x20.toByte)
        b.put((dt.size * 8 - 1).toByte).put(0.toByte)
        b.putInt(dt.size)
        b.putShort(0).putShort((dt.size * 8).toShort)
        if (dt.size == 4) {
          b.put(23.toByte).put(8.toByte).put(0.toByte).put(23.toByte)
          b.putInt(127)
        } else {
          b.put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
          b.putInt(1023)
        }
      }
      case c => throw new IllegalArgumentException(
        s"cannot write datatype class $c")
    }
    def putVal(b: ByteBuffer, dt: Dtype, v: Double): Unit =
      (dt.clazz, dt.size) match {
        case (0, 2) => b.putShort(v.toShort)
        case (0, 4) => b.putInt(v.toInt)
        case (1, 4) => b.putFloat(v.toFloat)
        case (1, 8) => b.putDouble(v)
        case other => throw new IllegalArgumentException(
          s"cannot write element layout $other")
      }
    val f64 = Dtype(1, 8, littleEndian = true, signed = true)

    // per-dataset header messages, with the layout address patched in
    // once the data offsets are known. `addrFromEnd` locates the
    // 8-byte address field (B-tree or contiguous data) from the end of
    // the message block; `chunks` carries (elementOffsets, payload)
    // per chunk for chunked specs (the payloads already filtered).
    final case class Pending(headerLess: Array[Byte], dataLen: Int,
        spec: DsSpec, addrFromEnd: Int,
        chunks: Option[Seq[(Seq[Long], Array[Byte])]])
    val pendings = specs.map { s =>
      val n = s.dims.product
      require(s.values.length == n,
        s"dataset '${s.name}': ${s.values.length} values for dims ${s.dims}")
      require(s.dtype.littleEndian, "this writer emits little-endian data")
      val dsBody = le(8 + 8 * s.dims.size) { b =>
        b.put(2.toByte).put(s.dims.size.toByte).put(0.toByte).put(1.toByte)
        s.dims.foreach(b.putLong)
      }
      val fillMsgs = s.fill.toSeq.map { fv =>
        msg(0x05, le(8 + s.dtype.size) { b =>
          b.put(3.toByte).put(0x20.toByte).putInt(s.dtype.size)
          putVal(b, s.dtype, fv)
        })
      }
      val attrMsgs = s.attrs.map { case (name, v) =>
        val nameZ = name.getBytes("US-ASCII") :+ 0.toByte
        val dt = dtBytes(f64)
        msg(0x0C, le(9 + nameZ.length + dt.length + 4 + 8) { b =>
          b.put(3.toByte).put(0.toByte)
          b.putShort(nameZ.length.toShort)
          b.putShort(dt.length.toShort)
          b.putShort(4)
          b.put(0.toByte)
          b.put(nameZ).put(dt)
          b.put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // scalar
          b.putDouble(v)
        })
      }
      val es = s.dtype.size
      s.chunk match {
        case None =>
          // layout message LAST so its 8-byte address lands at a fixed
          // distance from the header end (patched below)
          val layoutMsg = msg(0x08, le(18) { b =>
            b.put(3.toByte).put(1.toByte).putLong(0L)
            b.putLong(n * es)
          })
          val msgs = (Seq(msg(0x01, dsBody), msg(0x03, dtBytes(s.dtype))) ++
            fillMsgs ++ attrMsgs :+ layoutMsg).flatten.toArray
          Pending(msgs, (n * es).toInt, s, 16, None)
        case Some(cdims) =>
          val rank = s.dims.size
          require(cdims.size == rank && cdims.forall(_ > 0),
            s"dataset '${s.name}': chunk dims $cdims for rank $rank")
          val dims = s.dims.map(_.toInt)
          val fillD = s.fill.getOrElse(0.0)
          val chunkElems = cdims.product
          val counts = dims.zip(cdims).map { case (d, c) => (d + c - 1) / c }
          val nChunks = counts.product
          // row-major iteration over the chunk grid
          val chunkIdx = (0 until nChunks).map { ci =>
            var rem = ci
            val idx = new Array[Int](rank)
            var dm = rank - 1
            while (dm >= 0) { idx(dm) = rem % counts(dm); rem /= counts(dm); dm -= 1 }
            idx.toSeq
          }
          val strides = {
            val st = new Array[Long](rank)
            var acc = 1L
            var dm = rank - 1
            while (dm >= 0) { st(dm) = acc; acc *= dims(dm); dm -= 1 }
            st
          }
          val chunkPayloads = chunkIdx.map { idx =>
            val raw = ByteBuffer.allocate(chunkElems * es)
              .order(ByteOrder.LITTLE_ENDIAN)
            (0 until chunkElems).foreach { k =>
              var rem = k
              var gidx = 0L
              var ok = true
              var dm = rank - 1
              while (dm >= 0) {
                val loc = rem % cdims(dm); rem /= cdims(dm)
                val g = idx(dm).toLong * cdims(dm) + loc
                if (g >= dims(dm)) ok = false
                gidx += g * strides(dm)
                dm -= 1
              }
              putVal(raw, s.dtype, if (ok) s.values(gidx.toInt) else fillD)
            }
            val filtered = s.filters.foldLeft(raw.array()) { (data, f) =>
              f match {
                case "deflate" => Deflate(data)
                case "shuffle" =>
                  if (es <= 1) data
                  else {
                    val nEl = data.length / es
                    val o = new Array[Byte](data.length)
                    var j = 0
                    while (j < es) {
                      var i = 0
                      while (i < nEl) { o(j * nEl + i) = data(i * es + j); i += 1 }
                      j += 1
                    }
                    o
                  }
                case "fletcher32" =>
                  val ck = fletcher32(data, data.length)
                  val o = java.util.Arrays.copyOf(data, data.length + 4)
                  o(data.length) = (ck & 0xff).toByte
                  o(data.length + 1) = ((ck >> 8) & 0xff).toByte
                  o(data.length + 2) = ((ck >> 16) & 0xff).toByte
                  o(data.length + 3) = ((ck >> 24) & 0xff).toByte
                  o
                case other => throw new IllegalArgumentException(
                  s"dataset '${s.name}': unknown filter '$other' " +
                    "(shuffle, deflate, fletcher32)")
              }
            }
            val offs = idx.zip(cdims).map { case (i2, c) => i2.toLong * c } :+ 0L
            (offs.toSeq, filtered)
          }
          val filterIds = s.filters.map {
            case "deflate" => Filter(1, 1, Seq(6))
            case "shuffle" => Filter(2, 1, Seq(es))
            case "fletcher32" => Filter(3, 0, Nil)
          }
          val filterMsgs =
            if (filterIds.isEmpty) Nil
            else Seq(msg(0x0B, le(2 + filterIds.map(8 + 4 * _.client.size).sum) { b =>
              b.put(2.toByte).put(filterIds.size.toByte)
              filterIds.foreach { flt =>
                b.putShort(flt.id.toShort).putShort(flt.flags.toShort)
                b.putShort(flt.client.size.toShort)
                flt.client.foreach(b.putInt)
              }
            }))
          // layout v3 class 2: dimensionality(1) + btree addr(8, patched)
          // + chunk dims incl element size (4 each)
          val layoutBodyLen = 11 + 4 * (rank + 1)
          val layoutMsg = msg(0x08, le(layoutBodyLen) { b =>
            b.put(3.toByte).put(2.toByte).put((rank + 1).toByte)
            b.putLong(0L)
            cdims.foreach(b.putInt)
            b.putInt(es)
          })
          val msgs = (Seq(msg(0x01, dsBody), msg(0x03, dtBytes(s.dtype))) ++
            filterMsgs ++ fillMsgs ++ attrMsgs :+ layoutMsg).flatten.toArray
          val keySize = 8 + 8 * (rank + 1)
          val treeSize = 24 + (nChunks + 1) * keySize + nChunks * 8
          Pending(msgs, treeSize + chunkPayloads.map(_._2.length).sum, s,
            layoutBodyLen - 3, Some(chunkPayloads))
      }
    }

    def ohdr(chunk: Array[Byte]): Array[Byte] = le(chunk.length + 16) { b =>
      b.put("OHDR".getBytes("US-ASCII")).put(2.toByte).put(1.toByte)
      b.putShort(chunk.length.toShort)
      b.put(chunk)
      b.putInt(0) // checksum: unverified by this subset
    }

    // layout: superblock(48) | root OHDR | dataset OHDRs | data blocks
    val rootChunk = Array.newBuilder[Byte]
    var probe = 48L
    // first pass to size the root header: link bodies are name-length
    // dependent only
    val linkMsgs = specs.map { s =>
      val nameB = s.name.getBytes("US-ASCII")
      require(nameB.length <= 255, s"name '${s.name}' too long")
      msg(0x06, le(11 + nameB.length) { b =>
        b.put(1.toByte).put(0.toByte)
        b.put(nameB.length.toByte).put(nameB)
        b.putLong(0L) // patched to the dataset header address
      })
    }
    val rootSize = 12 + linkMsgs.map(_.length).sum
    val hdrOffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    probe = 48L + rootSize
    pendings.foreach { p =>
      hdrOffs += probe
      probe += p.headerLess.length + 12 // the OHDR prefix + checksum
    }
    val dataOffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    pendings.foreach { p =>
      dataOffs += probe
      probe += p.dataLen
    }
    require(probe <= Int.MaxValue, "encoded HDF5 too large for this writer")

    val out = ByteBuffer.allocate(probe.toInt).order(ByteOrder.LITTLE_ENDIAN)
    // superblock v2
    out.put(Signature).put(2.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    out.putLong(0L).putLong(Undef).putLong(probe).putLong(48L).putInt(0)
    // root OHDR with the links patched to the real header addresses
    val patchedLinks = linkMsgs.zip(hdrOffs).map { case (m, a) =>
      val c = m.clone()
      ByteBuffer.wrap(c).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(c.length - 8, a)
      c
    }
    out.put(ohdr(patchedLinks.toArray.flatten))
    // dataset headers with the layout address patched (the layout
    // message is last: its address field sits addrFromEnd bytes from
    // the end — contiguous data address or chunk B-tree address)
    pendings.zipWithIndex.foreach { case (p, i) =>
      val c = p.headerLess.clone()
      ByteBuffer.wrap(c).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(c.length - p.addrFromEnd, dataOffs(i))
      out.put(ohdr(c))
    }
    pendings.zipWithIndex.foreach { case (p, i) =>
      p.chunks match {
        case None =>
          val b = ByteBuffer.allocate(p.dataLen).order(ByteOrder.LITTLE_ENDIAN)
          p.spec.values.foreach(putVal(b, p.spec.dtype, _))
          out.put(b.array())
        case Some(chunks) =>
          // level-0 type-1 B-tree node, then the chunk payloads
          val rank = p.spec.dims.size
          val keySize = 8 + 8 * (rank + 1)
          val nc = chunks.size
          val treeSize = 24 + (nc + 1) * keySize + nc * 8
          val treeOff = dataOffs(i)
          var chunkAddr = treeOff + treeSize
          val b = ByteBuffer.allocate(p.dataLen).order(ByteOrder.LITTLE_ENDIAN)
          b.put("TREE".getBytes("US-ASCII"))
          b.put(1.toByte).put(0.toByte).putShort(nc.toShort)
          b.putLong(Undef).putLong(Undef)
          chunks.foreach { case (offs, payload) =>
            b.putInt(payload.length).putInt(0)
            offs.foreach(b.putLong)
            b.putLong(chunkAddr)
            chunkAddr += payload.length
          }
          // the final key bounds the tree from above: the dataspace dims
          b.putInt(0).putInt(0)
          p.spec.dims.foreach(b.putLong)
          b.putLong(0L)
          chunks.foreach { case (_, payload) => b.put(payload) }
          out.put(b.array())
      }
    }
    out.array()
  }

  // ---- distributed read -------------------------------------------------

  /** Archive inventory: one row per dataset across every file matching
    * `path` (binaryFile glob), decoded task-side —
    * `(path, dataset, rank, dims, dtype, n, fill)`. */
  def scan(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) =>
        val f = decode(bytes)
        f.datasets.filter(_.aliasOf.isEmpty)
          .map(d => (p, d.path, d.dims.size,
          d.dims.mkString("x"), d.dtype.name, d.n, d.fill))
      })
      .toDF("path", "dataset", "rank", "dims", "dtype", "n", "fill")
  }
}

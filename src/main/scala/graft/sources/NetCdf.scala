package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Clean-room NetCDF-3 codec (classic CDF-1, 64-bit-offset CDF-2,
  * and — r11 — 64-bit-data CDF-5: every NON_NEG count widened to 8
  * bytes and the five unsigned/64-bit nc_types, per the public CDF-5
  * format specification), written from the PUBLIC classic-format
  * specification (the NetCDF User Guide's file-format appendix —
  * `magic numrecs dim_list gatt_list var_list` header, big-endian,
  * 4-byte alignment), closing
  * the reference's single most-used transport format: CAMS downloads
  * `.nc` and opens with xarray
  * (`/root/reference/ingest/cams_forecast/__init__.py:63`), TAMSAT
  * reads `.nc` rasters via rioxarray
  * (`tamsat_rainfall/__init__.py:11,184`), and the dust forecast
  * downloads `.nc` behind auth (`dustforecast/__init__.py:76`) — in
  * every case slicing `ds[var].isel(time=i)` into per-date 2-D grids.
  *
  * Same rungs as the [[GeoTiff]] codec:
  *   - decode is TASK-side (see [[NcGridSource]]) —
  *     the driver never touches payload bytes;
  *   - unsupported layouts fail LOUDLY (char data variables, CDF-5
  *     type codes smuggled into classic files, more than one
  *     non-singleton extra dimension) — the codec-gate discipline:
  *     never silently misread;
  *   - `encode` writes the same subset it reads, giving byte-level
  *     round-trip specs plus hand-crafted independent fixtures.
  *
  * CF conventions honored on the grid path: `scale_factor` /
  * `add_offset` unpacking, `_FillValue` / `missing_value` matched on
  * the RAW (packed) value, coordinate variables named like their
  * dimension, and `<unit> since <epoch>` time decoding.
  */
object NetCdf {

  // classic nc_type codes (public spec §"The Format in Detail");
  // 7-11 are the CDF-5 additions (64-bit data format spec)
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  private def widthOf(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case other => throw new IllegalArgumentException(s"unknown nc_type $other")
  }

  /** Unsigned 64-bit → double (2^64 wrap); values past 2^53 round to
    * the nearest representable double — the xarray convention. */
  private def u64ToDouble(v: Long): Double =
    if (v >= 0) v.toDouble else v.toDouble + 1.8446744073709552E19

  /** length == 0 marks the record (unlimited) dimension. */
  final case class Dim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }

  /** Attribute: text (NC_CHAR) or numeric values widened to double
    * (classic NetCDF has no 64-bit integers, so double is lossless). */
  final case class Att(name: String, text: Option[String], nums: Array[Double]) {
    def num: Option[Double] = nums.headOption
  }

  final case class Variable(
      name: String, dimIds: Seq[Int], atts: Seq[Att],
      ncType: Int, begin: Long) {
    def att(n: String): Option[Att] = atts.find(_.name == n)
  }

  final case class NcFile(
      version: Int, numRecs: Int, dims: Seq[Dim], gatts: Seq[Att],
      vars: Seq[Variable], bytes: Array[Byte],
      // the TRUE file length (= bytes.length except for
      // decodeHeader's bounded-prefix files) — what the allocation
      // gate in read() validates declared sizes against (r14 review:
      // gating on the prefix length misdiagnosed healthy files)
      fullLen: Long) {

    def variable(name: String): Variable = vars.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no variable '$name' (have: ${vars.map(_.name).mkString(", ")})"))

    def isRecordVar(v: Variable): Boolean =
      v.dimIds.headOption.exists(dims(_).isRecord)

    /** Shape with the record dimension resolved to numrecs. */
    def shapeOf(v: Variable): Array[Int] =
      v.dimIds.map(i => if (dims(i).isRecord) numRecs else dims(i).length).toArray

    private def perRecordSize(v: Variable): Long = {
      val fixed = v.dimIds.drop(1).map(dims(_).length.toLong).product
      fixed * widthOf(v.ncType)
    }

    private lazy val recordVars = vars.filter(isRecordVar)

    /** Byte stride of one record slab: each record variable's
      * per-record block padded to 4 — except the special case of
      * exactly ONE record variable, which the spec leaves unpadded. */
    lazy val recordStride: Long =
      if (recordVars.size == 1) perRecordSize(recordVars.head)
      else recordVars.map(v => pad4(perRecordSize(v))).sum

    /** All values of a numeric variable, row-major (record dim
      * outermost), widened to double. */
    def read(name: String): Array[Double] = CodecGate.gated("NetCDF") {
      val v = variable(name)
      require(v.ncType != NcChar,
        s"variable '$name' is NC_CHAR text, not numeric grid data")
      val w = widthOf(v.ncType)
      val shape = shapeOf(v)
      // overflow-proof product: a corrupt header can declare dims
      // whose Long product WRAPS (even to 0), sliding past the gates
      // below with a wrong-shaped "success" (r14 review);
      // multiplyExact's overflow surfaces as a named CodecGate refusal
      require(shape.forall(_ >= 0),
        s"variable '$name': negative dimension in ${shape.mkString("x")}")
      val total = shape.foldLeft(1L)((a, b) => Math.multiplyExact(a, b.toLong))
      require(total <= Int.MaxValue, s"variable '$name' too large: $total")
      // ALLOCATION gate: classic NetCDF stores data uncompressed, so
      // a variable can never hold more bytes than the file — refuse
      // corrupt dim/record counts BEFORE allocating (r14 fuzz
      // battery). Validated against the TRUE file length, so a
      // header-prefix decode keeps its own "reads past the prefix"
      // diagnostic instead of blaming a healthy file (r14 review)
      require(total >= 0 && total * w <= fullLen,
        s"variable '$name': declared ${total * w} data bytes in a " +
          s"$fullLen-byte file — corrupt dims or record count")
      val out = new Array[Double](total.toInt)
      if (isRecordVar(v)) {
        val perRec = (total / math.max(1, numRecs)).toInt
        var r = 0
        while (r < numRecs) {
          readSlab(v.begin + r * recordStride, w, v.ncType, out, r * perRec, perRec)
          r += 1
        }
      } else readSlab(v.begin, w, v.ncType, out, 0, total.toInt)
      out
    }

    private def readSlab(at: Long, w: Int, t: Int, out: Array[Double],
        outOff: Int, n: Int): Unit = {
      require(at >= 0 && at + n.toLong * w <= bytes.length,
        s"data slab [$at, ${at + n.toLong * w}) outside file (${bytes.length} bytes)")
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      var i = 0
      var o = at.toInt
      while (i < n) {
        out(outOff + i) = t match {
          case NcByte => bb.get(o).toDouble
          case NcUByte => (bb.get(o) & 0xff).toDouble
          case NcShort => bb.getShort(o).toDouble
          case NcUShort => (bb.getShort(o) & 0xffff).toDouble
          case NcInt => bb.getInt(o).toDouble
          case NcUInt => (bb.getInt(o).toLong & 0xffffffffL).toDouble
          case NcFloat => bb.getFloat(o).toDouble
          case NcDouble => bb.getDouble(o)
          case NcInt64 => bb.getLong(o).toDouble
          case NcUInt64 => u64ToDouble(bb.getLong(o))
        }
        o += w
        i += 1
      }
    }
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  // ---- header decode ----------------------------------------------------

  private final class Reader(bytes: Array[Byte], val wide: Boolean = false) {
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var pos = 0
    def i4(): Int = { val v = bb.getInt(pos); pos += 4; v }
    def i8(): Long = { val v = bb.getLong(pos); pos += 8; v }
    /** A NON_NEG count: 4 bytes classic, 8 bytes CDF-5 — bounded to
      * Int here because every in-memory structure it sizes is. */
    def count(): Int =
      if (!wide) i4()
      else {
        val v = i8()
        require(v >= 0 && v <= Int.MaxValue, s"CDF-5 count $v out of range")
        v.toInt
      }
    def name(): String = {
      val n = count()
      // Long compare: pos + n wraps negative for n near Int.MaxValue,
      // and a negative LHS passes the <= check (r17 review)
      require(n >= 0 && pos.toLong + n <= bytes.length,
        s"bad name length $n at $pos")
      val s = new String(bytes, pos, n, "UTF-8")
      pos += pad4(n).toInt
      s
    }
  }

  /** Parse the header; payload access stays lazy via [[NcFile.read]].
    * Gzip-wrapped input (`.nc.gz`, a common archive distribution
    * shape) unwraps transparently — magic-sniffed, inflation bounded
    * in TWO stages like [[GeoTiff.decode]] (r16 verdict, optional
    * hardening (a)): [[Gz.gunzipHeaderBounded]] inflates at most a
    * [[Gz.HeaderProbeLen]] probe, [[headerDerivedBound]] reads the
    * file's OWN declared data extent from its header (classic NetCDF
    * stores data uncompressed at header-declared `begin` offsets, so
    * the extent is exact), and buffering stops there while the stream
    * still drains to its CRC-validated end. Headers the probe cannot
    * bound fall back to [[Gz.deflateBound]] (DEFLATE's own worst-case
    * expansion of the compressed length: never refuses a legitimate
    * stream, bounds a crafted few-KB bomb to a few MB); the
    * byte-array maximum is the outer clamp, which the classic-format
    * reads below already require. */
  def decode(bytes: Array[Byte]): NcFile = CodecGate.gated("NetCDF") {
    val b = if (Gz.isGz(bytes))
      Gz.gunzipHeaderBounded(bytes, "NetCDF")(headerDerivedBound)
      else bytes
    decodeImpl(b, b.length)
  }

  /** Declared content extent of a classic NetCDF file, computed from
    * an inflated PREFIX (stage 1 of [[decode]]'s two-stage gz bound):
    * the maximum byte position any variable's data can reach — fixed
    * vars end at `begin + Πdims·width`, record vars at
    * `begin + (numrecs−1)·recordStride + per-record size`. A TRUE
    * upper bound on every byte [[NcFile.read]] can touch (readSlab
    * addresses only declared slabs), so truncating there is invisible
    * to the decode; trailing alignment pad past the last slab is
    * discarded, never read. Returns None — caller falls back to the
    * deflate bound — whenever the header outruns the prefix, declares
    * nothing (no variables), refuses (STREAMING numrecs), or any
    * extent arithmetic overflows (crafted counts must widen the cap,
    * not under-cut it). A prefix without the CDF magic returns its
    * own length: the decoder's magic gate then refuses by name
    * without the stream inflating past the probe. Total by
    * construction (decodeImpl's own bounds checks surface as
    * exceptions, all caught). */
  private[graft] def headerDerivedBound(prefix: Array[Byte]): Option[Long] = {
    if (prefix.length < 4) return None
    if (!(prefix(0) == 'C' && prefix(1) == 'D' && prefix(2) == 'F'))
      return Some(prefix.length.toLong)
    try {
      val f = decodeImpl(prefix, Long.MaxValue)
      if (f.vars.isEmpty) None
      else {
        var need = 0L
        f.vars.foreach { v =>
          val w = widthOf(v.ncType).toLong
          val perRecCount = v.dimIds.dropWhile(id => f.dims(id).isRecord)
            .map(f.dims(_).length.toLong)
            .foldLeft(1L)((a, b) => Math.multiplyExact(a, b))
          val end =
            if (f.isRecordVar(v)) {
              if (f.numRecs == 0) v.begin
              else Math.addExact(v.begin, Math.addExact(
                Math.multiplyExact(f.numRecs - 1L, f.recordStride),
                Math.multiplyExact(perRecCount, w)))
            } else Math.addExact(v.begin, Math.multiplyExact(perRecCount, w))
          need = math.max(need, end)
        }
        Some(need)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Header-only parse from a bounded PREFIX of the file: variable
    * `begin` offsets validate against the real `fileLen` instead of
    * the prefix — what lets a planner learn shapes/dims without
    * pulling whole cubes through the driver ([[NcGridSource]]'s split
    * sizing). Throws if the header itself outruns the prefix; data
    * reads on the returned file will bound-check against the prefix
    * and fail loudly, by design. The prefix must be UNCOMPRESSED
    * bytes — the gz-wrapped planning path inflates its own bounded
    * prefix first ([[NcGridSource]].planningHeader). */
  def decodeHeader(prefix: Array[Byte], fileLen: Long): NcFile =
    CodecGate.gated("NetCDF")(decodeImpl(prefix, fileLen))

  private def decodeImpl(bytes: Array[Byte], fileLen: Long): NcFile = {
    require(bytes.length >= 8, "too short for a NetCDF header")
    require(bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      "missing CDF magic — not a classic NetCDF file")
    val version = bytes(3).toInt
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version (classic=1, 64-bit offset=2, " +
        "64-bit data=5; NetCDF-4/HDF5 files decode through " +
        "graft.sources.Hdf5)")
    // CDF-5 (the 64-bit data format): every NON_NEG count — numrecs,
    // name lengths, dim lengths, list/attribute nelems, dim ids,
    // vsize, begin — widens to 8 bytes, and nc_type gains the five
    // unsigned/64-bit codes
    val r = new Reader(bytes, wide = version == 5)
    r.pos = 4
    val numRecs = r.count() // STREAMING (-1) not supported: landed files only
    require(numRecs >= 0, "STREAMING record count not supported")

    def attList(): Seq[Att] = {
      val tag = r.i4(); val n = r.count()
      require((tag == 0x0C && n >= 0) || (tag == 0 && n == 0),
        s"bad attribute list tag $tag")
      (0 until n).map { _ =>
        val nm = r.name()
        val t = r.i4()
        require(r.wide || t <= NcDouble,
          s"attribute $nm: nc_type $t is CDF-5-only in a classic file")
        val count = r.count()
        require(count >= 0, s"bad attribute count for $nm")
        val w = widthOf(t)
        // Long arithmetic end-to-end: pad4(count·w).toInt wrapped to 0
        // for count·w = 2^32, sliding a crafted attribute past this
        // gate into a ~4 GiB value-array allocation (r17 review) — the
        // require must see the UNtruncated length
        val byteLen = pad4(count.toLong * w)
        require(r.pos + byteLen <= bytes.length,
          s"attribute $nm overruns file")
        val end = (r.pos + byteLen).toInt
        val att =
          if (t == NcChar)
            Att(nm, Some(new String(bytes, r.pos, count, "UTF-8")), Array.empty)
          else {
            val vals = new Array[Double](count)
            var i = 0
            while (i < count) {
              vals(i) = t match {
                case NcByte => r.bb.get(r.pos + i * w).toDouble
                case NcUByte => (r.bb.get(r.pos + i * w) & 0xff).toDouble
                case NcShort => r.bb.getShort(r.pos + i * w).toDouble
                case NcUShort => (r.bb.getShort(r.pos + i * w) & 0xffff).toDouble
                case NcInt => r.bb.getInt(r.pos + i * w).toDouble
                case NcUInt => (r.bb.getInt(r.pos + i * w).toLong & 0xffffffffL).toDouble
                case NcFloat => r.bb.getFloat(r.pos + i * w).toDouble
                case NcDouble => r.bb.getDouble(r.pos + i * w)
                case NcInt64 => r.bb.getLong(r.pos + i * w).toDouble
                case NcUInt64 => u64ToDouble(r.bb.getLong(r.pos + i * w))
              }
              i += 1
            }
            Att(nm, None, vals)
          }
        r.pos = end
        att
      }
    }

    val dimTag = r.i4(); val nDims = r.count()
    require((dimTag == 0x0A && nDims >= 0) || (dimTag == 0 && nDims == 0),
      s"bad dimension list tag $dimTag")
    val dims = (0 until nDims).map(_ => Dim(r.name(), r.count()))
    require(dims.count(_.isRecord) <= 1, "more than one record dimension")
    val gatts = attList()
    val varTag = r.i4(); val nVars = r.count()
    require((varTag == 0x0B && nVars >= 0) || (varTag == 0 && nVars == 0),
      s"bad variable list tag $varTag")
    val vars = (0 until nVars).map { _ =>
      val nm = r.name()
      val nd = r.count()
      require(nd >= 0 && nd <= dims.size, s"variable $nm: bad rank $nd")
      val dimIds = (0 until nd).map { _ =>
        val id = r.count() // dim ids are NON_NEG too (8 bytes in CDF-5)
        require(id >= 0 && id < dims.size, s"variable $nm: bad dim id $id")
        id
      }
      // the record dim may only appear first (spec: record dims are
      // outermost); misplaced means a corrupt or exotic file
      dimIds.drop(1).foreach(id => require(!dims(id).isRecord,
        s"variable $nm: record dimension not outermost"))
      val atts = attList()
      val t = r.i4()
      widthOf(t) // validates the type code
      require(r.wide || t <= NcDouble,
        s"variable $nm: nc_type $t is CDF-5-only in a classic file")
      // vsize: redundant (recomputed from dims) and overflow-prone
      if (version == 5) r.i8() else r.i4()
      val begin = if (version >= 2) r.i8() else r.i4().toLong
      // a RECORD variable's begin is where its per-record slice WOULD
      // land; with zero records written (a freshly-created time-series
      // file — valid, and exactly what encode() emits for numRecs = 0)
      // the offsets of the 2nd+ record variables sit past EOF and no
      // byte is ever read there, so the EOF gate applies only when
      // records exist (r14 property battery: the writer emitted a
      // file this gate then refused)
      val isRec = dimIds.headOption.exists(id => dims(id).isRecord)
      require(begin >= 0 && (begin <= fileLen || (isRec && numRecs == 0)),
        s"variable $nm: begin $begin outside file")
      Variable(nm, dimIds, atts, t, begin)
    }
    NcFile(version, numRecs, dims, gatts, vars, bytes, fileLen)
  }

  // ---- encode -----------------------------------------------------------

  /** Variable payload handed to [[encode]]: values row-major with the
    * record dimension (if any) outermost, widened to double; written
    * back at `ncType` precision. */
  final case class VarSpec(name: String, dimNames: Seq[String], ncType: Int,
      atts: Seq[Att] = Nil, values: Array[Double] = Array.empty)

  /** Write a classic (CDF-1) or 64-bit-offset (CDF-2) file. `dims`
    * with length 0 is the record dimension; `numRecs` gives its
    * materialized length. In-memory — bounded at 2 GiB; bigger
    * publishes go through [[encodeRecords]]. */
  def encode(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarSpec],
      numRecs: Int = 0, version: Int = 1): Array[Byte] = {
    val byName = vars.map(v => v.name -> v).toMap
    val bos = new java.io.ByteArrayOutputStream()
    writeNc(dims, gatts, vars, numRecs, version, bos,
      // record slices come straight out of the in-memory arrays
      (name, r) => {
        val v = byName(name)
        val perRec = (v.values.length.toLong / math.max(numRecs, 1)).toInt
        java.util.Arrays.copyOfRange(v.values, r * perRec, (r + 1) * perRec)
      },
      maxTotal = Int.MaxValue,
      tooBig = total => s"encoded file would be $total bytes — the CDF-2 " +
        "format supports >2 GiB files but this in-memory writer does not; " +
        "use encodeRecords (streaming) or write per-date slices",
      checkRecLens = true)
    bos.toByteArray
  }

  /** Record-at-a-time streaming writer — the >2 GiB publish path the
    * in-memory [[encode]] refuses (r10 verdict item 9). Emits the SAME
    * bytes [[encode]] builds (spec'd byte-identical), but sequentially
    * to `os`: header, fixed vars (which still carry their values
    * inline), then per record r each record variable's slice from
    * `recordOf(name, r)` — so peak memory is one record, never the
    * file. CDF-2 (`version = 2`) totals may exceed 2 GiB; CDF-1 past
    * 2 GiB still refuses (format limit, not a writer limit). */
  def encodeRecords(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarSpec],
      numRecs: Int, os: java.io.OutputStream,
      recordOf: (String, Int) => Array[Double], version: Int = 2): Unit =
    writeNc(dims, gatts, vars, numRecs, version, os, recordOf,
      maxTotal = Long.MaxValue, tooBig = _ => "", checkRecLens = false)

  private def writeNc(dims: Seq[Dim], gatts: Seq[Att], vars: Seq[VarSpec],
      numRecs: Int, version: Int, os: java.io.OutputStream,
      recordOf: (String, Int) => Array[Double], maxTotal: Long,
      tooBig: Long => String, checkRecLens: Boolean): Unit = {
    require(version == 1 || version == 2 || version == 5,
      s"bad version $version")
    val wide = version == 5 // CDF-5: every NON_NEG count is 8 bytes
    val cw = if (wide) 8 else 4
    val dimIdx = dims.map(_.name).zipWithIndex.toMap
    def isRec(v: VarSpec) =
      v.dimNames.headOption.exists(n => dims(dimIdx(n)).isRecord)

    def cnt(bb: ByteBuffer, v: Long): ByteBuffer =
      if (wide) bb.putLong(v) else bb.putInt(v.toInt)
    def nameBytes(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8")
      val bb = ByteBuffer.allocate(cw + pad4(b.length).toInt)
      cnt(bb, b.length).put(b).array()
    }
    def attBytes(a: Att): Array[Byte] = a.text match {
      case Some(t) =>
        val tb = t.getBytes("UTF-8")
        val bb = ByteBuffer.allocate(
          nameBytes(a.name).length + 4 + cw + pad4(tb.length).toInt)
        cnt(bb.put(nameBytes(a.name)).putInt(NcChar), tb.length).put(tb)
        bb.array()
      case None =>
        val bb = ByteBuffer.allocate(
          nameBytes(a.name).length + 4 + cw + a.nums.length * 8)
        cnt(bb.put(nameBytes(a.name)).putInt(NcDouble), a.nums.length)
        a.nums.foreach(bb.putDouble)
        bb.array()
    }
    def listBytes(tag: Int, items: Seq[Array[Byte]]): Array[Byte] = {
      if (items.isEmpty) Array.fill[Byte](4 + cw)(0)
      else {
        val bb = ByteBuffer.allocate(4 + cw + items.map(_.length).sum)
        cnt(bb.putInt(tag), items.size)
        items.foreach(bb.put)
        bb.array()
      }
    }
    val dimsB = listBytes(0x0A, dims.map(d => nameBytes(d.name) ++
      cnt(ByteBuffer.allocate(cw), d.length).array()))
    val gattsB = listBytes(0x0C, gatts.map(attBytes))

    def varSize(v: VarSpec): Long = {
      val fixed = v.dimNames.filterNot(n => dims(dimIdx(n)).isRecord)
        .map(n => dims(dimIdx(n)).length.toLong).product
      fixed * widthOf(v.ncType)
    }
    val beginWidth = if (version >= 2) 8 else 4
    def varHeaderLen(v: VarSpec): Int =
      nameBytes(v.name).length + cw + v.dimNames.size * cw +
        listBytes(0x0C, v.atts.map(attBytes)).length + 4 +
        (if (wide) 8 else 4) + beginWidth

    val headerLen = 4 + cw + dimsB.length + gattsB.length +
      (if (vars.isEmpty) 4 + cw else 4 + cw + vars.map(varHeaderLen).sum)
    // layout: fixed vars (padded to 4) then the record section
    val fixedVars = vars.filterNot(isRec)
    val recVars = vars.filter(isRec)
    val begins = scala.collection.mutable.Map.empty[String, Long]
    var off = pad4(headerLen)
    fixedVars.foreach { v => begins(v.name) = off; off = pad4(off + varSize(v)) }
    val recStride =
      if (recVars.size == 1) varSize(recVars.head)
      else recVars.map(v => pad4(varSize(v))).sum
    var recOff = off
    recVars.foreach { v =>
      begins(v.name) = recOff
      recOff += (if (recVars.size == 1) varSize(v) else pad4(varSize(v)))
    }
    vars.foreach(v => require(wide || v.ncType <= NcDouble,
      s"${v.name}: nc_type ${v.ncType} is CDF-5-only (write version = 5)"))
    val total = off + recStride * numRecs
    require(version >= 2 || total <= Int.MaxValue, "file too large for CDF-1")
    // the in-memory encode path caps maxTotal at 2 GiB (a bigger total
    // would truncate in allocate(total.toInt) and fail with a
    // confusing BufferOverflow far from the cause — r9 advice); the
    // streaming path passes Long.MaxValue and CDF-2 totals flow
    require(total <= maxTotal, tooBig(total))

    val dos = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(os, 1 << 16))
    // the header region is always small (names + fixed-width rows);
    // build it in one buffer, stream everything after it
    val hdr = ByteBuffer.allocate(pad4(headerLen).toInt)
      .order(ByteOrder.BIG_ENDIAN)
    hdr.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(version.toByte)
    cnt(hdr, numRecs)
    hdr.put(dimsB).put(gattsB)
    if (vars.isEmpty) cnt(hdr.putInt(0), 0)
    else {
      cnt(hdr.putInt(0x0B), vars.size)
      vars.foreach { v =>
        hdr.put(nameBytes(v.name))
        cnt(hdr, v.dimNames.size)
        v.dimNames.foreach(n => cnt(hdr, dimIdx(n)))
        hdr.put(listBytes(0x0C, v.atts.map(attBytes)))
        hdr.putInt(v.ncType)
        if (wide) hdr.putLong(pad4(varSize(v)))
        else hdr.putInt(math.min(pad4(varSize(v)), Int.MaxValue.toLong).toInt)
        if (version >= 2) hdr.putLong(begins(v.name))
        else hdr.putInt(begins(v.name).toInt)
      }
    }
    dos.write(hdr.array())
    def writeVal(t: Int, d: Double): Unit = t match {
      case NcByte => dos.writeByte(d.toByte)
      case NcUByte => dos.writeByte((d.toLong & 0xff).toInt)
      case NcShort => dos.writeShort(d.toShort)
      case NcUShort => dos.writeShort((d.toLong & 0xffff).toInt)
      case NcInt => dos.writeInt(d.toInt)
      case NcUInt => dos.writeInt((d.toLong & 0xffffffffL).toInt)
      case NcFloat => dos.writeFloat(d.toFloat)
      case NcDouble => dos.writeDouble(d)
      case NcInt64 => dos.writeLong(d.toLong)
      case NcUInt64 => dos.writeLong(
        if (d >= 9.223372036854776E18) (d - 1.8446744073709552E19).toLong
        else d.toLong)
      case NcChar => throw new IllegalArgumentException(
        "NC_CHAR data variables not supported by this writer")
    }
    var written: Long = pad4(headerLen)
    def padTo(target: Long): Unit =
      while (written < target) { dos.writeByte(0); written += 1 }
    fixedVars.foreach { v =>
      val w = widthOf(v.ncType)
      val n = (varSize(v) / w).toInt
      require(v.values.length == n,
        s"${v.name}: ${v.values.length} values for $n cells")
      var i = 0
      while (i < n) { writeVal(v.ncType, v.values(i)); i += 1 }
      written += varSize(v)
      padTo(pad4(written))
    }
    if (checkRecLens) recVars.foreach { v =>
      val perRec = (varSize(v) / widthOf(v.ncType)).toInt
      require(v.values.length == perRec.toLong * numRecs,
        s"${v.name}: ${v.values.length} values for $perRec x $numRecs cells")
    }
    var r = 0
    while (r < numRecs) {
      recVars.foreach { v =>
        val w = widthOf(v.ncType)
        val perRec = (varSize(v) / w).toInt
        val vals = recordOf(v.name, r)
        require(vals.length == perRec,
          s"${v.name} record $r: ${vals.length} values for $perRec cells")
        var i = 0
        while (i < perRec) { writeVal(v.ncType, vals(i)); i += 1 }
        written += varSize(v)
        // the classic special case: a SINGLE record variable packs
        // records unpadded; several are each padded to 4
        if (recVars.size > 1) padTo(pad4(written))
      }
      r += 1
    }
    dos.flush()
  }

  // ---- grid mapping (the xarray `ds[var].isel(time=i)` shape) ----------

  /** One decoded grid cell row: `(t, timeMicros, x, y, lon, lat,
    * value)`; `value` NaN = fill. */
  final case class GridCell(t: Int, timeMicros: Option[Long], x: Int, y: Int,
      lon: Double, lat: Double, value: Double)

  private val LonNames = Set("lon", "longitude", "x")
  private val LatNames = Set("lat", "latitude", "y")
  private val TimeNames = Set("time", "t")

  /** CF `"<unit> since <epoch>"` → micros-per-step and epoch micros.
    * Returns None when the units string isn't a recognizable CF time. */
  private[graft] def cfTimeBase(units: String): Option[(Long, Long)] = {
    val m = "(?i)^\\s*(seconds?|minutes?|hours?|days?)\\s+since\\s+(.+?)\\s*$"
      .r.findFirstMatchIn(units)
    m.flatMap { g =>
      val step = g.group(1).toLowerCase match {
        case s if s.startsWith("second") => 1000000L
        case s if s.startsWith("minute") => 60L * 1000000
        case s if s.startsWith("hour") => 3600L * 1000000
        case _ => 86400L * 1000000
      }
      // epoch forms seen in the wild: "1970-01-01", "1900-01-01 00:00:00.0",
      // "2000-01-01T00:00:00Z"
      val e = "^(\\d{4})-(\\d{1,2})-(\\d{1,2})([T ](\\d{1,2}):(\\d{2})(:(\\d{2}))?)?"
        .r.findFirstMatchIn(g.group(2))
      e.map { d =>
        val ld = java.time.LocalDateTime.of(d.group(1).toInt, d.group(2).toInt,
          d.group(3).toInt,
          Option(d.group(5)).map(_.toInt).getOrElse(0),
          Option(d.group(6)).map(_.toInt).getOrElse(0),
          Option(d.group(8)).map(_.toInt).getOrElse(0))
        (step, ld.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
      }
    }
  }

  /** Decode one variable of one file into grid cells — the exact slice
    * walk the reference does per `.nc`: for each time index, the 2-D
    * (y, x) grid with CF unpacking. Axes resolve by dimension NAME
    * (lon/longitude/x, lat/latitude/y, time/t — case-insensitive) with
    * the trailing two dims as the (y, x) fallback; singleton extra
    * dims (e.g. level=1) are squeezed; >1 non-singleton extra dim is
    * refused loudly.
    *
    * `onlyT` restricts to ONE time index and reads only that slice's
    * bytes (random-access into the fixed/record layout) — what lets
    * [[NcGridSource]] split a multi-step cube per (file × step)
    * without each task paying the whole cube's decode. */
  def gridCells(f: NcFile, varName: String,
      onlyT: Option[Int] = None): Iterator[GridCell] = {
    val v = f.variable(varName)
    val shape = f.shapeOf(v)
    val dimNames = v.dimIds.map(f.dims(_).name)
    val lower = dimNames.map(_.toLowerCase)
    def findAxis(names: Set[String], fallback: Int): Int =
      lower.indexWhere(names.contains) match {
        case -1 => fallback
        case i => i
      }
    require(v.dimIds.size >= 2, s"$varName: need at least 2 dims for a grid")
    val xAxis = findAxis(LonNames, dimNames.size - 1)
    val yAxis = findAxis(LatNames, dimNames.size - 2)
    require(xAxis != yAxis, s"$varName: could not resolve distinct x/y axes")
    val tAxis = lower.indexWhere(TimeNames.contains)
    // a 2-D (time, x) SERIES is not a georeferenced grid: the y-axis
    // FALLBACK (dims.size - 2) would land on the time dimension and
    // double-count its stride — off the end of the variable at best,
    // silently inside the NEXT record variable's slab at worst (r14
    // review, found by the .nc.gz spec). Refuse by name instead.
    require(yAxis != tAxis && xAxis != tAxis,
      s"$varName: could not resolve x/y axes distinct from the time " +
        s"axis (dims ${dimNames.mkString("(", ", ", ")")}) — a " +
        "(time, series) variable is not a 2-D grid; reshape upstream")
    val extra = dimNames.indices
      .filterNot(i => i == xAxis || i == yAxis || i == tAxis)
    extra.foreach(i => require(shape(i) == 1,
      s"$varName: non-singleton extra dimension '${dimNames(i)}' " +
        s"(${shape(i)}) — slice it upstream"))

    // coordinate variables: 1-D, named like the dimension
    def coords(axis: Int): Option[Array[Double]] =
      f.vars.find(cv => cv.name == dimNames(axis) && cv.dimIds == Seq(v.dimIds(axis)))
        .map(cv => f.read(cv.name))
    val lons = coords(xAxis)
    val lats = coords(yAxis)
    val times: Option[Array[Long]] =
      if (tAxis < 0) None
      else f.vars.find(cv => cv.name == dimNames(tAxis) &&
          cv.dimIds == Seq(v.dimIds(tAxis)))
        .flatMap { cv =>
          cv.att("units").flatMap(_.text).flatMap(cfTimeBase).map {
            case (step, epoch) =>
              f.read(cv.name).map(t => epoch + (t * step).toLong)
          }
        }

    // CF unpacking; fill matched on the RAW packed value
    val scale = v.att("scale_factor").flatMap(_.num).getOrElse(1.0)
    val offset = v.att("add_offset").flatMap(_.num).getOrElse(0.0)
    val fill = v.att("_FillValue").orElse(v.att("missing_value")).flatMap(_.num)

    val nt = if (tAxis >= 0) shape(tAxis) else 1
    val ny = shape(yAxis); val nx = shape(xAxis)
    // row-major strides over the full shape
    val strides = new Array[Long](shape.length)
    var acc = 1L
    for (i <- shape.indices.reverse) { strides(i) = acc; acc *= shape(i) }

    // random-access raw reads: a single t-slice touches only its own
    // bytes (record slabs resolved through recordStride)
    val w = widthOf(v.ncType)
    require(v.ncType != NcChar,
      s"variable '$varName' is NC_CHAR text, not numeric grid data")
    val bb = ByteBuffer.wrap(f.bytes).order(ByteOrder.BIG_ENDIAN)
    val isRec = f.isRecordVar(v)
    val perRec = if (isRec) shape.drop(1).map(_.toLong).product else 0L
    def rawAt(idx: Long): Double = {
      val off =
        if (isRec) v.begin + (idx / perRec) * f.recordStride + (idx % perRec) * w
        else v.begin + idx * w
      require(off >= 0 && off + w <= f.bytes.length,
        s"$varName: cell $idx at byte $off outside file")
      v.ncType match {
        case NcByte => bb.get(off.toInt).toDouble
        case NcUByte => (bb.get(off.toInt) & 0xff).toDouble
        case NcShort => bb.getShort(off.toInt).toDouble
        case NcUShort => (bb.getShort(off.toInt) & 0xffff).toDouble
        case NcInt => bb.getInt(off.toInt).toDouble
        case NcUInt => (bb.getInt(off.toInt).toLong & 0xffffffffL).toDouble
        case NcFloat => bb.getFloat(off.toInt).toDouble
        case NcDouble => bb.getDouble(off.toInt)
        case NcInt64 => bb.getLong(off.toInt).toDouble
        case NcUInt64 => u64ToDouble(bb.getLong(off.toInt))
        case t => throw new IllegalArgumentException(
          s"$varName: nc_type $t unsupported on the grid path")
      }
    }

    onlyT.foreach(t => require(t >= 0 && t < nt,
      s"$varName: time index $t outside [0, $nt)"))
    val tIter = onlyT match {
      case Some(t) => Iterator.single(t)
      case None => Iterator.range(0, nt)
    }
    for {
      t <- tIter
      y <- Iterator.range(0, ny)
      x <- Iterator.range(0, nx)
    } yield {
      var idx = y * strides(yAxis) + x * strides(xAxis)
      if (tAxis >= 0) idx += t * strides(tAxis)
      val raw = rawAt(idx)
      val isFill = fill.exists(fv => raw == fv || (raw.isNaN && fv.isNaN)) ||
        (fill.isEmpty && raw.isNaN)
      GridCell(t, times.map(_(t)), x, y,
        lons.map(_(x)).getOrElse(x.toDouble),
        lats.map(_(y)).getOrElse(y.toDouble),
        if (isFill) Double.NaN else raw * scale + offset)
    }
  }
}

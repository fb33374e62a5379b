package graft.sources

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Shared Hadoop-FS plumbing for the five grid DSv2 sources (Tiff, Nc,
  * Grib, Hdf, H5; see [[GridFormat]]) — one place for glob semantics,
  * byte reads and the bounded planning-header read, so a fix
  * propagates to every codec connector (r9 review: the sources had
  * drifted copies). */
object GridFiles {

  /** Expand a path/glob to concrete file paths; a bare directory lists
    * its `*.$ext` leaves. A gz-wrapped file whose UNWRAPPED sibling is
    * co-listed (`x.grb.gz` beside `x.grb`) is dropped: the pair is one
    * archive twice — [[Gz.gunzipLanding]]'s crash window between its
    * atomic move and the wrapped-original delete legally leaves both
    * twins on disk momentarily, and a listing that kept both would
    * double-read every record of that archive. The unwrapped twin wins
    * (it is the complete post-move output and the one whose planner
    * fans out per record).
    *
    * Freshness caveat (r16 advice): in the CONDITIONAL re-download
    * path a fresh `.gz` can land over a STALE unwrapped twin before
    * the unwrap completes, so a listing taken in that window reads the
    * previous generation — consistent but stale. The guard trades that
    * momentary stale read for never double-reading; callers needing
    * freshness must sequence listing after
    * [[HttpFetcher.fetchGunzippedIfChanged]] returns (which only
    * returns after the unwrap has atomically landed). */
  def list(pathOrGlob: String, exts: String*): Seq[String] = {
    val (fs, p) = fileSystem(pathOrGlob)
    val expanded =
      if (fs.isDirectory(p))
        exts.flatMap(ext => Option(fs.globStatus(new Path(p, s"*.$ext")))
          .toSeq.flatten)
      else Option(fs.globStatus(p)).toSeq.flatten
    val all = expanded.filter(_.isFile).map(_.getPath.toString).distinct
    // suffix test case-insensitive to match what gunzip-on-landing
    // accepts (`X.GRB.GZ` unwraps too); the SIBLING lookup stays
    // case-exact because the unwrap strips exactly three characters
    // and preserves the stem verbatim (r16 review)
    def isGzName(f: String) = f.length > 3 && f.toLowerCase.endsWith(".gz")
    val plain = all.filterNot(isGzName).toSet
    all.filterNot(f => isGzName(f) && plain.contains(f.dropRight(3)))
      .sorted
  }

  private def fileSystem(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (HadoopFs.fileSystem(p), p)
  }

  /** `read` over `file`'s opened stream, closed after; its second
    * argument looks up the file's length. */
  private[sources] def reading[A](file: String)(
      read: (FSDataInputStream, () => Long) => A): A = {
    val (fs, p) = fileSystem(file)
    val in = fs.open(p)
    try read(in, () => fs.getFileStatus(p).getLen) finally in.close()
  }

  /** Whole-file bytes (codec decode is in-memory by design — grid
    * files are slice-sized, not corpus-sized). */
  def readBytes(file: String): Array[Byte] =
    reading(file)((in, _) => in.readAllBytes())

  /** Last `n` bytes of the file (fewer when the file is shorter) —
    * the gzip ISIZE trailer read the gz-wrapped planning path uses. */
  def readTail(file: String, n: Int): Array[Byte] =
    reading(file) { (in, length) =>
      val len = length()
      val buf = new Array[Byte](math.min(len, n.toLong).toInt)
      in.readFully(len - buf.length, buf)
      buf
    }

  /** First `maxLen` bytes plus the file's true length — the bounded
    * header read a planner uses instead of buffering whole cubes. */
  def readPrefix(file: String, maxLen: Int): (Array[Byte], Long) =
    reading(file) { (in, length) =>
      val len = length()
      val buf = new Array[Byte](math.min(len, maxLen.toLong).toInt)
      in.readFully(0L, buf)
      (buf, len)
    }

  /** Planner prefix size: classic NetCDF headers, HDF4 DD blocks with
    * SDS metadata and HDF5 superblocks with object headers are KBs in
    * practice; 1 MB covers thousand-layer products. */
  private[graft] val HeaderPrefixBytes = 1 << 20

  /** Bounded planning-header read: `decodeHeader` gets the first
    * [[HeaderPrefixBytes]] bytes and the file's true length, and only
    * a file LONGER than that prefix falls back to `decode` of the
    * whole file (its header may outrun the prefix — once per file, at
    * plan time only); a file the prefix holds whole refuses as the
    * prefix decode did. `prefix` is the caller's own read of it, when
    * it holds one already. */
  def planningHeader[A](file: String, decodeHeader: (Array[Byte], Long) => A,
      decode: Array[Byte] => A,
      prefix: Option[(Array[Byte], Long)] = None): A = {
    val (head, len) = prefix.getOrElse(readPrefix(file, HeaderPrefixBytes))
    try decodeHeader(head, len)
    catch { case _: Exception if len > head.length => decode(readBytes(file)) }
  }

  /** Shared (file × layer) split planning for the layer-grouped grid
    * connectors ([[HdfGridSource]]/[[H5GridSource]]): path-pruned
    * files; per-file layer names from `namesOf` (a throw ⇒ ONE
    * unprunable whole-file split, `None` layers, so corrupt files
    * fail loudly task-side); layer predicates prune at planning; and
    * interleaved grouping caps a wide file at `maxSplitsPerFile`
    * splits so each split pays one file read. */
  def layerSplits(files: Seq[String], pathPred: String => Boolean,
      namesOf: String => Seq[String], layerPred: String => Boolean,
      maxSplitsPerFile: Int): Seq[(String, Option[Seq[String]])] =
    files.filter(pathPred).flatMap { f =>
      val namesKnown =
        try Some(namesOf(f))
        catch { case _: Exception => None }
      namesKnown match {
        case None => Seq((f, None))
        case Some(names) =>
          val matching = names.filter(layerPred)
          val nSplits = math.max(1, math.min(matching.size, maxSplitsPerFile))
          (0 until nSplits).flatMap { k =>
            val group = matching.zipWithIndex
              .collect { case (n, i) if i % nSplits == k => n }
            if (group.isEmpty) None else Some((f, Some(group)))
          }
      }
    }
}

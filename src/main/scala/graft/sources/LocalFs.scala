package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of graft sessions ([[graft.GraftConf.builder]]
  * registers it as `spark.hadoop.fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permissions inside the
  * JVM. Without native libhadoop, the stock raw layer runs a `chmod`
  * process for every file, `.crc` file and directory it creates.
  *
  * Rename keeps the one override of Hive's `ProxyLocalFileSystem`, the
  * `file:` implementation registered otherwise on Spark's classpath: it
  * returns false rather than replace an existing file.
  *
  * Hadoop caches file systems by scheme and user, not by conf, so the
  * first `file:` file system made in a JVM serves every later lookup. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object LocalFs {
  private val SetUidGid = Integer.parseInt("6000", 8)

  /** Sets the mode bits the shell's `chmod <4-digit octal>` sets, which
    * the stock raw layer runs: for a directory, GNU chmod keeps the
    * set-user-ID and set-group-ID bits a 4-digit mode cannot name, where
    * `chmod(2)` alone would clear them. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val kept =
        if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SetUidGid
        else 0
      Files.setAttribute(f, "unix:mode", Int.box(permission.toShort | kept))
    }
  }
}

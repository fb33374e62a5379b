package graft

import graft.sources.LocalFs
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import scala.jdk.CollectionConverters._

/** [[LocalFs]] leaves every mode bit, checksum and rename result as
  * Hadoop's stock `file:` layer does; it only sets permissions without
  * running a `chmod` process. Parity is checked against a stock
  * `RawLocalFileSystem` doing the same operations under the same umask. */
class LocalFsSpec extends SparkSpec {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** The stock raw layer and LocalFs's, both under umask 027: a file
    * the raw layer created without setting its mode would show the
    * process umask instead. */
  private def rawLayers(): Seq[RawLocalFileSystem] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    Seq(new RawLocalFileSystem, new LocalFs.Raw).map { fs =>
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
  }

  /** Runs `ops` under a fresh directory with each raw layer and returns
    * the mode of every path made, by path relative to that directory. */
  private def modesAfter(setup: NioPath => Unit)(ops: (FileSystem, Path) => Unit): Seq[Map[String, Int]] =
    rawLayers().map { fs =>
      val root = Files.createTempDirectory("graft_localfs")
      setup(root)
      ops(fs, new Path(root.toUri))
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString -> mode(p)).toMap
      finally walk.close()
    }

  test("file create, nested mkdirs and setPermission set the stock raw layer's mode bits") {
    val perms = Seq("0600", "0640", "0700", "0755", "1777")
    val Seq(stock, ours) = modesAfter(_ => ()) { (fs, root) =>
      fs.create(new Path(root, "created")).close()
      fs.mkdirs(new Path(root, "a/b/c"))
      perms.foreach { m =>
        val file = new Path(root, s"file-$m")
        val dir = new Path(root, s"dir-$m")
        fs.create(file).close()
        fs.mkdirs(dir)
        fs.setPermission(file, new FsPermission(octal(m).toShort))
        fs.setPermission(dir, new FsPermission(octal(m).toShort))
      }
    }
    assert(ours == stock)
    // the umask was applied, not the process's own
    assert(stock("created") == octal("640") && stock("a/b/c") == octal("750"))
    perms.foreach(m => assert(stock(s"file-$m") == octal(m) && stock(s"dir-$m") == octal(m)))
  }

  test("a directory under a set-group-ID parent keeps the bit, as shell chmod leaves it") {
    val Seq(stock, ours) = modesAfter(root => Files.setAttribute(root, "unix:mode", octal("2775"))) {
      (fs, root) =>
        fs.mkdirs(new Path(root, "child/grandchild"))
        fs.setPermission(root, new FsPermission(octal("0755").toShort))
        fs.create(new Path(root, "child/file")).close()
    }
    assert(ours == stock)
    assert(stock("") == octal("2755"))
    assert(stock("child") == octal("2750") && stock("child/grandchild") == octal("2750"))
    assert(stock("child/file") == octal("640"))
  }

  test("the session's file: system is a checksummed LocalFs whose rename never replaces a file") {
    val fs = FileSystem.newInstance(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    try {
      assert(fs.isInstanceOf[LocalFs] && fs.isInstanceOf[ChecksumFileSystem])
      val proxy = new ProxyLocalFileSystem
      proxy.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val dir = Files.createTempDirectory("graft_localfs_rename")
      def write(name: String, text: String): Path = {
        val p = new Path(dir.resolve(name).toUri)
        val out = fs.create(p)
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      def read(p: Path): String = {
        val in = fs.open(p)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      assert(Files.exists(Paths.get(dir.toString, ".src.crc")))
      // Hive's ProxyLocalFileSystem, the file: default otherwise, answers the same
      assert(!proxy.rename(src, dst))
      assert(!fs.rename(src, dst))
      assert(read(src) == "new" && read(dst) == "old")
      val moved = new Path(dir.resolve("moved").toUri)
      assert(fs.rename(src, moved) && read(moved) == "new" && !fs.exists(src))
      proxy.close()
    } finally fs.close()
  }
}

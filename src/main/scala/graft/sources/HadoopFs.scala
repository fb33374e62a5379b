package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.graft.ColumnBridge

/** The one Hadoop `Configuration` graft's own file access uses (grid
  * connectors, the published table's manifests, readers and writers).
  *
  * It is built once per JVM from the running SparkConf the way Spark
  * builds `SparkContext.hadoopConfiguration`, so the session's
  * `spark.hadoop.*` keys (credentials, `fs.<scheme>.impl`) reach every
  * lookup. With no SparkEnv running it holds Hadoop's plain defaults;
  * it is rebuilt when the SparkEnv changes. A fresh `new Configuration()`
  * per call would parse Hadoop's XML defaults again on its first read.
  *
  * The conf is shared: callers read it and never set a key on it. A
  * caller that needs a key set takes a copy from [[confWith]]. */
object HadoopFs {

  /** The conf and the SparkConf it was built from (null: no SparkEnv). */
  private final class Built(val from: SparkConf, val conf: Configuration)
  @volatile private var built: Built = _

  def conf: Configuration = {
    val from = Option(SparkEnv.get).map(_.conf).orNull
    val b = built
    if (b != null && (b.from eq from)) b.conf
    else {
      val c = if (from == null) new Configuration() else ColumnBridge.hadoopConf(from)
      built = new Built(from, c)
      c
    }
  }

  /** A copy of [[conf]] with `key` set. */
  def confWith(key: String, value: String): Configuration = {
    val c = new Configuration(conf)
    c.set(key, value)
    c
  }

  def fileSystem(path: Path): FileSystem = path.getFileSystem(conf)

  /** A parquet-mr reader over `file` that reads only `conf`:
    * `ParquetReader.builder(support, path)` builds and parses a default
    * conf of its own before `withConf` replaces it. */
  def parquetReader[T](support: ReadSupport[T], file: Path,
      conf: Configuration): ParquetReader[T] =
    new ParquetReader.Builder[T](HadoopInputFile.fromPath(file, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[T] = support
    }.build()
}

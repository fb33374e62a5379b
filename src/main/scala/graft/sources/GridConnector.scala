package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The DataSource V2 skeleton of the file-grid connectors
  * ([[TiffGridSource]], [[NcGridSource]], [[GribGridSource]],
  * [[HdfGridSource]], [[H5GridSource]]). The skeleton owns the Spark
  * classes — table, column-pruning scan builder, scan, reader — and a
  * format supplies only its own half as a [[GridFormat]]: options,
  * schema, split planner and a per-split [[GridCells]] cursor. A new
  * grid format adds a planner and a cursor, never DSv2 classes. */
trait GridFormat extends Serializable {
  /** Table name, shown in plans. */
  def name: String
  def schema: StructType
  /** Keep missing cells as NULL-`value` rows instead of dropping them
    * (the format's `keepNodata`/`keepFill`/`keepMissing` option). */
  def keepMissing: Boolean
  /** The scan's splits. `filters` are every pushed filter, for split
    * pruning only: Spark re-evaluates all of them post-scan. */
  def planSplits(filters: Seq[Filter]): Array[InputPartition]
  /** Task-side cursor over one split's cells. */
  def cells(split: InputPartition): GridCells
}

/** Writes one column of the current cell into a row slot. */
trait CellSetter { def set(row: InternalRow, i: Int): Unit }

/** Cursor over one split's cells, missing ones included: the shared
  * reader drops or keeps those. `path` and `value` are every grid's
  * columns; [[column]] resolves the format's other columns. */
abstract class GridCells {
  /** Advance to the next cell; false once the split is exhausted. */
  def next(): Boolean
  def path: UTF8String
  def value: Double
  /** The current cell is nodata, fill or a bitmap hole. */
  def missing: Boolean = value.isNaN
  /** Setter of the format's own column `name`, bound to this cursor. */
  def column(name: String): CellSetter
  protected def unknown(name: String): Nothing =
    throw new IllegalArgumentException(s"unknown column $name")
}

/** A format's `TableProvider`: its option parsing, over the shared
  * table. */
abstract class GridProvider(schema: StructType) extends TableProvider {
  protected def format(options: util.Map[String, String]): GridFormat

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FileGridTable(format(properties))

  protected def required(options: util.Map[String, String], key: String): String = {
    val v = options.get(key)
    require(v != null, s"${getClass.getSimpleName} requires option(\"$key\", ...)")
    v
  }

  protected def flag(options: util.Map[String, String], key: String): Boolean =
    "true".equalsIgnoreCase(options.getOrDefault(key, "false"))
}

final class FileGridTable(format: GridFormat) extends Table with SupportsRead {
  override def name(): String = format.name
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileGridScanBuilder(format)
}

final class FileGridScanBuilder(format: GridFormat) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = format.schema
  private var filters: Seq[Filter] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** SPLIT pruning, not row filtering: the planner may skip splits the
    * filters rule out, but every filter is reported UNPUSHED (returned
    * verbatim, [[pushedFilters]] empty), so Spark still evaluates them
    * post-scan and pruning can only remove splits that cannot produce
    * a matching row. */
  override def pushFilters(pushed: Array[Filter]): Array[Filter] = {
    filters = pushed.toSeq
    pushed
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan = new FileGridScan(format, required, filters)
}

final class FileGridScan(format: GridFormat, required: StructType, filters: Seq[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    format.planSplits(filters)
  override def createReaderFactory(): PartitionReaderFactory =
    new FileGridReaderFactory(format, required.fieldNames)
}

object FileGridScan {
  /** The decidable string predicates on `column` — equality, contains,
    * prefix, suffix — that split planners prune by. */
  def stringPreds(filters: Seq[Filter], column: String): Seq[String => Boolean] =
    filters.collect {
      case EqualTo(`column`, v: String) => (s: String) => s == v
      case StringContains(`column`, v) => (s: String) => s.contains(v)
      case StringStartsWith(`column`, v) => (s: String) => s.startsWith(v)
      case StringEndsWith(`column`, v) => (s: String) => s.endsWith(v)
    }
}

final class FileGridReaderFactory(format: GridFormat, fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(split: InputPartition): PartitionReader[InternalRow] =
    new FileGridReader(format.cells(split), fields, format.keepMissing)
}

/** Builds ONLY the requested columns of each kept cell. Columns resolve
  * to setters once per reader, so the per-cell loop does no string
  * comparison. */
final class FileGridReader(cells: GridCells, fields: Array[String],
    keepMissing: Boolean) extends PartitionReader[InternalRow] {
  private val setters: Array[CellSetter] = fields.map[CellSetter] {
    case "path" => (row, i) => row.update(i, cells.path)
    case "value" => (row, i) =>
      if (cells.missing) row.setNullAt(i) else row.setDouble(i, cells.value)
    case other => cells.column(other)
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (cells.next()) {
      if (keepMissing || !cells.missing) {
        val row = new GenericInternalRow(setters.length)
        var i = 0
        while (i < setters.length) {
          setters(i).set(row, i)
          i += 1
        }
        current = row
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

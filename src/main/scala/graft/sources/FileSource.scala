package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The DataSource V2 read chain shared by the file formats
  * ([[DbfDataSource]], [[ShpDataSource]], [[XlsDataSource]],
  * [[XlsxDataSource]]): table → scan → one partition → one reader over
  * the rows the format decodes on the executor.
  *
  * One file per load: `path` is opened as a single file (a directory or
  * glob is not listed), so a load is one partition and one task. These
  * formats carry small dimension inputs (the reference's are 346
  * comunas); anything analytical converts to parquet once.
  *
  * A format supplies only [[schemaOf]] (driver side) and [[decode]]
  * (executor side). Both receive the local file path (a `file:` scheme
  * stripped) and the same load options, so each option is parsed in one
  * place. The provider is serialized into the reader factory, so a
  * format keeps no state of its own.
  */
abstract class FileSource extends TableProvider with DataSourceRegister with Serializable {

  /** Schema of `file` under `options`. */
  def schemaOf(file: String, options: CaseInsensitiveStringMap): StructType

  /** The rows of `file` in `schema`, the schema [[schemaOf]] returned
    * for the same options. */
  def decode(file: String, options: CaseInsensitiveStringMap,
             schema: StructType): Iterator[InternalRow]

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    schemaOf(FileSource.stripScheme(options), options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FileTable(this, schema,
      FileSource.stripScheme(new CaseInsensitiveStringMap(properties)), properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = false
}

private[sources] object FileSource {
  /** The `path` option as a local file path: a `file:` scheme stripped. */
  def stripScheme(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "a file source needs a path: load(path)")
    p.stripPrefix("file:")
  }
}

/** Table, scan builder, scan and batch in one: nothing is pushed down,
  * so each step hands back the same single-file plan. */
private[sources] class FileTable(source: FileSource, schema: StructType,
                                 file: String, options: Map[String, String])
  extends Table with SupportsRead with ScanBuilder with Scan with Batch {
  override def name(): String = s"${source.shortName()}:$file"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = this
  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(FilePartition(file, options))
  override def createReaderFactory(): PartitionReaderFactory =
    new FileReaderFactory(source, schema)
}

private[sources] case class FilePartition(file: String, options: Map[String, String])
  extends InputPartition

private[sources] class FileReaderFactory(source: FileSource, schema: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FilePartition]
    val rows = source.decode(p.file, new CaseInsensitiveStringMap(p.options.asJava), schema)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for dBASE `.dbf` files — the attribute table of
  * an ESRI shapefile (SURVEY §2.1 S5; ref `temperaturas_rm.py:106` and
  * nb c25 read `datos/Comunas/comunas.shp` whose attributes live in
  * `comunas.dbf`). DBF is a trivial fixed-width binary format: 32-byte
  * header, 32-byte field descriptors, then fixed-length ASCII records.
  *
  * Usage: `spark.read.format("graft.sources.DbfDataSource").load(path)`.
  * Option `gid=true` prepends a `_gid` int column with the 1-based
  * record number — the positional key that joins these attribute rows
  * 1:1 with the same shapefile's `.shp` geometry records
  * ([[ShpDataSource]]).
  *
  * Type mapping: C→string, N/F→double (int-scaled N→long), L→boolean,
  * D→date (yyyymmdd). Deleted records (0x2A flag) are skipped (but
  * still advance `_gid`, keeping alignment with the .shp side).
  *
  * One file per load, through the shared [[FileSource]] chain.
  */
class DbfDataSource extends FileSource {
  override def shortName(): String = "dbf"

  private def withGid(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("gid", false)

  override def schemaOf(file: String, options: CaseInsensitiveStringMap): StructType = {
    val base = DbfUtil.schemaOf(file)
    if (withGid(options))
      StructType(StructField("_gid", IntegerType, nullable = false) +: base.fields)
    else base
  }

  override def decode(file: String, options: CaseInsensitiveStringMap,
                      schema: StructType): Iterator[InternalRow] = {
    val (fields, records) = DbfUtil.readAll(file)
    val gid = withGid(options)
    val dataSchema = if (gid) StructType(schema.fields.drop(1)) else schema
    records.iterator.zipWithIndex.collect {
      case (rec, i) if rec(0) != '*' =>   // 0x2A marks a deleted record
        val values = DbfUtil.parseValues(rec, fields, dataSchema)
        InternalRow.fromSeq(if (gid) Integer.valueOf(i + 1) +: values else values)
    }
  }
}

private[sources] object DbfUtil {
  /** (name, type char, offset-in-record, length) */
  case class DbfField(name: String, ftype: Char, offset: Int, len: Int, decimals: Int)

  def readHeader(bytes: Array[Byte]): (Seq[DbfField], Int, Int, Int) = {
    def u8(i: Int) = bytes(i) & 0xff
    val nRecords = u8(4) | (u8(5) << 8) | (u8(6) << 16) | (u8(7) << 24)
    val headerLen = u8(8) | (u8(9) << 8)
    val recordLen = u8(10) | (u8(11) << 8)
    val fields = Seq.newBuilder[DbfField]
    var pos = 32
    var offset = 1   // record byte 0 is the deletion flag
    while (pos + 32 <= headerLen && (bytes(pos) & 0xff) != 0x0d) {
      val rawName = new String(bytes, pos, 11, StandardCharsets.US_ASCII)
      val name = rawName.takeWhile(_ != '\u0000').trim
      val ftype = (bytes(pos + 11) & 0xff).toChar
      val len = bytes(pos + 16) & 0xff
      val dec = bytes(pos + 17) & 0xff
      fields += DbfField(name, ftype, offset, len, dec)
      offset += len
      pos += 32
    }
    (fields.result(), nRecords, headerLen, recordLen)
  }

  def sparkType(f: DbfField): DataType = f.ftype match {
    case 'N' if f.decimals == 0 && f.len < 10 => IntegerType
    case 'N' if f.decimals == 0 => LongType
    case 'N' | 'F' => DoubleType
    case 'L' => BooleanType
    case 'D' => DateType
    case _ => StringType
  }

  def schemaOf(file: String): StructType = {
    val bytes = Files.readAllBytes(Paths.get(file))
    val (fields, _, _, _) = readHeader(bytes)
    StructType(fields.map(f => StructField(f.name, sparkType(f), nullable = true)))
  }

  def readAll(file: String): (Seq[DbfField], Array[Array[Byte]]) = {
    val bytes = Files.readAllBytes(Paths.get(file))
    val (fields, nRecords, headerLen, recordLen) = readHeader(bytes)
    val recs = Array.tabulate(nRecords) { i =>
      val start = headerLen + i * recordLen
      java.util.Arrays.copyOfRange(bytes, start, start + recordLen)
    }
    (fields, recs)
  }

  def parseValues(rec: Array[Byte], fields: Seq[DbfField], schema: StructType): Seq[Any] =
    fields.zip(schema.fields).map { case (f, sf) =>
      val raw = new String(rec, f.offset, f.len, StandardCharsets.US_ASCII).trim
      if (raw.isEmpty) null
      else sf.dataType match {
        case IntegerType => java.lang.Integer.valueOf(raw.toInt)
        case LongType => java.lang.Long.valueOf(raw.toLong)
        case DoubleType => java.lang.Double.valueOf(raw.toDouble)
        case BooleanType => java.lang.Boolean.valueOf("YyTt".contains(raw.head))
        case DateType =>
          val d = java.time.LocalDate.of(raw.take(4).toInt, raw.slice(4, 6).toInt, raw.slice(6, 8).toInt)
          java.lang.Integer.valueOf(d.toEpochDay.toInt)
        case _ => UTF8String.fromString(raw)
      }
    }
}

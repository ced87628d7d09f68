package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The part of the [[FileSource]] chain the two spreadsheet formats
  * ([[XlsxDataSource]], [[XlsDataSource]]) share: options, header
  * handling and cell typing. A format supplies only [[grid]], the
  * chosen sheet decoded into [[SheetGrid]]'s tagged cell grid.
  *
  * Options: `sheet` (default: the first sheet in workbook order) and
  * `header` (default `true`: the first row names the columns).
  */
abstract class SheetSource extends FileSource {

  /** The sheet named `sheet` (or the first) of `file` as a tagged grid. */
  protected def grid(file: String, sheet: Option[String]): Array[Array[String]]

  private def sheetGrid(file: String, options: CaseInsensitiveStringMap) =
    grid(file, Option(options.get("sheet")))

  private def header(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("header", true)

  override def schemaOf(file: String, options: CaseInsensitiveStringMap): StructType =
    SheetGrid.schemaOf(sheetGrid(file, options), header(options))

  override def decode(file: String, options: CaseInsensitiveStringMap,
                      schema: StructType): Iterator[InternalRow] =
    SheetGrid.rows(sheetGrid(file, options), header(options), schema)
}

/** Sheet-grid typing for the two spreadsheet formats: cells arrive as
  * strings, with numeric cells carrying a NUL-prefixed tag (numbers and
  * strings are distinct cell types in both XLSX XML and BIFF, so typing
  * is exact, not a parse guess). A column whose data cells are all
  * numeric types as `double`; anything else `string`. Blank cells are
  * null either way. */
private[sources] object SheetGrid {

  /** Tag marking a numeric cell in the intermediate grid. */
  final val NumTag = "\u0000N"

  private def untag(v: String): String =
    if (v != null && v.startsWith(NumTag)) v.substring(NumTag.length) else v

  def schemaOf(grid: Array[Array[String]], header: Boolean): StructType = {
    if (grid.isEmpty) return StructType(Nil)
    val nCols = grid.map(_.length).max
    val names =
      if (header) (0 until nCols).map { i =>
        val h = if (i < grid(0).length) grid(0)(i) else null
        if (h == null || h.isEmpty) s"_c$i"
        else if (h.startsWith(NumTag)) trimNum(h.substring(NumTag.length))
        else h
      }
      else (0 until nCols).map(i => s"_c$i")
    val data = if (header) grid.drop(1) else grid
    val fields = (0 until nCols).map { i =>
      val cells = data.iterator.map(r => if (i < r.length) r(i) else null)
        .filter(v => v != null && v.nonEmpty).toSeq
      val numeric = cells.nonEmpty && cells.forall(_.startsWith(NumTag))
      StructField(names(i), if (numeric) DoubleType else StringType, nullable = true)
    }
    StructType(fields)
  }

  /** The data rows (the header row dropped when `header`) typed by
    * `schema`, the schema [[schemaOf]] gave the same grid. */
  def rows(grid: Array[Array[String]], header: Boolean,
           schema: StructType): Iterator[InternalRow] =
    grid.iterator.drop(if (header) 1 else 0).map { row =>
      InternalRow.fromSeq(schema.fields.toSeq.zipWithIndex.map { case (sf, i) =>
        val raw = if (i < row.length) untag(row(i)) else null
        if (raw == null || raw.isEmpty) null
        else sf.dataType match {
          case DoubleType => java.lang.Double.valueOf(raw.toDouble)
          case _ => UTF8String.fromString(raw)
        }
      })
    }

  /** Excel writes integers as "2002" but doubles as "2002.0"; header
    * names from numeric cells drop a redundant ".0". */
  private def trimNum(s: String): String =
    if (s.endsWith(".0")) s.dropRight(2) else s

  /** Render a BIFF numeric cell the way XLSX cell text shows an
    * integer-valued number (no trailing ".0"). */
  def renderNum(d: Double): String =
    if (!d.isInfinite && d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

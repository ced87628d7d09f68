package graft.sources

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

/** DataSource V2 reader for `.xlsx` workbooks (SURVEY §2.1 S4; ref
  * matriz_movilidad nb c16 reads `estimaciones-…-comunas.xlsx` sheet
  * `poblacion_total` via `pd.read_excel(..., sheet_name=...)`). XLSX is
  * a zip of XML parts — workbook.xml (sheet name → relationship id),
  * workbook.xml.rels (id → worksheet part), sharedStrings.xml (string
  * pool), and one sheetN.xml per sheet — all parsed here with the
  * JDK's streaming StAX reader; no external dependency.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.XlsxDataSource")
  *     .option("sheet", "poblacion_total")   // default: first sheet
  *     .option("header", "true")             // default: true
  *     .load(path)
  * }}}
  *
  * One file per load, through the shared [[FileSource]] chain; options,
  * header handling and typing are [[SheetSource]]'s (XLSX stores
  * numbers untagged and strings via the shared-string pool, so the
  * numeric typing is exact, not a parse guess).
  *
  * `.xls` (BIFF8, S3) has its own decoder: [[XlsDataSource]].
  */
class XlsxDataSource extends SheetSource {
  override def shortName(): String = "xlsx"

  override protected def grid(file: String, sheet: Option[String]): Array[Array[String]] =
    XlsxUtil.parse(file, sheet)
}

private[sources] object XlsxUtil {

  private final val NumTag = SheetGrid.NumTag

  /** Tagged grid of the chosen sheet (see [[SheetGrid]]). */
  def parse(file: String, sheetName: Option[String]): Array[Array[String]] = {
    val zip = new ZipFile(file)
    try {
      val shared = readSharedStrings(zip)
      val sheetPart = resolveSheetPart(zip, sheetName)
      readSheetXml(zip, sheetPart, shared)
    } finally zip.close()
  }

  private def xmlReader(zip: ZipFile, part: String): Option[XMLStreamReader] = {
    val entry = zip.getEntry(part)
    if (entry == null) None
    else {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      Some(f.createXMLStreamReader(zip.getInputStream(entry)))
    }
  }

  private def readSharedStrings(zip: ZipFile): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    xmlReader(zip, "xl/sharedStrings.xml").foreach { r =>
      var inSi = false
      val sb = new StringBuilder
      var inT = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "si" => inSi = true; sb.clear()
              case "t" if inSi => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT =>
            sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "si" => inSi = false; out += sb.toString
              case _ =>
            }
          case _ =>
        }
      }
      r.close()
    }
    out.toArray
  }

  /** sheet name → worksheet zip part, via workbook.xml + its .rels. */
  private def resolveSheetPart(zip: ZipFile, sheetName: Option[String]): String = {
    // (name, r:id) pairs in workbook order
    val sheets = mutable.ArrayBuffer.empty[(String, String)]
    xmlReader(zip, "xl/workbook.xml").foreach { r =>
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          var name: String = null; var rid: String = null
          for (i <- 0 until r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "name" => name = r.getAttributeValue(i)
              case "id" => rid = r.getAttributeValue(i)   // r:id
              case _ =>
            }
          }
          if (name != null && rid != null) sheets += ((name, rid))
        }
      }
      r.close()
    }
    require(sheets.nonEmpty, "workbook has no sheets")
    val rid = sheetName match {
      case Some(n) => sheets.find(_._1 == n).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"sheet '$n' not found; have: ${sheets.map(_._1).mkString(", ")}"))
      case None => sheets.head._2
    }
    // rels: rid → Target (relative to xl/)
    var target: String = null
    xmlReader(zip, "xl/_rels/workbook.xml.rels").foreach { r =>
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
          var id: String = null; var t: String = null
          for (i <- 0 until r.getAttributeCount) {
            r.getAttributeLocalName(i) match {
              case "Id" => id = r.getAttributeValue(i)
              case "Target" => t = r.getAttributeValue(i)
              case _ =>
            }
          }
          if (id == rid) target = t
        }
      }
      r.close()
    }
    require(target != null, s"no relationship for sheet id $rid")
    if (target.startsWith("/")) target.stripPrefix("/") else s"xl/$target"
  }

  /** A1-style column letters → 0-based index. */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  private def readSheetXml(zip: ZipFile, part: String,
                           shared: Array[String]): Array[Array[String]] = {
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    xmlReader(zip, part).foreach { r =>
      var cells: mutable.ArrayBuffer[String] = null
      var nextCol = 0
      var cellCol = 0
      var cellType: String = null
      var inV = false
      var inIsT = false
      val v = new StringBuilder
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "row" => cells = mutable.ArrayBuffer.empty[String]; nextCol = 0
            case "c" if cells != null =>
              cellType = null; cellCol = nextCol; v.clear()
              for (i <- 0 until r.getAttributeCount) {
                r.getAttributeLocalName(i) match {
                  case "r" => cellCol = colIndex(r.getAttributeValue(i))
                  case "t" => cellType = r.getAttributeValue(i)
                  case _ =>
                }
              }
            case "v" => inV = true
            case "t" if cellType == "inlineStr" => inIsT = true
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS if inV || inIsT =>
            v.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "c" if cells != null =>
              val raw = v.toString
              val value = cellType match {
                case null | "n" => if (raw.isEmpty) null else NumTag + raw
                case "s" => shared(raw.trim.toInt)
                case "b" => if (raw.trim == "1") "true" else "false"
                case _ => raw   // "str" (formula result), "inlineStr"
              }
              while (cells.length <= cellCol) cells += null
              cells(cellCol) = value
              nextCol = cellCol + 1
            case "row" if cells != null =>
              rows += cells.toArray; cells = null
            case _ =>
          }
          case _ =>
        }
      }
      r.close()
    }
    rows.toArray
  }
}

package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** DataSource V2 reader for legacy `.xls` workbooks — BIFF8 records
  * inside an OLE2/CFB compound file (SURVEY §2.1 S3; ref
  * matriz_movilidad nb c8 reads `datos_laborales.xls` via
  * `pd.read_excel`). Both containers are parsed here directly:
  *
  *  - CFB: 512-byte sectors, FAT chains, directory entries, and the
  *    64-byte mini-stream for streams under 4096 bytes — enough to
  *    locate and read the `Workbook` stream.
  *  - BIFF8: BOUNDSHEET (sheet name → substream offset), SST (shared
  *    strings, CONTINUE-record aware), and the cell records LABELSST /
  *    NUMBER / RK / MULRK / LABEL / BOOLERR / FORMULA(+STRING).
  *
  * Usage mirrors [[XlsxDataSource]]:
  * `spark.read.format("graft.sources.XlsDataSource")
  *   .option("sheet", name).option("header", "true").load(path)`.
  *
  * One file per load, through the shared [[FileSource]] chain; options,
  * header handling and typing are [[SheetSource]]'s, as on the XLSX side.
  */
class XlsDataSource extends SheetSource {
  override def shortName(): String = "xls"

  override protected def grid(file: String, sheet: Option[String]): Array[Array[String]] =
    XlsUtil.parse(file, sheet)
}

// ------------------------------------------------------------------ OLE2/CFB

private[sources] object CfbUtil {
  private final val EndOfChain = 0xFFFFFFFE
  private final val Free = 0xFFFFFFFF

  /** All directory-entry streams by name (stream type 2 only). */
  def streams(file: String): Map[String, Array[Byte]] = {
    val bytes = Files.readAllBytes(Paths.get(file))
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getLong(0) == 0xE11AB1A1E011CFD0L,
      s"not an OLE2 compound file: $file")
    val sectorShift = buf.getShort(30).toInt
    val sectorSize = 1 << sectorShift
    val miniSize = 1 << buf.getShort(32).toInt
    val numFat = buf.getInt(44)
    val firstDir = buf.getInt(48)
    val miniCutoff = buf.getInt(56)
    val firstMiniFat = buf.getInt(60)
    val firstDifat = buf.getInt(68)
    val numDifat = buf.getInt(72)

    def sectorOffset(s: Int): Int = 512 + s * sectorSize

    // FAT sector list: 109 header DIFAT entries + chained DIFAT sectors
    val fatSectors = mutable.ArrayBuffer.empty[Int]
    for (i <- 0 until 109) {
      val v = buf.getInt(76 + 4 * i)
      if (v != Free && fatSectors.length < numFat) fatSectors += v
    }
    var difat = firstDifat
    var difatSeen = 0
    while (difat != EndOfChain && difat != Free && difatSeen < numDifat) {
      val off = sectorOffset(difat)
      for (i <- 0 until sectorSize / 4 - 1)
        if (fatSectors.length < numFat) {
          val v = buf.getInt(off + 4 * i)
          if (v != Free) fatSectors += v
        }
      difat = buf.getInt(off + sectorSize - 4)
      difatSeen += 1
    }
    val fat = new Array[Int](fatSectors.length * (sectorSize / 4))
    fatSectors.zipWithIndex.foreach { case (s, i) =>
      val off = sectorOffset(s)
      for (j <- 0 until sectorSize / 4) fat(i * (sectorSize / 4) + j) = buf.getInt(off + 4 * j)
    }

    def readChain(start: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var s = start
      var guard = 0
      while (s != EndOfChain && s != Free && guard <= fat.length) {
        out.write(bytes, sectorOffset(s), sectorSize)
        s = fat(s); guard += 1
      }
      out.toByteArray
    }

    // directory
    val dir = readChain(firstDir)
    case class Entry(name: String, etype: Int, start: Int, size: Long)
    val entries = (0 until dir.length / 128).map { i =>
      val off = i * 128
      val nameLen = ((dir(off + 64) & 0xff) | ((dir(off + 65) & 0xff) << 8)) max 0
      val name = if (nameLen >= 2)
        new String(dir, off, nameLen - 2, StandardCharsets.UTF_16LE) else ""
      val etype = dir(off + 66) & 0xff
      val bb = ByteBuffer.wrap(dir, off + 116, 12).order(ByteOrder.LITTLE_ENDIAN)
      Entry(name, etype, bb.getInt, bb.getInt.toLong & 0xFFFFFFFFL)
    }

    // mini stream: the root entry's chain, addressed in 64-byte sectors
    val root = entries.find(_.etype == 5)
    lazy val miniContainer = root.map(r => readChain(r.start)).getOrElse(Array.emptyByteArray)
    lazy val miniFat: Array[Int] = {
      val raw = if (firstMiniFat == EndOfChain || firstMiniFat == Free) Array.emptyByteArray
        else readChain(firstMiniFat)
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(raw.length / 4)(bb.getInt)
    }
    def readMiniChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var s = start
      var guard = 0
      while (s != EndOfChain && s != Free && guard <= miniFat.length) {
        val n = math.min(miniSize, miniContainer.length - s * miniSize)
        out.write(miniContainer, s * miniSize, n)
        s = miniFat(s); guard += 1
      }
      out.toByteArray.take(size.toInt)
    }

    entries.filter(_.etype == 2).map { e =>
      val data =
        if (e.size >= miniCutoff) readChain(e.start).take(e.size.toInt)
        else readMiniChain(e.start, e.size)
      e.name -> data
    }.toMap
  }
}

// -------------------------------------------------------------------- BIFF8

/** Byte cursor over one or more record-data segments (a record plus its
  * CONTINUE records). Fixed fields read across segment boundaries
  * transparently; string character data re-reads the encoding flag at
  * each segment boundary, per the BIFF8 CONTINUE rule. */
private[sources] class BiffCursor(segments: Array[Array[Byte]]) {
  private var seg = 0
  private var pos = 0

  private def ensure(): Unit =
    while (seg < segments.length && pos >= segments(seg).length) { seg += 1; pos = 0 }

  def u8(): Int = { ensure(); val v = segments(seg)(pos) & 0xff; pos += 1; v }
  def u16(): Int = u8() | (u8() << 8)
  def u32(): Long = u16().toLong | (u16().toLong << 16)
  def f64(): Double = {
    val bits = u32() | (u32() << 32)
    java.lang.Double.longBitsToDouble(bits)
  }
  def skip(n: Int): Unit = for (_ <- 0 until n) u8()

  /** XLUnicodeRichExtendedString: cch, flags, optional run/ext counts,
    * chars (8-bit compressed or UTF-16LE by flag, re-flagged at every
    * CONTINUE boundary), then runs/ext skipped. */
  def readRichString(): String = {
    val cch = u16()
    var flags = u8()
    val cRun = if ((flags & 0x08) != 0) u16() else 0
    val cbExt = if ((flags & 0x04) != 0) u32().toInt else 0
    val sb = new java.lang.StringBuilder(cch)
    var remaining = cch
    while (remaining > 0) {
      val wide = (flags & 0x01) != 0
      val bytesPerChar = if (wide) 2 else 1
      val avail =
        if (seg < segments.length) (segments(seg).length - pos) / bytesPerChar else 0
      if (avail == 0) {
        // boundary fell inside the char data → next segment starts with
        // a fresh flag byte (the encoding may switch width mid-string)
        seg += 1; pos = 0
        require(seg < segments.length, "string runs past last CONTINUE record")
        flags = (flags & ~0x01) | (u8() & 0x01)
      } else {
        val take = math.min(remaining, avail)
        if (wide) {
          sb.append(new String(segments(seg), pos, take * 2, StandardCharsets.UTF_16LE))
          pos += take * 2
        } else {
          // "compressed" = low bytes of UTF-16 → ISO-8859-1
          sb.append(new String(segments(seg), pos, take, StandardCharsets.ISO_8859_1))
          pos += take
        }
        remaining -= take
      }
    }
    skip(4 * cRun + cbExt)
    sb.toString
  }

  /** Plain XLUnicodeString (LABEL / STRING records): cch + flag + chars. */
  def readString(): String = {
    val cch = u16()
    val flags = u8()
    if ((flags & 0x01) != 0)
      new String(Array.fill(cch * 2)(u8().toByte), StandardCharsets.UTF_16LE)
    else
      new String(Array.fill(cch)(u8().toByte), StandardCharsets.ISO_8859_1)
  }
}

private[graft] object XlsUtil {

  private final val NumTag = SheetGrid.NumTag

  /** RK-encoded number: bit0 = ÷100, bit1 = int-vs-float. */
  def decodeRk(v: Int): Double = {
    val base =
      if ((v & 2) != 0) (v >> 2).toDouble
      else java.lang.Double.longBitsToDouble((v & 0xFFFFFFFCL) << 32)
    if ((v & 1) != 0) base / 100.0 else base
  }

  private case class Rec(op: Int, start: Int, len: Int)

  /** Tagged grid of the chosen sheet (see [[SheetGrid]]). */
  def parse(file: String, sheetName: Option[String]): Array[Array[String]] = {
    val wb = CfbUtil.streams(file).collectFirst {
      case (n, d) if n == "Workbook" || n == "Book" => d
    }.getOrElse(throw new IllegalArgumentException(
      s"no Workbook stream in $file — not a BIFF8 .xls?"))

    // index records once (positions matter: BOUNDSHEET points at BOFs)
    val recs = mutable.ArrayBuffer.empty[Rec]
    var p = 0
    while (p + 4 <= wb.length) {
      val op = (wb(p) & 0xff) | ((wb(p + 1) & 0xff) << 8)
      val len = (wb(p + 2) & 0xff) | ((wb(p + 3) & 0xff) << 8)
      recs += Rec(op, p, len)
      p += 4 + len
    }
    def data(r: Rec): Array[Byte] =
      java.util.Arrays.copyOfRange(wb, r.start + 4, r.start + 4 + r.len)
    def withContinues(i: Int): BiffCursor = {
      val segs = mutable.ArrayBuffer(data(recs(i)))
      var j = i + 1
      while (j < recs.length && recs(j).op == 0x003C) { segs += data(recs(j)); j += 1 }
      new BiffCursor(segs.toArray)
    }

    // globals: sheet table + shared strings
    val sheets = mutable.ArrayBuffer.empty[(String, Int)]   // (name, BOF offset)
    var sst: Array[String] = Array.empty
    recs.zipWithIndex.foreach { case (r, i) =>
      r.op match {
        case 0x0085 =>   // BOUNDSHEET
          val c = new BiffCursor(Array(data(r)))
          val bofPos = c.u32().toInt
          c.skip(2)
          val cch = c.u8(); val flags = c.u8()
          val name = if ((flags & 1) != 0)
            new String(Array.fill(cch * 2)(c.u8().toByte), StandardCharsets.UTF_16LE)
          else new String(Array.fill(cch)(c.u8().toByte), StandardCharsets.ISO_8859_1)
          sheets += ((name, bofPos))
        case 0x00FC =>   // SST
          val c = withContinues(i)
          c.skip(4)
          val unique = c.u32().toInt
          sst = Array.fill(unique)(c.readRichString())
        case _ =>
      }
    }
    require(sheets.nonEmpty, s"no BOUNDSHEET records in $file")
    val bofPos = sheetName match {
      case Some(n) => sheets.find(_._1 == n).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"sheet '$n' not found; have: ${sheets.map(_._1).mkString(", ")}"))
      case None => sheets.head._2
    }

    // sheet substream: BOF .. matching EOF
    val startIdx = recs.indexWhere(_.start == bofPos)
    require(startIdx >= 0, s"BOUNDSHEET offset $bofPos does not hit a record")
    val cells = mutable.Map.empty[(Int, Int), String]
    var maxRow = -1; var maxCol = -1
    def put(row: Int, col: Int, v: String): Unit = {
      cells((row, col)) = v
      if (row > maxRow) maxRow = row
      if (col > maxCol) maxCol = col
    }
    var i = startIdx + 1
    var pendingStringCell: Option[(Int, Int)] = None
    var done = false
    while (i < recs.length && !done) {
      val r = recs(i)
      r.op match {
        case 0x000A => done = true   // EOF of this substream
        case 0x00FD =>   // LABELSST
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val col = c.u16(); c.skip(2)
          put(row, col, sst(c.u32().toInt))
        case 0x0203 =>   // NUMBER
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val col = c.u16(); c.skip(2)
          put(row, col, NumTag + SheetGrid.renderNum(c.f64()))
        case 0x027E =>   // RK
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val col = c.u16(); c.skip(2)
          put(row, col, NumTag + SheetGrid.renderNum(decodeRk(c.u32().toInt)))
        case 0x00BD =>   // MULRK
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val colFirst = c.u16()
          val n = (r.len - 6) / 6
          for (k <- 0 until n) {
            c.skip(2)
            put(row, colFirst + k, NumTag + SheetGrid.renderNum(decodeRk(c.u32().toInt)))
          }
        case 0x0204 =>   // LABEL (inline string)
          val c = withContinues(i)
          val row = c.u16(); val col = c.u16(); c.skip(2)
          put(row, col, c.readString())
        case 0x0205 =>   // BOOLERR
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val col = c.u16(); c.skip(2)
          val v = c.u8(); val isErr = c.u8()
          if (isErr == 0) put(row, col, if (v != 0) "true" else "false")
        case 0x0006 =>   // FORMULA: cached numeric/bool result, or STRING follows
          val c = new BiffCursor(Array(data(r)))
          val row = c.u16(); val col = c.u16(); c.skip(2)
          val resultBytes = Array.fill(8)(c.u8())
          if (resultBytes(6) == 0xFF && resultBytes(7) == 0xFF) {
            resultBytes(0) match {
              case 0 => pendingStringCell = Some((row, col))   // STRING record next
              case 1 => put(row, col, if (resultBytes(2) != 0) "true" else "false")
              case _ =>   // error / empty → null
            }
          } else {
            val bits = resultBytes.zipWithIndex
              .map { case (b, k) => (b.toLong & 0xff) << (8 * k) }.sum
            put(row, col, NumTag + SheetGrid.renderNum(java.lang.Double.longBitsToDouble(bits)))
          }
        case 0x0207 =>   // STRING (cached formula string)
          pendingStringCell.foreach { case (row, col) =>
            put(row, col, withContinues(i).readString())
          }
          pendingStringCell = None
        case _ =>
      }
      i += 1
    }

    (0 to maxRow).map { r =>
      (0 to maxCol).map(c => cells.getOrElse((r, c), null)).toArray
    }.toArray
  }
}

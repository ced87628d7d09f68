package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.operators.Geo
import graft.pipelines.{MatrizMovilidad, TemperaturasRM}
import org.apache.spark.sql.functions._

/** XLSX DataSource V2 (S4) and SHP geometry + centroid chain (S5/F10)
  * against in-test synthesized fixtures — the two raw source formats
  * the reference reads through pandas/geopandas
  * (`pd.read_excel(..., sheet_name='poblacion_total')` nb c16;
  * `gpd.read_file(comunas.shp)` + CRS-chain centroids
  * `temperaturas_rm.py:106,114-119`). */
class GeoSourceSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ xlsx fixture

  /** Minimal OOXML workbook writer: every cell is either a shared
    * string (String) or a number (Double/Int). */
  private def writeXlsx(path: String, sheets: Seq[(String, Seq[Seq[Any]])]): Unit = {
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    def colRef(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString
      else ('A' + i / 26 - 1).toChar.toString + ('A' + i % 26).toChar
    // pre-assign string ids in row order, then render sheets
    val rendered = sheets.map { case (_, rows) =>
      rows.zipWithIndex.map { case (row, r) =>
        val cells = row.zipWithIndex.collect {
          case (v: String, c) => s"""<c r="${colRef(c)}${r + 1}" t="s"><v>${sid(v)}</v></c>"""
          case (v: Int, c)    => s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
          case (v: Double, c) => s"""<c r="${colRef(c)}${r + 1}"><v>$v</v></c>"""
        }
        s"""<row r="${r + 1}">${cells.mkString}</row>"""
      }.mkString
    }
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="$name" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    entry("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook
         | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
         | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetTags</sheets></workbook>""".stripMargin)
    val rels = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}"
         | Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
         | Target="worksheets/sheet${i + 1}.xml"/>""".stripMargin
    }.mkString
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0"?><Relationships
         | xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""".stripMargin)
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst
         | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">${
        strings.keys.map(s => s"<si><t>$s</t></si>").mkString}</sst>""".stripMargin)
    rendered.zipWithIndex.foreach { case (body, i) =>
      entry(s"xl/worksheets/sheet${i + 1}.xml",
        s"""<?xml version="1.0"?><worksheet
           | xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
           |<sheetData>$body</sheetData></worksheet>""".stripMargin)
    }
    zos.close()
  }

  test("S4 XLSX DataSource V2: sheet selection, shared strings, numeric typing") {
    val dir = Files.createTempDirectory("graft_xlsx_").toFile
    dir.deleteOnExit()
    val p = s"${dir.getPath}/estimaciones.xlsx"
    writeXlsx(p, Seq(
      "otra_hoja" -> Seq(Seq("x", "y"), Seq("a", 1)),
      "poblacion_total" -> Seq(
        Seq("Comuna", 2002, 2003),
        Seq("Santiago ", 200000.0, 201500.0),
        Seq("Maipu", 120000.0, 121000.0))))
    val df = spark.read.format("graft.sources.XlsxDataSource")
      .option("sheet", "poblacion_total").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("Comuna", "2002", "2003"))
    assert(df.schema("Comuna").dataType.typeName === "string")
    assert(df.schema("2002").dataType.typeName === "double")
    val rows = df.orderBy("Comuna").as[(String, Double, Double)].collect().toSeq
    assert(rows === Seq(("Maipu", 120000.0, 121000.0), ("Santiago ", 200000.0, 201500.0)))
    // default sheet = first in workbook order; short name via DataSourceRegister
    val first = spark.read.format("xlsx").load(p)
    assert(first.schema.fieldNames.toSeq === Seq("x", "y"))
  }

  test("S4 XLSX cell types: inlineStr, formula-string, and boolean cells") {
    val dir = Files.createTempDirectory("graft_xlsx3_").toFile
    dir.deleteOnExit()
    val p = s"${dir.getPath}/tipos.xlsx"
    // hand-built sheet exercising cell types the fixture writer doesn't emit
    val zos = new ZipOutputStream(new FileOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    entry("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="$ns"
         | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="h" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships
        | xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="$ns"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>col_a</t></is></c>
         |  <c r="B1" t="inlineStr"><is><t>col_b</t></is></c>
         |  <c r="C1" t="inlineStr"><is><t>col_c</t></is></c></row>
         |<row r="2"><c r="A2" t="inlineStr"><is><t>hola mundo</t></is></c>
         |  <c r="B2" t="str"><v>formula result</v></c>
         |  <c r="C2" t="b"><v>1</v></c></row>
         |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("col_a", "col_b", "col_c"))
    val row = df.as[(String, String, String)].head()
    assert(row === (("hola mundo", "formula result", "true")))
  }

  test("S4→R1 pipeline: MatrizMovilidad.poblacion fed straight from the .xlsx") {
    val dir = Files.createTempDirectory("graft_xlsx2_").toFile
    dir.deleteOnExit()
    val p = s"${dir.getPath}/poblacion.xlsx"
    writeXlsx(p, Seq("poblacion_total" -> Seq(
      Seq("Comuna", 2024, 2025, 2026),
      Seq("Santiago", 100.0, 101.0, 102.0),
      Seq("MAIPU ", 50.0, 51.0, 52.0))))
    val long = MatrizMovilidad.poblacionFromXlsx(spark, p)
      .orderBy("comuna", "año")
      .as[(String, Int, Double)].collect().toSeq
    // melt + normalize keys + año 2025 dropped (ref nb c16-c18)
    assert(long === Seq(
      ("maipu", 2024, 50.0), ("maipu", 2026, 52.0),
      ("santiago", 2024, 100.0), ("santiago", 2026, 102.0)))
  }

  // ------------------------------------------------------------- shp fixture

  /** Minimal SHP writer: single-ring polygons (shape type 5), ring
    * closed (first point repeated last). */
  private def writeShp(path: String, polys: Seq[Seq[(Double, Double)]]): Unit = {
    val bodies = polys.map { ring =>
      val n = ring.length
      val content = ByteBuffer.allocate(4 + 32 + 8 + 4 + 16 * n)
        .order(ByteOrder.LITTLE_ENDIAN)
      content.putInt(5)
      content.putDouble(ring.map(_._1).min).putDouble(ring.map(_._2).min)
      content.putDouble(ring.map(_._1).max).putDouble(ring.map(_._2).max)
      content.putInt(1).putInt(n)
      content.putInt(0)
      ring.foreach { case (x, y) => content.putDouble(x).putDouble(y) }
      content.array()
    }
    val fileLen = 100 + bodies.map(8 + _.length).sum
    val buf = ByteBuffer.allocate(fileLen)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(9994).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    buf.putInt(fileLen / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1000).putInt(5)
    for (_ <- 0 until 8) buf.putDouble(0.0)   // bbox left zero in fixture
    bodies.zipWithIndex.foreach { case (b, i) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(i + 1).putInt(b.length / 2)
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.put(b)
    }
    Files.write(Paths.get(path), buf.array())
  }

  /** Closed clockwise square ring centered at (lon, lat). */
  private def square(lon: Double, lat: Double, half: Double): Seq[(Double, Double)] =
    Seq((lon - half, lat - half), (lon - half, lat + half),
      (lon + half, lat + half), (lon + half, lat - half), (lon - half, lat - half))

  test("S5 SHP DataSource V2 parses polygon records into geometry arrays") {
    val dir = Files.createTempDirectory("graft_shp_").toFile
    dir.deleteOnExit()
    val p = s"${dir.getPath}/comunas.shp"
    writeShp(p, Seq(square(-70.65, -33.45, 0.05), square(-71.62, -33.05, 0.04)))
    val df = spark.read.format("shp").load(p)   // short name via DataSourceRegister
    assert(df.schema.fieldNames.toSeq ===
      Seq("gid", "shape_type", "num_points", "parts", "xs", "ys"))
    val rows = df.orderBy("gid")
      .select("gid", "shape_type", "num_points").as[(Int, Int, Int)].collect().toSeq
    assert(rows === Seq((1, 5, 5), (2, 5, 5)))
    val xs = df.filter(col("gid") === 1).select("xs").as[Seq[Double]].head()
    assert(xs === square(-70.65, -33.45, 0.05).map(_._1))
  }

  test("F10 centroid CRS chain: UTM-projected centroid of a square ≈ its center") {
    // geometric centroid of a small square through forward-project →
    // shoelace → inverse-project lands on the square's center to ~1e-6°
    for ((lon, lat) <- Seq((-70.65, -33.45), (-71.2, -34.0), (-69.8, -30.5))) {
      val ring = square(lon, lat, 0.01)
      val (cLat, cLon) = Geo.utm19sCentroid(
        ring.map(_._1), ring.map(_._2), Seq(0))
      assert(math.abs(cLat - lat) < 1e-6, s"lat: $cLat vs $lat")
      assert(math.abs(cLon - lon) < 1e-6, s"lon: $cLon vs $lon")
    }
  }

  test("planarCentroid: a counter-oriented hole ring subtracts from the area") {
    // outer CCW square (0,0)-(4,4), hole CW (1,1)-(2,2):
    // centroid_x = (16·2 − 1·1.5) / 15, same for y
    val xs = Seq(0.0, 4.0, 4.0, 0.0, 0.0, /* hole */ 1.0, 1.0, 2.0, 2.0, 1.0)
    val ys = Seq(0.0, 0.0, 4.0, 4.0, 0.0, /* hole */ 1.0, 2.0, 2.0, 1.0, 1.0)
    val (cx, cy) = Geo.planarCentroid(xs, ys, Seq(0, 5))
    val expected = (16.0 * 2.0 - 1.0 * 1.5) / 15.0
    assert(math.abs(cx - expected) < 1e-12 && math.abs(cy - expected) < 1e-12)
  }

  test("S5+F10 end-to-end: raw shapefile pair → centroids → nearest station") {
    val dir = Files.createTempDirectory("graft_shpdbf_").toFile
    dir.deleteOnExit()
    writeShp(s"${dir.getPath}/comunas.shp",
      Seq(square(-70.65, -33.45, 0.05), square(-71.62, -33.05, 0.04)))
    writeDbf(s"${dir.getPath}/comunas.dbf",
      fields = Seq(("Comuna", 'C', 20, 0), ("codregion", 'N', 4, 0)),
      rows = Seq(Seq("Santiago", "13"), Seq("Valparaiso", "5")))
    val comunas = TemperaturasRM.comunasFromShapefile(
      spark, s"${dir.getPath}/comunas.shp", s"${dir.getPath}/comunas.dbf")
    val got = comunas.orderBy("Comuna")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) === Seq("Santiago", "Valparaiso"))
    assert(math.abs(got(0)._3 - (-33.45)) < 1e-6 && math.abs(got(0)._4 - (-70.65)) < 1e-6)
    // feed paso2Asignar: region 13 filter keeps Santiago; station A at
    // the Santiago centroid wins over faraway station B
    val temps = Seq(
      ("A", -33.45, -70.65, 2024, 1, 1, 20.0),
      ("B", -53.0, -70.9, 2024, 1, 1, 5.0)
    ).toDF("Codigo_Estacion", "Latitud", "Longitud", "Año", "Mes", "Dias", "Temperatura_Media")
    val assigned = TemperaturasRM.paso2Asignar(comunas, temps)
    val pairs = assigned.select("Comuna", "Codigo_Estacion")
      .as[(String, String)].collect().toSet
    assert(pairs === Set(("Santiago", "A")))
  }

  test("source error paths: wrong sheet lists alternatives, non-shapefile rejected") {
    val dir = Files.createTempDirectory("graft_neg_").toFile
    dir.deleteOnExit()
    val xp = s"${dir.getPath}/wb.xlsx"
    writeXlsx(xp, Seq("hoja_real" -> Seq(Seq("a"), Seq("x"))))
    val e1 = intercept[Exception] {
      spark.read.format("xlsx").option("sheet", "no_existe").load(xp)
    }
    assert(e1.getMessage.contains("no_existe") && e1.getMessage.contains("hoja_real"))
    val bad = s"${dir.getPath}/not_a.shp"
    Files.write(Paths.get(bad), "definitely not a shapefile".getBytes)
    val e2 = QuietLogs("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager")(intercept[Exception] {
      spark.read.format("shp").load(bad).collect()
    })
    assert(e2.getMessage.toLowerCase.contains("shapefile") ||
      Option(e2.getCause).exists(_.getMessage.toLowerCase.contains("shapefile")))
  }

  /** Same fixture writer as SourceSpec's (duplicated locally to keep
    * specs self-contained). */
  private def writeDbf(path: String, fields: Seq[(String, Char, Int, Int)],
                       rows: Seq[Seq[String]]): Unit = {
    val out = new ByteArrayOutputStream()
    val recordLen = 1 + fields.map(_._3).sum
    val headerLen = 32 + fields.size * 32 + 1
    val header = new Array[Byte](32)
    header(0) = 0x03
    header(4) = (rows.size & 0xff).toByte
    header(5) = ((rows.size >> 8) & 0xff).toByte
    header(8) = (headerLen & 0xff).toByte
    header(9) = ((headerLen >> 8) & 0xff).toByte
    header(10) = (recordLen & 0xff).toByte
    header(11) = ((recordLen >> 8) & 0xff).toByte
    out.write(header)
    fields.foreach { case (name, ftype, len, dec) =>
      val fd = new Array[Byte](32)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, fd, 0, math.min(nb.length, 10))
      fd(11) = ftype.toByte
      fd(16) = len.toByte
      fd(17) = dec.toByte
      out.write(fd)
    }
    out.write(0x0d)
    rows.foreach { r =>
      out.write(' ')
      r.zip(fields).foreach { case (v, (_, _, len, _)) =>
        out.write(v.padTo(len, ' ').take(len).getBytes("US-ASCII"))
      }
    }
    out.write(0x1a)
    Files.write(Paths.get(path), out.toByteArray)
  }
}

package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable

/** DataSource V2 reader for ESRI `.shp` geometry files — the polygon
  * side of the shapefile whose `.dbf` attributes [[DbfDataSource]]
  * reads (SURVEY §2.1 S5; ref `temperaturas_rm.py:106` and nb c25 read
  * `datos/Comunas/comunas.shp` via geopandas). The SHP format is a
  * fixed binary layout: a 100-byte header (big-endian file code 9994 +
  * little-endian shape type and bbox), then per-record a big-endian
  * (record number, content length) header and a little-endian shape
  * body.
  *
  * Shape types supported: 0 (null), 1 (point), 3 (polyline),
  * 5 (polygon) — the reference's data is polygons.
  *
  * Output schema — geometry stays in columnar-friendly parallel arrays
  * (no geometry object type needed, SURVEY §1):
  * {{{
  *   gid         int            record number (1-based; joins 1:1 by
  *                              position with the .dbf attribute rows)
  *   shape_type  int
  *   num_points  int
  *   parts       array<int>     ring start offsets into xs/ys
  *   xs          array<double>  x (longitude) per vertex
  *   ys          array<double>  y (latitude) per vertex
  * }}}
  *
  * Centroids: [[graft.operators.Geo.utm19sCentroidUdf]] reduces
  * (xs, ys, parts) to the reference's CRS-chain centroid.
  *
  * One file per load, through the shared [[FileSource]] chain, like
  * the DBF side.
  */
class ShpDataSource extends FileSource {
  override def shortName(): String = "shp"

  override def schemaOf(file: String, options: CaseInsensitiveStringMap): StructType =
    ShpUtil.schema

  override def decode(file: String, options: CaseInsensitiveStringMap,
                      schema: StructType): Iterator[InternalRow] =
    ShpUtil.readAll(file).iterator.map(r =>
      InternalRow(r.gid, r.shapeType, r.xs.length,
        ArrayData.toArrayData(r.parts), ArrayData.toArrayData(r.xs),
        ArrayData.toArrayData(r.ys)))
}

private[sources] object ShpUtil {

  val schema: StructType = StructType(Seq(
    StructField("gid", IntegerType, nullable = false),
    StructField("shape_type", IntegerType, nullable = false),
    StructField("num_points", IntegerType, nullable = false),
    StructField("parts", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("xs", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("ys", ArrayType(DoubleType, containsNull = false), nullable = false)))

  case class ShpRecord(gid: Int, shapeType: Int, parts: Array[Int],
                       xs: Array[Double], ys: Array[Double])

  def readAll(file: String): Array[ShpRecord] = {
    val bytes = Files.readAllBytes(Paths.get(file))
    val buf = ByteBuffer.wrap(bytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    val fileCode = buf.getInt(0)
    require(fileCode == 9994, s"not a shapefile (file code $fileCode)")
    val fileLenBytes = buf.getInt(24).toLong * 2   // length is in 16-bit words
    val out = mutable.ArrayBuffer.empty[ShpRecord]
    var pos = 100
    while (pos + 8 <= fileLenBytes && pos + 8 <= bytes.length) {
      buf.order(ByteOrder.BIG_ENDIAN)
      val gid = buf.getInt(pos)
      val contentBytes = buf.getInt(pos + 4) * 2
      val body = pos + 8
      buf.order(ByteOrder.LITTLE_ENDIAN)
      val shapeType = buf.getInt(body)
      out += (shapeType match {
        case 0 =>   // null shape
          ShpRecord(gid, 0, Array.empty, Array.empty, Array.empty)
        case 1 =>   // point
          ShpRecord(gid, 1, Array(0),
            Array(buf.getDouble(body + 4)), Array(buf.getDouble(body + 12)))
        case 3 | 5 =>   // polyline | polygon: bbox, numParts, numPoints, ...
          val numParts = buf.getInt(body + 36)
          val numPoints = buf.getInt(body + 40)
          val parts = Array.tabulate(numParts)(i => buf.getInt(body + 44 + 4 * i))
          val ptsOff = body + 44 + 4 * numParts
          val xs = new Array[Double](numPoints)
          val ys = new Array[Double](numPoints)
          var i = 0
          while (i < numPoints) {
            xs(i) = buf.getDouble(ptsOff + 16 * i)
            ys(i) = buf.getDouble(ptsOff + 16 * i + 8)
            i += 1
          }
          ShpRecord(gid, shapeType, parts, xs, ys)
        case other =>
          throw new UnsupportedOperationException(
            s"shape type $other not supported (null/point/polyline/polygon are)")
      })
      pos = body + contentBytes
    }
    out.toArray
  }
}

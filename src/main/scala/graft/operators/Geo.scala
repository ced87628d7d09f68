package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial kernel (ref F10/F8, `temperaturas_rm.py:106-130`, nb
  * c24-c29): planar/haversine distance as pure column expressions and
  * the two closed-form map projections the reference uses through
  * geopandas/PROJ — Web-Mercator (EPSG:3857) → WGS84, and the spherical
  * haversine. No native geometry type is needed: points are plain
  * (lat, lon) double columns, polygons are pre-reduced to centroids at
  * ingestion (SURVEY §1).
  */
object Geo {

  /** Planar euclidean distance in degrees (ref `cdist(...,'euclidean')`
    * at `temperaturas_rm.py:124`); ×111 approximates km like the
    * reference's `temperaturas_rm.py:130`. */
  def euclidDeg(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    sqrt(pow(lat1 - lat2, 2) + pow(lon1 - lon2, 2))

  def degToKm(d: Column): Column = d * 111.0

  /** Haversine great-circle distance in km (beyond-reference upgrade,
    * same signature). */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val r = 6371.0088
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * r) * asin(sqrt(a))
  }

  /** Web-Mercator metres → WGS84 degrees (closed form; the inverse of
    * the EPSG:3857 forward projection — what `to_crs(4326)` does to the
    * reference's `comunas.prj` source at `temperaturas_rm.py:114-117`). */
  def mercatorToLon(x: Column): Column = x / lit(6378137.0) * lit(180.0 / math.Pi)
  def mercatorToLat(y: Column): Column =
    (atan(exp(y / lit(6378137.0))) * 2 - lit(math.Pi / 2)) * lit(180.0 / math.Pi)

  /** UTM zone 19S (EPSG:32719) forward/inverse — the other projection
    * in the reference's CRS chain (`temperaturas_rm.py:114-117`
    * reprojects to UTM 19S for centroid math, then back to WGS84).
    * Closed-form Krüger series on the WGS84 ellipsoid (no PROJ
    * dependency), accurate to well under 1 m inside the zone; pure
    * Scala, exposed as deterministic UDF-style helpers (SURVEY §7
    * risk 3 / §2.11: not profiled hot, so no Catalyst expression).
    * Returns (easting, northing) meters. */
  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
  private val A = 6378137.0
  private val F = 1.0 / 298.257223563
  private val K0 = 0.9996
  private val Lon0 = math.toRadians(-69.0)  // zone 19 central meridian
  private val N_ = F / (2 - F)
  private val AA = A / (1 + N_) * (1 + N_ * N_ / 4 + math.pow(N_, 4) / 64)
  private val Alpha = Array(
    N_ / 2 - 2.0 / 3 * N_ * N_ + 5.0 / 16 * math.pow(N_, 3),
    13.0 / 48 * N_ * N_ - 3.0 / 5 * math.pow(N_, 3),
    61.0 / 240 * math.pow(N_, 3))
  private val Beta = Array(
    N_ / 2 - 2.0 / 3 * N_ * N_ + 37.0 / 96 * math.pow(N_, 3),
    N_ * N_ / 48 + 1.0 / 15 * math.pow(N_, 3),
    17.0 / 480 * math.pow(N_, 3))

  def utm19sForward(latDeg: Double, lonDeg: Double): (Double, Double) = {
    val lat = math.toRadians(latDeg)
    val lon = math.toRadians(lonDeg) - Lon0
    val e2 = F * (2 - F)
    val e = math.sqrt(e2)
    val t = math.sinh(atanh(math.sin(lat)) - e * atanh(e * math.sin(lat)))
    val xiP = math.atan2(t, math.cos(lon))
    val etaP = atanh(math.sin(lon) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    for (j <- 1 to 3) {
      xi += Alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += Alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
    }
    val easting = 500000.0 + K0 * AA * eta
    val northing = 10000000.0 + K0 * AA * xi   // southern hemisphere offset
    (easting, northing)
  }

  def utm19sInverse(easting: Double, northing: Double): (Double, Double) = {
    val xi = (northing - 10000000.0) / (K0 * AA)
    val eta = (easting - 500000.0) / (K0 * AA)
    var xiP = xi; var etaP = eta
    for (j <- 1 to 3) {
      xiP -= Beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      etaP -= Beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
    }
    val e = math.sqrt(F * (2 - F))
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    var lat = chi
    for (_ <- 1 to 7) lat = fromConformal(chi, e, lat)
    val lon = math.atan2(math.sinh(etaP), math.cos(xiP))
    (math.toDegrees(lat), math.toDegrees(lon + Lon0))
  }

  /** One Newton-style step recovering geodetic latitude from conformal
    * latitude `chi`: solve χ(φ) = chi. */
  private def fromConformal(chi: Double, e: Double, lat0: Double): Double = {
    val s = math.sin(lat0)
    val t0 = math.sinh(atanh(s) - e * atanh(e * s))
    val chi0 = math.atan(t0)
    val dChiDLat = {
      val h = 1e-7
      val s1 = math.sin(lat0 + h)
      val t1 = math.sinh(atanh(s1) - e * atanh(e * s1))
      (math.atan(t1) - chi0) / h
    }
    lat0 + (chi - chi0) / dChiDLat
  }

  /** Area-weighted (shoelace) centroid of a multi-ring polygon given in
    * parallel coordinate arrays with ring-start offsets — the planar
    * formula geopandas' `.centroid` applies after `to_crs`. Shapefile
    * ring orientation (outer clockwise, holes counter-clockwise) gives
    * holes the opposite signed area, so one signed accumulation over
    * all rings subtracts them. Degenerate geometry (zero area: points,
    * lines) falls back to the vertex mean. */
  def planarCentroid(xs: Seq[Double], ys: Seq[Double], parts: Seq[Int]): (Double, Double) = {
    val n = xs.length
    require(n > 0, "empty geometry has no centroid")
    var a2 = 0.0; var cx = 0.0; var cy = 0.0
    val bounds = (if (parts.isEmpty) Seq(0) else parts) :+ n
    var r = 0
    while (r < bounds.length - 1) {
      val s = bounds(r); val e = bounds(r + 1)
      var i = s
      while (i < e) {
        val j = if (i + 1 < e) i + 1 else s   // close the ring
        val cross = xs(i) * ys(j) - xs(j) * ys(i)
        a2 += cross
        cx += (xs(i) + xs(j)) * cross
        cy += (ys(i) + ys(j)) * cross
        i += 1
      }
      r += 1
    }
    if (math.abs(a2) < 1e-12) (xs.sum / n, ys.sum / n)
    else (cx / (3 * a2), cy / (3 * a2))
  }

  /** The reference's full centroid CRS chain
    * (`temperaturas_rm.py:114-119`): WGS84 vertices → UTM 19S forward →
    * planar shoelace centroid in meters → UTM 19S inverse → (lat, lon)
    * degrees. Input arrays are shapefile order: xs = longitudes,
    * ys = latitudes. */
  def utm19sCentroid(lons: Seq[Double], lats: Seq[Double],
                     parts: Seq[Int]): (Double, Double) = {
    val n = lons.length
    val es = new Array[Double](n)
    val ns = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (e, nn) = utm19sForward(lats(i), lons(i))
      es(i) = e; ns(i) = nn
      i += 1
    }
    val (ce, cn) = planarCentroid(es.toSeq, ns.toSeq, parts)
    utm19sInverse(ce, cn)
  }

  case class CentroidLL(lat: Double, lon: Double)

  /** [[utm19sCentroid]] as a DataFrame-level function over the
    * [[graft.sources.ShpDataSource]] geometry arrays — returns a
    * struct(lat, lon) column. A UDF (SURVEY §2.11 preference order) is
    * right here: per-polygon trigonometric projection of a few hundred
    * vertices on a small dimension table, not a hot scan path. */
  def utm19sCentroidUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((xs: Seq[Double], ys: Seq[Double], parts: Seq[Int]) => {
      val (lat, lon) = utm19sCentroid(xs, ys, parts)
      CentroidLL(lat, lon)
    })
}

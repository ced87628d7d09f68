package graft.pipelines

import graft.operators.{Geo, Impute, Nearest, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference pipeline 2 (ref `temperaturas_rm.py`,
  * `PipelineTemperaturasRM`): daily station temperatures → every comuna
  * assigned its nearest station's series → gap reconstruction by one of
  * three strategies. The reference's driver loops (per-station fetch,
  * per-comuna argmin over a scipy cdist matrix, per-date KNN) become
  * one lazy plan: explode the nested JSON, broadcast-NN-join, window /
  * join / flatMapGroups fills.
  */
object TemperaturasRM {

  /** paso 1 (ref `temperaturas_rm.py:29-101`): flatten the nested
    * month→day→{media} JSON into daily rows and build the date.
    * `raw` schema: (Codigo_Estacion, Nombre_Estacion, Latitud, Longitud,
    * Region, Año, datos: map<string month, map<string day,
    * struct<media double>>>). */
  def paso1Flatten(raw: DataFrame): DataFrame =
    raw
      .filter(col("Region") === 13)  // ref :50
      .select(col("Codigo_Estacion"), col("Nombre_Estacion"),
        col("Latitud").cast("double"), col("Longitud").cast("double"),
        col("Region"), col("Año"), explode(col("datos")).as(Seq("Mes", "porDia")))
      .select(col("*"), explode(col("porDia")).as(Seq("Dias", "valores")))
      .select(col("Codigo_Estacion"), col("Nombre_Estacion"), col("Latitud"),
        col("Longitud"), col("Region"), col("Año").cast("int").as("Año"),
        col("Mes").cast("int").as("Mes"), col("Dias").cast("int").as("Dias"),
        col("valores.media").as("Temperatura_Media"))
      .filter(col("Temperatura_Media").isNotNull)  // ref :74
      .withColumn("Fecha", make_date(col("Año"), col("Mes"), col("Dias")))  // ref :92-96
      .drop("porDia", "valores")

  /** paso 2 input from the RAW shapefile pair (ref
    * `temperaturas_rm.py:106,114-119`: `gpd.read_file(comunas.shp)` →
    * `to_crs(32719)` → `.centroid` → `to_crs(4326)`): `.shp` polygon
    * records ([[graft.sources.ShpDataSource]]) joined positionally
    * (gid) with the `.dbf` attribute rows ([[graft.sources
    * .DbfDataSource]]), centroids via the UTM 19S chain. Output is
    * exactly [[paso2Asignar]]'s `comunas` schema:
    * (Comuna, codregion, lat_centroid, lon_centroid). */
  def comunasFromShapefile(spark: SparkSession, shpPath: String, dbfPath: String,
                           comunaCol: String = "Comuna",
                           regionCol: String = "codregion"): DataFrame = {
    val geom = spark.read.format("graft.sources.ShpDataSource").load(shpPath)
      .select(col("gid"),
        Geo.utm19sCentroidUdf(col("xs"), col("ys"), col("parts")).as("_c"))
      .select(col("gid"), col("_c.lat").as("lat_centroid"),
        col("_c.lon").as("lon_centroid"))
    val attrs = spark.read.format("graft.sources.DbfDataSource")
      .option("gid", "true").load(dbfPath)
    attrs.join(geom, col("_gid") === col("gid"))
      .select(col(comunaCol).as("Comuna"), col(regionCol).as("codregion"),
        col("lat_centroid"), col("lon_centroid"))
  }

  /** paso 2 (ref `temperaturas_rm.py:103-155`): comuna centroids (from
    * the pre-extracted shapefile table, Web-Mercator → WGS84 if needed)
    * nearest-station assignment + km distance, then attach the
    * station's whole series to each comuna (1→N fan-out via join).
    * `comunas` schema: (Comuna, codregion, lat_centroid, lon_centroid). */
  def paso2Asignar(comunas: DataFrame, temperaturas: DataFrame): DataFrame = {
    val estaciones = temperaturas
      .select("Codigo_Estacion", "Latitud", "Longitud")
      .na.drop(Seq("Latitud", "Longitud"))  // ref :112
      .dropDuplicates("Codigo_Estacion")    // ref :111
      .withColumnRenamed("Latitud", "est_lat").withColumnRenamed("Longitud", "est_lon")
    val rm = comunas.filter(col("codregion") === 13)  // ref :107
      .select(col("Comuna"), col("lat_centroid"), col("lon_centroid"))
    val asignado = Nearest.nearestJoin(
      rm, estaciones,
      Geo.euclidDeg(col("lat_centroid"), col("lon_centroid"), col("est_lat"), col("est_lon")),
      tieBreak = Seq(col("Codigo_Estacion")))
      .withColumn("Distancia_Estacion_km", Geo.degToKm(col("_dist")))  // ref :130
      .select("Comuna", "Codigo_Estacion", "Distancia_Estacion_km")
    asignado.join(temperaturas, Seq("Codigo_Estacion"))  // fan-out, ref :135-147
  }

  /** paso 3 (ref `temperaturas_rm.py:157-243`): reconstruct gaps.
    * metodo ∈ lineal | estacional | knn (ref :165-172). Input needs
    * (Comuna, Fecha, Temperatura_Media [, Latitud, Longitud,
    * Distancia_Estacion_km for knn]). Adds `Temperatura_Media_filled`. */
  def paso3Reconstruir(df: DataFrame, metodo: String): DataFrame = metodo match {
    case "lineal" =>      // ref :180-190 — W1
      Windows.interpolateLinear(df, Seq("Comuna"), Seq(col("Fecha")), "Temperatura_Media")
    case "estacional" =>  // ref :192-222 — W2: day-of-year → month → overall medians
      Windows.seasonalFill(df, "Comuna", dayofyear(col("Fecha")),
        month(col("Fecha")), "Temperatura_Media")
    case _ =>             // ref :224-243 — W3: per-date KNN(k=3, distance)
      Impute.knnImpute(
        df.withColumn("_rid", monotonically_increasing_id()),
        groupCol = "Fecha", idCol = "_rid",
        featureCols = Seq("Latitud", "Longitud", "Distancia_Estacion_km"),
        valueCol = "Temperatura_Media", k = 3)
        .withColumnRenamed("Temperatura_Media_imputed", "Temperatura_Media_filled")
        .drop("_rid")
  }
}

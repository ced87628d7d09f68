package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A7 (ref nb c13 / J:138-161): per-group OLS y = a + b·x done purely
  * with aggregates — no MLlib, no per-group driver loop. The reference
  * loops sklearn `LinearRegression` over comunas; here one distributed
  * hash aggregate computes every group's closed-form slope/intercept.
  *
  * Numerics, deliberately engine-reproducible (DuckDB oracle parity):
  *  - the four sums accumulate exactly: ints for x/x², [[Exact.dsum]]
  *    for y (the `decimal(28,6)` sum, on the fixed-point aggregate),
  *    and a fixed-scale decimal for x·y (decimal×int stays decimal) —
  *    no double rounding anywhere in the accumulation;
  *  - x is centered by `xOffset` first: slope is shift-invariant, and
  *    centering shrinks the catastrophic cancellation in
  *    n·Σxy − Σx·Σy by ~(x̄/σₓ)², below the final 6-dp rounding —
  *    without it, compiler FMA contraction on one engine is enough to
  *    flip the slope's low digits;
  *  - outputs are rounded to 6 dp on both sides.
  */
object Regression {
  private val DecY = DecimalType(18, 6)

  /** Returns one row per group: slope, intercept, and a clamped
    * (≥ 0, like the reference's `max(0, pred)`) prediction at `atX`. */
  def olsPredict(df: DataFrame, groupCols: Seq[String],
                 x: Column, y: Column, atX: Int, xOffset: Int = 2000): DataFrame = {
    val xc = x - xOffset
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(xc.cast("long")).as("sx"),
      sum((xc * xc).cast("long")).as("sxx"),
      Exact.dsum(y).as("sy"),
      sum(y.cast(DecY) * xc).as("sxy_d"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double")
    val sy = col("sy")
    val sxy = col("sxy_d").cast("double")
    // exact 64-bit integer arithmetic for the denominator
    val denom = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = (n * sxy - sx * sy) / denom
    val intercept = (sy - slope * sx) / n - slope * lit(xOffset.toDouble)
    val pred = (sy - slope * sx) / n + slope * lit((atX - xOffset).toDouble)
    agg.select(
      groupCols.map(col) ++ Seq(
        round(slope, 6).as("slope"),
        round(intercept, 6).as("intercept"),
        round(greatest(lit(0.0), pred), 6).as("pred")): _*)
  }

  /** DuckDB-oracle SQL for the same computation (shared formula). */
  def oracleSql(table: String, groupCols: Seq[String],
                xExpr: String, yExpr: String, atX: Int, xOffset: Int = 2000): String = {
    val g = groupCols.mkString(", ")
    val xc = s"(($xExpr) - $xOffset)"
    s"""WITH a AS (
       |  SELECT $g,
       |    COUNT(*) AS n_i,
       |    SUM(CAST($xc AS BIGINT)) AS sx_i,
       |    SUM(CAST($xc AS BIGINT)*CAST($xc AS BIGINT)) AS sxx_i,
       |    CAST(SUM(CAST(($yExpr) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(($yExpr) AS DECIMAL(18,6)) * $xc) AS DOUBLE) AS sxy
       |  FROM $table GROUP BY $g),
       |b AS (
       |  SELECT $g, sy, sxy,
       |    CAST(n_i AS DOUBLE) AS n, CAST(sx_i AS DOUBLE) AS sx,
       |    CAST(n_i*sxx_i - sx_i*sx_i AS DOUBLE) AS denom
       |  FROM a),
       |c AS (
       |  SELECT $g, n, sx, sy,
       |    (n*sxy - sx*sy) / denom AS slope
       |  FROM b)
       |SELECT $g,
       |  ROUND(slope, 6) AS slope,
       |  ROUND((sy - slope*sx)/n - slope*$xOffset.0, 6) AS intercept,
       |  ROUND(GREATEST(0.0, (sy - slope*sx)/n + slope*${atX - xOffset}.0), 6) AS pred
       |FROM c ORDER BY $g""".stripMargin
  }
}

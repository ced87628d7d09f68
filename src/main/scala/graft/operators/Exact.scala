package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic ("oracle-exact") aggregation helpers.
  *
  * Floating-point SUM/AVG are summation-order dependent, so two engines
  * (or two runs with different partitioning) can disagree in the last
  * bits. Accumulating the 6-dp decimal image of each value instead
  * makes the aggregate exact and engine-independent; the final
  * conversion back to double is a single deterministic rounding. This
  * is how every money/quantity aggregate in the engine stays
  * hash-comparable with a DuckDB oracle while remaining a plain
  * map-side-combinable Spark aggregate.
  *
  * [[dsum]] equals `CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)` bit
  * for bit (the oracle SQL of [[sqlSum]]), but runs as
  * [[graft.functions.ExactSum]]: a 128-bit fixed-point buffer with a
  * codegen'd per-row conversion, instead of a `BigDecimal` per row.
  *
  * Out of scope, on Spark's decimal `sum`: `Sketches.aggState`, whose
  * `sum_v` is a decimal state column that `mergeStates` re-sums, and
  * the `sxy_d` sum of `Regression.olsPredict`, a decimal × integer
  * product the kernel does not model (its `sy` is a [[dsum]]).
  */
object Exact {

  /** Exact SUM over a numeric column, returned as double. */
  def dsum(c: Column): Column = graft.functions.ExactSum(c)

  /** Exact AVG (sum/count of non-nulls), returned as double. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL fragment equivalents for the DuckDB oracle. */
  def sqlSum(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,6))) AS DOUBLE)"
  def sqlAvg(expr: String): String =
    s"(${sqlSum(expr)} / COUNT($expr))"
}

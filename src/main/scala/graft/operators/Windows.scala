package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered per-group computation (SURVEY.md §2.5). The reference does
  * all of this with per-group Python loops over sorted pandas frames;
  * here each is a composition of built-in window expressions — fully
  * codegen'd, shuffles once on the partition key, and scales to any
  * number of groups.
  */
object Windows {

  /** W1 (ref `temperaturas_rm.py:180-190`): per-group linear
    * interpolation of nulls over row position within the sort order —
    * pandas `interpolate(method='linear')` semantics (position-based,
    * NOT timestamp-distance) — followed by ffill then bfill at edges.
    *
    * Returns `df` + `<valueCol>_filled`.
    */
  def interpolateLinear(df: DataFrame, partition: Seq[String],
                        order: Seq[Column], valueCol: String): DataFrame = {
    val v = col(valueCol)
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val rn = row_number().over(w)
    val anchor = when(v.isNotNull, struct(rn.as("rn"), v.as("v")))
    val prev = last(anchor, ignoreNulls = true).over(before)
    val next = first(anchor, ignoreNulls = true).over(after)
    df.withColumn("_rn", rn)
      .withColumn("_prev", prev).withColumn("_next", next)
      .withColumn(s"${valueCol}_filled",
        coalesce(
          v,
          col("_prev.v") + (col("_next.v") - col("_prev.v")) *
            (col("_rn") - col("_prev.rn")).cast("double") /
            (col("_next.rn") - col("_prev.rn")).cast("double"),
          col("_prev.v"),   // trailing gap → ffill
          col("_next.v")))  // leading gap → bfill
      .drop("_rn", "_prev", "_next")
  }

  /** W2 (ref `temperaturas_rm.py:192-222`): seasonal gap fill — a null
    * takes the group's seasonal-bucket median, else the group's coarse
    * bucket median, else the group's overall median. Implemented as
    * three aggregate tables joined back (the reference loops comunas
    * and recomputes medians per row). The join strategy is left to the
    * optimizer: the median tables are ∝ group-key cardinality, so a
    * forced broadcast would OOM the driver at 100 TB with
    * high-cardinality groups — when they ARE small, AQE picks the
    * broadcast join at runtime anyway.
    *
    * Returns `df` + `<valueCol>_filled`.
    */
  def seasonalFill(df: DataFrame, group: String, fineBucket: Column,
                   coarseBucket: Column, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val base = df.withColumn("_fine", fineBucket).withColumn("_coarse", coarseBucket)
    val fine = base.groupBy(col(group), col("_fine"))
      .agg(median(v).as("_m_fine"))
    val coarse = base.groupBy(col(group), col("_coarse"))
      .agg(median(v).as("_m_coarse"))
    val overall = base.groupBy(col(group)).agg(median(v).as("_m_all"))
    base
      .join(fine, Seq(group, "_fine"), "left")
      .join(coarse, Seq(group, "_coarse"), "left")
      .join(overall, Seq(group), "left")
      .withColumn(s"${valueCol}_filled",
        coalesce(v, col("_m_fine"), col("_m_coarse"), col("_m_all")))
      .drop("_fine", "_coarse", "_m_fine", "_m_coarse", "_m_all")
  }

  /** Beyond-reference analytics pack: rank / lag / lead / running sum
    * per group. The running sum is [[Exact.dsum]], so it is exact and
    * oracle-comparable at any partitioning. */
  def analytics(df: DataFrame, partition: Seq[String], order: Seq[Column],
                measure: Column): DataFrame = {
    val w = Window.partitionBy(partition.map(col): _*).orderBy(order: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("rn", row_number().over(w))
      .withColumn("prev_val", lag(measure, 1).over(w))
      .withColumn("next_val", lead(measure, 1).over(w))
      .withColumn("running_sum", Exact.dsum(measure).over(run))
  }

  /** Sessionization (beyond reference; training-pipeline staple): a new
    * session starts when the gap to the previous event exceeds
    * `gapSeconds`. Pure lag + running-count windows — one shuffle on
    * the user key, linear in events. */
  def sessionize(df: DataFrame, userCol: String, tsSeconds: Column,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(tsSeconds)
    val newSession = when(
      tsSeconds - lag(tsSeconds, 1).over(w) > gapSeconds || lag(tsSeconds, 1).over(w).isNull, 1
    ).otherwise(0)
    df.withColumn("_new", newSession)
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_new")
  }
}

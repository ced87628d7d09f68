package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mergeable aggregate state — the compute-once/merge-anywhere pattern a
  * 100 TB pipeline lives on. Instead of rescanning history for every
  * rollup or every daily refresh, each ingest slice (a day, an hour, a
  * source shard) is reduced ONCE to a tiny per-key state row of
  * mergeable aggregates: additive counters (count, decimal-exact sum),
  * semilattice extremes (min, max), and a DataSketches HLL sketch for
  * the one non-additive quantity, distinct count. Any coarser slice —
  * a month, a nation, all-time — is then a merge over state rows
  * (sum+sum, min+min, sketch-union), never a rescan of the raw rows.
  *
  * The decimal sum keeps the merged value bit-identical to a one-shot
  * aggregate regardless of merge tree shape (see [[Exact]]); the HLL
  * union is DataSketches' native merge, whose estimate is within the
  * sketch's published error of the true distinct count at any lgK.
  *
  * Reference shape: the dashboard-feeding aggregation tables of
  * `atenciones_urgencia.py:17-29` (weekly ER-visit totals recomputed
  * from scratch each run) — re-expressed as maintainable state.
  */
object Sketches {
  private val Dec = DecimalType(28, 6)

  /** Reduce raw rows to one mergeable state row per key: exact
    * additive stats over `valCol` plus an HLL distinct sketch over
    * `ndCol`. One map-side-combinable shuffle on the keys; output size
    * ∝ |keys|, independent of input row count. */
  def aggState(df: DataFrame, keyCols: Seq[String], valCol: String,
               ndCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col(valCol).cast(Dec)).as("sum_v"),
      min(col(valCol)).as("min_v"),
      max(col(valCol)).as("max_v"),
      hll_sketch_agg(col(ndCol), lgK).as("nd_sketch"))

  /** Merge state rows down to (possibly coarser) `keyCols`: counters
    * add, extremes take min/max, sketches union. Associative and
    * commutative, so daily states can fold into monthly states into
    * yearly states in any order with identical results. The inputs
    * must share the [[aggState]] schema and lgK. */
  def mergeStates(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).as("n"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"),
      hll_union_agg(col("nd_sketch")).as("nd_sketch"))

  /** Render a state table for consumption: decimal sum back to double
    * (one deterministic conversion), sketch to its distinct estimate.
    * Keeps the key and counter columns as-is. */
  def readState(state: DataFrame): DataFrame =
    state
      .withColumn("sum_v", col("sum_v").cast("double"))
      .withColumn("nd_est", round(hll_sketch_estimate(col("nd_sketch"))).cast("long"))
      .drop("nd_sketch")

  /** Incremental maintenance: fold a new raw slice into an existing
    * state table. The history behind `state` is never rescanned — the
    * only inputs are the (tiny) state rows and the new slice. Exactly
    * `mergeStates(state ∪ aggState(batch))`, exposed as one verb
    * because it is THE nightly operation of a maintained table. */
  def updateState(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
                  valCol: String, ndCol: String, lgK: Int = 12): DataFrame =
    mergeStates(state.unionByName(aggState(batch, keyCols, valCol, ndCol, lgK)),
      keyCols)

  /** Per-slice HLL distinct-sketch partials: the state-table pattern
    * specialized to distinct counting alone (`sliceCols` at partial
    * granularity — e.g. key × day). Pair with [[hllMerge]] to answer
    * "distinct per key over any day range" without touching raw data. */
  def hllPartials(df: DataFrame, sliceCols: Seq[String], ndCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(sliceCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      hll_sketch_agg(col(ndCol), lgK).as("nd_sketch"))

  /** Union partial sketches up to coarser `keyCols` and estimate. */
  def hllMerge(partials: DataFrame, keyCols: Seq[String]): DataFrame =
    partials.groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).as("n"),
      hll_union_agg(col("nd_sketch")).as("nd_sketch"))
      .withColumn("nd_est", round(hll_sketch_estimate(col("nd_sketch"))).cast("long"))
      .drop("nd_sketch")

  /** Per-slice KLL quantile partials ([[graft.functions.KllSketchAgg]])
    * — the percentile leg of the state-table family: p50/p90/p99 of
    * any rollup from persisted state rows, raw rows reduced once. */
  def kllPartials(df: DataFrame, sliceCols: Seq[String], valCol: String): DataFrame =
    df.groupBy(sliceCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      graft.functions.KllSketchAgg(col(valCol)).as("q_sketch"))

  /** Merge KLL partials up to coarser `keyCols`; the sketch column
    * stays a sketch so further rollups keep merging. */
  def kllMerge(partials: DataFrame, keyCols: Seq[String]): DataFrame =
    partials.groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).as("n"),
      graft.functions.KllSketchAgg(col("q_sketch")).as("q_sketch"))

  /** Quantile estimates at `ranks` from a (possibly merged) KLL
    * partial table: one `q<rank>` column per requested rank. */
  def kllQuantiles(merged: DataFrame, ranks: Seq[Double]): DataFrame =
    ranks.foldLeft(merged) { (df, r) =>
      df.withColumn(s"q${(r * 100).round}",
        graft.functions.KllQuantileEstimate(col("q_sketch"), lit(r)))
    }.drop("q_sketch")

  /** Per-slice THETA partials ([[graft.functions.ThetaSketchAgg]]) —
    * like [[hllPartials]] but the sketch supports set operations:
    * slices' distinct sets can later INTERSECT, the question HLL state
    * cannot answer without rescanning raw rows. */
  def thetaPartials(df: DataFrame, sliceCols: Seq[String], ndCol: String,
                    lgK: Int = 12): DataFrame =
    df.groupBy(sliceCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      graft.functions.ThetaSketchAgg(col(ndCol), lgK).as("theta"))

  /** Merge theta partials up to coarser `keyCols` — the sketch column
    * stays a sketch (binary-mode [[graft.functions.ThetaSketchAgg]] is
    * a set UNION), so merged state keeps supporting intersect/diff. */
  def thetaMerge(partials: DataFrame, keyCols: Seq[String],
                 lgK: Int = 12): DataFrame =
    partials.groupBy(keyCols.map(col): _*).agg(
      sum(col("n")).as("n"),
      graft.functions.ThetaSketchAgg(col("theta"), lgK).as("theta"))

  /** Batch-vs-history NOVELTY: for each key, how many of the new
    * batch's distinct `ndCol` values were never seen by the merged
    * history state — the incremental-crawl churn question ("how many
    * of today's ids are NEW"), answered per key from SKETCH rows alone
    * (theta A-NOT-B of batch against history; the raw history corpus
    * is never rescanned — the [[updateState]] read face for theta).
    * `histPartials` is a [[thetaPartials]]-shaped table at any
    * granularity ≥ `keyCols` (it is [[thetaMerge]]d down first). Keys
    * with NO history rows report their whole batch as novel (left
    * join + coalesce), so a brand-new key is novelty, not a dropped
    * row. Estimates are exact while both sides stay under the
    * sketch's nominal entry count. */
  def thetaNovelty(histPartials: DataFrame, batch: DataFrame,
                   keyCols: Seq[String], ndCol: String,
                   lgK: Int = 12): DataFrame = {
    import graft.functions.{ThetaDiffEstimate, ThetaEstimate}
    // merge at the caller's lgK (r15 — the default here silently
    // downsampled history precision to nominal 4096 while the batch
    // side honored the requested lgK)
    val hist = thetaMerge(histPartials, keyCols, lgK)
      .select(keyCols.map(col) :+ col("theta").as("_th"): _*)
    thetaPartials(batch, keyCols, ndCol, lgK)
      .select(keyCols.map(col) :+ col("n").as("n_batch") :+
        col("theta").as("_tb"): _*)
      .join(hist, keyCols, "left")
      .select(keyCols.map(col) :+ col("n_batch") :+
        round(ThetaEstimate(col("_tb"))).cast("long").as("batch_nd_est") :+
        coalesce(round(ThetaEstimate(col("_th"))), lit(0.0)).cast("long")
          .as("hist_nd_est") :+
        coalesce(round(ThetaDiffEstimate(col("_tb"), col("_th"))),
          round(ThetaEstimate(col("_tb")))).cast("long").as("novel_est"): _*)
  }

  /** ONE-pass combined state row — the production shape of the family:
    * a maintained state table wants count + sum + extremes + distinct
    * + quantiles (+ set-op-capable distinct) from a SINGLE reduction
    * of the raw slice, not one scan per statistic. Emits [[aggState]]'s
    * columns plus a KLL quantile sketch over `valCol` (`q_sketch`) and,
    * when `withTheta`, a theta sketch over `ndCol` (`nd_theta`) whose
    * merged states can still intersect/diff ([[distinctOverlap]],
    * [[thetaNovelty]]). Output size ∝ |keys|, one shuffle. */
  def aggStateFull(df: DataFrame, keyCols: Seq[String], valCol: String,
                   ndCol: String, lgK: Int = 12,
                   withTheta: Boolean = true): DataFrame = {
    val base = Seq(
      count(lit(1)).as("n"),
      sum(col(valCol).cast(Dec)).as("sum_v"),
      min(col(valCol)).as("min_v"),
      max(col(valCol)).as("max_v"),
      hll_sketch_agg(col(ndCol), lgK).as("nd_sketch"),
      graft.functions.KllSketchAgg(col(valCol).cast("double")).as("q_sketch"))
    val aggs = if (withTheta)
      base :+ graft.functions.ThetaSketchAgg(col(ndCol), lgK).as("nd_theta")
    else base
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge [[aggStateFull]] rows down to (possibly coarser) `keyCols`:
    * counters add (decimal sum bit-identical under any merge tree),
    * extremes lattice, every sketch unions via its binary merge mode.
    * Associative and commutative like [[mergeStates]]. */
  def mergeStatesFull(states: DataFrame, keyCols: Seq[String],
                      lgK: Int = 12): DataFrame = {
    val base = Seq(
      sum(col("n")).as("n"),
      sum(col("sum_v")).as("sum_v"),
      min(col("min_v")).as("min_v"),
      max(col("max_v")).as("max_v"),
      hll_union_agg(col("nd_sketch")).as("nd_sketch"),
      graft.functions.KllSketchAgg(col("q_sketch")).as("q_sketch"))
    val aggs = if (states.columns.contains("nd_theta"))
      base :+ graft.functions.ThetaSketchAgg(col("nd_theta"), lgK).as("nd_theta")
    else base
    states.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental maintenance of a FULL state table — the one-verb
    * nightly fold, as [[updateState]] is for the HLL-only shape. */
  def updateStateFull(state: DataFrame, batch: DataFrame,
                      keyCols: Seq[String], valCol: String, ndCol: String,
                      lgK: Int = 12): DataFrame =
    mergeStatesFull(
      state.unionByName(aggStateFull(batch, keyCols, valCol, ndCol, lgK,
        withTheta = state.columns.contains("nd_theta"))),
      keyCols, lgK)

  /** Render a FULL state table: decimal sum to double, HLL to its
    * distinct estimate, KLL to one `q<rank>` column per requested
    * rank, theta (if present) to `nd_theta_est`. */
  def readStateFull(state: DataFrame,
                    ranks: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val withQ = ranks.foldLeft(
      state
        .withColumn("sum_v", col("sum_v").cast("double"))
        .withColumn("nd_est",
          round(hll_sketch_estimate(col("nd_sketch"))).cast("long"))) {
      (df, r) =>
        df.withColumn(s"q${(r * 100).round}",
          graft.functions.KllQuantileEstimate(col("q_sketch"), lit(r)))
    }
    val withTheta =
      if (state.columns.contains("nd_theta"))
        withQ.withColumn("nd_theta_est",
          round(graft.functions.ThetaEstimate(col("nd_theta"))).cast("long"))
      else withQ
    withTheta.drop("nd_sketch", "q_sketch", "nd_theta")
  }

  /** Pairwise distinct-overlap estimates between every two slices of a
    * theta-partial table: |distinct(A) ∩ distinct(B)| per (a, b) pair
    * with a < b — audience overlap, crawl intersection, segment
    * containment. The pairing is slices × slices on per-slice SKETCH
    * rows (tiny by construction — one row per slice), so the
    * inequality join is O(slices²) sketch intersections, independent
    * of corpus size; exact whenever both slices stayed under the
    * sketch's nominal entry count. */
  def distinctOverlap(partials: DataFrame, sliceCol: String): DataFrame = {
    import graft.functions.{ThetaDiffEstimate, ThetaEstimate, ThetaIntersectEstimate}
    val a = partials.select(col(sliceCol).as("slice_a"), col("theta").as("_ta"))
    val b = partials.select(col(sliceCol).as("slice_b"), col("theta").as("_tb"))
    a.join(b, col("slice_a") < col("slice_b"))
      .select(col("slice_a"), col("slice_b"),
        round(ThetaEstimate(col("_ta"))).cast("long").as("nd_a_est"),
        round(ThetaEstimate(col("_tb"))).cast("long").as("nd_b_est"),
        round(ThetaIntersectEstimate(col("_ta"), col("_tb"))).cast("long")
          .as("overlap_est"),
        round(ThetaDiffEstimate(col("_ta"), col("_tb"))).cast("long")
          .as("a_only_est"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality summary every ingestion run of a
  * training pipeline emits (extends the reference's ad-hoc null-ratio
  * logging at `temperaturas_rm.py:159-175` into a first-class
  * operator): one output row per profiled column with row/null/distinct
  * counts and numeric min/max/mean.
  *
  * Single pass: all per-column aggregates are computed in ONE
  * distributed aggregation (no per-column jobs), then unpivoted to the
  * long (column, metric…) shape. Exact distinct counts shuffle once
  * per column; at 100 TB swap `approx_count_distinct` in via
  * `approxDistinct = true` — same output schema, HLL sketch cost.
  */
object Profile {

  /** The percentile computation behind [[winsorize]], [[madOutliers]]
    * and [[equidepth]]. Every arm yields the same output schema; only
    * the bounds move, by at most the sketch's rank error. */
  sealed trait Arm
  object Arm {
    /** Exact interpolated percentiles: a sort-based aggregate that
      * buffers each group's values in one task. The oracle-matched
      * arm. */
    case object Exact extends Arm
    /** The 100 TB arm: ONE KLL quantile sketch per group
      * ([[graft.functions.KllSketchAgg]], rank error ~0.5%), which
      * partial-aggregates map-side and shuffles only merged sketches —
      * the sketch-for-sort swap the profile family makes with HLL
      * (`approxDistinct`). KLL replaced the GK `approx_percentile` arm
      * in round 14: GK's per-update constant at oracle-band accuracy
      * made it SLOWER than the exact arm it relieves (32.0 s vs 25.8 s
      * at the x100 probe); KLL's update is a buffered insert with
      * amortized compaction. */
    case object Sketch extends Arm
    /** The sketch arm for LOW-CARDINALITY value columns (integer-valued
      * counts and quantities): a codegen'd (group, value) → count hash
      * aggregate collapses the corpus first, and the sketch absorbs the
      * counts as weights — O(distinct values) sketch updates instead of
      * O(rows), with the same rank-error bounds (and in practice exact:
      * distinct values ≪ k keeps the sketch out of its sampling
      * regime). On a high-cardinality column the pre-aggregation would
      * shuffle every row for nothing. */
    case object WeightedSketch extends Arm
    /** The arm picked from measured size: [[Sketch]] when [[useApprox]]
      * finds a group past `perGroupBound` rows, [[WeightedSketch]] when
      * [[lowCardinality]] also proves the value column low-cardinality,
      * else [[Exact]]. On a stats-bearing catalog table every decision
      * is zero-job. */
    final case class Auto(perGroupBound: Long = 1000000L) extends Arm
  }

  /** Per-group winsorization (outlier clipping): clamp `valueCol` to
    * its group's [`lo`, `hi`] percentiles — the standard
    * robust-statistics pass before training on heavy-tailed numerics.
    * Adds `<valueCol>_w` (the clamped value) plus the `_lo`/`_hi`
    * bounds. Two-pass by necessity (a percentile needs the full
    * group): one aggregation serves both bounds, then a broadcast join
    * back ([[joinBounds]]) lets the corpus stream without a shuffle.
    * The clamped output's INVARIANT (every `<valueCol>_w` lies inside
    * [_lo, _hi]) holds under every [[Arm]]. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                lo: Double, hi: Double, arm: Arm = Arm.Exact): DataFrame = {
    require(0 <= lo && lo <= hi && hi <= 1, s"need 0 <= lo <= hi <= 1, got $lo/$hi")
    val (a, in, v) = prepare(df, groupCols, valueCol, arm)
    val (t, q) = quantiles(in, groupCols, v, Seq(lo, hi), a)
    val bounds = t.select(groupCols.map(col) :+ q(0).as("_lo") :+ q(1).as("_hi"): _*)
    joinBounds(df, bounds, groupCols)
      .withColumn(valueCol + "_w",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
  }

  /** `arm` resolved against `df`, with the input [[quantiles]] reads
    * for it: the rows and `valueCol`, or — for the weighted sketch — the
    * (group, value) → count table, whose value is `_pv` and whose
    * weight is `_pw`. */
  private def prepare(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      arm: Arm): (Arm, DataFrame, Column) = {
    val resolved = arm match {
      case Arm.Auto(bound) =>
        if (!useApprox(df, groupCols, bound)) Arm.Exact
        else if (lowCardinality(df, valueCol)) Arm.WeightedSketch
        else Arm.Sketch
      case other => other
    }
    if (resolved == Arm.WeightedSketch)
      (resolved, df.groupBy(groupCols.map(col) :+
        col(valueCol).cast("double").as("_pv"): _*).agg(count(lit(1)).as("_pw")),
        col("_pv"))
    else (resolved, df, col(valueCol))
  }

  /** The one per-group percentile site: one row per group of
    * `groupCols`, and over those rows the array of the quantiles of
    * `value` at `probs`. `arm` is resolved ([[prepare]]); the weighted
    * sketch weighs each row of `in` by its `_pw`. Every arm reads all
    * `probs` from ONE buffer or sketch per group — a multi-quantile
    * shape must never pay one aggregation pass per quantile. The array
    * comes back as an expression over the returned rows, not as a
    * stored column, so that a caller's `q(i)` folds into the one
    * estimate it reads (a stored array read twice would stay a
    * projection of its own in the plan). */
  private def quantiles(in: DataFrame, groupCols: Seq[String], value: Column,
                        probs: Seq[Double], arm: Arm): (DataFrame, Column) = {
    val groups = in.groupBy(groupCols.map(col): _*)
    def sketched(sketch: Column) = (groups.agg(sketch.as("_sk")),
      array(probs.map(p => graft.functions.KllQuantileEstimate(col("_sk"), lit(p))): _*))
    arm match {
      case Arm.Exact =>
        // one percentile buffer per group serves every probability
        (groups.agg((probs match {
          case Seq(p) => array(percentile(value, lit(p)))
          case _      => percentile(value, array(probs.map(lit): _*))
        }).as("_b")), col("_b"))
      case Arm.Sketch => sketched(graft.functions.KllSketchAgg(value.cast("double")))
      case Arm.WeightedSketch => sketched(graft.functions.KllSketchAgg(value, col("_pw")))
      case auto: Arm.Auto => throw new IllegalArgumentException(s"unresolved arm $auto")
    }
  }

  /** Exact-vs-sketch dispatch from MEASURED data size (round 13 — the
    * caller was choosing `approx` by hand): true = take the sketch
    * arm, because the estimated per-group row count exceeds
    * `perGroupBound`. The exact interpolated percentile buffers every
    * group value inside one reducer task, so the right arm is a
    * function of group size, not of the caller's guess; the sketch
    * arm costs bounded rank error (≤ 1/accuracy) but fixed state.
    *
    * Plan statistics first, probe only as fallback (round 14): when
    * the optimized plan already KNOWS its row count (a LIMIT, a
    * `range`, CBO table stats) the dispatch is free — in particular
    * rowCount ≤ `perGroupBound` decides `false` with no job at all,
    * since even a single group cannot exceed the bound.
    *
    * SKEW-aware in both directions (round 15 — both the CBO and probe
    * arms used to dispatch on AVERAGE group size, so a hot key — the
    * exact case [[keySkew]] diagnoses — could blow past the bound
    * while the average stayed under, picking the exact arm whose
    * single-reducer buffer is the thing that dies at 100 TB):
    *
    *  - CBO column stats: the distinct-count PRODUCT is an upper bound
    *    on the true NON-NULL group count for correlated multi-column
    *    groupings, so `n / product` is a LOWER bound on the average —
    *    and max ≥ average, so `> perGroupBound` decides `true`. It is
    *    NEVER used to decide `false` (the r14 bias: correlated columns
    *    overestimate groups, underestimate group size, and the average
    *    says nothing about the max anyway).
    *  - CBO equi-height histograms ([[histKeyFreqBounds]]): any value
    *    with frequency ≥ 2·height owns a whole single-value bin, so
    *    per-key frequency is readable from bins. A group is a subset
    *    of each of its columns' key slices, so ANY column whose key
    *    ceiling (×[[histSafetyMargin]] — histogram bounds are
    *    estimates, see [[histKeyFreqBounds]]) is ≤ the bound AND whose
    *    exact nullCount is ≤ the bound caps every group → `false` with
    *    zero jobs (r16: histograms never see null rows, but groupBy
    *    gives null keys their own group — a mostly-NULL column must
    *    not vouch for a bound its null group alone breaks); for a
    *    single-column grouping a proven hot key — or a nullCount —
    *    above the bound IS a hot group → `true`.
    *  - otherwise ONE probe aggregate on the MAX per-group count (the
    *    [[keySkew]] top-1 shape): group-columns-only scan, map-side
    *    combined per-group counts, 1-row max. Costs a counts-table
    *    shuffle (vs the old probe's HLL) but decides on the quantity
    *    that actually overflows the exact arm.
    *
    * At 100 TB an avoidable probe scan per dispatch call is real
    * money — but choosing the exact arm wrongly costs an
    * O(hottest-group) single-task sort buffer. */
  def useApprox(df: DataFrame, groupCols: Seq[String],
                perGroupBound: Long = 1000000L): Boolean = {
    require(perGroupBound > 0, s"need perGroupBound > 0, got $perGroupBound")
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    val fromStats: Option[Boolean] = stats.rowCount.flatMap { n =>
      if (n <= BigInt(perGroupBound)) Some(false)
      else if (groupCols.isEmpty) Some(true) // one global group of n rows
      else {
        val resolver = df.sparkSession.sessionState.conf.resolver
        val colStats = groupCols.map { c =>
          plan.output.find(a => resolver(a.name, c))
            .flatMap(stats.attributeStats.get)
        }
        val dcs = colStats.map(_.flatMap(_.distinctCount))
        val avgLowerBoundExceeds = dcs.forall(_.isDefined) &&
          n / dcs.flatten.product.min(n).max(BigInt(1)) >
            BigInt(perGroupBound)
        if (avgLowerBoundExceeds) Some(true)
        else {
          val bounds = colStats.map(_.flatMap(_.histogram)
            .map(histKeyFreqBounds))
          val nullCounts = colStats.map(_.flatMap(_.nullCount))
          // Histograms (and distinctCount) describe only NON-NULL
          // values, but groupBy puts null keys into their own group —
          // a mostly-NULL column with a tame non-null distribution
          // has a huge null group the ceiling says nothing about. A
          // column's ceiling may decide `false` only when its
          // nullCount is also known ≤ the bound; symmetrically a
          // single grouping column whose nullCount alone exceeds the
          // bound IS a hot group (nullCount is an exact ANALYZE
          // count, not an estimate). The ceiling itself is built from
          // ANALYZE's approx_percentile endpoints and HLL per-bin
          // ndv, so it is high-confidence, not a proof — hence the
          // 2× safety margin before trusting it to cap every group.
          val capped = bounds.lazyZip(nullCounts).exists {
            case (b, nc) =>
              b.exists(_._2 * histSafetyMargin <= perGroupBound.toDouble) &&
                nc.exists(_ <= BigInt(perGroupBound))
          }
          if (capped) Some(false)
          else if (groupCols.size == 1 &&
              (bounds.head.exists(_._1 > perGroupBound.toDouble) ||
                nullCounts.head.exists(_ > BigInt(perGroupBound))))
            Some(true) // a proven hot key (or hot null group) IS a hot group
          else None
        }
      }
    }
    fromStats.getOrElse {
      val maxGroup =
        if (groupCols.isEmpty) df.count()
        else {
          val r = df.groupBy(groupCols.map(col): _*)
            .agg(count(lit(1)).as("_n")).agg(max(col("_n"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      maxGroup > perGroupBound
    }
  }

  /** Safety factor applied before a histogram ceiling may decide the
    * EXACT arm: ANALYZE's histograms are themselves estimates (see
    * [[histKeyFreqBounds]]) and can be stale, and the exact arm is
    * the one that dies on a missed hot group. */
  private val histSafetyMargin: Double = 2.0

  /** `(provenMax, ceiling)` per-key NON-NULL frequency bounds from an
    * equi-height histogram (histograms never see null rows — callers
    * must bound the null group separately via ColumnStat.nullCount).
    * Under the equi-height model, a value with frequency ≥ 2·height
    * must fully own at least one bin (which then has ndv = 1 and
    * lo = hi = that value); `provenMax` sums the heights of the
    * longest run of such bins sharing one value — a lower bound on
    * that key's frequency (it may extend partially into neighbor
    * bins). `ceiling` = provenMax + 2·height bounds EVERY key's
    * frequency: a key owning m full bins carries < (m+2)·height rows,
    * and a key owning none carries < 2·height.
    *
    * These are model bounds, NOT hard guarantees: Spark builds bin
    * endpoints with approx_percentile and per-bin ndv with HLL
    * estimates, and catalog stats can be stale. Treat the pair as a
    * high-confidence heuristic — [[useApprox]] only lets the ceiling
    * pick the fragile (exact) arm with a [[histSafetyMargin]] on top,
    * and a wrong `provenMax`-side decision merely picks the
    * always-safe sketch arm. */
  private[graft] def histKeyFreqBounds(
      h: org.apache.spark.sql.catalyst.plans.logical.Histogram)
      : (Double, Double) = {
    var proven = 0.0; var run = 0.0; var runV = Double.NaN
    h.bins.foreach { b =>
      if (b.ndv <= 1 && b.lo == b.hi) {
        if (b.lo == runV) run += h.height else { runV = b.lo; run = h.height }
        proven = math.max(proven, run)
      } else { runV = Double.NaN; run = 0.0 }
    }
    (proven, proven + 2 * h.height)
  }

  /** True when CBO column statistics PROVE `c` has at most `maxValues`
    * distinct values — the zero-job evidence [[Arm.Auto]] uses to
    * pick the weighted sketch arm (the
    * (group, value) → count table stays tiny and the sketch does
    * O(values) weighted updates instead of O(rows)). Absent stats it
    * answers false: the pre-aggregation on a high-cardinality column
    * would shuffle every row for nothing, so the default must be the
    * always-safe plain sketch. 4096 default: comfortably past any
    * integer-valued measure column while keeping the counts table
    * broadcast-sized even against millions of groups. */
  private[graft] def lowCardinality(df: DataFrame, c: String,
                                    maxValues: Long = 4096L): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val resolver = df.sparkSession.sessionState.conf.resolver
    plan.output.find(a => resolver(a.name, c))
      .flatMap(plan.stats.attributeStats.get)
      .flatMap(_.distinctCount)
      .exists(_ <= BigInt(maxValues))
  }

  /** Join `df` back to its per-group `bounds` table NULL-SAFELY on the
    * group keys: groupBy puts rows with a null key into their own
    * group, and a plain (null-unsafe) equi-join would silently DROP
    * every such row on the way back — an outlier/scaling pass must
    * never delete data. */
  private def joinBounds(df: DataFrame, bounds: DataFrame,
                         groupCols: Seq[String]): DataFrame = {
    val renamed = groupCols.foldLeft(bounds)((b, c) => b.withColumnRenamed(c, "_g_" + c))
    val cond = groupCols.map(c => col(c) <=> col("_g_" + c)).reduce(_ && _)
    // The bounds side is ONE ROW PER GROUP by construction — always the
    // broadcast side, explicitly (r17, guide §3.1): left to size
    // estimates, the optimizer broadcast the CORPUS whenever the input
    // scan undercut the 10 MB threshold (BuildLeft of the side that is
    // 100 TB in production — a corpus-sized HashedRelation build), and
    // where neither side fit it planned a SortMergeJoin whose corpus
    // shuffle AQE could only convert AFTER the shuffle-write had
    // happened. The hint pins build side AND strategy at first
    // planning, so the corpus streams map-side through every bounds
    // join regardless of what the size estimator thinks.
    df.join(broadcast(renamed), cond).drop(groupCols.map("_g_" + _): _*)
  }

  /** Per-group feature scaling: adds `<valueCol>_z` (z-score against
    * the group's mean and sample stddev) and `<valueCol>_minmax`
    * ([0,1] min-max scaling) — the standard numeric-feature prep
    * before training. Engine-reproducible by the [[stats2]] recipe:
    * offset-centered decimal sums are exact and order-independent, and
    * every downstream double op (÷, √, −) is IEEE-determined by them,
    * so the raw z values are bit-identical across engines and
    * repartitionings — no rounding inside the operator. The centered
    * sums carry DECIMAL(19,6): centered values must stay below 10¹³
    * in magnitude (ANSI overflow otherwise — pick `offset` near the
    * data's center) and are quantized at the 6-dp scale, so sums are
    * exact for inputs with ≤ 6 decimal places (prices, counts,
    * quantities — the usual case). Groups with zero spread yield
    * null/∞ scores (undefined); same two-pass bounds-join shape as
    * [[winsorize]]. */
  def standardize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  offset: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 6)
    val xc = (col(valueCol) - offset).cast(dec)
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("_n"), sum(xc).as("_sx"), sum(xc * xc).as("_sxx"),
      min(col(valueCol)).as("_min"), max(col(valueCol)).as("_max"))
    val n = col("_n").cast("double")
    val sx = col("_sx").cast("double")
    val dxx = n * col("_sxx").cast("double") - sx * sx
    val bounds = agg.select(groupCols.map(col) :+
      (sx / n + offset).as("_mean") :+
      sqrt(dxx / (n * (n - 1))).as("_std") :+
      col("_min") :+ col("_max"): _*)
    joinBounds(df, bounds, groupCols)
      .withColumn(valueCol + "_z",
        (col(valueCol) - col("_mean")) / col("_std"))
      .withColumn(valueCol + "_minmax",
        (col(valueCol) - col("_min")) / (col("_max") - col("_min")))
      .drop("_mean", "_std", "_min", "_max")
  }

  /** Per-group robust outlier detection via MAD (median absolute
    * deviation): flags rows where |x − median(x)| > k·median(|x −
    * median(x)|) — the standard heavy-tail-safe alternative to z-score
    * cutoffs (one wild value shifts a mean/stddev fence but not a
    * median/MAD fence). Adds `_med`, `_mad`, `_absdev`, `is_outlier`.
    *
    * Two aggregation passes by necessity (the MAD is a median OF the
    * residuals of the first median); each pass produces a
    * one-row-per-group bounds table joined back null-safely
    * ([[joinBounds]]) that AQE broadcasts, so the corpus streams twice
    * with no data-sized shuffle. Engine-reproducible on values whose
    * median interpolation lands on exactly-representable halves
    * (integer-valued doubles — counts, quantities): every downstream
    * op (−, abs, ·k, >) is then IEEE-exact, so the outlier decision
    * itself carries no rounding haze.
    *
    * The sketch arms are the 100 TB answer to the exact `median`,
    * which buffers each group's values to select the middle (the
    * round-12 x100 probe reads 30.6/100 on it — the heaviest
    * flat-output probe). The fence decision uses the same IEEE-exact
    * ops whichever [[Arm]] produced the medians.
    *
    * The weighted sketch arm also ELIMINATES the second corpus pass:
    * the residual |v − med| distribution is a pure function of the
    * (group, value, count) rows (≤ 2·|values| distinct deviations,
    * counts carried over), so the MAD comes from the tiny counts table
    * — two corpus scans (counts build + final fence pass) instead of
    * three. localCheckpoint materializes that table once so the med
    * and mad steps don't re-run the corpus aggregate — LAZILY (r16):
    * building the DataFrame must launch no job. Checkpointing truncates
    * lineage into executor-local storage, so a lost executor loses
    * those blocks — accepted because the table is distinct-values-sized
    * and recomputing it is the corpus scan this arm exists to avoid. */
  def madOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  k: Double = 3.0, arm: Arm = Arm.Exact): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val (a, prepared, v) = prepare(df, groupCols, valueCol, arm)
    val weighted = a == Arm.WeightedSketch
    val in = if (weighted) prepared.localCheckpoint(eager = false) else prepared
    def med(rows: DataFrame, c: Column, out: String): DataFrame = {
      val (t, q) = quantiles(rows, groupCols, c, Seq(0.5), a)
      t.select(groupCols.map(col) :+ q(0).as(out): _*)
    }
    val medT = med(in, v, "_med")
    val withMed = joinBounds(df, medT, groupCols)
      .withColumn("_absdev", abs(col(valueCol) - col("_med")))
    val mad =
      if (weighted) med(joinBounds(in, medT, groupCols)
        .withColumn("_pd", abs(col("_pv") - col("_med"))), col("_pd"), "_mad")
      else med(withMed, col("_absdev"), "_mad")
    joinBounds(withMed, mad, groupCols)
      .withColumn("is_outlier", col("_absdev") > lit(k) * col("_mad"))
  }

  /** Per-group second-moment statistics — sample variance/stddev of
    * `x`, sample covariance and Pearson correlation of `(x, y)` —
    * computed engine-reproducibly (DuckDB-oracle parity) the same way
    * [[Regression.olsPredict]] is:
    *
    *  - inputs are centered by constant offsets (variance/covariance/
    *    correlation are shift-invariant) so the n·Σxx − (Σx)² form
    *    loses no digits to cancellation and is immune to one-sided FMA
    *    contraction;
    *  - the centered sums accumulate exactly, as the sums of their
    *    `decimal(12,6)` images and of products of those images
    *    ([[graft.functions.ExactSum]]: order-independent, and equal to
    *    the decimal SQL the oracle runs), and every engine computes the
    *    identical double expression over those exact sums;
    *  - outputs are rounded to 6 dp.
    *
    * One hash aggregate, map-side combined — the streaming-merge
    * `stddev`/`corr` builtins are order-dependent in the last ulps,
    * which is exactly what a 100 TB re-partitioning must not change. */
  def stats2(df: DataFrame, groupCols: Seq[String], x: Column, y: Column,
             xOffset: Double, yOffset: Double): DataFrame = {
    val xc = x - xOffset
    val yc = y - yOffset
    // Σ of decimal(12,6) images and of their products, as doubles
    def csum(factors: Column*) = graft.functions.ExactSum.column(factors, precision = 12)
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      csum(xc).as("sx"), csum(yc).as("sy"),
      csum(xc, xc).as("sxx"), csum(yc, yc).as("syy"),
      csum(xc, yc).as("sxy"))
    val n = col("n_rows").cast("double")
    val sx = col("sx")
    val sy = col("sy")
    val dxx = n * col("sxx") - sx * sx
    val dyy = n * col("syy") - sy * sy
    val dxy = n * col("sxy") - sx * sy
    val m = n * (n - 1)
    agg.select(groupCols.map(col) :+ col("n_rows") :+
      round(dxx / m, 6).as("var_x") :+
      round(sqrt(dxx / m), 6).as("std_x") :+
      round(dxy / m, 6).as("covar_xy") :+
      round(dxy / sqrt(dxx * dyy), 6).as("corr_xy"): _*)
  }

  /** Equi-depth (quantile) binning: assign each row the index of the
    * quantile interval its value falls in (`bins` intervals of ~equal
    * population — feature discretization, score banding, balanced
    * range-shard planning), and report each bin's population and value
    * range. Complements [[histogram]]'s equal-WIDTH buckets, which
    * degenerate under heavy tails (one bucket takes everything).
    *
    * Boundaries come from one aggregation (`bins`−1 interpolated
    * percentiles), broadcast back over the corpus as a literal array —
    * the stream assigns bins with a fold over that array, no
    * per-row join or window. Every [[Arm]] yields the same output
    * shape; [[Arm.Auto]] bounds the table size (one global group).
    * Note for oracle parity: boundary COMPARISONS (v > bᵢ) are only
    * engine-exact when interpolated boundaries are (integer-valued
    * columns — the q_a2_median argument). */
  def equidepth(df: DataFrame, valueCol: String, bins: Int,
                arm: Arm = Arm.Exact): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val (a, in, v) = prepare(df, Nil, valueCol, arm)
    val (t, q) = quantiles(in, Nil, v, (1 until bins).map(_.toDouble / bins), a)
    val bounds = t.select(q.as("_bs"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin", aggregate(col("_bs"), lit(0),
        (acc, b) => acc + when(col(valueCol) > b, 1).otherwise(0)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Join-key skew diagnostic: the `topK` heaviest values of `keyCol`
    * with their share of the table — the pre-flight check that decides
    * whether a planned join/aggregation on this key needs salting
    * ([[Skew]]) or AQE skew handling. `skew` is the key's count over
    * the mean per-key count (1.0 = perfectly uniform). One map-side
    * combinable count per key, a TakeOrdered top-k (never a global
    * sort), and a broadcast of the 1-row stats — nothing driver-side. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
    counts.orderBy(col("cnt").desc, col(keyCol)).limit(topK)
      .crossJoin(broadcast(stats))
      .select(col(keyCol), col("cnt"), col("n_keys"), col("n_rows"),
        round(col("cnt").cast("double") * col("n_keys") / col("n_rows"), 6)
          .as("skew"))
  }

  /** Exact inner-join cardinality WITHOUT executing the join: for an
    * equi-join on `leftKey = rightKey`, |A ⋈ B| = Σ_k nₐ(k)·n_b(k) —
    * computable from the two per-key count tables, whose join carries
    * one row per distinct key instead of one per output row. The
    * 100 TB pre-flight for a fact–fact join: know the output (and the
    * hottest key's contribution, the skew ceiling) before committing a
    * cluster to producing it. Returns one row: `join_rows`,
    * `n_matching_keys`, `max_key_rows` — both products carried as
    * DECIMAL(38,0): at the fact–fact scale this pre-flight exists for,
    * a hot key with ~3·10⁹ rows per side puts nₐ·n_b past
    * Long.MaxValue, which non-ANSI Long arithmetic would wrap
    * SILENTLY into a bogus estimate. */
  def joinCardinality(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val la = left.groupBy(col(leftKey).as("_k")).agg(count(lit(1)).as("_na"))
    val rb = right.groupBy(col(rightKey).as("_k")).agg(count(lit(1)).as("_nb"))
    // (19,0) × (19,0) → decimal(38,0): exact for any pair of Long
    // counts, and the decimal SUM stays exact at any key cardinality
    val prod = col("_na").cast(dec) * col("_nb").cast(dec)
    la.join(rb, "_k")
      .agg(sum(prod).as("join_rows"),
        count(lit(1)).as("n_matching_keys"),
        max(prod).as("max_key_rows"))
  }

  /** Fixed-width histogram of a numeric column over [lo, hi): one
    * hash aggregate on the bucket index (values outside the range
    * clamp to the edge buckets). */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
                nBuckets: Int): DataFrame = {
    val w = (hi - lo) / nBuckets
    val bucket = least(lit(nBuckets - 1),
      greatest(lit(0), floor((col(c) - lo) / w).cast("int")))
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo_edge", lit(lo) + col("bucket") * w)
  }

  def profile(df: DataFrame, cols: Seq[String],
              approxDistinct: Boolean = false): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { c =>
      val v = col(c)
      Seq(
        count(v).as(s"${c}__nonnull"),
        (if (approxDistinct) approx_count_distinct(v) else countDistinct(v))
          .as(s"${c}__distinct"),
        Exact.dsum(v.cast("double")).as(s"${c}__sum"),
        min(v.cast("double")).as(s"${c}__min"),
        max(v.cast("double")).as(s"${c}__max"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      wide.select(
        lit(c).as("col_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"${c}__nonnull")).as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"),
        (col(s"${c}__sum") / col(s"${c}__nonnull")).as("mean_val"))
    }
    perCol.reduce(_.unionByName(_))
  }
}

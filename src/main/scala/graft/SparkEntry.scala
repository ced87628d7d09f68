package graft

import graft.functions.{Text, Vectors}
import graft.operators._
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data extensions), each with a DuckDB
  * oracle where SQL-expressible.
  *
  * Oracle-parity conventions used throughout (see
  * [[graft.operators.Exact]]): double SUM/AVG accumulate in decimal
  * (summation-order independent), ratio/cosine columns that divide
  * order-dependent sums are rounded to 6 dp on both sides, every query
  * ends in a deterministic total ORDER BY, and result column names are
  * aliased identically in the Spark plan and the SQL.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * end-to-end pretraining pipeline (clean → quality gate → exact
    * dedup → sequence packing in one plan) is the engine's best
    * single-query face. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_pretrain")(spark, "/root/testdata/sf0.001")

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** events with (a) ts as epoch seconds (dtype-adaptive — ts has
    * arrived as both long nanos and timestamp[us] across testdata
    * generations; see [[Tables.epochSeconds]]) and (b) a null-bearing
    * value column `v` (value, nulled for 'error' events) so the
    * gap-filling operators have real gaps to fill. */
  private def eventsPrep(spark: SparkSession, dir: String): DataFrame =
    Tables.withEpochSeconds(t(spark, dir, "events"))
      .withColumn("v", when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")))

  /** The band check of the winsorize sketch twins: the per-flag p05/p95
    * bounds `w` carries must land within ±1% rank of exact (oracle
    * asserts TRUE), and n_escaped proves the clamp invariant (no output
    * value outside [_lo,_hi]) holds whichever arm produced the bounds —
    * an exact 0, not a tolerance. */
  private def winsorizeBands(li: DataFrame, w: DataFrame): DataFrame = {
    val ex = li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, array(0.04, 0.06, 0.94, 0.96))").as("e"))
    w.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        min("_lo").as("_alo"), min("_hi").as("_ahi"),
        sum(when(col("l_extendedprice_w") < col("_lo")
          || col("l_extendedprice_w") > col("_hi"), 1L).otherwise(0L)).as("n_escaped"))
      .join(ex, "l_returnflag")
      .select(col("l_returnflag"), col("n"), col("n_escaped"),
        (col("_alo") >= col("e")(0) && col("_alo") <= col("e")(1)).as("lo_ok"),
        (col("_ahi") >= col("e")(2) && col("_ahi") <= col("e")(3)).as("hi_ok"))
      .orderBy("l_returnflag")
  }

  /** The band check of the MAD sketch twins: the per-flag median `mad`
    * carries must land within ±1% rank of the exact median, and its MAD
    * within ±1% rank of the exact median of the residuals AROUND THE
    * APPROX MEDIAN — the sketch's own input distribution (r12 ADVICE: a
    * band from exact-median residuals would flake on data where the two
    * medians differ); both asserted TRUE, n is the exact row count. */
  private def madBands(li: DataFrame, mad: DataFrame): DataFrame = {
    val ap = mad.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      min("_med").as("_amed"), min("_mad").as("_amad"))
    val exMed = li.groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, array(0.49, 0.51))").as("em"))
    val adev = li.join(ap.select("l_returnflag", "_amed"), "l_returnflag")
      .withColumn("_adev", abs(col("l_quantity") - col("_amed")))
      .groupBy("l_returnflag")
      .agg(expr("percentile(_adev, array(0.49, 0.51))").as("ad"))
    ap.join(exMed, "l_returnflag")
      .join(adev, "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        (col("_amed") >= col("em")(0) && col("_amed") <= col("em")(1)).as("med_ok"),
        (col("_amad") >= col("ad")(0) && col("_amad") <= col("ad")(1)).as("mad_ok"))
      .orderBy("l_returnflag")
  }

  private val eventsPrepSql =
    "SELECT event_id, user_id, event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS s, " +
      "CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events"

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1: parquet scan with filename glob (ref atenciones_urgencia.py:4-11)
    "q_s1_scan_glob" -> ((s, dir) => {
      Tables.parquet(s, dir, Map("pathGlobFilter" -> "lineitem*.parquet"))
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("l_quantity")).as("sum_qty"))
    }),

    // S10/DPP: day-partitioned events + runtime-pruned day slice. The
    // partitioned copy is written ONCE per source dir
    // (Tables.eventsByDay) — the query measures the READ side: joining
    // a disk-resident filtered day dim on the partition column must
    // prune the scan to the matching day directories via dynamic
    // partition pruning (ScaleOpsSpec asserts the dynamicpruning
    // subquery; q_dpp_fullscan runs the identical aggregate over the
    // flat table so the pruning win is a measured bench delta, not an
    // assertion). Same oracle as the flat table: the partitioned copy
    // holds exactly the source rows.
    // 2-D box slice over a z-ordered (Morton-clustered) lineitem copy:
    // both range predicates push to the scan, and the clustered layout
    // makes file/row-group min-max stats skip everything outside the
    // box (LayoutSpec measures the skip from the written footers; the
    // oracle runs the same slice on the plain table — layout is
    // results-invisible)
    "q_zorder_slice" -> ((s, dir) => Layout.zorderSlice(s, dir)),

    "q_dpp_dayslice" -> ((s, dir) => {
      val (factsPath, daysPath) = Tables.eventsByDay(s, dir)
      val facts = Tables.parquet(s, factsPath)
      // 1-day-in-30 slice: rare enough that the pruned scan touches ~3%
      // of the partitions — the regime where DPP's fixed cost (dim
      // subquery + broadcast) is actually bought back by bytes not read
      val dim = Tables.parquet(s, daysPath).filter(pmod(col("day"), lit(30)) === 3)
      facts.join(dim, "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // The un-partitioned control: same slice aggregate, but `day` is
    // derived from ts at read time so the predicate cannot prune —
    // every byte of events is scanned. Bench delta vs q_dpp_dayslice
    // = the partition-pruning win.
    "q_dpp_fullscan" -> ((s, dir) => {
      Tables.withEpochDay(t(s, dir, "events"))
        .filter(pmod(col("day"), lit(30)) === 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // P1+P2: conjunctive filter (eq ∧ range ∧ IN) + projection
    "q_p2_filter_project" -> ((s, dir) => {
      Relational.filterProject(t(s, dir, "lineitem"),
        col("l_returnflag") === "R" && col("l_quantity") >= 30 &&
          col("l_linestatus").isin("O", "F"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A1: hash group-by with exact sums (TPC-H Q1 shape)
    "q_a1_groupsum" -> ((s, dir) => {
      Relational.groupAgg(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"), Seq(
        count(lit(1)).as("n"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        Exact.davg(col("l_discount")).as("avg_disc")))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A2/A3: exact per-group median
    "q_a2_median" -> ((s, dir) => {
      // medians rounded to 6 dp: even-count interpolation (a+(b-a)/2 vs
      // (a+b)/2) can differ in the last ulp between engines.
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(round(median(col("l_quantity")), 6).as("med_qty"),
          round(median(col("l_extendedprice")), 6).as("med_price"))
        .orderBy("l_returnflag")
    }),

    // A8: exact interpolated percentiles (quartiles) per group — both
    // engines use linear interpolation (SQL percentile_cont semantics)
    "q_a8_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))
        .orderBy("l_returnflag")
    }),

    // A8-approx: the 100 TB twin of q_a8_percentiles — quantiles from
    // the Greenwald–Khanna sketch (partial-merged map-side; the
    // shuffle carries sketches, not sorted groups). The sketch value
    // is engine-specific, so — like q_profile_approx's HLL bound —
    // the query exports BOUND CHECKS: each approx quantile must land
    // between the exact interpolated percentiles ±1% of rank (100×
    // the sketch's guaranteed 1/accuracy = 0.01% rank error), which
    // the oracle asserts as constant TRUE. The exact q_a8_percentiles
    // stays the ground-truth arm; production at scale runs this one.
    "q_a8_percentiles_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ap = li.groupBy("l_returnflag").agg(
        expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)").as("aq"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("ap90"))
      val ex = li.groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, array(0.24, 0.26, 0.49, 0.51, 0.74, 0.76))").as("eq"),
        expr("percentile(l_extendedprice, array(0.89, 0.91))").as("ep"))
      ap.join(ex, "l_returnflag").select(
        col("l_returnflag"),
        (col("aq")(0) >= col("eq")(0) && col("aq")(0) <= col("eq")(1)).as("q25_ok"),
        (col("aq")(1) >= col("eq")(2) && col("aq")(1) <= col("eq")(3)).as("q50_ok"),
        (col("aq")(2) >= col("eq")(4) && col("aq")(2) <= col("eq")(5)).as("q75_ok"),
        (col("ap90") >= col("ep")(0) && col("ap90") <= col("ep")(1)).as("p90_ok"))
        .orderBy("l_returnflag")
    }),

    // A10: per-group winsorization (outlier clipping to [p05, p95]) —
    // verified by the exact clamp-decision counts (pure integers) plus
    // the round-6 bounds; duplicate-adjacent percentile values make the
    // boundary comparisons engine-consistent
    "q_winsorize" -> ((s, dir) => {
      Profile.winsorize(t(s, dir, "lineitem"), "l_extendedprice",
        Seq("l_returnflag"), lo = 0.05, hi = 0.95)
        .groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("_lo"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("l_extendedprice") > col("_hi"), 1L).otherwise(0L)).as("n_above"),
          round(min("_lo"), 6).as("lo"),
          round(max("_hi"), 6).as("hi"))
        .orderBy("l_returnflag")
    }),

    // A10-approx: winsorize with KLL-sketch bounds (the 100 TB arm —
    // see Profile.Arm; ONE sketch per group serves both bounds),
    // exported as winsorizeBands' bound checks.
    "q_winsorize_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      winsorizeBands(li, Profile.winsorize(li, "l_extendedprice",
        Seq("l_returnflag"), lo = 0.05, hi = 0.95, arm = Profile.Arm.Sketch))
    }),

    // A10-auto: winsorize through the stats-driven dispatch on the
    // ANALYZEd catalog face of lineitem (see q_mad_outliers_auto —
    // same r16 rationale, same arm-independent band contract; the
    // clamp invariant n_escaped = 0 holds under every arm).
    "q_winsorize_auto" -> ((s, dir) => {
      val li = s.table(Tables.ensureStats(s, dir, "lineitem",
        Seq("l_returnflag", "l_quantity", "l_extendedprice")))
      winsorizeBands(li, Profile.winsorize(li, "l_extendedprice",
        Seq("l_returnflag"), lo = 0.05, hi = 0.95,
        arm = Profile.Arm.Auto(perGroupBound = 100000L)))
    }),

    // A12: per-group robust (median/MAD) outlier fences on the
    // integer-valued quantity column — interpolated medians land on
    // exactly-representable halves, so every fence decision is
    // engine-exact and the outlier counts are pure integers
    "q_mad_outliers" -> ((s, dir) => {
      Profile.madOutliers(t(s, dir, "lineitem"), "l_quantity",
        Seq("l_returnflag"), k = 1.5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          round(min("_med"), 6).as("med"),
          round(min("_mad"), 6).as("mad_val"))
        .orderBy("l_returnflag")
    }),

    // DSIR-style data selection (Xie et al. 2023): importance weight
    // per doc = Σ_tokens ln(p̂_target/p̂_raw) over RollingFp-hashed
    // feature buckets (add-one smoothing, 4096 buckets) — target model
    // from one source slice, raw model from the whole corpus. The
    // entire scorer INCLUDING the feature hash is SQL-reproducible
    // (the det hash family of the dedup operators). Selection rule:
    // keep docs STRICTLY above the corpus-median weight — absolute
    // weights carry a smoothing offset (buckets >> per-slice vocab),
    // so thresholds must be relative. Both engines interpolate the
    // median over the SAME 6dp-rounded doubles, so the comparison is
    // on identical values.
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // localCheckpoint: the scored table feeds BOTH sides of the
      // median cross-join — without it the two token explodes and two
      // model aggregations run twice (round 13, same pattern as the
      // minhash ledger). The exact percentile threshold is the ORACLE
      // arm; q_dsir_select_approx is the 100 TB arm (sketch median,
      // no single-reducer value buffer).
      val scored = Sampling.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", buckets = 4096)
        .select(col("doc_id"), col("n_tok"), round(col("w"), 6).as("w"))
        .localCheckpoint(eager = false)
      scored.crossJoin(scored.agg(expr("percentile(w, 0.5)").as("_med")))
        .select(col("doc_id"), col("n_tok"), col("w"),
          (col("w") > col("_med")).as("kept"))
        .orderBy("doc_id")
    }),

    // DSIR keep rule, sketch arm: the selection threshold comes from
    // approx_percentile (GK sketch — map-side partial merge, no
    // per-value reducer buffer; the 100 TB path VERDICT r12 asked
    // for). Engine-specific sketch values can't hash-match an oracle,
    // so the output is the established bound-check contract: the
    // approx median must land inside the exact ±1%-rank band, and the
    // approx-thresholded keep COUNT inside the exact counts at the
    // band edges (threshold↑ ⇒ kept↓, so the band brackets it); both
    // booleans pinned TRUE by the oracle, n is the exact doc count.
    // The exact percentiles here are the verification pass, not the
    // operator — the raw sketch arm is scored+approx_percentile only.
    "q_dsir_select_approx" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Sampling.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", buckets = 4096)
        .select(col("doc_id"), round(col("w"), 6).as("w"))
        .localCheckpoint(eager = false)
      val thr = scored.agg(
        expr("approx_percentile(w, 0.5, 10000)").as("_amed"),
        expr("percentile(w, array(0.49, 0.51))").as("eb"))
      scored.crossJoin(broadcast(thr))
        .agg(count(lit(1)).as("n"),
          sum(when(col("w") > col("_amed"), 1L).otherwise(0L)).as("_nk"),
          sum(when(col("w") > col("eb")(1), 1L).otherwise(0L)).as("_n51"),
          sum(when(col("w") > col("eb")(0), 1L).otherwise(0L)).as("_n49"),
          min(col("_amed")).as("_am"), min(col("eb")).as("_eb"))
        .select(col("n"),
          (col("_am") >= col("_eb")(0) && col("_am") <= col("_eb")(1)).as("med_ok"),
          (col("_nk") >= col("_n51") && col("_nk") <= col("_n49")).as("kept_ok"))
    }),

    // A12-approx: MAD fences from the KLL quantile sketch (the 100 TB
    // arm — exact per-group medians buffer each group's values; the
    // sketch partial-merges map-side), exported as madBands' bound
    // checks.
    "q_mad_outliers_approx" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // l_quantity is integer-valued (~50 distinct), so the weighted
      // arm absorbs (flag, quantity) counts as weighted updates —
      // O(values) sketch work instead of O(rows) (r15); the bands are
      // the same either way
      madBands(li, Profile.madOutliers(li, "l_quantity", Seq("l_returnflag"),
        k = 1.5, arm = Profile.Arm.WeightedSketch))
    }),

    // A12-auto: the DISPATCHED face on the stats-bearing catalog
    // table (r16 — before this the CBO zero-job dispatch paths never
    // fired outside test fixtures because the contract corpus was raw
    // parquet with no column stats). Tables.ensureStats ANALYZEs
    // lineitem once per session; Arm.Auto then picks the arm
    // from plan statistics alone: at sf0.01 rowCount ≤ the bound →
    // exact arm; at sf0.1+ the distinct-product lower bound proves a
    // hot group → KLL arm, and lowCardinality(l_quantity) picks the
    // weighted sketch — all with zero probe jobs
    // (ScaleOpsSpec asserts the job count on this very table). The
    // export is the same rank-band contract as the _approx twin, which
    // holds under EITHER arm (the exact arm's median sits inside its
    // own ±1% band by construction), so the oracle is arm-independent.
    "q_mad_outliers_auto" -> ((s, dir) => {
      val li = s.table(Tables.ensureStats(s, dir, "lineitem",
        Seq("l_returnflag", "l_quantity", "l_extendedprice")))
      madBands(li, Profile.madOutliers(li, "l_quantity", Seq("l_returnflag"),
        k = 1.5, arm = Profile.Arm.Auto(perGroupBound = 100000L)))
    }),

    // A11: per-group feature scaling (z-score + min-max). The raw
    // scores are bit-identical cross-engine (decimal-exact sums →
    // IEEE-determined doubles), quantized with floor(x·1e6) — integer
    // quantities make exact decimal halves reachable, the q_w_ranks
    // divergence class, so round() is out
    "q_standardize" -> ((s, dir) => {
      Profile.standardize(t(s, dir, "lineitem"), "l_quantity",
        Seq("l_returnflag"), offset = 25.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          floor(col("l_quantity_z") * 1000000).cast("long").as("q_z"),
          floor(col("l_quantity_minmax") * 1000000).cast("long").as("q_minmax"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // A9: second-moment statistics (sample var/stddev/covar/corr) with
    // the decimal-exact centered-sum recipe shared with the OLS oracle
    "q_a9_stats" -> ((s, dir) => {
      Profile.stats2(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"),
        xOffset = 25.0, yOffset = 35000.0)
        .orderBy("l_returnflag")
    }),

    // A4: null-count data-quality metric
    "q_a4_nullcount" -> ((s, dir) => {
      eventsPrep(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          round((count(lit(1)) - count(col("v"))).cast("double") / count(lit(1)), 6).as("null_ratio"))
        .orderBy("event_type")
    }),

    // A5: distinct projection
    "q_a5_distinct" -> ((s, dir) => {
      Relational.distinctOn(t(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"))
        .orderBy("c_mktsegment", "c_nationkey")
    }),

    // A5b: count-distinct aggregates
    "q_a5_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supp"))
        .orderBy("l_returnflag")
    }),

    // A13: mergeable-sketch rollup — the compute-once pattern for
    // distinct counts at 100 TB: HLL partials at fine granularity
    // (flag × status here; key × day in production) union-merged to
    // any coarser slice without touching raw rows again. Sketch
    // estimates are engine-specific, so the contract is the
    // established bound check: |est − exact| within the lgK=14 error
    // (±2% + small-count slack), pinned TRUE by the oracle; n and
    // nd_exact are the exact verification arm.
    "q_hll_rollup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val merged = Sketches.hllMerge(
        Sketches.hllPartials(li, Seq("l_returnflag", "l_linestatus"),
          "l_orderkey", lgK = 14),
        Seq("l_returnflag"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("nd_exact"))
      merged.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("nd_exact"),
          (abs(col("nd_est") - col("nd_exact")) <=
            col("nd_exact") * 0.02 + 16).as("nd_ok"))
        .orderBy("l_returnflag")
    }),

    // A16: KLL quantile-sketch rollup — the percentile leg of the
    // state-table family: per-(flag × status) KLL partials of the
    // price column merge per flag, and p50/p90 come from the merged
    // STATE, never re-reading raw rows. Estimate contract: each
    // quantile lands inside the exact ±1%-rank band (k=800 → ~0.5%
    // rank error), pinned TRUE by the oracle; n is the exact count.
    "q_kll_rollup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val merged = Sketches.kllMerge(
        Sketches.kllPartials(li, Seq("l_returnflag", "l_linestatus"),
          "l_extendedprice"),
        Seq("l_returnflag"))
      val bands = li.groupBy("l_returnflag").agg(
        expr("percentile(l_extendedprice, array(0.49, 0.51, 0.89, 0.91))")
          .as("eb"))
      Sketches.kllQuantiles(merged, Seq(0.5, 0.9)).join(bands, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          (col("q50") >= col("eb")(0) && col("q50") <= col("eb")(1)).as("med_ok"),
          (col("q90") >= col("eb")(2) && col("q90") <= col("eb")(3)).as("p90_ok"))
        .orderBy("l_returnflag")
    }),

    // A15: theta-sketch distinct OVERLAP — the set operation HLL state
    // cannot do: per-slice theta partials intersect pairwise to
    // estimate |distinct(A) ∩ distinct(B)| (shared customers between
    // order-priority segments) with no raw-row rescan. Estimates ride
    // the bound contract (±5% + small-count slack, pinned TRUE);
    // overlap_exact is the verification arm (distinct pair self-join).
    "q_theta_overlap" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val est = Sketches.distinctOverlap(
        Sketches.thetaPartials(o, Seq("o_orderpriority"), "o_custkey",
          lgK = 12),
        "o_orderpriority")
      val pc = o.select(col("o_orderpriority").as("p"),
        col("o_custkey").as("c")).distinct()
      val exact = pc.as("x")
        .join(pc.as("y"), col("x.c") === col("y.c") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("slice_a"), col("y.p").as("slice_b"))
        .agg(count(lit(1)).as("overlap_exact"))
      val ndA = pc.groupBy(col("p").as("slice_a"))
        .agg(count(lit(1)).as("nd_a_exact"))
      est.join(exact, Seq("slice_a", "slice_b")).join(ndA, Seq("slice_a"))
        .select(col("slice_a"), col("slice_b"), col("overlap_exact"),
          (col("nd_a_exact") - col("overlap_exact")).as("a_only_exact"),
          (abs(col("overlap_est") - col("overlap_exact")) <=
            col("overlap_exact") * 0.05 + 64).as("ok"),
          (abs(col("a_only_est") - (col("nd_a_exact") - col("overlap_exact"))) <=
            (col("nd_a_exact") - col("overlap_exact")) * 0.25 + 64).as("ok_diff"))
        .orderBy("slice_a", "slice_b")
    }),

    // A14: incremental aggregate maintenance — the nightly operation
    // of a maintained rollup table: history (orders before 1997) is
    // reduced ONCE to per-key mergeable state (count, decimal-exact
    // sum, min/max, HLL distinct sketch); the new slice folds in via
    // state merge, history never rescanned. The decimal sum makes the
    // merged total bit-identical to the from-scratch aggregate the
    // oracle computes; the sketch estimate rides the bound contract:
    // ±5% + 16 ≈ 3·rsd at the default lgK=12 (rsd ≈ 1.6%) — a 2% band
    // is only ~1.2σ there and flaked on sf0.1's 13k-distinct slices
    // (q_hll_rollup keeps 2% because it builds at lgK=14, rsd ≈ 0.8%).
    "q_agg_incremental" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      val state = Sketches.aggState(o.filter(col("o_orderdate") < cut),
        Seq("o_orderpriority"), "o_totalprice", "o_custkey")
      val updated = Sketches.updateState(state,
        o.filter(col("o_orderdate") >= cut),
        Seq("o_orderpriority"), "o_totalprice", "o_custkey")
      val exact = o.groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("nd_exact"))
      Sketches.readState(updated).join(exact, "o_orderpriority")
        .select(col("o_orderpriority"), col("n"), col("sum_v"),
          col("min_v"), col("max_v"), col("nd_exact"),
          (abs(col("nd_est") - col("nd_exact")) <=
            col("nd_exact") * 0.05 + 16).as("nd_ok"))
        .orderBy("o_orderpriority")
    }),

    // A17: combined FULL state row (r14) — count + decimal-exact sum +
    // extremes + HLL distinct + KLL quantiles + theta distinct from
    // ONE reduction of the raw rows; every rollup merges state rows.
    // Exact columns (n, sum_v, min_v, max_v) must match the oracle's
    // from-scratch aggregate bit-for-bit (decimal merge invariance);
    // every sketch estimate rides its established bound contract,
    // pinned TRUE.
    "q_agg_state_full" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val merged = Sketches.mergeStatesFull(
        Sketches.aggStateFull(o, Seq("o_orderpriority", "o_orderstatus"),
          "o_totalprice", "o_custkey"),
        Seq("o_orderpriority"))
      val ex = o.groupBy("o_orderpriority").agg(
        countDistinct(col("o_custkey")).as("nd_exact"),
        expr("percentile(o_totalprice, array(0.49, 0.51, 0.89, 0.91))").as("eb"))
      Sketches.readStateFull(merged, Seq(0.5, 0.9)).join(ex, "o_orderpriority")
        .select(col("o_orderpriority"), col("n"), col("sum_v"),
          col("min_v"), col("max_v"), col("nd_exact"),
          // ±5% + 16 ≈ 3·rsd at lgK=12 — see the q_agg_incremental note
          (abs(col("nd_est") - col("nd_exact")) <=
            col("nd_exact") * 0.05 + 16).as("nd_ok"),
          (col("q50") >= col("eb")(0) && col("q50") <= col("eb")(1)).as("med_ok"),
          (col("q90") >= col("eb")(2) && col("q90") <= col("eb")(3)).as("p90_ok"),
          (abs(col("nd_theta_est") - col("nd_exact")) <=
            col("nd_exact") * 0.05 + 16).as("theta_ok"))
        .orderBy("o_orderpriority")
    }),

    // A18: theta-state NOVELTY (r14) — "how many of this batch's ids
    // are NEW vs the running state", the incremental-crawl churn
    // question, answered per key from sketch rows alone: history theta
    // partials (priority × year) merge per priority, the new slice's
    // batch sketch A-NOT-B's against it; raw history never rescanned.
    // Exact verification arm = per-priority distinct anti-join; the
    // diff estimate rides the q_theta_overlap a_only bound (25% + 64
    // slack — A-NOT-B compounds two sketches' error; both are exact
    // at the gate SF where distincts sit under lgK=12's 4096 entries),
    // pinned TRUE.
    "q_theta_novelty" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      val hist = o.filter(col("o_orderdate") < cut)
      val batch = o.filter(col("o_orderdate") >= cut)
      val histParts = Sketches.thetaPartials(
        hist.withColumn("yr", year(col("o_orderdate"))),
        Seq("o_orderpriority", "yr"), "o_custkey", lgK = 12)
      val nov = Sketches.thetaNovelty(histParts, batch,
        Seq("o_orderpriority"), "o_custkey", lgK = 12)
      val hc = hist.select(col("o_orderpriority").as("p"),
        col("o_custkey").as("c")).distinct()
      val bc = batch.select(col("o_orderpriority").as("p"),
        col("o_custkey").as("c")).distinct()
      val exact = bc.join(hc, Seq("p", "c"), "left_anti")
        .groupBy(col("p").as("o_orderpriority"))
        .agg(count(lit(1)).as("novel_exact"))
      nov.join(exact, Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_batch"),
          coalesce(col("novel_exact"), lit(0L)).as("novel_exact"),
          (abs(col("novel_est") - coalesce(col("novel_exact"), lit(0L))) <=
            coalesce(col("novel_exact"), lit(0L)) * 0.25 + 64).as("ok"))
        .orderBy("o_orderpriority")
    }),

    // A7: per-group OLS (closed-form, aggregate-only) predicting 2026.
    // customer grows with the corpus — no hard broadcast hint; AQE
    // picks broadcast at small SF and shuffle join once it outgrows it
    "q_a7_ols" -> ((s, dir) => {
      val joined = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), year(col("o_orderdate")).as("yr"), col("o_totalprice"))
      Regression.olsPredict(joined, Seq("c_nationkey"), col("yr"), col("o_totalprice"), atX = 2026)
        .orderBy("c_nationkey")
    }),

    // J1: chained left equi-joins (broadcast dims)
    "q_j1_join3" -> ((s, dir) => {
      Relational.leftJoinChain(t(s, dir, "customer"), Seq(
        (broadcast(t(s, dir, "nation")
          .withColumnRenamed("n_nationkey", "c_nationkey")), Seq("c_nationkey"))))
        .join(broadcast(t(s, dir, "region"))
          .withColumnRenamed("r_regionkey", "n_regionkey"), Seq("n_regionkey"), "left")
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    }),

    // J2: nearest-neighbor join (argmin over cross join, rank-1 window)
    // Quantized packed-long argmin (acctbal is 2-dp money → cent ticks
    // preserve the ordering exactly); the whole argmin runs as a
    // primitive HashAggregate — no sort, no struct comparator. Oracle
    // ranks by the same CAST(round(dist*100) AS BIGINT) ticks.
    "q_j2_nearest" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_acctbal")
      // 1-D fixed-point distance → the tick-domain kernel wins at EVERY
      // scale (measured 2.9x vs the broadcast argmin at sf0.1, and it
      // has no corpus-sized broadcast for the 100x case). The broadcast
      // kernels remain the general-distance path (ref shape
      // temperaturas_rm.py:121-130 is 2-D, 52 stations, broadcast);
      // OperatorSpec pins both kernels to the same winner.
      Nearest.nearestJoinTicks1D(cust, supp,
        col("c_acctbal"), col("s_acctbal"), "s_suppkey", invQuantum = 100)
        .select(col("c_custkey"), col("s_suppkey").as("nearest_supp"), col("_dist").as("dist"))
        .orderBy("c_custkey")
    }),

    // J3+A6: gravity flows + row-stochastic window normalization
    "q_j3_gravity" -> ((s, dir) => {
      val zones = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_nationkey").as("zone")).agg(count(lit(1)).as("mass"))
      Nearest.gravityFlows(zones, "zone", "mass",
        (o, d) => abs(o - d).cast("double"))
        .orderBy("origin", "dest")
    }),

    // W1: per-group linear interpolation of nulls (pandas semantics)
    "q_w1_interp" -> ((s, dir) => {
      Windows.interpolateLinear(
        eventsPrep(s, dir).select("user_id", "event_id", "s", "v"),
        partition = Seq("user_id"), order = Seq(col("s"), col("event_id")), valueCol = "v")
        .select("user_id", "event_id", "v_filled")
        .orderBy("user_id", "event_id")
    }),

    // W2: seasonal fill (fine bucket → coarse bucket → overall medians)
    "q_w2_seasonal" -> ((s, dir) => {
      Windows.seasonalFill(
        eventsPrep(s, dir).select("user_id", "event_id", "s", "v"),
        group = "user_id",
        fineBucket = expr("(s div 3600) % 24"),
        coarseBucket = expr("(s div 86400) % 7"),
        valueCol = "v")
        .select("user_id", "event_id", "v_filled")
        .orderBy("user_id", "event_id")
    }),

    // W3: per-group KNN imputation (typed flatMapGroups; oracle mirrors the
    // k=3 inverse-distance weighting with (dist, id) tie-break in SQL)
    "q_w3_knn_impute" -> ((s, dir) => {
      Impute.knnImpute(
        eventsPrep(s, dir).withColumn("day", expr("s div 86400")),
        groupCol = "day", idCol = "event_id",
        featureCols = Seq("s"), valueCol = "v", k = 3)
        .select(col("user_id"), col("event_id"), round(col("v_imputed"), 6).as("v_imputed"))
        .orderBy("user_id", "event_id")
    }),

    // O1: top-k per group
    "q_o1_topk" -> ((s, dir) => {
      Relational.topKPerGroup(t(s, dir, "orders"),
        partition = Seq("o_custkey"),
        order = Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // U1: tagged union of three filtered branches + group
    "q_u1_union" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val branches = Seq(
        li.filter(col("l_quantity") >= 45).select(lit("hi").as("src"), col("l_quantity")),
        li.filter(col("l_quantity") <= 5).select(lit("lo").as("src"), col("l_quantity")),
        li.filter(col("l_returnflag") === "R").select(lit("ret").as("src"), col("l_quantity")))
      Relational.unionByNameAll(branches)
        .groupBy("src").agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("src")
    }),

    // R1: unpivot/melt wide measures → long, then aggregate
    "q_r1_unpivot" -> ((s, dir) => {
      Relational.unpivot(t(s, dir, "lineitem"),
        ids = Seq("l_orderkey", "l_linenumber"),
        values = Seq("l_quantity", "l_extendedprice", "l_discount"),
        varName = "metric", valName = "val")
        .groupBy("metric").agg(count(lit(1)).as("n"), Exact.dsum(col("val")).as("sum_val"))
        .orderBy("metric")
    }),

    // R3: pivot long → wide (explicit value list, single pass)
    "q_r3_pivot" -> ((s, dir) => {
      Relational.pivotCount(t(s, dir, "events"), "user_id", "event_type",
        values = Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id")
    }),

    // Rollup (grouping-sets family)
    "q_rollup" -> ((s, dir) => {
      Relational.rollupCounts(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
        Exact.dsum(col("l_quantity")))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Cube: every grouping combination in one pass
    "q_cube" -> ((s, dir) => {
      Relational.cubeCounts(t(s, dir, "orders"), "o_orderstatus", "o_orderpriority",
        Exact.dsum(col("o_totalprice")))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // F-suite: scalar functions (string, date parts, date build, arithmetic)
    "q_f_scalars" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lower(trim(col("o_orderpriority"))).as("prio"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofyear(col("o_orderdate")).as("doy"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_start"),
        greatest(lit(0.0), col("o_totalprice") - 100000.0).as("over_100k"),
        sqrt(col("o_totalprice")).as("sqrt_price"))
        .orderBy("o_orderkey")
    }),

    // F8/F10-kin: distance expressions (euclid + haversine on synthetic coords)
    "q_f_distance" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey"),
        (col("c_custkey") % 89).cast("double").as("lat_a"),
        (col("c_custkey") % 179).cast("double").as("lon_a"),
        ((col("c_custkey") + 31) % 89).cast("double").as("lat_b"),
        ((col("c_custkey") + 67) % 179).cast("double").as("lon_b"))
      c.select(col("c_custkey"),
        round(Geo.euclidDeg(col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")), 6).as("euclid_deg"),
        round(Geo.haversineKm(col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")), 6).as("hav_km"))
        .orderBy("c_custkey")
    }),

    // F10: Web-Mercator → WGS84 closed-form reprojection (geo kernel)
    "q_f_mercator" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey"),
        ((col("c_custkey") % 2000) * 10000 - 10000000).cast("double").as("x"),
        ((col("c_custkey") % 1500) * 8000 - 6000000).cast("double").as("y"))
      c.select(col("c_custkey"),
        round(Geo.mercatorToLon(col("x")), 6).as("lon"),
        round(Geo.mercatorToLat(col("y")), 6).as("lat"))
        .orderBy("c_custkey")
    }),

    // F: regexp scalar extraction from a JSON-ish string column
    "q_f_regexp" -> ((s, dir) => {
      t(s, dir, "events").select(col("event_id"),
        regexp_extract(col("props"), "[0-9]+", 0).cast("int").as("k_val"))
        .orderBy("event_id")
    }),

    // F-suite: JSON path extraction — the real props payload plus a
    // constructed nested document, extracted with get_json_object
    // (codegen'd Jackson walk; no UDF). The Jackson walks are ~all of
    // this query's cost and the events table arrives as ONE parquet
    // split, so without a redistribution the whole parse ran inside a
    // single scan task while the other 31 cores idled (r17 profile:
    // 4.4 s of task time in 4 tasks). Tables.spread redistributes the
    // cheap projected rows FIRST (guide §2: spread compute-bound
    // stragglers) and is a no-op once the source arrives wide.
    "q_f_json" -> ((s, dir) => {
      Tables.spread(
        t(s, dir, "events")
          .select(col("event_id"), col("props"),
            concat(lit("{\"u\":"), col("user_id"),
              lit(",\"m\":{\"t\":\""), col("event_type"), lit("\"}}")).as("js")),
        col("event_id"))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          get_json_object(col("js"), "$.m.t").as("jtype"),
          get_json_object(col("js"), "$.u").cast("long").as("juser"))
        .orderBy("event_id")
    }),

    // S7: nested-map flatten via from_json + explode
    "q_s7_explode" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          explode(from_json(col("props"), MapType(StringType, IntegerType))).as(Seq("key", "val")))
        .orderBy("event_id")
    }),

    // As-of join (union+window, single shuffle): latest purchase ≤ each click
    "q_asof_join" -> ((s, dir) => {
      val e = eventsPrep(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "s")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "s").agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoin(clicks, purchases, "user_id", "s", "s", Seq("pvalue"))
        .select(col("event_id"), col("user_id"), col("s"),
          col("_match._rt").as("purchase_s"), col("_match.pvalue").as("purchase_value"))
        .orderBy("event_id")
    }),

    // Range (interval) join, bucketed: every 6th hour opens a 2-hour
    // window per event_type; events land in containing windows via an
    // equi-join on (type, hour-bucket) — NOT the non-equi predicate that
    // would plan as a BroadcastNestedLoopJoin (the scale guard forbids
    // it). Aggregated per window for a stable result.
    "q_range_join" -> ((s, dir) => {
      val ev = eventsPrep(s, dir).select(col("event_type"), col("s"), col("value"))
      val iv = ev.select(col("event_type"),
          floor(col("s") / 3600).cast("long").as("h")).distinct()
        .filter(col("h") % 6 === 0)
        .select(col("event_type"), (col("h") * 3600).as("w_start"),
          (col("h") * 3600 + 7200).as("w_end"))
      Temporal.rangeJoin(ev, iv, Seq("event_type"), "s", "w_start", "w_end",
          bucketWidth = 3600)
        .groupBy("event_type", "w_start")
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "w_start")
    }),

    // Calendar densification: per-user daily activity grid — gap days
    // are manufactured with null metrics (the rows W1/W2/W3 would then
    // fill); spans from each user's first to last active day
    "q_densify" -> ((s, dir) => {
      val daily = eventsPrep(s, dir).filter(col("user_id") < 50)
        .withColumn("day", expr("s div 86400"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("v"))
      Temporal.densify(daily, Seq("user_id"), "day", step = 1L)
        .orderBy("user_id", "day")
    }),

    // SCD-2 dimension build: per-user event-type validity intervals
    // from the event change log — runs of unchanged state collapse to
    // one row with [valid_from, valid_to) and an is_current flag
    "q_scd2" -> ((s, dir) => {
      val e = eventsPrep(s, dir).filter(col("user_id") < 30)
        .select("user_id", "event_id", "event_type", "s")
      Temporal.scd2(e, Seq("user_id"), "s", Seq(col("event_id")), Seq("event_type"))
        .select(col("user_id"), col("event_type"), col("event_id").as("anchor_event"),
          col("valid_from"), col("valid_to"),
          when(col("is_current"), 1).otherwise(0).as("is_current"))
        .orderBy("user_id", "valid_from", "anchor_event")
    }),

    // Stream-stream join (batch face): purchases within the hour after
    // each view by the same user — the attribution/funnel primitive;
    // the same StreamingOps.followWithinJoin runs watermarked on live
    // streams (StreamingSpec proves stream ≡ batch)
    "q_stream_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      StreamingOps.followWithinJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"),
        within = "1 hour")
        .select("user_id", "l_event", "r_event")
        .orderBy("user_id", "l_event", "r_event")
    }),

    // Forward as-of: the NEXT purchase at-or-after each click per user
    // (time-to-conversion attribution) — mirror of q_asof_join
    "q_asof_fwd" -> ((s, dir) => {
      val e = eventsPrep(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "s")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "s").agg(max(col("value")).as("pvalue"))
      Temporal.asOfJoinForward(clicks, purchases, "user_id", "s", "s", Seq("pvalue"))
        .select(col("event_id"), col("user_id"), col("s"),
          col("_match._rt").as("purchase_s"), col("_match.pvalue").as("purchase_value"))
        .orderBy("event_id")
    }),

    // Interval×interval overlap join: 30-min purchase windows meeting
    // 60-min view windows of the same user — bucketed equi-join with
    // arithmetic first-shared-bucket pair dedup (never a nested loop).
    // Bucket width is DERIVED from the span distribution
    // (adaptiveBucketWidth → 2·p95 pow2-snapped = 8192 here), not a
    // caller constant: measured best at 10× replicas (min 2.8 s vs
    // 3.2 s for the old 1800) and a wash at sf0.1 — the shape a tuned
    // constant gets wrong first when the data drifts.
    "q_interval_join" -> ((s, dir) => {
      val e = eventsPrep(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_event"),
          col("s").as("ps"), (col("s") + 1800).as("pe"))
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_event"),
          col("s").as("vs"), (col("s") + 3600).as("ve"))
      Temporal.intervalOverlapJoin(p, v, Seq("user_id"),
        "ps", "pe", "vs", "ve")
        .select("user_id", "p_event", "v_event")
        .orderBy("user_id", "p_event", "v_event")
    }),

    // Sampling: deterministic exactly-100-per-returnflag sample —
    // hash-ranked row_number, engine/partitioning-stable membership
    "q_sample_exactn" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("lid", col("l_orderkey") * 10 + col("l_linenumber"))
      Sampling.exactNPerGroup(li, Seq("l_returnflag"), "lid", n = 100)
        .select("l_returnflag", "lid")
        .orderBy("l_returnflag", "lid")
    }),

    // Sampling: deterministic training-order shuffle — 8 shards with
    // dense in-shard positions, all pure functions of (id, salt);
    // per-shard windows, never a global sort
    "q_shuffle_order" -> ((s, dir) => {
      Sampling.shuffleOrder(t(s, dir, "documents"), "doc_id",
        numShards = 8, salt = 1L)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    }),

    // Snapshot diff (CDC without a change log): two deterministic
    // snapshots of orders — %7 keys deleted, %5 keys late-arriving,
    // %3 prices drifted — reconciled into added/removed/changed
    "q_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldSnap = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select("o_orderkey", "o_totalprice")
      val newSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Relational.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // Anti-join: customers with no orders
    "q_j_anti" -> ((s, dir) => {
      Relational.antiJoin(t(s, dir, "customer"),
        t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Skew-mitigated join: the lineitem fact salted over 8 sub-keys
    // against the replicated part dim — equi-join semantics preserved
    // exactly (the oracle is the plain join), only the shuffle
    // distribution changes. Exact sum for float parity.
    "q_skew_join" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
      val small = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      Skew.saltedJoin(big, small, "p_partkey", salt = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Bucketed-layout fact–fact join: both sides pre-clustered on the
    // order key at write time, so the sort-merge join plans with zero
    // exchanges below it (PlanSpec asserts; the oracle checks values
    // against the plain parquet layout — bucketing must not change one
    // row)
    "q_bucket_join" -> ((s, dir) => Bucketing.bucketedPriorityRevenue(s, dir)),

    // Bucketed-layout aggregation on the cluster key: groupBy
    // l_orderkey over the bucketed table runs scan-local, no shuffle
    "q_bucket_rollup" -> ((s, dir) =>
      // NOTE (r18): an A/B'd lazy checkpoint before the sort (to spare
      // the range-bounds sampling pass its re-execution of the rollup)
      // measured WORSE at x10 (block-manager pressure on 1.47 M rows
      // dwarfed the 0.4 s rollup re-run) and was reverted; the real x10
      // cost was the bypass-merge shuffle writer's R-files-per-map-task
      // fan-out on the wide range exchange — fixed session-wide in
      // [[GraftSession.configure]] (bypassMergeThreshold)
      Bucketing.bucketedOrderRollup(s, dir)
        .withColumn("last_ship", to_date(col("last_ship")))
        .orderBy("l_orderkey")),

    // TPC-H Q3 shape: 3-way join, filtered fact + broadcast dim, top-10
    "q_tpch_q3" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-06-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("orderdate"),
          col("o_orderpriority"))
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join through region→nation→{customer,supplier}
    "q_tpch_q5" -> ((s, dir) => {
      val asia = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val nat = broadcast(t(s, dir, "nation"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val ord = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1996).select("o_orderkey", "o_custkey")
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q17 shape: correlated scalar subquery — "lineitems under 20%
    // of their part's average quantity" — expressed as the per-part
    // aggregate + join Catalyst would decorrelate to anyway
    "q_tpch_q17" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val parts = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#1" && col("p_size") < 15)
        .select("p_partkey")
      val avgQty = li.groupBy(col("l_partkey"))
        .agg(Exact.davg(col("l_quantity")).as("aq"))
      li.join(parts, col("l_partkey") === col("p_partkey"))
        .join(avgQty, Seq("l_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("aq"))
        .agg(round(Exact.dsum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"))
    }),

    // TPC-H Q18 shape: large-order customers — IN over an aggregated
    // subquery, planned as a semi-join against the grouped lineitem
    "q_tpch_q18" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(Exact.dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .select(col("l_orderkey").as("o_orderkey"))
      t(s, dir, "orders")
        .join(big, Seq("o_orderkey"), "left_semi")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(Exact.dsum(col("l_quantity")).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q1 proper: the canonical pricing-summary report — one
    // date-filtered full-table scan feeding 8 aggregates in a single
    // map-side-combined hash agg (the shape every columnar engine is
    // benchmarked on; scan-bound at 100 TB, shuffle carries 4 rows)
    "q_tpch_q1" -> ((s, dir) => {
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
          Exact.dsum(disc).as("sum_disc_price"),
          Exact.dsum(disc * (lit(1) + col("l_tax"))).as("sum_charge"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          Exact.davg(col("l_extendedprice")).as("avg_price"),
          Exact.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q6 shape: the pure scan-pushdown query — every predicate
    // (date range, discount band, quantity cap) reaches the parquet
    // reader (PlanSpec asserts PushedFilters), no join, no shuffle
    // beyond the single-row final agg
    "q_tpch_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(Exact.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q7 shape: bidirectional nation-pair volume shipping — the
    // OR'd pair condition applies AFTER broadcast dim joins, per-year
    // revenue in one map-side-combined agg
    "q_tpch_q7" -> ((s, dir) => {
      val n1 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sk"))
        .join(n2, col("c_nationkey") === col("ck"))
        .filter(
          (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8 shape: national market share — a CASE'd ratio of two
    // decimal-exact sums per year (deterministic double division).
    // Scale shape: customer GROWS with the corpus (unlike the true
    // dims), so it joins by shuffle on c_custkey — an early broadcast
    // hint here made the driver build a corpus-sized hash relation and
    // drove the 10× stress ratio to ~5-6 (r5 watch-list item). The
    // orders filter is a literal date RANGE (not year(..) ∈ …) so it
    // pushes down to the parquet scan.
    "q_tpch_q8" -> ((s, dir) => {
      val asiaN = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("ck")))
      val suppN = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      // ASIA customers only (1/5) before the fact-side shuffle join
      val custAsia = t(s, dir, "customer").select("c_custkey", "c_nationkey")
        .join(asiaN, col("c_nationkey") === col("ck"))
        .select("c_custkey")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(suppN, col("s_nationkey") === col("sk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          Exact.dsum(when(col("supp_nation") === "NATION_1", vol).otherwise(0)) /
            Exact.dsum(vol), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q10 shape: returned-item reporting — revenue lost to
    // returns per customer, top 20
    "q_tpch_q10" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q13 shape: orders-per-customer distribution — left join so
    // zero-order customers count, then a histogram of the counts
    "q_tpch_q13" -> ((s, dir) => {
      val counts = t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      counts.groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q14 shape: promotion revenue share — 100·Σ(case)/Σ, both
    // sums decimal-exact so the ratio is engine-deterministic
    "q_tpch_q14" -> ((s, dir) => {
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100) *
          Exact.dsum(when(col("p_type") === "PROMO", disc).otherwise(0)) /
          Exact.dsum(disc), 6).as("promo_revenue"))
    }),

    // TPC-H Q15 shape: top supplier — scalar-subquery max over a
    // revenue aggregate, equality on decimal-exact doubles is safe
    "q_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
      rev.join(broadcast(rev.agg(max(col("total_revenue")).as("mr"))),
          col("total_revenue") === col("mr"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), round(col("total_revenue"), 6).as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q19 shape: disjunctive multi-attribute predicate (brand ×
    // size-band × quantity-band OR'd three ways) over a part join
    // (AQE broadcasts it at safe sizes; part scales with SF, so no
    // hard hint) — the OR-pushdown / CNF-conversion showcase
    "q_tpch_q19" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
              col("l_quantity").between(20, 30)))
        .agg(Exact.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // TPC-H Q22 shape: above-average-balance customers with no orders,
    // per nation — the scalar threshold is a 1-ROW broadcast (a
    // BroadcastNestedLoopJoin with a single build row ≡ a broadcast
    // scalar: O(N·1), whitelisted as bounded-by-design in PlanSpec;
    // a constant-key equi-join folds to the same plan)
    "q_tpch_q22" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(Exact.davg(col("c_acctbal")).as("ab"))
      cust.join(broadcast(avgBal), col("c_acctbal") > col("ab"))
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          Exact.dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q2 shape: min-cost supplier — the correlated scalar MIN
    // subquery ("cost = (SELECT min(cost) … same part, same region)"),
    // expressed as the per-part min aggregate + equi-join Catalyst's
    // decorrelation would produce. partsupp is absent from this star
    // schema, so the supply relation is derived: per (part, supplier)
    // the minimum observed unit price. MIN (unlike SUM) is
    // summation-order independent, so the double equality join against
    // the per-part minimum is exact cross-engine.
    "q_tpch_q2" -> ((s, dir) => {
      val rsup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val supply = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
        .join(rsup, col("l_suppkey") === col("s_suppkey"))
      // r17: the min-cost-per-part used to be a SECOND full pass over
      // `supply` (its own lineitem aggregation + shuffle) self-joined
      // back — the plan computed the whole supply subtree twice
      // (column pruning differs per consumer, so exchange reuse never
      // fired). A min window over the PART-FILTERED slice is
      // row-identical (the part join keeps or drops whole partkeys, so
      // per-partkey mins are untouched) and both halves the lineitem
      // work and shrinks the min computation to the selective-part
      // slice — at 100 TB the difference between re-aggregating the
      // fact table and windowing the filtered result (guide §2.2).
      supply
        .join(t(s, dir, "part")
          .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
          .select("p_partkey", "p_name"),
          col("l_partkey") === col("p_partkey"))
        .withColumn("min_cost",
          min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_name"), round(col("cost"), 6).as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q4 shape: correlated EXISTS — orders in a quarter with at
    // least one "late" lineitem (shipped >30 days after the order
    // date; commit/receipt dates are absent from this schema). The
    // EXISTS decorrelates to a left-semi hash join on the order key
    // with the lateness predicate riding as an extra join condition —
    // no nested loop, fact side shuffles once on o_orderkey. The
    // l_shipdate bound below is IMPLIED (o_orderdate >= 1996-01-01 ∧
    // l_shipdate > o_orderdate + 30d ⇒ l_shipdate > 1996-01-31) but
    // Catalyst cannot derive range constraints through a join
    // condition, so without it the semi-join shuffles EVERY lineitem
    // row on l_orderkey — the whole fact table re-keyed to probe a
    // one-quarter slice of orders (the r11 stress artifact's worst
    // non-output-explained ratio, 7.76/10). Stated at the scan it
    // reaches PushedFilters and prunes the shuffle to the late tail.
    "q_tpch_q4" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-01-31").cast("timestamp"))
        .select(col("l_orderkey").as("lk"), col("l_shipdate"))
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .join(li, col("o_orderkey") === col("lk") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q9 shape: product-type profit — LIKE-filtered part dim,
    // 5-way join, profit per nation-year. supplycost is proxied by 10%
    // of the part's retail price (partsupp is absent); the profit
    // expression mirrors the oracle term-for-term so the decimal
    // accumulation sees identical per-row doubles.
    "q_tpch_q9" -> ((s, dir) => {
      val redParts = t(s, dir, "part")
        .filter(col("p_name").like("red%"))
        .select("p_partkey", "p_retailprice")
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")
      t(s, dir, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(Exact.dsum(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape: HAVING against a global scalar — per-part value
    // (from one nation's suppliers) kept only when above a fixed
    // fraction of the global total. The scalar is a 1-row broadcast
    // (same bounded-by-design BNLJ as q_tpch_q22, whitelisted in
    // PlanSpec); both comparands are decimal-exact sums so the
    // threshold comparison is engine-deterministic.
    "q_tpch_q11" -> ((s, dir) => {
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val filtered = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
      filtered.groupBy("l_partkey")
        .agg(Exact.dsum(col("l_extendedprice")).as("value"))
        .join(broadcast(
          filtered.agg((Exact.dsum(col("l_extendedprice")) * lit(0.0001)).as("thr"))),
          col("value") > col("thr"))
        .select("l_partkey", "value")
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q12 shape: CASE'd conditional aggregation — per
    // return-flag ("ship mode" proxy; shipmode/commit/receipt are
    // absent), count high- vs low-priority orders among one year's
    // shipments. Both counts ride one map-side-combined hash agg.
    "q_tpch_q12" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q16 shape: null-aware NOT IN subquery + distinct count —
    // supplier variety per part attribute, excluding "complaint"
    // suppliers (negative balance — comment columns are absent).
    // Routed through SQL so Catalyst plans the genuine null-aware
    // anti-join (single-key NOT IN → BroadcastHashJoin LeftAnti NAAJ,
    // PlanSpec-asserted), not a pre-simplified plain anti.
    "q_tpch_q16" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("g16_lineitem")
      t(s, dir, "part").createOrReplaceTempView("g16_part")
      t(s, dir, "supplier").createOrReplaceTempView("g16_supplier")
      s.sql("""
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM g16_lineitem JOIN g16_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM g16_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    }),

    // TPC-H Q20 shape: nested semi-join chain — suppliers (in one
    // nation) who shipped a meaningful volume of 'red' parts in 1996:
    // the part-LIKE dim semi-joins into the lineitem aggregate, whose
    // qualifying (part, supplier) pairs semi-join into supplier.
    // availqty is absent, so "meaningful" is the shipped-qty threshold
    // itself. Each hop is an equi semi-join; nothing rescans.
    "q_tpch_q20" -> ((s, dir) => {
      val redKeys = t(s, dir, "part").filter(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val bigPairs = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(redKeys, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(Exact.dsum(col("l_quantity")).as("q"))
        .filter(col("q") > 30)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .join(bigPairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q21 shape: correlated EXISTS + NOT EXISTS — suppliers who
    // were the sole late shipper on a finished order (late = shipped
    // >60 days after the order date). Both subqueries decorrelate to
    // equi-joins on the order key — semi for "another supplier
    // exists", anti for "no other supplier was late" — with the
    // supplier inequality as a join condition: hash joins, never a
    // BNLJ (PlanSpec asserts).
    "q_tpch_q21" -> ((s, dir) => {
      val ordF = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val late = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
      val natSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      late
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .join(li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2")),
          col("k2") === col("l_orderkey") && col("sk2") =!= col("l_suppkey"), "left_semi")
        .join(late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3")),
          col("k3") === col("l_orderkey") && col("sk3") =!= col("l_suppkey"), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // Ranking-function pack: dense_rank / percent_rank / cume_dist / ntile
    "q_w_ranks" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      // floor(x·1e6), not round(x, 6): both engines compute the same
      // exact double k/n, but Spark rounds half-up and DuckDB half-to-
      // even — an exact binary half-case (e.g. 41/640 at sf0.001)
      // diverges under round() while floor() of identical doubles can't
      t(s, dir, "lineitem").filter(col("l_suppkey") <= 20)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          dense_rank().over(w).as("drank"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("prank"),
          floor(cume_dist().over(w) * 1000000).cast("long").as("cdist"),
          ntile(4).over(w).as("quartile"))
        .orderBy("l_suppkey", "drank", "l_orderkey", "l_linenumber")
    }),

    // U-suite: INTERSECT / EXCEPT set operations
    "q_u2_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey").distinct()
      val c96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey").distinct()
      c95.intersect(c96).select(lit("both").as("tag"), col("o_custkey"))
        .unionByName(c95.except(c96).select(lit("only95").as("tag"), col("o_custkey")))
        .orderBy("tag", "o_custkey")
    }),

    // F-suite: string scalar pack
    "q_f_strings" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        substring(col("p_name"), 1, 8).as("name8"),
        upper(col("p_brand")).as("brand_uc"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        translate(col("p_type"), "aeiou", "AEIOU").as("type_tr"),
        concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
        length(col("p_name")).as("name_len"),
        reverse(col("p_brand")).as("brand_rev"))
        .orderBy("p_partkey")
    }),

    // Fixed-width histogram (single hash aggregate on the bucket index)
    "q_histogram" -> ((s, dir) => {
      Profile.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        lo = 0.0, hi = 120000.0, nBuckets = 24)
        .orderBy("bucket")
    }),

    // Equi-depth (quantile) binning: 4 ~equal-population intervals of
    // the integer-valued quantity column (interpolated boundaries land
    // on integers/halves, so the bin comparisons are engine-exact —
    // the q_a2_median argument). Exact percentile arm = oracle arm;
    // the approx arm is spec-gated in SketchOpsSpec.
    "q_equidepth" -> ((s, dir) => {
      Profile.equidepth(t(s, dir, "lineitem"), "l_quantity", bins = 4)
        .orderBy("bin")
    }),

    // Equi-depth through the stats-driven dispatch (r16 — completes
    // the Auto family: mad/winsorize/equidepth all pick exact-vs-KLL
    // and the weighted-preAgg strategy from catalog stats, zero-job
    // on the ANALYZEd table). Sketch boundaries are engine-specific,
    // so the export is arm-independent: each of the 4 bins must hold
    // 25% ± 5% of the rows (the band covers KLL rank error ≤1% plus
    // the integer-tie mass ~2% a boundary value can carry — the exact
    // arm sits inside it by construction), pinned TRUE by the oracle;
    // n_total anchors the contract to the exact row count.
    "q_equidepth_auto" -> ((s, dir) => {
      val li = s.table(Tables.ensureStats(s, dir, "lineitem",
        Seq("l_returnflag", "l_quantity", "l_extendedprice")))
      val ed = Profile.equidepth(li, "l_quantity", bins = 4,
        arm = Profile.Arm.Auto(perGroupBound = 100000L))
      ed.crossJoin(broadcast(ed.agg(sum("n").as("_tot"))))
        .select(col("bin"),
          (abs(col("n").cast("double") / col("_tot").cast("double") - 0.25)
            <= 0.05).as("share_ok"),
          col("_tot").cast("long").as("n_total"))
        .orderBy("bin")
    }),

    // Join-key skew diagnostic: the 5 heaviest l_suppkey values with
    // their over-uniform factor — the pre-flight for salting/AQE-skew
    // decisions on a planned supplier-keyed join.
    "q_key_skew" -> ((s, dir) => {
      Profile.keySkew(t(s, dir, "lineitem"), "l_suppkey", topK = 5)
    }),

    // Exact join cardinality WITHOUT executing the join: per-key count
    // tables joined on the key (one row per distinct key), Σ nₐ·n_b.
    // The pre-flight a 100 TB fact–fact join runs before committing a
    // cluster to the real thing. The internal math is decimal(38,0)
    // (overflow-safe for fact–fact hot keys, r14); the EXPORTED face
    // renders those decimals as strings since r15 — arbitrary-precision
    // exactness survives the cast, and strings hash canonically across
    // every engine pair (decimal128(38,0) was the contract's only
    // decimal surface and its only r14 driver-hash failure despite
    // bit-identical values locally).
    "q_join_size" -> ((s, dir) => {
      Profile.joinCardinality(t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey")
        .select(col("join_rows").cast("string").as("join_rows"),
          col("n_matching_keys"),
          col("max_key_rows").cast("string").as("max_key_rows"))
    }),

    // Representation canaries from the r15 hash bisect: the SAME
    // Σ nₐ·n_b scalar exported as BIGINT and VARCHAR, the two
    // renderings the bisect PROVED hash stably across the driver's
    // DuckDB pair. The third face — DECIMAL(38,0) — was the bisect's
    // deliberately-red probe: rows/schema matched, hash did not
    // (driver hasher canonicalizes decimal128 differently despite
    // bit-identical values), so it answered its question and was
    // retired in r16. RULE: no query may EXPORT a decimal column;
    // arbitrary-precision math stays internal, rendered as VARCHAR
    // (or BIGINT when provably < 9.2e18) at the boundary.
    // tools/validate.py flags violations (DECIMAL_RISK).
    "q_join_size_bigint" -> ((s, dir) => {
      Profile.joinCardinality(t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey")
        .select(col("join_rows").cast("long").as("join_rows"))
    }),
    "q_join_size_str" -> ((s, dir) => {
      Profile.joinCardinality(t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey")
        .select(col("join_rows").cast("string").as("join_rows"))
    }),

    // Data-quality profile: per-column null/distinct/min/max/mean, one pass
    "q_profile" -> ((s, dir) => {
      Profile.profile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_name")
    }),

    // q_profile in its 100 TB mode: approx_count_distinct (HLL++ — ONE
    // agg, no per-column input expansion) instead of exact
    // countDistinct. The HLL estimate is engine-specific, so the gate
    // exports it as a BOUND CHECK: the estimate must sit within ±15%
    // (3× the default 5% rsd) of the exact count, which the oracle
    // asserts as a constant TRUE; every other column is exactly
    // oracled like q_profile. The exact profile here is the gate's
    // ground truth only — production runs the approx side alone.
    "q_profile_approx" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val li = t(s, dir, "lineitem")
      val ap = Profile.profile(li, cols, approxDistinct = true)
      val ex = Profile.profile(li, cols)
        .select(col("col_name"), col("n_distinct").as("_nd_exact"))
      ap.join(ex, "col_name")
        .withColumn("distinct_in_bounds",
          abs(col("n_distinct").cast("double") / col("_nd_exact").cast("double")
            - 1.0) <= 0.15)
        .select("col_name", "n_rows", "n_null", "distinct_in_bounds",
          "min_val", "max_val", "mean_val")
        .orderBy("col_name")
    }),

    // ---- training-data extensions -------------------------------------

    // Dedup 1: exact (hash group-by on normalized content)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("keep_id")
    }),

    // Dedup 1b: APPLY the exact dedup — corpus minus duplicates
    "q_dedup_apply" -> ((s, dir) => {
      Dedup.applyExact(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup 1c: incremental ingestion — docs ≥ 250 arrive as a new
    // batch; the fingerprint ledger of the first 250 filters
    // already-seen content, then the batch dedups internally. The
    // ledger is fingerprints only: history is never rescanned.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ledger = Dedup.ledgerOf(docs.filter(col("doc_id") < 250), "text")
      Dedup.applyExactIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", ledger)
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup 3c: incremental near-dup — new docs (id 250–499) deduped
    // against the persisted MinHash signature ledger of history
    // (id < 250), then batch-internally (cluster-apply, min-id reps);
    // history text is never rescanned, only its 16-long signatures.
    // Sliced to the same 500-doc window as the rest of the det-minhash
    // family (the interpreted parity folds price full verification)
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // in production the ledger IS a persisted parquet table; the
      // in-line rebuild here is checkpointed so the two ledger
      // consumers (banding, history scoring) read it, not re-derive it
      // (lazy, r18: eager ran a construction-time job per execution)
      val ledger = Dedup.minhashLedgerOf(
        docs.filter(col("doc_id") < 250), "doc_id", "text", w = 3)
        .localCheckpoint(eager = false)
      Dedup.applyMinhashIncremental(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 500), "doc_id", "text",
        ledger, w = 3, numHashes = 16, bands = 8, threshold = 0.05)
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup 1f: line-level exact dedup (C4-style) — synthetic two-line
    // docs built by pairing each doc with its successor, so every
    // original text occurs as a line in exactly two docs and the
    // smaller doc id keeps it; docs are rebuilt from surviving lines
    "q_dedup_lines" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val nxt = d.select((col("doc_id") - 1).as("doc_id"), col("text").as("text2"))
      val paired = d.join(nxt, Seq("doc_id"))
        .select(col("doc_id"), concat(col("text"), lit("\n"), col("text2")).as("text"))
      Dedup.dedupLines(paired, "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("fp"), col("n_lines_kept"))
        .orderBy("doc_id")
    }),

    // Dedup 1d: bloom-prefiltered apply — byte-identical to
    // q_dedup_apply (the oracle is the same SQL); the bloom admits all
    // winners, the semi-join removes its false positives
    "q_dedup_bloom" -> ((s, dir) => {
      Dedup.applyExactBloom(t(s, dir, "documents"), "doc_id", "text",
        expectedWinners = 100000L, fpp = 0.03)
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup 1e: benchmark decontamination — training docs sharing any
    // word-8-gram with the held-out set (doc_id < 400 stands in for an
    // eval benchmark: the SMALL side, broadcast at every SF) leak eval
    // content; report the overlap count per training doc
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // r17: spread ONLY the corpus (streamed) side — its shingle
      // explode is the single-task cost; the benchmark side must stay
      // un-spread so its broadcast build isn't gated behind a shuffle
      // (spreading both sides measured +217% on one noisy run, and the
      // broadcast-side serialization was the real component of it)
      Dedup.benchmarkOverlap(
        Tables.spread(docs.filter(col("doc_id") >= 400), col("doc_id")),
        "doc_id", "text",
        docs.filter(col("doc_id") < 400), "text", w = 8)
        .orderBy("doc_id")
    }),

    // Dedup 2: n-gram (word-3-shingle) Jaccard via inverted-index join.
    // maxBucket caps the hot-shingle bucket (stop-shingles appearing in
    // >100 docs carry no signal and fan out quadratically at 100 TB);
    // the DuckDB oracle applies the identical cap.
    "q_dedup_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 2a': n-gram CONTAINMENT — the asymmetric excerpt detector
    // (|A∩B| / min size): a short doc quoted inside a long one scores
    // ≈1 where Jaccard stays tiny. Same inverted index + hot-shingle
    // cap as q_dedup_jaccard.
    "q_dedup_containment" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3, threshold = 0.6, maxBucket = 100)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 2a'': repeated-SPAN removal — fixed-width-gram
    // exact-substring dedup (Lee et al. 2022 in spirit): any 3-token
    // gram occurrence beyond its corpus-wide first is stripped and
    // docs are rebuilt from surviving tokens. Removes verbatim
    // boilerplate INSIDE otherwise-unique docs — the granularity
    // between dedupLines (whole lines) and cluster_apply (whole docs).
    "q_span_dedup" -> ((s, dir) => {
      Dedup.removeRepeatedSpans(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3)
        .orderBy("doc_id")
    }),

    // ER: fuzzy record matching — token-blocking inverted index (hot
    // cap, same shape as the shingle caps) + exact Levenshtein verify
    // once per unique candidate pair. The source-merging pass that
    // collapses typo'd duplicate metadata records before doc dedup.
    "q_er_match" -> ((s, dir) => {
      EntityResolution.fuzzyMatchPairs(
        t(s, dir, "part").filter(col("p_partkey") < 200),
        "p_partkey", "p_name", maxDistance = 3, maxBucket = 150)
        .orderBy("id_a", "id_b")
    }),

    // Clustering: exact-integer Lloyd k-means over the embeddings —
    // corpus curation cells (SemDeDup-style) with the centroid matrix
    // riding the kmeans_argmin expression (assignment = one narrow
    // projection, update = k·dim map-side-combined partial sums).
    // Integer arithmetic end to end makes the result
    // partitioning-independent and oracle-exact.
    "q_kmeans" -> ((s, dir) => {
      Clustering.kmeansAssign(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        .orderBy("vec_id")
    }),

    // k-means at k=64: the same kmeans_argmin assignment with a
    // 64-row centroid matrix under the DuckDB oracle — the SAME
    // unrolled SQL as q_kmeans serves, with LIMIT 64 init
    "q_kmeans_large" -> ((s, dir) => {
      Clustering.kmeansAssign(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 64, iters = 1)
        .orderBy("vec_id")
    }),

    // Dedup 2b: pairwise matches → transitive clusters (connected components)
    "q_dedup_cluster" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy("node")
    }),

    // Dedup 2c: APPLY the clustering — corpus minus every
    // non-representative near-dup member (the pipeline's actual output)
    "q_dedup_cluster_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      Dedup.applyNearDups(docs, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup 2d: quality-aware representative — keep each cluster's
    // LONGEST member (n_chars, min-id tiebreak) instead of the
    // arbitrary min-id, the choice a curation pipeline actually wants
    // when a cluster mixes a clean original with truncated scrapes.
    // Same pair plan as 2b/2c; only (id, score, cluster) triples
    // shuffle for the winner pick (map-side max_by, no window sort).
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      Dedup.applyNearDupsKeepBest(docs, "doc_id", pairs, col("n_chars"))
        .select("doc_id").orderBy("doc_id")
    }),

    // Split 2: leakage-safe split — near-dup CLUSTERS move between
    // train/val/test as one unit (split = pure function of the
    // component's min-id label; singletons degenerate to q_split's
    // per-doc rule), so no near-dup pair can straddle the held-out
    // boundary. The contamination audit below measures what the plain
    // per-doc split leaks on the same pair set; for this assignment
    // the audit returns zero rows (asserted in CurationOpsSpec).
    "q_split_leakfree" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      Sampling.leakFreeSplit(docs, "doc_id", pairs,
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select(col("doc_id"), col("unit").cast("long").as("unit"), col("split"))
        .orderBy("doc_id")
    }),

    // Split 2b: cross-split contamination audit — near-dup pairs whose
    // members landed in DIFFERENT splits under the plain per-doc
    // modulo rule, counted per leak direction. The quantified failure
    // mode q_split_leakfree exists to eliminate.
    "q_split_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      val assigned = Sampling.byModulo(docs, "doc_id",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
      Sampling.splitContamination(assigned, "doc_id", pairs)
        .orderBy("split_a", "split_b")
    }),

    // Dedup 3: MinHash+LSH with exact-Jaccard verification. Det hash
    // family (RollingFp mod 2³¹−1, affine signatures) — the whole LSH
    // path runs under the full DuckDB oracle; recall vs the exact pair
    // set is gated in PlanSpec.
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLshPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3, numHashes = 16, bands = 8, threshold = 0.05)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 3b: signature-estimate verification — the 100 TB MinHash
    // deployment: candidates are scored by signature agreement alone
    // (16 longs per doc ride the join, the shingle sets never reload);
    // integer-exact end-to-end under the det family, so full oracle
    "q_dedup_minhash_est" -> ((s, dir) => {
      Dedup.minhashLshPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", w = 3, numHashes = 16, bands = 8, threshold = 0.05,
        verify = EstimateVerify)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 4: SimHash Hamming-band near-dup. Det hash family: every
    // step is integer arithmetic, so the full oracle checks it
    // bit-for-bit; pigeonhole banding on (maxHamming+1) bands.
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", maxHamming = 7)
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup 5: embedding cosine near-dup in LSH buckets. Det
    // hyperplanes + strict left-to-right float folds make the doubles
    // bit-identical in SQL (full oracle); both run as fused codegen
    // expressions (DetHyperplaneKeysExpr, CosineFold). vec_id < 500
    // (the full set at small SFs) keeps the oracle's all-pairs check
    // bounded; recall is gated in PlanSpec and the wider slice is
    // stress-probed in StressSmoke.
    "q_dedup_embed" -> ((s, dir) => {
      Dedup.embeddingNearDup(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", dim = 64, threshold = 0.35,
        bits = 4, tables = 8)
        .orderBy("id_a", "id_b")
    }),

    // Dedup 1f: SEMANTIC decontamination — corpus embeddings within
    // cosine 0.30 of any eval vector (vec_id < 40 stands in for the
    // held-out set: the SMALL side, broadcast at every SF). The
    // embedding-space complement of q_decontaminate's n-gram screen.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.semanticDecontaminate(
        e.filter(col("vec_id") >= 40 && col("vec_id") < 500),
        e.filter(col("vec_id") < 40),
        "vec_id", "embedding", dim = 64, threshold = 0.30,
        bits = 4, tables = 8)
        .orderBy("corpus_id", "eval_id")
    }),

    // Dedup 1g: SemDeDup-style semantic dedup end-to-end — embedding
    // near-dup pairs → connected components → keep min-id per
    // semantic cluster (plus all unclustered). Same pair threshold as
    // q_dedup_embed so the cluster structure is oracle-reproducible.
    "q_dedup_semantic_apply" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      Dedup.applySemanticDedup(e.select("vec_id"), "vec_id",
        e, "vec_id", "embedding", dim = 64, threshold = 0.35,
        bits = 4, tables = 8)
        .orderBy("vec_id")
    }),

    // Similarity 1: brute-force cosine top-k (exact baseline)
    "q_sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding", k = 5)
        .orderBy("q_id", "rank")
    }),

    // Similarity 3: IVF coarse-quantizer ANN (multi-probe) — no SQL
    // oracle; recall@5 vs the exact baseline is asserted in PlanSpec
    "q_sim_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 50), e, "vec_id", "embedding",
        k = 5, nCells = 16, nProbes = 4)
        .orderBy("q_id", "rank")
    }),

    // Similarity 2: LSH-bucketed ANN top-k. Det hyperplanes (fused
    // DetHyperplaneKeysExpr keys, CosineFold scoring) — candidate
    // generation, scoring, and ranking all hash-match the oracle with
    // no rounding; bounded corpus slice as in q_dedup_embed. Recall is
    // gated in PlanSpec and the whole corpus is stress-probed in
    // StressSmoke. bits/tables sized for
    // the synthetic embeddings (near-random, max pairwise cos ≈ 0.5):
    // p ≈ (1−θ/π)^bits per table; 12 tables (vs the near-dup ops' 8)
    // because top-k recall is gated against the exact baseline and the
    // synthetic vectors are near-random — real corpora with cos≈0.9
    // neighbors keep recall at far fewer probes.
    "q_sim_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bucketedTopK(
        e.filter(col("vec_id") < 50), e.filter(col("vec_id") < 500),
        "vec_id", "embedding", dim = 64, k = 5, bits = 4, tables = 12)
        .orderBy("q_id", "rank")
    }),

    // Text 1: token counts (whitespace + BPE-ish regex) + quality features
    "q_text_stats" -> ((s, dir) => {
      Text.qualityFeatures(t(s, dir, "documents"), "text", stopwords = Seq("the", "a"))
        .withColumn("n_regex_tokens", Text.regexTokenCount(col("text")))
        .select(col("doc_id"), col("n_tokens"), col("n_regex_tokens"),
          col("avg_token_len"), col("stopword_ratio"), col("punct_ratio"))
        .orderBy("doc_id")
    }),

    // Text 1a: linear quality-classifier gate — a fastText-style
    // filter's inference pass as pure expressions: logit over the
    // feature pack (√-length feature keeps every op correctly rounded —
    // no libm sigmoid), thresholded at logit(0.5) = 0
    "q_quality_gate" -> ((s, dir) => {
      Text.qualityLogit(t(s, dir, "documents"), "text", stopwords = Seq("the", "a"),
        bias = -2.0, wLen = 0.25, wTokLen = 0.1, wStop = 2.0, wPunct = -4.0)
        .select(col("doc_id"),
          floor(col("logit") * 1000000).cast("long").as("logit_q"),
          when(col("logit") >= 0, 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    }),

    // Flagship 2: RAG ingestion pipeline in ONE plan — clean → overlap
    // chunking (200/150) → corpus-wide exact chunk dedup (boilerplate
    // chunks collide across docs; min-chunk_id wins) → per-source
    // packing of the surviving chunks into 1000-char batches
    "q_pipeline_rag" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), Text.clean(col("text")).as("ctext"))
      val chunks = Text.chunk(docs, "doc_id", "ctext", size = 200, stride = 150)
        .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
        .withColumn("n_chars", length(col("chunk")))
      val deduped = Dedup.applyExact(chunks, "chunk_id", "chunk")
      Text.packSequences(deduped, "chunk_id", "n_chars", budget = 1000,
        shardCol = "source")
        .select(col("chunk_id"), col("source"), col("n_chars"),
          md5(col("chunk")).as("chunk_fp"), col("pack_id"))
        .orderBy("chunk_id")
    }),

    // Text 1b: pretraining text cleaning (NFC + case/control/whitespace
    // normalization) — full oracle via DuckDB nfc_normalize
    "q_text_clean" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.clean(col("text")).as("clean_text"))
        .withColumn("fp", md5(col("clean_text")))
        .orderBy("doc_id")
    }),

    // Text 2: content fingerprint (md5 of normalized text)
    "q_text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Text 4: vocabulary token-id mapping (broadcast lookup, ordered
    // rebuild). Ids come from Text.buildVocab — partition-parallel
    // sorted zipWithIndex, NOT a global un-partitioned window.
    "q_text_tokenids" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val vocab = Text.buildVocab(
        docs.select(explode(Text.tokens(col("text"))).as("token")))
      Text.tokenIds(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // Text 4b: frequency-ordered vocabulary build (most-common-first
    // ids, the real-tokenizer scheme) — full oracle: the deterministic
    // (n DESC, token) order is row_number-expressible in SQL
    "q_text_vocab" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      Text.buildVocabByFreq(
        docs.select(explode(Text.tokens(col("text"))).as("token")))
        .orderBy("token_id")
    }),

    // Text 4c: heavy-hitter tokens via the Space-Saving sketch
    // aggregate (custom TypedImperativeAggregate, map-side combined).
    // capacity >= vocabulary here, so the sketch is EXACT and
    // oracle-checkable; at 100 TB it degrades gracefully to counts
    // within n/capacity with guaranteed presence of true heavy hitters
    "q_text_topk" -> ((s, dir) => {
      import graft.functions.TopKSketch
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .agg(TopKSketch(col("token"), k = 20, capacity = 4096).as("sk"))
        .select(inline(col("sk")))
        .orderBy(col("count").desc, col("value"))
    }),

    // Text 5: sequential sequence packing into fixed token budgets
    "q_text_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tokens", Text.tokenCount(col("text")))
      Text.packSequences(docs, "doc_id", "n_tokens", budget = 2048, shardCol = "source")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // Pipeline flagship: the full pretraining-data path in one plan —
    // clean (NFC/lowercase/whitespace) → token-count quality gate →
    // exact dedup on cleaned content → pack into 2048-token budgets
    // per source shard. Every stage is individually oracled elsewhere;
    // this verifies their COMPOSITION end-to-end.
    "q_pipeline_pretrain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), Text.clean(col("text")).as("ctext"))
        .withColumn("n_tokens", Text.tokenCount(col("ctext")))
        .filter(col("n_tokens") >= 20)
      val deduped = Dedup.applyExact(docs, "doc_id", "ctext")
      Text.packSequences(deduped, "doc_id", "n_tokens", budget = 2048, shardCol = "source")
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // Text 6: overlapping character chunking (RAG/long-context chunker)
    // — size-200 windows advancing by 150 (50-char overlap), verified
    // by chunk md5 so the oracle checks exact window CONTENT
    "q_text_chunk" -> ((s, dir) => {
      Text.chunk(t(s, dir, "documents"), "doc_id", "text", size = 200, stride = 150)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"), md5(col("chunk")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Text 7: Gopher-style repetition stats — duplicate-token fraction,
    // top-token fraction, top-bigram fraction (the boilerplate filters
    // a pretraining pipeline gates on). Ratios are single IEEE
    // divisions of exact integer counts → bit-identical cross-engine.
    "q_text_repetition" -> ((s, dir) => {
      Text.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Text 10: per-doc top-5 TF-IDF keywords (sklearn smoothed idf,
    // deterministic score-desc/term-asc tie-break). The corpus size is
    // the known row count of the documents table at each SF.
    "q_text_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Text.tfidfTopTerms(docs, "doc_id", "text", k = 5, nDocs = docs.count())
        .orderBy("doc_id", "rank")
    }),

    // Text 10b: PMI collocations — the corpus-analysis pass for
    // multi-word expressions: top bigrams by pointwise mutual
    // information over bigram positions (position-specific marginals),
    // rare tail cut at minCount. Rank key is the ROUNDED pmi + bigram
    // so the top-k membership is engine-reproducible.
    "q_text_pmi" -> ((s, dir) => {
      Text.collocations(
        Tables.spread(t(s, dir, "documents"), col("doc_id")), "text",
        minCount = 5, topK = 20)
    }),

    // Text 11: CCNet-style LM quality filter — bigram LM with add-one
    // smoothing trained on a reference slice (doc_id < 200 stands in
    // for the curated seed corpus: the SMALL side, broadcast at every
    // SF) scores the rest of the corpus by mean negative log-prob per
    // bigram. n_bg/n_hit are exact integers; nll carries the 6-dp
    // accumulation-order rounding recipe (same class as q_text_tfidf).
    "q_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // r17: spread ONLY the scored (streamed) side — the reference
      // side builds broadcast LM tables and must not sit behind a
      // shuffle (see q_decontaminate note)
      Text.lmScore(docs.filter(col("doc_id") < 200),
        Tables.spread(docs.filter(col("doc_id") >= 200), col("doc_id")),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Text 12: per-source domain-shift diagnostic — KL divergence of
    // each source's token distribution from the corpus mix; counts
    // exact, kl 6-dp (accumulation-order recipe)
    "q_domain_shift" -> ((s, dir) => {
      Text.domainShift(t(s, dir, "documents"), "source", "text")
        .orderBy("source")
    }),

    // Text 8: PII redaction — emails/SSNs/phones/IPv4 replaced by typed
    // tags. The corpus is synthetic word-soup, so the oracle here
    // asserts NO false positives (output ≡ input, verified by md5);
    // the true-positive semantics are spec'd on planted fixtures.
    "q_text_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), md5(Text.redactPii(col("text"))).as("fp"))
        .orderBy("doc_id")
    }),

    // Text 9: character-distribution Shannon entropy (bits/char) — the
    // degenerate-text / binary-junk quality gate
    "q_text_entropy" -> ((s, dir) => {
      Text.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Text 3: language-ID by char-n-gram profile argmax (full oracle: the
    // scoring is shared with the SQL via Text.defaultProfiles)
    "q_text_langid" -> ((s, dir) => {
      Tables.spread(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("lang"),
        Text.langId(col("text")).as("predicted"))
        .orderBy("doc_id")
    }),

    // Text 3b: rolling polynomial fingerprint — no SQL oracle
    "q_text_rollingfp" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Text.rollingFingerprint(col("text")).as("rolling_fp"))
        .orderBy("doc_id")
    }),

    // Multimodal: binary payload plumbing, metadata (oracle on byte_len)
    "q_mm_meta" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "source"))
        .select("media_id", "byte_len")
        .orderBy("media_id")
    }),

    // Multimodal: full decode features. Payloads here are octet-stream
    // text, so the deterministic stub fires — and since round 4 its
    // checksum is a codepoint fold the DuckDB oracle reproduces, making
    // all five columns hash-checked. density uses floor(x·1e6), not
    // round(x, 6): byte_len/(w·h) is an exact integer ratio, and exact
    // ratios are precisely the values that can land on a decimal half
    // where Spark (half-up) and DuckDB (half-even) disagree — the same
    // divergence q_w_ranks hit at 41/640. floor of identical doubles
    // cannot differ.
    "q_mm_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "source"))
        .withColumn("density",
          floor(col("density") * 1000000).cast("long"))
        .orderBy("media_id")
    }),

    // Multimodal: REAL ImageIO decode end-to-end — synthesize PNGs whose
    // dimensions are a pure function of the id, decode them back with
    // javax.imageio, and let the oracle predict the dimensions
    // arithmetically. Encode+decode both run partition-parallel.
    "q_mm_decode" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.syntheticPngMedia(
          t(s, dir, "documents").filter(col("doc_id") < 50), "doc_id",
          id => 16 + (id % 32).toInt, id => 16 + (id % 16).toInt))
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    }),

    // Multimodal: frame sampling — one binary payload fans out to n
    // frame rows BEFORE any shuffle (stub codec; plumbing real).
    // Oracle on the deterministic frame count + byte lengths.
    "q_mm_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.asMedia(t(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", "source"), n = 4)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame_payload")).as("frame_len"))
        .orderBy("media_id", "frame_idx")
    }),

    // Multimodal: IMAGE near-dup — real PNG encode → real ImageIO
    // decode → 64-bit average-hash → Hamming-band pair join. Pattern
    // images make the perceptual hash arithmetically predictable, so
    // the whole pixel pipeline runs under the full oracle: groups of
    // 4 ids share a base pattern with 0/1/2/3 disjoint planted bit
    // flips → pairwise distances m1+m2, kept iff ≤ 3
    "q_mm_neardup" -> ((s, dir) => {
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select("doc_id")
      Dedup.hammingPairs64(
        Multimodal.imageHashes(Multimodal.patternMedia(ids, "doc_id")),
        "media_id", "ahash", maxHamming = 3, outA = "id_a", outB = "id_b")
        .orderBy("id_a", "id_b")
    }),

    // Deterministic train/val/test split (stable across runs/partitioning)
    "q_split" -> ((s, dir) => {
      Sampling.byModulo(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split")
    }),

    // Multimodal: the full image round-trip — synthesize PNGs, resize
    // each to a target that is itself a pure function of the id
    // (bilinear Graphics2D + PNG re-encode), decode back with ImageIO;
    // recovered dimensions must equal the targets.
    "q_mm_resize" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.resizeMedia(
          Multimodal.syntheticPngMedia(
            t(s, dir, "documents").filter(col("doc_id") < 40), "doc_id",
            id => 16 + (id % 16).toInt, id => 16 + (id % 8).toInt),
          id => 8 + (id % 12).toInt, id => 8 + (id % 6).toInt))
        .select(col("media_id"), col("width"), col("height"))
        .orderBy("media_id")
    }),

    // Deterministic stratified rebalance: downsample the over-represented
    // 'en' stratum (keep 30%) and trim 'zh' (keep 80%) by a transparent
    // multiplicative-hash bucket — membership is a pure function of the
    // id, so the oracle reproduces the exact kept set.
    "q_split_stratified" -> ((s, dir) => {
      Sampling.stratifiedByModulo(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.3, "zh" -> 0.8))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Deterministic weighted sampling: keep probability proportional to
    // document length (a cheap importance weight) — the continuous
    // generalization of the stratified rebalance, same transparent
    // multiplicative-hash membership.
    "q_sample_byrate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.byRate(docs, "doc_id",
          least(lit(1.0), col("n_chars").cast("double") / 400))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Mixture sampling: rebalance the corpus to a target lang mix
    // (en 40% / zh 20% / es 20% / fr 20%; de dropped) — fr is the
    // binding group at this SF (smallest n/target) and keeps all rows,
    // every other group downsamples by the transparent hash rule
    "q_sample_mixture" -> ((s, dir) => {
      Sampling.mixture(t(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.4, "zh" -> 0.2, "es" -> 0.2, "fr" -> 0.2))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Temperature-flattened mixture (α = 0.5 — the mBERT/XLM-R
    // multilingual rebalance): resample the lang mix toward shares
    // ∝ n^α, so the head language (en) downsamples hardest and the
    // smallest (fr) binds and keeps every row. α = 0.5 is the oracle
    // face: sqrt is correctly rounded by IEEE-754 in EVERY engine
    // (libm pow is last-ulp loose), and the unnormalized n^α targets
    // keep each step one correctly-rounded op, so the hash-exact keep
    // rule reproduces bit-for-bit in DuckDB
    "q_sample_temp" -> ((s, dir) => {
      Sampling.mixtureTemperature(t(s, dir, "documents"), "lang", "doc_id",
        alpha = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Budget-capped selection: per source, longest-first docs until a
    // 3000-char budget — the take-the-best-until-budget data-selection
    // pass (quality order stands in as length here)
    "q_select_budget" -> ((s, dir) => {
      Sampling.selectUntilBudget(t(s, dir, "documents"), "source",
        Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget = 3000L)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Streaming shape: event-time tumbling-window aggregate (batch-equiv)
    "q_stream_window" -> ((s, dir) => {
      StreamingOps.windowedAgg(t(s, dir, "events"))
        .select(unix_timestamp(col("window_start")).as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_start", "event_type")
    }),

    // Streaming shape: sliding (overlapping) windows — each event in
    // windowLen/slide = 2 windows; batch-equiv oracle fans out with a
    // constant unnest
    "q_stream_sliding" -> ((s, dir) => {
      StreamingOps.slidingAgg(t(s, dir, "events"))
        .select(unix_timestamp(col("window_start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    }),

    // Grouping sets: non-hierarchical set list — NOT expressible as
    // rollup or cube ((flag,status), (status), ())
    "q_gsets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("m"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("m"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Native session windows: one row per (user, gap-closed session) —
    // oracle = the lag/cumsum sessionization grouped per session
    "q_session_window" -> ((s, dir) => {
      // ts floored to whole seconds so the SQL oracle (integer-second
      // lag/cumsum sessionization) sees identical gaps
      val ev0 = t(s, dir, "events")
      val ev = ev0.withColumn("ts", timestamp_seconds(Tables.epochSeconds(ev0)))
      StreamingOps.sessionWindowAgg(ev)
        .select(unix_timestamp(col("session_start")).as("session_start"),
          col("user_id"), col("n"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // Sessionization: gap-based sessions per user
    "q_sessionize" -> ((s, dir) => {
      Windows.sessionize(eventsPrep(s, dir), "user_id", col("s"), gapSeconds = 1800)
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // Window analytics: rank / lag / lead / exact running sum
    "q_w_analytics" -> ((s, dir) => {
      // l_extendedprice is the LAST order key because (l_orderkey,
      // l_linenumber) is not unique in the synthetic lineitem: without
      // it the window order has ties, and lag/lead EMIT the neighbor's
      // value, so either engine may resolve a tie either way (caught at
      // sf0.1 in r15: one tied pair swapped and prev_val hash-diverged;
      // running_sum is tie-immune, neighbor reads are not). With the
      // measure as tiebreak, any remaining ties are fully identical
      // rows, whose outputs are interchangeable.
      Windows.analytics(t(s, dir, "lineitem"),
        partition = Seq("l_suppkey"),
        order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        measure = col("l_extendedprice"))
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
          col("prev_val"), col("next_val"), col("running_sum"))
        .orderBy("l_suppkey", "rn")
    }))

  // ------------------------------------------------------------- oracle SQL

  private def dsumSql(e: String) = Exact.sqlSum(e)
  private def davgSql(e: String) = Exact.sqlAvg(e)

  /** Shared DuckDB fragments for the det-MinHash oracles — the affine
    * signature constants and band layout are the parity contract with
    * `Dedup.sigsFromShingled`/`detBands`; ONE generator keeps the
    * three minhash oracles (pairs / estimate / incremental) from
    * drifting apart. */
  private def minhashSigMinsSql(numHashes: Int): String =
    (0 until numHashes).map { i =>
      s"MIN((f * ${1L + 7919L * i} + ${12345L + 104729L * i}) % 2147483647) AS s$i"
    }.mkString(",\n|    ")

  private def minhashBandSelectsSql(numHashes: Int, bands: Int): String = {
    val r = numHashes / bands
    (0 until bands).map { j =>
      val cols = (0 until r).map(k => s"CAST(s${j * r + k} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, $cols AS key FROM sig"
    }.mkString("\n|  UNION ALL ")
  }

  /** Shared shingle-index CTE chain for the Jaccard-dedup oracles —
    * mirrors `Dedup.shingleIndex` exactly: docs with <3 tokens produce
    * no shingles, and shingles in more than 100 docs (stop-shingles)
    * are dropped before sizes/intersections (maxBucket = 100). */
  /** DuckDB fragment: the det-hyperplane fold-dot of `$vec` with
    * rational hyperplane (t, b) — mirrors `Vectors.detHyperplaneKeys`'
    * weight formula and fold order exactly (bits=4, dim=64). */
  private def detDotSql(t: Int, b: Int, vec: String): String = {
    val k0 = (t.toLong * 4 + b) * 64
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(64), " +
      s"d -> CAST($vec[d+1] AS DOUBLE) * (CAST((($k0 + d) * 2654435761) % 2001 " +
      "- 1000 AS DOUBLE) / 1000.0))), (a, x) -> a + x)"
  }

  /** DuckDB fragment: the det-hyperplane bucket keys k0..k{tables-1}
    * of `$vec` (bits=4). */
  private def detKeyExprsSql(vec: String, tables: Int = 8): String =
    (0 until tables).map { t =>
      (0 until 4).map { b =>
        s"(CASE WHEN ${detDotSql(t, b, vec)} >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ") + s" AS k$t"
    }.mkString(",\n|    ")

  /** DuckDB fragment: strict left-to-right fold dot of two 64-dim
    * vectors — `list_reduce` in exactly `Vectors.dotFold`'s order. */
  private def detFoldPairSql(x: String, y: String): String =
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(64), " +
      s"d -> CAST($x[d+1] AS DOUBLE) * CAST($y[d+1] AS DOUBLE))), (a, x) -> a + x)"

  /** DuckDB fragment: exact integer squared-L2 between two quantized
    * 64-dim long vectors — BIGINT end to end, so the fold order is
    * irrelevant (mirrors KMeansArgminExpr's integer loop). */
  private def intDist2Sql(x: String, y: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(64), " +
      s"dd -> ($x[dd+1]-$y[dd+1])*($x[dd+1]-$y[dd+1]))), (a, x) -> a + x)"

  /** One unrolled Lloyd round for the q_kmeans oracle: assignment
    * against centroid CTE `prev` (argmin dist2, ties to the smaller
    * cell id), then the exact-integer floor-mean centroid update with
    * empty cells keeping `prev`'s centroid — the same semantics
    * Clustering.kmeansAssign runs. */
  private def kmeansRoundSql(n: Int, prev: String): String = {
    val d = intDist2Sql("q.vq", "c.cq")
    s"""a$n AS (SELECT id, vq, cid AS cell FROM (
       |    SELECT q.id, q.vq, c.cid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY $d, c.cid) AS rn
       |    FROM qv q CROSS JOIN $prev c) WHERE rn = 1),
       |s$n AS (SELECT cell, g.d AS dim, sum(vq[g.d+1]) AS s, count(*) AS n
       |   FROM a$n CROSS JOIN (SELECT unnest(range(64)) AS d) g
       |   GROUP BY cell, g.d),
       |u$n AS (SELECT cell, list(CAST((s - ((s % n) + n) % n) // n AS BIGINT) ORDER BY dim) AS cq
       |   FROM s$n GROUP BY cell),
       |c$n AS (SELECT p.cid, COALESCE(u$n.cq, p.cq) AS cq
       |   FROM $prev p LEFT JOIN u$n ON u$n.cell = p.cid)""".stripMargin
  }

  /** The full q_kmeans oracle, parameterized: deterministic k-smallest-id
    * init, `iters` unrolled Lloyd rounds, final argmin assignment. The
    * CTE chain is k-agnostic (assignment cross-joins the centroid CTE)
    * — only the init LIMIT and the final centroid CTE name vary. */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map(n => kmeansRoundSql(n, s"c${n - 1}")).mkString(",\n")
    s"""WITH qv AS (SELECT vec_id AS id,
      |   list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS vq
      | FROM embeddings),
      |c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid, vq AS cq
      |   FROM (SELECT id, vq FROM qv ORDER BY id LIMIT $k)),
      |$rounds
      |SELECT id AS vec_id, cell AS cluster, CAST(dist2 AS BIGINT) AS dist2 FROM (
      |  SELECT q.id, c.cid AS cell, ${intDist2Sql("q.vq", "c.cq")} AS dist2,
      |    row_number() OVER (PARTITION BY q.id
      |      ORDER BY ${intDist2Sql("q.vq", "c.cq")}, c.cid) AS rn
      |  FROM qv q CROSS JOIN c$iters c) t(id, cell, dist2, rn) WHERE rn = 1
      |ORDER BY vec_id""".stripMargin
  }

  private val jaccardShingleCtes =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 500),
      |ix AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM d),
      |sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |        FROM ix WHERE len(w) >= 3),
      |hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 100),
      |sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
      |sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_s1_scan_glob" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem""".stripMargin,

    // both DPP queries aggregate the identical day slice — the
    // partitioned copy holds exactly the source rows, so one SQL
    // serves as the oracle for the pruned AND the full-scan plan
    // same slice on the plain table — the z-ordered layout must not
    // change a row
    "q_zorder_slice" ->
      s"""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |WHERE l_partkey BETWEEN 0 AND 24 AND l_suppkey BETWEEN 0 AND 1
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_dpp_dayslice" ->
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |WHERE ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 30) = 3
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_dpp_fullscan" ->
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |WHERE ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 30) = 3
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_p2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30 AND l_linestatus IN ('O','F')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_a1_groupsum" ->
      s"""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  ${davgSql("l_discount")} AS avg_disc
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_a2_median" ->
      """SELECT l_returnflag, ROUND(median(l_quantity), 6) AS med_qty,
        |  ROUND(median(l_extendedprice), 6) AS med_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // same staging as the Spark side: exact decimal centered sums →
    // double at fixed points → identical final expressions
    "q_a9_stats" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(19,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice - 35000.0 AS DECIMAL(19,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(19,6))
        |           * CAST(l_quantity - 25.0 AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice - 35000.0 AS DECIMAL(19,6))
        |           * CAST(l_extendedprice - 35000.0 AS DECIMAL(19,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(19,6))
        |           * CAST(l_extendedprice - 35000.0 AS DECIMAL(19,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag, n_rows,
        |    CAST(n_rows AS DOUBLE) AS n,
        |    CAST(n_rows AS DOUBLE) * sxx - sx * sx AS dxx,
        |    CAST(n_rows AS DOUBLE) * syy - sy * sy AS dyy,
        |    CAST(n_rows AS DOUBLE) * sxy - sx * sy AS dxy
        |  FROM a)
        |SELECT l_returnflag, CAST(n_rows AS BIGINT) AS n_rows,
        |  ROUND(dxx / (n * (n - 1)), 6) AS var_x,
        |  ROUND(sqrt(dxx / (n * (n - 1))), 6) AS std_x,
        |  ROUND(dxy / (n * (n - 1)), 6) AS covar_xy,
        |  ROUND(dxy / sqrt(dxx * dyy), 6) AS corr_xy
        |FROM b ORDER BY l_returnflag""".stripMargin,

    // mirrors Profile.standardize: identical centered decimal sums,
    // identical double expression, identical floor quantization
    "q_standardize" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS nr,
        |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(19,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(19,6))
        |           * CAST(l_quantity - 25.0 AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag,
        |    sx / CAST(nr AS DOUBLE) + 25.0 AS mean,
        |    sqrt((CAST(nr AS DOUBLE) * sxx - sx * sx)
        |         / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1))) AS std,
        |    mn, mx FROM a)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  CAST(floor((l.l_quantity - b.mean) / b.std * 1000000) AS BIGINT) AS q_z,
        |  CAST(floor((l.l_quantity - b.mn) / (b.mx - b.mn) * 1000000) AS BIGINT) AS q_minmax
        |FROM lineitem l JOIN b USING (l_returnflag)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    // mirrors Profile.winsorize + the summary agg: quantile_cont ≡
    // Spark percentile (same (n−1)·p linear interpolation)
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS blo,
        |    quantile_cont(l_extendedprice, 0.95) AS bhi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < b.blo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN l.l_extendedprice > b.bhi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  ROUND(MIN(b.blo), 6) AS lo, ROUND(MAX(b.bhi), 6) AS hi
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT l_returnflag, median(l_quantity) AS m
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l.l_returnflag, m.m, abs(l.l_quantity - m.m) AS dev
        |  FROM lineitem l JOIN med m USING (l_returnflag)),
        |md AS (SELECT l_returnflag, median(dev) AS mv FROM d GROUP BY l_returnflag)
        |SELECT d.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN d.dev > 1.5 * md.mv THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  ROUND(MIN(d.m), 6) AS med, ROUND(MIN(md.mv), 6) AS mad_val
        |FROM d JOIN md USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,

    // the full DSIR scorer in SQL: identical RollingFp fold constants,
    // identical smoothing, ln on the same rationals; w rounded 6dp on
    // both sides and kept compares against the median of the SAME
    // rounded values (quantile_cont ≡ Spark's exact percentile).
    // TOTAL over documents (round 13): the scored CTE left-joins from
    // documents so a tokenless (NULL-text) doc emits (0, 0.0) in both
    // engines instead of vanishing from one.
    "q_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |bk AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(tok, ''), c -> CAST(unicode(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 144115188075855859) % 4096 AS b
        |  FROM tok),
        |raw AS (SELECT b, COUNT(*) AS cr FROM bk GROUP BY b),
        |tgt AS (
        |  SELECT b, COUNT(*) AS ct FROM bk JOIN documents USING (doc_id)
        |  WHERE source = 'src0' GROUP BY b),
        |lam AS (
        |  SELECT COALESCE(r.b, t.b) AS b,
        |    ln(COALESCE(t.ct, 0) + 1.0) - ln((SELECT SUM(ct) FROM tgt) + 4096.0)
        |    - ln(COALESCE(r.cr, 0) + 1.0) + ln((SELECT SUM(cr) FROM raw) + 4096.0) AS lam
        |  FROM raw r FULL OUTER JOIN tgt t ON r.b = t.b),
        |scored AS (
        |  SELECT d.doc_id, CAST(COUNT(bk.b) AS BIGINT) AS n_tok,
        |    ROUND(COALESCE(SUM(lam.lam), 0.0), 6) AS w
        |  FROM documents d
        |  LEFT JOIN bk ON d.doc_id = bk.doc_id
        |  LEFT JOIN lam ON bk.b = lam.b
        |  GROUP BY d.doc_id)
        |SELECT doc_id, n_tok, w,
        |  (w > (SELECT quantile_cont(w, 0.5) FROM scored)) AS kept
        |FROM scored ORDER BY doc_id""".stripMargin,

    // sketch-threshold twin: the oracle pins the GK-median bound
    // checks TRUE and the doc count exact — a hash match means the
    // approx threshold landed inside the ±1%-rank band AND its keep
    // count inside the exact band-edge counts
    "q_dsir_select_approx" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS med_ok, TRUE AS kept_ok
        |FROM documents""".stripMargin,

    // same bound-check contract as the other sketch twins: the oracle
    // pins med_ok/mad_ok TRUE; n is the exact per-group row count
    "q_mad_outliers_approx" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS med_ok, TRUE AS mad_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the Auto face's band contract is arm-independent (exact or
    // sketch, the bounds sit inside their own ±1% rank bands), so the
    // oracle is the same pinned-TRUE shape as the _approx twin
    "q_mad_outliers_auto" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS med_ok, TRUE AS mad_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_winsorize_auto" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS n_escaped, TRUE AS lo_ok, TRUE AS hi_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_a8_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the sketch estimates are engine-specific, so the oracle pins the
    // BOUNDS (each approx quantile within ±1% rank of exact, asserted
    // TRUE) — a hash match means every Spark estimate held its bound
    "q_a8_percentiles_approx" ->
      """SELECT l_returnflag, TRUE AS q25_ok, TRUE AS q50_ok,
        |  TRUE AS q75_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // same bound-check contract; n and n_escaped are exact integers
    // (n_escaped = 0 is the clamp invariant, sketch-independent)
    "q_winsorize_approx" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS n_escaped, TRUE AS lo_ok, TRUE AS hi_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_a4_nullcount" ->
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
         |  ROUND(CAST(COUNT(*) - COUNT(v) AS DOUBLE) / COUNT(*), 6) AS null_ratio
         |FROM ($eventsPrepSql) GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_a5_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "q_a5_count_distinct" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact arm recomputed directly; nd_ok (the sketch-vs-exact bound
    // check, computed engine-side) pinned TRUE
    "q_hll_rollup" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_exact, TRUE AS nd_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // merged-sketch quantiles are engine-side; the oracle pins the
    // rank-band checks TRUE and recomputes the exact counts
    "q_kll_rollup" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  TRUE AS med_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact overlaps recomputed from the distinct (priority, custkey)
    // pair self-join; ok (the sketch-vs-exact bound) pinned TRUE
    "q_theta_overlap" ->
      """WITH pc AS (
        |  SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders),
        |nd AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS nd_a FROM pc GROUP BY p)
        |SELECT x.p AS slice_a, y.p AS slice_b,
        |  CAST(COUNT(*) AS BIGINT) AS overlap_exact,
        |  CAST(MIN(nd.nd_a) - COUNT(*) AS BIGINT) AS a_only_exact,
        |  TRUE AS ok, TRUE AS ok_diff
        |FROM pc x JOIN pc y ON x.c = y.c AND x.p < y.p
        |JOIN nd ON nd.p = x.p
        |GROUP BY x.p, y.p ORDER BY slice_a, slice_b""".stripMargin,

    // the merged state must equal the from-scratch aggregate: decimal
    // sum route matches Exact.sqlSum bit-for-bit; nd_ok pinned TRUE
    "q_agg_incremental" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  ${dsumSql("o_totalprice")} AS sum_v,
        |  MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_exact, TRUE AS nd_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // exact columns recomputed from scratch (decimal sum route matches
    // Exact.sqlSum bit-for-bit); all four sketch bound checks (HLL,
    // KLL med/p90 rank bands, theta) computed engine-side, pinned TRUE
    "q_agg_state_full" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  ${dsumSql("o_totalprice")} AS sum_v,
        |  MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_exact,
        |  TRUE AS nd_ok, TRUE AS med_ok, TRUE AS p90_ok, TRUE AS theta_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // novelty exact arm = per-priority distinct anti-join of batch
    // custkeys against history custkeys; the sketch-diff bound check
    // is engine-side, pinned TRUE
    "q_theta_novelty" ->
      """WITH hist AS (
        |  SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |bat AS (
        |  SELECT o_orderpriority AS p, o_custkey AS c FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
        |nb AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_batch FROM bat GROUP BY p),
        |novel AS (
        |  SELECT b.p, CAST(COUNT(*) AS BIGINT) AS novel_exact
        |  FROM (SELECT DISTINCT p, c FROM bat) b
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.p = b.p AND h.c = b.c)
        |  GROUP BY b.p)
        |SELECT nb.p AS o_orderpriority, nb.n_batch,
        |  CAST(COALESCE(novel.novel_exact, 0) AS BIGINT) AS novel_exact,
        |  TRUE AS ok
        |FROM nb LEFT JOIN novel ON novel.p = nb.p
        |ORDER BY o_orderpriority""".stripMargin,

    "q_a7_ols" -> Regression.oracleSql(
      "(SELECT c_nationkey, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey)",
      Seq("c_nationkey"), "yr", "o_totalprice", atX = 2026),

    "q_j1_join3" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,

    // cent-tick ranking mirrors nearestJoinQuantized(invQuantum=100):
    // quantization is exact for 2-dp money, and makes the argmin
    // engine-independent (raw double ordering of a*b-c*d-style diffs
    // is FP-representation-dependent; integer ticks are not)
    "q_j2_nearest" ->
      """WITH x AS (
        |  SELECT c_custkey, s_suppkey, abs(c_acctbal - s_acctbal) AS dist,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY CAST(round(abs(c_acctbal - s_acctbal) * 100) AS BIGINT),
        |               s_suppkey) AS rn
        |  FROM customer CROSS JOIN supplier)
        |SELECT c_custkey, s_suppkey AS nearest_supp, dist
        |FROM x WHERE rn = 1 ORDER BY c_custkey""".stripMargin,

    "q_j3_gravity" ->
      """WITH z AS (
        |  SELECT n_nationkey AS zone, CAST(COUNT(*) AS BIGINT) AS mass
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_nationkey),
        |f AS (
        |  SELECT o.zone AS origin, d.zone AS dest,
        |    CAST(o.mass AS DOUBLE) * CAST(d.mass AS DOUBLE)
        |      / (CAST(abs(o.zone - d.zone) AS DOUBLE) * CAST(abs(o.zone - d.zone) AS DOUBLE)) AS flow
        |  FROM z o CROSS JOIN z d WHERE o.zone <> d.zone)
        |SELECT origin, dest, flow,
        |  ROUND(flow / SUM(flow) OVER (PARTITION BY origin), 6) AS flow_norm
        |FROM f ORDER BY origin, dest""".stripMargin,

    "q_w1_interp" ->
      s"""WITH base AS (
         |  SELECT user_id, event_id, v,
         |    row_number() OVER (PARTITION BY user_id ORDER BY s, event_id) AS rn
         |  FROM ($eventsPrepSql)),
         |anch AS (
         |  SELECT user_id, event_id, v, rn,
         |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY rn
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prn,
         |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY rn
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY rn
         |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nrn,
         |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY rn
         |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
         |  FROM base)
         |SELECT user_id, event_id,
         |  COALESCE(v,
         |    pv + (nv - pv) * CAST(rn - prn AS DOUBLE) / CAST(nrn - prn AS DOUBLE),
         |    pv, nv) AS v_filled
         |FROM anch ORDER BY user_id, event_id""".stripMargin,

    "q_w2_seasonal" ->
      s"""WITH base AS (
         |  SELECT user_id, event_id, v, (s // 3600) % 24 AS fine, (s // 86400) % 7 AS coarse
         |  FROM ($eventsPrepSql)),
         |mf AS (SELECT user_id, fine, median(v) AS m_fine FROM base GROUP BY user_id, fine),
         |mc AS (SELECT user_id, coarse, median(v) AS m_coarse FROM base GROUP BY user_id, coarse),
         |ma AS (SELECT user_id, median(v) AS m_all FROM base GROUP BY user_id)
         |SELECT b.user_id, b.event_id,
         |  COALESCE(b.v, mf.m_fine, mc.m_coarse, ma.m_all) AS v_filled
         |FROM base b
         |LEFT JOIN mf ON b.user_id = mf.user_id AND b.fine = mf.fine
         |LEFT JOIN mc ON b.user_id = mc.user_id AND b.coarse = mc.coarse
         |LEFT JOIN ma ON b.user_id = ma.user_id
         |ORDER BY b.user_id, b.event_id""".stripMargin,

    "q_w3_knn_impute" ->
      s"""WITH e AS (SELECT *, s // 86400 AS day FROM ($eventsPrepSql)),
         |n AS (SELECT event_id, user_id, day, s FROM e WHERE v IS NULL),
         |d AS (SELECT event_id AS did, day, s AS ds, v AS dv FROM e WHERE v IS NOT NULL),
         |ranked AS (
         |  SELECT n.event_id, d.dv, CAST(abs(n.s - d.ds) AS DOUBLE) AS dist,
         |    row_number() OVER (PARTITION BY n.event_id
         |                       ORDER BY abs(n.s - d.ds), d.did) AS rn
         |  FROM n JOIN d ON n.day = d.day),
         |imp AS (
         |  SELECT event_id,
         |    CASE WHEN COUNT(CASE WHEN dist = 0 THEN 1 END) > 0
         |         THEN AVG(CASE WHEN dist = 0 THEN dv END)
         |         ELSE SUM((1.0 / dist) * dv) / SUM(1.0 / dist) END AS v_imp
         |  FROM ranked WHERE rn <= 3 GROUP BY event_id)
         |SELECT e.user_id, e.event_id, ROUND(COALESCE(e.v, imp.v_imp), 6) AS v_imputed
         |FROM e LEFT JOIN imp ON e.event_id = imp.event_id
         |ORDER BY e.user_id, e.event_id""".stripMargin,

    "q_o1_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_u1_union" ->
      s"""SELECT src, CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM (
         |  SELECT 'hi' AS src, l_quantity FROM lineitem WHERE l_quantity >= 45
         |  UNION ALL
         |  SELECT 'lo' AS src, l_quantity FROM lineitem WHERE l_quantity <= 5
         |  UNION ALL
         |  SELECT 'ret' AS src, l_quantity FROM lineitem WHERE l_returnflag = 'R')
         |GROUP BY src ORDER BY src""".stripMargin,

    "q_r1_unpivot" ->
      s"""SELECT metric, CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("val")} AS sum_val
         |FROM (
         |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice' AS metric, l_extendedprice AS val FROM lineitem
         |  UNION ALL
         |  SELECT 'l_discount' AS metric, l_discount AS val FROM lineitem)
         |GROUP BY metric ORDER BY metric""".stripMargin,

    "q_r3_pivot" ->
      """SELECT user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("l_quantity")} AS m
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("o_totalprice")} AS m
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_f_scalars" ->
      """SELECT o_orderkey, lower(trim(o_orderpriority)) AS prio,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS month_start,
        |  greatest(0.0, o_totalprice - 100000.0) AS over_100k,
        |  sqrt(o_totalprice) AS sqrt_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_f_distance" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 89 AS DOUBLE) AS lat_a,
        |    CAST(c_custkey % 179 AS DOUBLE) AS lon_a,
        |    CAST((c_custkey + 31) % 89 AS DOUBLE) AS lat_b,
        |    CAST((c_custkey + 67) % 179 AS DOUBLE) AS lon_b
        |  FROM customer)
        |SELECT c_custkey,
        |  ROUND(sqrt(pow(lat_a - lat_b, 2) + pow(lon_a - lon_b, 2)), 6) AS euclid_deg,
        |  ROUND(2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(lat_b - lat_a) / 2), 2) +
        |    cos(radians(lat_a)) * cos(radians(lat_b)) *
        |    pow(sin(radians(lon_b - lon_a) / 2), 2))), 6) AS hav_km
        |FROM c ORDER BY c_custkey""".stripMargin,

    "q_f_regexp" ->
      """SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q_f_mercator" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey % 2000) * 10000 - 10000000 AS DOUBLE) AS x,
        |    CAST((c_custkey % 1500) * 8000 - 6000000 AS DOUBLE) AS y
        |  FROM customer)
        |SELECT c_custkey,
        |  ROUND(x / 6378137.0 * (180.0 / pi()), 6) AS lon,
        |  ROUND((atan(exp(y / 6378137.0)) * 2 - pi() / 2) * (180.0 / pi()), 6) AS lat
        |FROM c ORDER BY c_custkey""".stripMargin,

    "q_s7_explode" ->
      """SELECT event_id, 'k' AS key,
        |  CAST(regexp_extract(props, '[0-9]+') AS INT) AS val
        |FROM events ORDER BY event_id""".stripMargin,

    "q_f_json" ->
      """WITH j AS (
        |  SELECT event_id, props,
        |    '{"u":' || user_id || ',"m":{"t":"' || event_type || '"}}' AS js
        |  FROM events)
        |SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  json_extract_string(js, '$.m.t') AS jtype,
        |  CAST(json_extract_string(js, '$.u') AS BIGINT) AS juser
        |FROM j ORDER BY event_id""".stripMargin,

    "q_densify" ->
      s"""WITH e AS ($eventsPrepSql),
         |a AS (
         |  SELECT user_id, s // 86400 AS day, CAST(COUNT(*) AS BIGINT) AS n,
         |    ${dsumSql("value")} AS v
         |  FROM e WHERE user_id < 50 GROUP BY user_id, s // 86400),
         |sp AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM a GROUP BY user_id),
         |cal AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM sp)
         |SELECT c.user_id, c.day, a.n, a.v
         |FROM cal c LEFT JOIN a ON c.user_id = a.user_id AND c.day = a.day
         |ORDER BY c.user_id, c.day""".stripMargin,

    "q_asof_fwd" ->
      s"""WITH e AS ($eventsPrepSql),
         |c AS (SELECT event_id, user_id, s FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, s, MAX(value) AS pvalue FROM e
         |      WHERE event_type = 'purchase' GROUP BY user_id, s)
         |SELECT c.event_id, c.user_id, c.s,
         |  p.s AS purchase_s, p.pvalue AS purchase_value
         |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.s <= p.s
         |ORDER BY c.event_id""".stripMargin,

    // plain non-equi overlap SQL — proves the bucketed equi-join +
    // first-shared-bucket dedup is exactly the overlap semantics
    "q_interval_join" ->
      s"""WITH e AS ($eventsPrepSql),
         |p AS (SELECT user_id, event_id AS p_event, s AS ps, s + 1800 AS pe
         |      FROM e WHERE event_type = 'purchase'),
         |v AS (SELECT user_id, event_id AS v_event, s AS vs, s + 3600 AS ve
         |      FROM e WHERE event_type = 'view')
         |SELECT p.user_id, p_event, v_event
         |FROM p JOIN v ON p.user_id = v.user_id
         |  AND p.ps < v.ve AND v.vs < p.pe
         |ORDER BY p.user_id, p_event, v_event""".stripMargin,

    "q_sample_exactn" ->
      """WITH l AS (
        |  SELECT l_returnflag, l_orderkey * 10 + l_linenumber AS lid
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, lid,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY ((lid % 1000000007) * 2654435761) % 1000000007, lid) AS rk
        |  FROM l)
        |SELECT l_returnflag, lid FROM r WHERE rk <= 100
        |ORDER BY l_returnflag, lid""".stripMargin,

    // mirrors Sampling.shuffleOrder: same multiplicative-hash rank key
    // over id+salt (salt=1), shard = key mod 8, dense per-shard
    // positions with (key, id) tie-break
    "q_shuffle_order" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    (((doc_id + 1) % 1000000007) * 2654435761) % 1000000007 AS key
        |  FROM documents)
        |SELECT doc_id, CAST(key % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % 8
        |    ORDER BY key, doc_id) AS INT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,

    "q_snapshot_diff" ->
      """WITH oldsnap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0),
        |newsnap AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_totalprice AS old_o_totalprice, n.o_totalprice,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
        |    END AS change_type
        |  FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, o_orderkey, old_o_totalprice, o_totalprice
        |FROM j WHERE change_type IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q_scd2" ->
      s"""WITH e AS ($eventsPrepSql),
         |d AS (
         |  SELECT user_id, event_id, event_type, s,
         |    lag(event_type) OVER w AS prev
         |  FROM e WHERE user_id < 30
         |  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         |f AS (
         |  SELECT user_id, event_id, event_type, s FROM d
         |  WHERE prev IS NULL OR prev <> event_type),
         |g AS (
         |  SELECT user_id, event_type, event_id AS anchor_event, s AS valid_from,
         |    lead(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS valid_to
         |  FROM f)
         |SELECT user_id, event_type, anchor_event, valid_from, valid_to,
         |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
         |FROM g ORDER BY user_id, valid_from, anchor_event""".stripMargin,

    // micros precision on both sides: tsCol is timestamp_micros(ts ns
    // div 1000) and epoch_us reads the same parquet micros
    "q_stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT v.user_id, v.event_id AS l_event, p.event_id AS r_event
        |FROM e v JOIN e p
        |  ON v.user_id = p.user_id AND p.us >= v.us AND p.us <= v.us + 3600000000
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY v.user_id, l_event, r_event""".stripMargin,

    "q_asof_join" ->
      s"""WITH e AS ($eventsPrepSql),
         |c AS (SELECT event_id, user_id, s FROM e WHERE event_type = 'click'),
         |p AS (SELECT user_id, s, MAX(value) AS pvalue FROM e
         |      WHERE event_type = 'purchase' GROUP BY user_id, s)
         |SELECT c.event_id, c.user_id, c.s,
         |  p.s AS purchase_s, p.pvalue AS purchase_value
         |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.s >= p.s
         |ORDER BY c.event_id""".stripMargin,

    "q_j_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    // the oracle states the range join as the plain non-equi predicate;
    // the Spark side must produce identical rows through the bucketed
    // equi-join rewrite
    "q_range_join" ->
      s"""WITH ev AS (SELECT event_type, s, value FROM ($eventsPrepSql) ep),
         |iv AS (
         |  SELECT DISTINCT event_type, (s // 3600) * 3600 AS w_start
         |  FROM ev WHERE (s // 3600) % 6 = 0)
         |SELECT ev.event_type, iv.w_start, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(ev.value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
         |FROM ev JOIN iv ON ev.event_type = iv.event_type
         |  AND ev.s >= iv.w_start AND ev.s < iv.w_start + 7200
         |GROUP BY ev.event_type, iv.w_start
         |ORDER BY ev.event_type, iv.w_start""".stripMargin,

    "q_skew_join" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the oracle runs on the plain parquet tables — bucketing is a
    // layout choice, invisible in the result
    "q_bucket_join" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_bucket_rollup" ->
      s"""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  CAST(MAX(l_shipdate) AS DATE) AS last_ship
         |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fp, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY md5(lower(trim(text))) ORDER BY keep_id""".stripMargin,

    // mirrors applyExactIncremental: anti-join the new batch against
    // the ledger's fingerprints, then keep min-id per fingerprint
    "q_dedup_incremental" ->
      """WITH ledger AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fp
        |  FROM documents WHERE doc_id >= 250),
        |fresh AS (
        |  SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM ledger))
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
        |FROM fresh GROUP BY fp ORDER BY doc_id""".stripMargin,

    "q_tpch_q3" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00'
         |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      s"""SELECT n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND CAST(year(o_orderdate) AS INT) = 1996
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch_q17" ->
      s"""WITH aq AS (SELECT l_partkey, ${davgSql("l_quantity")} AS aq
         |            FROM lineitem GROUP BY l_partkey)
         |SELECT ROUND(${dsumSql("l_extendedprice")} / 7.0, 6) AS avg_yearly
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN aq USING (l_partkey)
         |WHERE p_brand = 'Brand#1' AND p_size < 15 AND l_quantity < 0.2 * aq""".stripMargin,

    "q_tpch_q18" ->
      s"""SELECT c_custkey, c_name, o_orderkey, o_totalprice,
         |  ${dsumSql("l_quantity")} AS total_qty
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 150)
         |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 20""".stripMargin,

    "q_tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_extendedprice")} AS avg_price,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_q6" ->
      s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |  ROUND(
         |    ${dsumSql("CASE WHEN n1.n_name = 'NATION_1' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
         |    / ${dsumSql("l_extendedprice * (1 - l_discount)")}, 6) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region ON n2.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY year(o_orderdate)
         |ORDER BY o_year""".stripMargin,

    "q_tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "q_tpch_q13" ->
      """WITH counts AS (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM counts GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q14" ->
      s"""SELECT ROUND(100 *
         |  ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
         |  / ${dsumSql("l_extendedprice * (1 - l_discount)")}, 6) AS promo_revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    "q_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, ROUND(total_revenue, 6) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q19" ->
      s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         |        AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         |        AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_tpch_q22" ->
      s"""WITH ab AS (
         |  SELECT ${Exact.sqlAvg("c_acctbal")} AS ab
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
         |  ${dsumSql("c_acctbal")} AS totacctbal
         |FROM customer, ab
         |WHERE c_acctbal > ab.ab
         |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_tpch_q2" ->
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  ROUND(cost, 6) AS cost
        |FROM part
        |JOIN supply ON p_partkey = l_partkey
        |JOIN rs ON l_suppkey = s_suppkey
        |WHERE p_size <= 10 AND p_type = 'LARGE'
        |  AND cost = (SELECT MIN(s2.cost) FROM supply s2
        |              JOIN rs r2 ON s2.l_suppkey = r2.s_suppkey
        |              WHERE s2.l_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q9" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         |  ${dsumSql("l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE 'red%'
         |GROUP BY n_name, year(o_orderdate)
         |ORDER BY nation, o_year DESC""".stripMargin,

    "q_tpch_q11" ->
      s"""WITH f AS (
         |  SELECT l_partkey, l_extendedprice
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_3')
         |SELECT l_partkey, ${dsumSql("l_extendedprice")} AS value
         |FROM f GROUP BY l_partkey
         |HAVING ${dsumSql("l_extendedprice")} >
         |  (SELECT ${dsumSql("l_extendedprice")} * 0.0001 FROM f)
         |ORDER BY value DESC, l_partkey""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q20" ->
      """WITH big AS (
        |  SELECT l_suppkey
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 30)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |  AND s_suppkey IN (SELECT l_suppkey FROM big)
        |ORDER BY s_suppkey""".stripMargin,

    "q_tpch_q21" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q_w_ranks" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(dense_rank() OVER w AS INT) AS drank,
        |  CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank,
        |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM lineitem WHERE l_suppkey <= 20
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |ORDER BY l_suppkey, drank, l_orderkey, l_linenumber""".stripMargin,

    "q_u2_setops" ->
      """WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE CAST(year(o_orderdate) AS INT) = 1995),
        |c96 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE CAST(year(o_orderdate) AS INT) = 1996)
        |SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
        |UNION ALL
        |SELECT 'only95' AS tag, o_custkey FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q_f_strings" ->
      """SELECT p_partkey,
        |  substr(p_name, 1, 8) AS name8,
        |  upper(p_brand) AS brand_uc,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
        |  concat_ws('|', p_brand, p_type) AS bt,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  reverse(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_histogram" ->
      """WITH b AS (
        |  SELECT least(23, greatest(0,
        |    CAST(floor((l_extendedprice - 0.0) / 5000.0) AS INT))) AS bucket
        |  FROM lineitem)
        |SELECT CAST(bucket AS INTEGER) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(0.0 + bucket * 5000.0 AS DOUBLE) AS lo_edge
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // arm-independent band contract (see the query comment): bin ids
    // and the pinned share band, anchored by the exact row count
    "q_equidepth_auto" ->
      """SELECT CAST(t.bin AS INTEGER) AS bin, TRUE AS share_ok,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_total
        |FROM (VALUES (0), (1), (2), (3)) AS t(bin) ORDER BY bin""".stripMargin,

    // quantile_cont matches Spark's interpolated percentile (the q_a8
    // parity); bin = count of boundaries strictly below the value
    "q_equidepth" ->
      """WITH bs AS (
        |  SELECT quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS b FROM lineitem),
        |binned AS (
        |  SELECT l_quantity,
        |    CAST(CASE WHEN l_quantity > b[1] THEN 1 ELSE 0 END
        |       + CASE WHEN l_quantity > b[2] THEN 1 ELSE 0 END
        |       + CASE WHEN l_quantity > b[3] THEN 1 ELSE 0 END AS INTEGER) AS bin
        |  FROM lineitem, bs)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(l_quantity) AS lo, MAX(l_quantity) AS hi
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    "q_key_skew" ->
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |             CAST(SUM(cnt) AS BIGINT) AS n_rows FROM c)
        |SELECT l_suppkey, CAST(cnt AS BIGINT) AS cnt, n_keys, n_rows,
        |  ROUND(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew
        |FROM c, s ORDER BY cnt DESC, l_suppkey LIMIT 5""".stripMargin,

    // The operator multiplies per-key counts in DECIMAL(38,0) so a hot
    // fact–fact key can never wrap Long silently (r14; HUGEINT is the
    // DuckDB-exact mirror) — but the EXPORT renders those decimals as
    // VARCHAR (r15): decimal128(38,0) was the one type the driver's
    // hasher canonicalized differently from DuckDB (r14's only hash
    // failure, values bit-identical locally); the string rendering
    // keeps arbitrary-precision exactness and hashes canonically.
    "q_join_size" ->
      """WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS na FROM orders GROUP BY 1),
        |b AS (SELECT l_orderkey AS k, COUNT(*) AS nb FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(na AS HUGEINT) * nb) AS VARCHAR) AS join_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
        |  CAST(MAX(CAST(na AS HUGEINT) * nb) AS VARCHAR) AS max_key_rows
        |FROM a JOIN b USING (k)""".stripMargin,

    // Representation canaries (r15 bisect, r16 retained): one scalar,
    // the two renderings proven hash-stable. The decimal face was
    // retired once the bisect concluded — decimals never export.
    "q_join_size_bigint" ->
      """WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS na FROM orders GROUP BY 1),
        |b AS (SELECT l_orderkey AS k, COUNT(*) AS nb FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(na AS HUGEINT) * nb) AS BIGINT) AS join_rows
        |FROM a JOIN b USING (k)""".stripMargin,
    "q_join_size_str" ->
      """WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS na FROM orders GROUP BY 1),
        |b AS (SELECT l_orderkey AS k, COUNT(*) AS nb FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(na AS HUGEINT) * nb) AS VARCHAR) AS join_rows
        |FROM a JOIN b USING (k)""".stripMargin,

    "q_profile" -> {
      def block(c: String) =
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_val, CAST(MAX($c) AS DOUBLE) AS max_val,
           |  ${dsumSql(c)} / COUNT($c) AS mean_val
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // the HLL estimate itself is engine-specific, so the oracle pins
    // the BOUND (±15% of exact, asserted TRUE) and checks everything
    // else exactly — a hash match means Spark's estimate held the bound
    "q_profile_approx" -> {
      def block(c: String) =
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  TRUE AS distinct_in_bounds,
           |  CAST(MIN($c) AS DOUBLE) AS min_val, CAST(MAX($c) AS DOUBLE) AS max_val,
           |  ${dsumSql(c)} / COUNT($c) AS mean_val
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(block)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q_dedup_apply" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
        |FROM documents GROUP BY md5(lower(trim(text))) ORDER BY doc_id""".stripMargin,

    // byte-identical contract with q_dedup_apply: the bloom prefilter
    // only ever removes rows the semi-join would drop anyway
    "q_dedup_bloom" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
        |FROM documents GROUP BY md5(lower(trim(text))) ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.dedupLines over the same synthetic successor-paired
    // two-line docs: a line survives only in its min-doc_id holder,
    // docs rebuild from surviving lines in original order
    "q_dedup_lines" ->
      """WITH paired AS (
        |  SELECT d.doc_id, d.text || chr(10) || n.text AS text
        |  FROM documents d JOIN documents n ON n.doc_id = d.doc_id + 1),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM paired),
        |lines AS (
        |  SELECT doc_id, arr[pos] AS line, pos
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS pos FROM ls) q),
        |win AS (
        |  SELECT line, MIN(doc_id) AS kd FROM lines GROUP BY line),
        |win2 AS (
        |  SELECT l.line, l.doc_id, MIN(l.pos) AS kp
        |  FROM lines l JOIN win w ON l.line = w.line AND l.doc_id = w.kd
        |  GROUP BY l.line, l.doc_id),
        |kept AS (
        |  SELECT l.doc_id, l.pos, l.line
        |  FROM lines l JOIN win2 w
        |    ON l.line = w.line AND l.doc_id = w.doc_id AND l.pos = w.kp)
        |SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS fp,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.benchmarkOverlap: distinct word-8-grams per doc
    // (list-slice windows; docs under 8 tokens produce none), training
    // docs joined against the held-out set's distinct gram set
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i+1:i+8], ' ') AS g
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-7)) AS i
        |        FROM t WHERE len(w) >= 8)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id < 400)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM sh s JOIN ev USING (g) WHERE s.doc_id >= 400
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $jaccardShingleCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz ca ON ca.doc_id = doc_a JOIN sz cb ON cb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05),
        |e AS (SELECT doc_a AS s, doc_b AS dd FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM e
        |  UNION
        |  SELECT r.s, e.dd FROM reach r JOIN e ON r.dd = e.s)
        |SELECT s AS node, CAST(LEAST(s, MIN(dd)) AS BIGINT) AS cluster
        |FROM reach GROUP BY s ORDER BY node""".stripMargin,

    // mirrors minhashLshPairs hash-for-hash:
    // RollingFp fold mod 2³¹−1 per shingle, 16 affine min-signatures,
    // 8 two-sig bands, band-key self-join, exact-Jaccard verify. The
    // MIN list and band UNION are generated from the same (aᵢ, bᵢ)
    // constants as the Scala side.
    "q_dedup_minhash" -> {
      val sigMins = minhashSigMinsSql(16)
      val bandSelects = minhashBandSelectsSql(16, 8)
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-2)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |fp AS (
        |  SELECT doc_id, s,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 144115188075855859) % 2147483647 AS f
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigMins
        |  FROM fp GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.doc_id < y.doc_id),
        |sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |  CAST(i.i AS DOUBLE) / CAST(sa.c + sb.c - i.i AS DOUBLE) AS jaccard
        |FROM cand c
        |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        |JOIN sz sa ON sa.doc_id = c.doc_a
        |JOIN sz sb ON sb.doc_id = c.doc_b
        |WHERE CAST(i.i AS DOUBLE) / CAST(sa.c + sb.c - i.i AS DOUBLE) >= 0.05
        |ORDER BY c.doc_a, c.doc_b""".stripMargin
    },

    // same signature/band machinery as q_dedup_minhash over ALL docs;
    // history = id < 250, batch = id ≥ 250; estimate-verified history
    // dedup, then batch-internal clustering via the recursive CTE
    "q_dedup_minhash_inc" -> {
      val sigMins = minhashSigMinsSql(16)
      val bandSelects = minhashBandSelectsSql(16, 8)
      def agree(l: String, r: String) = (0 until 16)
        .map(i => s"(CASE WHEN $l.s$i = $r.s$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |      WHERE doc_id < 500),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-2)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |fp AS (
        |  SELECT doc_id, s,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 144115188075855859) % 2147483647 AS f
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigMins
        |  FROM fp GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |candh AS (
        |  SELECT DISTINCT n.doc_id AS a, h.doc_id AS b
        |  FROM bands n JOIN bands h ON n.band = h.band AND n.key = h.key
        |  WHERE n.doc_id >= 250 AND n.doc_id < 500 AND h.doc_id < 250),
        |duph AS (
        |  SELECT DISTINCT c.a FROM candh c
        |  JOIN sig x ON x.doc_id = c.a JOIN sig y ON y.doc_id = c.b
        |  WHERE CAST(${agree("x", "y")} AS DOUBLE) / 16 >= 0.05),
        |fresh AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id >= 250 AND doc_id < 500
        |    AND doc_id NOT IN (SELECT a FROM duph)),
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.doc_id < y.doc_id
        |    AND x.doc_id IN (SELECT doc_id FROM fresh)
        |    AND y.doc_id IN (SELECT doc_id FROM fresh)),
        |pairs AS (
        |  SELECT c.doc_a, c.doc_b FROM cands c
        |  JOIN sig a ON a.doc_id = c.doc_a JOIN sig b ON b.doc_id = c.doc_b
        |  WHERE CAST(${agree("a", "b")} AS DOUBLE) / 16 >= 0.05),
        |e AS (SELECT doc_a AS s, doc_b AS dd FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM e
        |  UNION
        |  SELECT r.s, e.dd FROM reach r JOIN e ON r.dd = e.s),
        |nonrep AS (
        |  SELECT s AS node FROM reach GROUP BY s HAVING LEAST(s, MIN(dd)) <> s)
        |SELECT doc_id FROM fresh
        |WHERE doc_id NOT IN (SELECT node FROM nonrep)
        |ORDER BY doc_id""".stripMargin
    },

    // same signature/band CTEs as q_dedup_minhash; verification is the
    // signature-agreement fraction instead of the exact shingle Jaccard
    "q_dedup_minhash_est" -> {
      val sigMins = minhashSigMinsSql(16)
      val bandSelects = minhashBandSelectsSql(16, 8)
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-2)) AS i
        |        FROM t WHERE len(w) >= 3)),
        |fp AS (
        |  SELECT doc_id, s,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 144115188075855859) % 2147483647 AS f
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigMins
        |  FROM fp GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.doc_id < y.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |  CAST($agree AS DOUBLE) / 16 AS jaccard
        |FROM cand c
        |JOIN sig a ON a.doc_id = c.doc_a
        |JOIN sig b ON b.doc_id = c.doc_b
        |WHERE CAST($agree AS DOUBLE) / 16 >= 0.05
        |ORDER BY c.doc_a, c.doc_b""".stripMargin
    },

    // mirrors embeddingNearDup: same multiplicative-hash hyperplane
    // rationals, same strict left-to-right folds (list_reduce ≡ the
    // accumulation order of the fused folds),
    // same fold-quotient cosine — the doubles are bit-identical, so no
    // rounding is applied at all
    "q_dedup_embed" -> {
      val keyExprs = detKeyExprsSql("v")
      val bandSelects = (0 until 8).map { t =>
        s"SELECT vec_id, v, $t AS band, k$t AS key FROM keys"
      }.mkString("\n|  UNION ALL ")
      val foldPair = detFoldPairSql _
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 500),
        |keys AS (
        |  SELECT vec_id, v,
        |    $keyExprs
        |  FROM e),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
        |    x.v AS va, y.v AS vb
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.vec_id < y.vec_id),
        |scored AS (
        |  SELECT id_a, id_b,
        |    ${foldPair("va", "vb")} /
        |      sqrt(${foldPair("va", "va")} * ${foldPair("vb", "vb")}) AS cos
        |  FROM cand)
        |SELECT id_a, id_b, cos FROM scored
        |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin
    },

    // mirrors Dedup.semanticDecontaminate: same hyperplane
    // keys and strict-fold cosine, bipartite corpus × eval sides
    "q_decontaminate_semantic" -> {
      val keyExprs = detKeyExprsSql("v")
      def bandSelects(src: String, id: String) = (0 until 8).map { t =>
        s"SELECT vec_id AS $id, v, $t AS band, k$t AS key FROM $src"
      }.mkString("\n|  UNION ALL ")
      val foldPair = detFoldPairSql _
      s"""WITH c AS (
        |  SELECT vec_id, embedding AS v FROM embeddings
        |  WHERE vec_id >= 40 AND vec_id < 500),
        |ev AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 40),
        |ck AS (SELECT vec_id, v, $keyExprs FROM c),
        |ek AS (SELECT vec_id, v, $keyExprs FROM ev),
        |cb AS (
        |  ${bandSelects("ck", "corpus_id")}),
        |eb AS (
        |  ${bandSelects("ek", "eval_id")}),
        |cand AS (
        |  SELECT DISTINCT cb.corpus_id, eb.eval_id, cb.v AS vc, eb.v AS ve
        |  FROM cb JOIN eb ON cb.band = eb.band AND cb.key = eb.key),
        |scored AS (
        |  SELECT corpus_id, eval_id,
        |    ${foldPair("vc", "ve")} /
        |      sqrt(${foldPair("vc", "vc")} * ${foldPair("ve", "ve")}) AS cos
        |  FROM cand)
        |SELECT corpus_id, eval_id, cos FROM scored
        |WHERE cos >= 0.30 ORDER BY corpus_id, eval_id""".stripMargin
    },

    // q_dedup_embed's pair pipeline (same keys, folds, threshold)
    // composed with q_dedup_cluster_apply's recursive-CTE component
    // labeling: survivors = min-id per component + unclustered
    "q_dedup_semantic_apply" -> {
      val keyExprs = detKeyExprsSql("v")
      val bandSelects = (0 until 8).map { t =>
        s"SELECT vec_id, v, $t AS band, k$t AS key FROM keys"
      }.mkString("\n|  UNION ALL ")
      val foldPair = detFoldPairSql _
      s"""WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 500),
        |keys AS (
        |  SELECT vec_id, v,
        |    $keyExprs
        |  FROM e),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b,
        |    x.v AS va, y.v AS vb
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.vec_id < y.vec_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand
        |  WHERE ${foldPair("va", "vb")} /
        |      sqrt(${foldPair("va", "va")} * ${foldPair("vb", "vb")}) >= 0.35),
        |ed AS (SELECT id_a AS s, id_b AS dd FROM pairs
        |       UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM ed
        |  UNION
        |  SELECT r.s, ed.dd FROM reach r JOIN ed ON r.dd = ed.s),
        |dropped AS (
        |  SELECT s AS node FROM reach GROUP BY s
        |  HAVING LEAST(s, MIN(dd)) <> s)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id < 500 AND vec_id NOT IN (SELECT node FROM dropped)
        |ORDER BY vec_id""".stripMargin
    },

    // mirrors simhashPairs constant-for-constant:
    // RollingFp fold mod 2³¹−1 per token, 64 affine ±1 sums, sign bits
    // packed into two 32-bit halves, 8 byte-band keys, Hamming via
    // xor+bit_count — integer arithmetic end to end
    "q_dedup_simhash" -> {
      val mSums = (0 until 64).map { b =>
        s"SUM(CASE WHEN (f * ${7919L * b + 7L} + ${104729L * b + 9973L}) % 2147483647" +
          s" >= 1073741824 THEN 1 ELSE -1 END) AS m$b"
      }.mkString(",\n|    ")
      def bitExpr(b: Int) = s"(CASE WHEN m$b > 0 THEN 1 ELSE 0 END)"
      val lo = (0 until 32).map(b => s"${bitExpr(b)} * ${1L << b}").mkString(" + ")
      val hi = (32 until 64).map(b => s"${bitExpr(b)} * ${1L << (b - 32)}").mkString(" + ")
      val bandKeys = (0 until 8).map { j =>
        (0 until 8).map(k => s"${bitExpr(j * 8 + k)} * ${1L << k}").mkString(" + ") +
          s" AS k$j"
      }.mkString(",\n|    ")
      val bandSelects = (0 until 8).map { j =>
        s"SELECT doc_id, lo, hi, $j AS band, k$j AS key FROM pk"
      }.mkString("\n|  UNION ALL ")
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM d),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN tk = '' THEN 0 ELSE
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(tk, ''), c -> CAST(unicode(c) AS BIGINT))),
        |        (a, x) -> (a * 31 + x) % 144115188075855859) % 2147483647 END AS f
        |  FROM tok),
        |s AS (
        |  SELECT doc_id,
        |    $mSums
        |  FROM fp GROUP BY doc_id),
        |pk AS (
        |  SELECT doc_id,
        |    CAST($lo AS BIGINT) AS lo,
        |    CAST($hi AS BIGINT) AS hi,
        |    $bandKeys
        |  FROM s),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.lo AS lo_a, x.hi AS hi_a, y.lo AS lo_b, y.hi AS hi_b
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |  WHERE x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin
    },

    // same recursive reachability as q_dedup_cluster; drop every node
    // whose cluster label is not its own id
    "q_dedup_cluster_apply" ->
      s"""WITH RECURSIVE $jaccardShingleCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz ca ON ca.doc_id = doc_a JOIN sz cb ON cb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05),
        |e AS (SELECT doc_a AS s, doc_b AS dd FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM e
        |  UNION
        |  SELECT r.s, e.dd FROM reach r JOIN e ON r.dd = e.s),
        |dropped AS (
        |  SELECT s AS node FROM reach GROUP BY s
        |  HAVING LEAST(s, MIN(dd)) <> s)
        |SELECT doc_id FROM documents
        |WHERE doc_id < 500 AND doc_id NOT IN (SELECT node FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // same reachability; per cluster keep the member with max n_chars
    // (min-id tiebreak), drop the rest
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $jaccardShingleCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz ca ON ca.doc_id = doc_a JOIN sz cb ON cb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05),
        |e AS (SELECT doc_a AS s, doc_b AS dd FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM e
        |  UNION
        |  SELECT r.s, e.dd FROM reach r JOIN e ON r.dd = e.s),
        |lab AS (SELECT s AS node, LEAST(s, MIN(dd)) AS cluster
        |        FROM reach GROUP BY s),
        |ranked AS (
        |  SELECT l.node,
        |    ROW_NUMBER() OVER (PARTITION BY l.cluster
        |                       ORDER BY d.n_chars DESC, l.node) AS rk
        |  FROM lab l JOIN documents d ON d.doc_id = l.node),
        |dropped AS (SELECT node FROM ranked WHERE rk > 1)
        |SELECT doc_id FROM documents
        |WHERE doc_id < 500 AND doc_id NOT IN (SELECT node FROM dropped)
        |ORDER BY doc_id""".stripMargin,

    // same reachability labels; split = pure function of the unit id
    // (cluster label, or the doc's own id when unclustered)
    "q_split_leakfree" ->
      s"""WITH RECURSIVE $jaccardShingleCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz ca ON ca.doc_id = doc_a JOIN sz cb ON cb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05),
        |e AS (SELECT doc_a AS s, doc_b AS dd FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT s, dd FROM e
        |  UNION
        |  SELECT r.s, e.dd FROM reach r JOIN e ON r.dd = e.s),
        |lab AS (SELECT s AS node, LEAST(s, MIN(dd)) AS cluster
        |        FROM reach GROUP BY s)
        |SELECT dd.doc_id, CAST(COALESCE(l.cluster, dd.doc_id) AS BIGINT) AS unit,
        |  CASE WHEN COALESCE(l.cluster, dd.doc_id) % 100 < 80 THEN 'train'
        |       WHEN COALESCE(l.cluster, dd.doc_id) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents dd LEFT JOIN lab l ON l.node = dd.doc_id
        |WHERE dd.doc_id < 500 ORDER BY dd.doc_id""".stripMargin,

    // near-dup pairs straddling the PER-DOC modulo split, per direction
    "q_split_contamination" ->
      s"""WITH RECURSIVE $jaccardShingleCtes,
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sz ca ON ca.doc_id = doc_a JOIN sz cb ON cb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 100 < 80 THEN 'train'
        |         WHEN doc_id % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM documents WHERE doc_id < 500)
        |SELECT a.split AS split_a, b.split AS split_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs p
        |JOIN sp a ON a.doc_id = p.doc_a JOIN sp b ON b.doc_id = p.doc_b
        |WHERE a.split <> b.split
        |GROUP BY a.split, b.split ORDER BY split_a, split_b""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH $jaccardShingleCtes
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sz ca ON ca.doc_id = doc_a
        |JOIN sz cb ON cb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / CAST(ca.c + cb.c - i AS DOUBLE) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin,

    // same shingle index; the min-size normalizer instead of the union
    "q_dedup_containment" ->
      s"""WITH $jaccardShingleCtes
        |SELECT doc_a, doc_b,
        |  CAST(i AS DOUBLE) / CAST(least(ca.c, cb.c) AS DOUBLE) AS containment
        |FROM inter
        |JOIN sz ca ON ca.doc_id = doc_a
        |JOIN sz cb ON cb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / CAST(least(ca.c, cb.c) AS DOUBLE) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors removeRepeatedSpans exactly: 0-based token positions,
    // 3-token grams, corpus-first winner by the packed (doc_id, pos)
    // key, covered-position union, ordered rebuild; docs with every
    // token covered survive as empty text
    "q_span_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id < 500),
        |ix AS (SELECT doc_id, w, unnest(range(1, len(w)+1)) AS p1 FROM d),
        |toks AS (SELECT doc_id, p1 - 1 AS pos, w[p1] AS tok FROM ix),
        |occ AS (SELECT doc_id, p1 - 1 AS pos, array_to_string(w[p1:p1+2], ' ') AS gram
        |        FROM ix WHERE p1 + 2 <= len(w)),
        |win AS (SELECT gram, min(doc_id*1000000 + pos) AS wk FROM occ GROUP BY gram),
        |cov AS (SELECT DISTINCT o.doc_id, o.pos + g.i AS pos
        |        FROM occ o JOIN win ON o.gram = win.gram AND o.doc_id*1000000 + o.pos <> win.wk
        |        CROSS JOIN (SELECT unnest(range(3)) AS i) g),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t LEFT JOIN cov c
        |         ON t.doc_id = c.doc_id AND t.pos = c.pos WHERE c.doc_id IS NULL),
        |reb AS (SELECT doc_id AS rid, string_agg(tok, ' ' ORDER BY pos) AS rtext, count(*) AS nk
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(reb.rtext, '') AS text, CAST(len(d.w) AS INTEGER) AS n_tokens,
        |       len(d.w) - COALESCE(reb.nk, 0) AS n_removed
        |FROM d LEFT JOIN reb ON d.doc_id = reb.rid
        |ORDER BY doc_id""".stripMargin,

    // mirrors EntityResolution.fuzzyMatchPairs: distinct (id, token)
    // inverted index, hot-token cap at 150, distinct candidate pairs,
    // Levenshtein verify (DuckDB's levenshtein ≡ Spark's)
    "q_er_match" ->
      """WITH r AS (SELECT p_partkey AS id, p_name AS nm FROM part WHERE p_partkey < 200),
        |tok0 AS (SELECT id, nm, unnest(string_split(nm, ' ')) AS t FROM r),
        |tok AS (SELECT DISTINCT id, nm, t FROM tok0),
        |hot AS (SELECT t FROM tok GROUP BY t HAVING count(*) > 150),
        |tk AS (SELECT * FROM tok WHERE t NOT IN (SELECT t FROM hot)),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b
        |         FROM tk a JOIN tk b ON a.t = b.t AND a.id < b.id)
        |SELECT id_a, id_b, name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // mirrors Clustering.kmeansAssign bit-for-bit: the whole
    // iteration is exact integer arithmetic (quantized vectors,
    // integer dist2, floor-mean updates), so the unrolled two Lloyd
    // rounds and the final argmin assignment need no rounding at all.
    // Type discipline (round-10 red): DuckDB promotes sum(BIGINT) →
    // HUGEINT inside the centroid CTE, and without the explicit BIGINT
    // casts (kmeansRoundSql's u$n element + the final dist2 here) that
    // type rides through list_reduce into the output as
    // decimal128(38,0) while Spark emits int64 — value-identical but
    // hash-mismatched under the driver's type-sensitive compare
    "q_kmeans" -> kmeansOracleSql(k = 8, iters = 2),

    // identical unrolled recipe at k=64/iters=1 — the oracle for the
    // kmeans_argmin codegen path at a k where a literal argmin would
    // have folded 64·64 nodes into the plan
    "q_kmeans_large" -> kmeansOracleSql(k = 64, iters = 1),

    // mirrors bucketedTopK: det-hyperplane keys on
    // both sides, band join, fold cosine, (cos DESC, n_id) row_number —
    // bit-exact, no rounding (same parity recipe as q_dedup_embed)
    "q_sim_ann" -> {
      val bandArms = (side: String) => (0 until 12).map { t =>
        s"SELECT vec_id, v, $t AS band, k$t AS key FROM ${side}keys"
      }.mkString("\n|  UNION ALL ")
      s"""WITH qe AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 50),
        |ce AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 500),
        |qkeys AS (
        |  SELECT vec_id, v,
        |    ${detKeyExprsSql("v", tables = 12)}
        |  FROM qe),
        |ckeys AS (
        |  SELECT vec_id, v,
        |    ${detKeyExprsSql("v", tables = 12)}
        |  FROM ce),
        |qbands AS (
        |  ${bandArms("q")}),
        |cbands AS (
        |  ${bandArms("c")}),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
        |    q.v AS qv, c.v AS cv
        |  FROM qbands q JOIN cbands c ON q.band = c.band AND q.key = c.key
        |  WHERE q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT q_id, n_id,
        |    ${detFoldPairSql("qv", "cv")} /
        |      sqrt(${detFoldPairSql("qv", "qv")} * ${detFoldPairSql("cv", "cv")}) AS cos
        |  FROM cand),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },

    // graduates q_sim_ivf to a full oracle: its quantizer was always
    // deterministic (first-16 centroids, max-dot assignment with
    // (dot DESC, cent_id) tie-break), and the fused DotProduct /
    // CosineSim expressions accumulate strictly left-to-right — the
    // same order as list_reduce — so every double matches bit-for-bit;
    // cos keeps the query's 6-dp round, mirrored here
    "q_sim_ivf" ->
      s"""WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_v
        |  FROM embeddings ORDER BY vec_id LIMIT 16),
        |corpus AS (SELECT vec_id AS n_id, embedding AS n_v FROM embeddings),
        |cassign AS (
        |  SELECT n_id, n_v, cell FROM (
        |    SELECT n_id, n_v, cent_id AS cell,
        |      row_number() OVER (PARTITION BY n_id
        |        ORDER BY ${detFoldPairSql("n_v", "cent_v")} DESC, cent_id) AS rn
        |    FROM corpus CROSS JOIN cents) WHERE rn <= 1),
        |q AS (SELECT vec_id AS q_id, embedding AS q_v
        |      FROM embeddings WHERE vec_id < 50),
        |qassign AS (
        |  SELECT q_id, q_v, cell FROM (
        |    SELECT q_id, q_v, cent_id AS cell,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY ${detFoldPairSql("q_v", "cent_v")} DESC, cent_id) AS rn
        |    FROM q CROSS JOIN cents) WHERE rn <= 4),
        |scored AS (
        |  SELECT q_id, n_id,
        |    ROUND(${detFoldPairSql("q_v", "n_v")} /
        |      (sqrt(${detFoldPairSql("q_v", "q_v")}) *
        |       sqrt(${detFoldPairSql("n_v", "n_v")})), 6) AS cos
        |  FROM qassign JOIN cassign USING (cell) WHERE q_id <> n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_sim_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 50),
        |pairs AS (
        |  SELECT q_id, c.vec_id AS n_id, qe, c.embedding AS ce
        |  FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.q_id),
        |dims AS (
        |  SELECT q_id, n_id,
        |    CAST(qe[r.i] AS DOUBLE) * CAST(ce[r.i] AS DOUBLE) AS p,
        |    CAST(qe[r.i] AS DOUBLE) * CAST(qe[r.i] AS DOUBLE) AS qa,
        |    CAST(ce[r.i] AS DOUBLE) * CAST(ce[r.i] AS DOUBLE) AS ca
        |  FROM pairs, range(1, 65) r(i)),
        |cosd AS (
        |  SELECT q_id, n_id,
        |    ROUND(SUM(p) / (sqrt(SUM(qa)) * sqrt(SUM(ca))), 6) AS cos
        |  FROM dims GROUP BY q_id, n_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |  FROM cosd)
        |SELECT q_id, n_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |    CAST(SUM(length(w)) AS DOUBLE) / COUNT(*) AS avg_token_len,
        |    CAST(SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*) AS stopword_ratio
        |  FROM t GROUP BY doc_id)
        |SELECT a.doc_id, a.n_tokens,
        |  CAST(len(regexp_extract_all(d.text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_regex_tokens,
        |  a.avg_token_len, a.stopword_ratio,
        |  CAST(length(d.text) - length(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |    / CAST(length(d.text) AS DOUBLE) AS punct_ratio
        |FROM agg a JOIN documents d ON a.doc_id = d.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
        |ORDER BY doc_id""".stripMargin,

    // same feature CTEs as q_text_stats; the logit is pure IEEE-exact
    // arithmetic (+, ·, ÷, √) over them, so floor-quantization is safe
    "q_quality_gate" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |    CAST(SUM(length(w)) AS DOUBLE) / COUNT(*) AS avg_token_len,
        |    CAST(SUM(CASE WHEN w IN ('the', 'a') THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*) AS stopword_ratio
        |  FROM t GROUP BY doc_id),
        |f AS (
        |  SELECT a.doc_id,
        |    -2.0 + 0.25 * sqrt(CAST(a.n_tokens AS DOUBLE))
        |      + 0.1 * a.avg_token_len
        |      + 2.0 * a.stopword_ratio
        |      + -4.0 * (CAST(length(d.text) - length(regexp_replace(d.text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
        |                / CAST(length(d.text) AS DOUBLE)) AS logit
        |  FROM agg a JOIN documents d ON a.doc_id = d.doc_id)
        |SELECT doc_id, CAST(floor(logit * 1000000) AS BIGINT) AS logit_q,
        |  CAST(CASE WHEN logit >= 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // explicit whitespace class (identical in Java and RE2);
    // [[:cntrl:]] (RE2) ≡ \p{Cntrl} (Java) for the remaining controls
    "q_text_clean" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |      '[ \t\n\f\r]+', ' ', 'g'), '[[:cntrl:]]', '', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text, md5(clean_text) AS fp
        |FROM c ORDER BY doc_id""".stripMargin,

    // composition of the q_text_clean, q_text_chunk, q_dedup_apply and
    // q_text_pack oracle fragments — stage-for-stage mirror of the
    // Spark plan
    "q_pipeline_rag" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |      '[ \t\n\f\r]+', ' ', 'g'), '[[:cntrl:]]', '', 'g')) AS ctext
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, ctext,
        |    unnest(range(CASE WHEN length(ctext) <= 200 THEN 1
        |      ELSE CAST(ceil((length(ctext) - 200) / 150.0) AS BIGINT) + 1 END)) AS i
        |  FROM docs),
        |ch AS (
        |  SELECT doc_id * 1000 + i AS chunk_id, source,
        |    substring(ctext, CAST(i * 150 + 1 AS INT), 200) AS chunk
        |  FROM c),
        |win AS (
        |  SELECT MIN(chunk_id) AS keep FROM ch GROUP BY md5(lower(trim(chunk)))),
        |ded AS (SELECT * FROM ch WHERE chunk_id IN (SELECT keep FROM win)),
        |p AS (
        |  SELECT chunk_id, source, CAST(length(chunk) AS INT) AS n_chars,
        |    md5(chunk) AS chunk_fp,
        |    COALESCE(SUM(length(chunk)) OVER (PARTITION BY source ORDER BY chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM ded)
        |SELECT chunk_id, source, n_chars, chunk_fp,
        |  CAST(prefix // 1000 AS BIGINT) AS pack_id
        |FROM p ORDER BY chunk_id""".stripMargin,

    // composition of the q_text_clean, q_dedup_apply and q_text_pack
    // oracle fragments — stage-for-stage mirror of the Spark plan
    "q_pipeline_pretrain" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |      '[ \t\n\f\r]+', ' ', 'g'), '[[:cntrl:]]', '', 'g')) AS ctext
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source, ctext,
        |    CAST(len(string_split(ctext, ' ')) AS INT) AS n_tokens
        |  FROM c),
        |f AS (SELECT * FROM d WHERE n_tokens >= 20),
        |ded AS (SELECT MIN(doc_id) AS keep FROM f GROUP BY md5(lower(trim(ctext)))),
        |k AS (SELECT doc_id, source, n_tokens FROM f JOIN ded ON doc_id = keep),
        |p AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM k)
        |SELECT doc_id, source, n_tokens, CAST(prefix // 2048 AS BIGINT) AS pack_id
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_text_tokenids" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 200),
        |ix AS (SELECT doc_id, w[pos] AS token, pos
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos FROM d) q),
        |vocab AS (
        |  SELECT token, row_number() OVER (ORDER BY token) AS token_id
        |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token
        |        FROM documents WHERE doc_id < 200)),
        |j AS (SELECT ix.doc_id, ix.pos, COALESCE(v.token_id, -1) AS token_id
        |      FROM ix LEFT JOIN vocab v ON ix.token = v.token)
        |SELECT doc_id,
        |  string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY pos) AS token_ids
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_topk" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS count FROM t GROUP BY token)
        |SELECT token AS value, count FROM c
        |ORDER BY count DESC, value LIMIT 20""".stripMargin,

    "q_text_vocab" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
        |           FROM documents WHERE doc_id < 200),
        |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY token)
        |SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id
        |FROM c ORDER BY token_id""".stripMargin,

    "q_text_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |  FROM d)
        |SELECT doc_id, source, n_tokens, CAST(prefix // 2048 AS BIGINT) AS pack_id
        |FROM p ORDER BY doc_id""".stripMargin,

    // argmax by (score, lang) via a sortable "NNlang" string — identical
    // tie-break to the Spark side's struct array_max
    "q_text_langid" -> {
      val terms = Text.defaultProfiles.toSeq.sortBy(_._1).map { case (lang, grams) =>
        val score = grams
          .map(g => s"(CASE WHEN instr(text, '$g') > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"lpad(CAST(($score) AS VARCHAR), 2, '0') || '$lang'"
      }
      s"""SELECT doc_id, lang,
         |  substr(greatest(${terms.mkString(",\n    ")}), 3) AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // mirrors Text.tfidfTopTerms: same smoothed idf, same tie-break.
    // Scores of distinct (tf, df) pairs differ macroscopically, so the
    // ranking is engine-stable; equal pairs tie-break on term asc.
    // bigram extraction identical to the lm_score CTEs; marginals from
    // the aggregated bigram table; double casts ordered as the Spark
    // side computes them, ln rounded 6dp (the shared log recipe)
    "q_text_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT w, unnest(range(1, greatest(len(w), 2))) AS i FROM t),
        |bg AS (
        |  SELECT w[i] || ' ' || w[i+1] AS bg, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM ix WHERE len(w) >= 2 GROUP BY 1),
        |la AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c_ab) AS BIGINT) AS c_a
        |       FROM bg GROUP BY 1),
        |rb AS (SELECT string_split(bg, ' ')[2] AS w2, CAST(SUM(c_ab) AS BIGINT) AS c_b
        |       FROM bg GROUP BY 1),
        |n AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM bg)
        |SELECT bg.bg, c_ab,
        |  ROUND(ln((CAST(c_ab AS DOUBLE) * CAST(n.n AS DOUBLE)) /
        |           (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
        |FROM bg
        |JOIN la ON la.w1 = string_split(bg.bg, ' ')[1]
        |JOIN rb ON rb.w2 = string_split(bg.bg, ' ')[2]
        |CROSS JOIN n
        |WHERE c_ab >= 5
        |ORDER BY pmi DESC, bg.bg LIMIT 20""".stripMargin,

    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, term),
        |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.c AS DOUBLE) * (ln((n.nd + 1) / (CAST(dfq.df AS DOUBLE) + 1)) + 1) AS score
        |  FROM tf JOIN dfq USING (term), n),
        |r AS (
        |  SELECT doc_id, term, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS INT) AS rank
        |  FROM s)
        |SELECT doc_id, rank, term, ROUND(score, 6) AS score
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // mirrors Text.lmScore: add-one bigram LM estimated on the
    // doc_id < 200 reference slice — same bigram construction as the
    // jaccard CTEs (no truncated tail shingle), context marginal from
    // the bigram table, V+1 smoothing denominator, avg(-ln p) with the
    // 6-dp accumulation-order rounding recipe
    "q_lm_score" ->
      """WITH refd AS (
        |  SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id < 200),
        |rix AS (SELECT w, unnest(range(1, greatest(len(w), 2))) AS i FROM refd),
        |rbg AS (
        |  SELECT w[i] || ' ' || w[i+1] AS bg, CAST(COUNT(*) AS BIGINT) AS c_bg
        |  FROM rix WHERE len(w) >= 2 GROUP BY 1),
        |rctx AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx
        |  FROM rbg GROUP BY 1),
        |rv AS (
        |  SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
        |  FROM (SELECT unnest(w) AS tok FROM refd)),
        |tgtd AS (
        |  SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id >= 200),
        |tix AS (SELECT doc_id, w, unnest(range(1, greatest(len(w), 2))) AS i FROM tgtd),
        |tbg AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        |  FROM tix WHERE len(w) >= 2),
        |j AS (
        |  SELECT t.doc_id, rbg.c_bg, rctx.c_ctx, rv.v
        |  FROM tbg t
        |  LEFT JOIN rbg USING (bg)
        |  LEFT JOIN rctx ON rctx.w1 = string_split(t.bg, ' ')[1]
        |  CROSS JOIN rv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
        |  CAST(SUM(CASE WHEN c_bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  ROUND(AVG(-ln(
        |    (CAST(COALESCE(c_bg, 0) AS DOUBLE) + 1) /
        |    (CAST(COALESCE(c_ctx, 0) AS DOUBLE) + v + 1))), 6) AS nll
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Text.domainShift: KL(p_source ‖ p_corpus) over the token
    // distribution, counts from the same aggregated tables, 6-dp sum
    "q_domain_shift" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |gt AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_g
        |  FROM toks GROUP BY source, tok),
        |corpus AS (SELECT tok, CAST(SUM(c_g) AS BIGINT) AS c FROM gt GROUP BY tok),
        |gtot AS (SELECT source, CAST(SUM(c_g) AS BIGINT) AS n_g FROM gt GROUP BY source),
        |tot AS (SELECT CAST(SUM(c_g) AS BIGINT) AS n FROM gt)
        |SELECT gt.source,
        |  CAST(MAX(n_g) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |  ROUND(SUM(
        |    (CAST(c_g AS DOUBLE) / CAST(n_g AS DOUBLE)) *
        |    ln((CAST(c_g AS DOUBLE) * CAST(n AS DOUBLE)) /
        |       (CAST(c AS DOUBLE) * CAST(n_g AS DOUBLE)))), 6) AS kl
        |FROM gt
        |JOIN corpus USING (tok)
        |JOIN gtot USING (source)
        |CROSS JOIN tot
        |GROUP BY gt.source ORDER BY gt.source""".stripMargin,

    // same four patterns as Text.redactPii, RE2-compatible, 'g' flag =
    // Spark's replace-all default; md5 compares the full redacted text
    "q_text_redact" ->
      """SELECT doc_id, md5(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
        |        '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
        |      '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
        |  ) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors Text.charEntropy: H = log2(n) − (Σ c·log2 c)/n over the
    // per-(doc, char) counts, rounded 6 dp for summation-order parity
    "q_text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |cc AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ch GROUP BY doc_id, ch)
        |SELECT doc_id,
        |  ROUND(log2(CAST(SUM(c) AS DOUBLE)) -
        |    SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE),
        |    6) AS char_entropy
        |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Text.repetitionStats: per-(doc, gram) counts rolled up to
    // per-doc fractions; every ratio is one IEEE division of exact
    // BIGINT counts, so no rounding is needed for parity
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY doc_id, tok),
        |uni AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM tc GROUP BY doc_id),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(w[i+1:i+2], ' ') AS g
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-1)) AS i
        |        FROM w WHERE len(w) >= 2)),
        |bc AS (
        |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bg GROUP BY doc_id, g),
        |bi AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, CAST(MAX(c) AS BIGINT) AS top_bg
        |  FROM bc GROUP BY doc_id)
        |SELECT u.doc_id, u.n_tok,
        |  CAST(u.n_tok - u.n_distinct AS DOUBLE) / CAST(u.n_tok AS DOUBLE) AS dup_token_frac,
        |  CAST(u.top_c AS DOUBLE) / CAST(u.n_tok AS DOUBLE) AS top_token_frac,
        |  COALESCE(CAST(b.top_bg AS DOUBLE) / CAST(b.n_bg AS DOUBLE), 0.0) AS top_bigram_frac
        |FROM uni u LEFT JOIN bi b USING (doc_id) ORDER BY u.doc_id""".stripMargin,

    "q_text_chunk" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(CASE WHEN length(text) <= 200 THEN 1
        |      ELSE CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1 END)) AS i
        |  FROM documents)
        |SELECT doc_id, i AS chunk_idx,
        |  CAST(length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS INT) AS chunk_len,
        |  md5(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // same Rabin–Karp fold as graft.functions.RollingFp: left-to-right
    // over code points, h ← (h·31 + cp) mod 2^57−13; every intermediate
    // stays < 2^62 so BIGINT arithmetic is exact on both engines
    "q_text_rollingfp" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ''),
        |                       c -> CAST(unicode(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 144115188075855859)
        |  END AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mm_meta" ->
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    // the stub "decode" checksum is a codepoint fold — (a·131 + cp) mod
    // 2^31, left-to-right — reproduced here with list_reduce over
    // unicode(char); width/height/density are pure arithmetic on it
    "q_mm_features" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    CASE WHEN length(text) = 0 THEN 0 ELSE
        |      list_reduce(
        |        list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(text, ''),
        |                         c -> CAST(unicode(c) AS BIGINT))),
        |        (a, x) -> (a * 131 + x) % 2147483648)
        |    END AS ck
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, byte_len,
        |    CAST(64 + ck % 577 AS INT) AS width,
        |    CAST(64 + ck % 431 AS INT) AS height
        |  FROM d)
        |SELECT doc_id AS media_id, byte_len, width, height,
        |  CAST(floor(CAST(byte_len AS DOUBLE) / greatest(width * height, 1) * 1000000)
        |    AS BIGINT) AS density
        |FROM f ORDER BY media_id""".stripMargin,

    // dimensions of the synthesized PNGs are a pure function of the id;
    // the Spark side must recover them through a REAL ImageIO decode
    "q_mm_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 32 AS INT) AS width,
        |  CAST(16 + doc_id % 16 AS INT) AS height
        |FROM documents WHERE doc_id < 50 ORDER BY media_id""".stripMargin,

    // resize targets are a pure function of the id; the Spark side must
    // recover them through a REAL resize + re-encode + decode loop
    "q_mm_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 12 AS INT) AS width,
        |  CAST(8 + doc_id % 6 AS INT) AS height
        |FROM documents WHERE doc_id < 40 ORDER BY media_id""".stripMargin,

    // frame boundaries are pure integer math on the payload length:
    // frame i of k covers bytes [len*i/k, len*(i+1)/k)
    "q_mm_frames" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
        |           FROM documents WHERE doc_id < 100)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  CAST((len * (i + 1)) // 4 - (len * i) // 4 AS INT) AS frame_len
        |FROM d CROSS JOIN unnest([0, 1, 2, 3]) AS t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // mirrors Multimodal.patternOf + aHash64 round trip: the pattern
    // bits are pure integer arithmetic (the det hash family's affine
    // recipe over the group id) packed into 32-bit lo/hi halves;
    // member m of each 4-id group XORs m disjoint planted bits.
    // 200 ids → all-pairs Hamming ≤ 3 is equivalent to the engine's
    // pigeonhole band join (banding guarantees every ≤-maxHamming
    // pair shares a band).
    "q_mm_neardup" -> {
      def bit(k: Int) =
        s"(CASE WHEN (s * ${7919L * k + 7L} + ${104729L * k + 9973L})" +
          s" % 2147483647 >= 1073741824 THEN 1 ELSE 0 END)"
      val lo = (0 until 32).map(k => s"${bit(k)} * ${1L << k}").mkString(" + ")
      val hi = (32 until 64).map(k => s"${bit(k)} * ${1L << (k - 32)}").mkString(" + ")
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id, doc_id % 4 AS m,
        |  (((doc_id // 4) % 2147483647) * ((doc_id // 4) % 2147483647)
        |    % 2147483647 * 2654435761
        |    + ((doc_id // 4) % 2147483647) * 40503) % 2147483647 AS s
        |  FROM ids),
        |pk AS (
        |  SELECT doc_id, m,
        |    CAST($lo AS BIGINT) AS lo0,
        |    CAST($hi AS BIGINT) AS hi0
        |  FROM b),
        |pf AS (
        |  SELECT doc_id,
        |    xor(lo0, CASE m WHEN 1 THEN ${1L << 5}
        |      WHEN 2 THEN ${(1L << 13) | (1L << 21)}
        |      WHEN 3 THEN ${1L << 29} ELSE 0 END) AS lo,
        |    xor(hi0, CASE m WHEN 3 THEN ${(1L << (37 - 32)) | (1L << (45 - 32))}
        |      ELSE 0 END) AS hi
        |  FROM pk)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) AS INT) AS hamming
        |FROM pf a JOIN pf c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
    },

    "q_split" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 100 < 80 THEN 'train'
        |         WHEN doc_id % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "q_split_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 1000000 <
        |  CASE lang WHEN 'en' THEN 300000.0 WHEN 'zh' THEN 800000.0
        |            ELSE 1000000.0 END
        |ORDER BY doc_id""".stripMargin,

    "q_sample_byrate" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (doc_id * 2654435761) % 1000000 <
        |  least(1.0, CAST(n_chars AS DOUBLE) / 400) * 1000000
        |ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.mixture step-for-step: per-group counts, the
    // binding scale T = min(n/target), per-group rate T·target/n, and
    // the same multiplicative-hash membership — every double computed
    // by the identical expression, so no rounding is needed
    "q_sample_mixture" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
        |              WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2 END AS target
        |  FROM documents GROUP BY lang),
        |t AS (SELECT MIN(n / target) AS T FROM c WHERE target IS NOT NULL),
        |r AS (SELECT lang, T * target / n AS rate
        |      FROM c CROSS JOIN t WHERE target IS NOT NULL)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE (d.doc_id * 2654435761) % 1000000 < rate * 1000000
        |ORDER BY d.doc_id""".stripMargin,

    // the α=0.5 temperature rebalance in SQL: sqrt targets (correctly
    // rounded everywhere), unnormalized — each rate is the identical
    // chain of single-rounded IEEE ops, so membership hash-matches
    "q_sample_temp" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |w AS (SELECT lang, n, sqrt(n) AS target FROM c),
        |t AS (SELECT MIN(n / target) AS T FROM w),
        |r AS (SELECT lang, T * target / n AS rate FROM w CROSS JOIN t)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE (d.doc_id * 2654435761) % 1000000 < rate * 1000000
        |ORDER BY d.doc_id""".stripMargin,

    "q_select_budget" ->
      """WITH c AS (
        |  SELECT doc_id, source, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS cum
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM c
        |WHERE cum <= 3000 ORDER BY doc_id""".stripMargin,

    "q_stream_window" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type, value FROM events)
        |SELECT (s // 3600) * 3600 AS hour_start, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY (s // 3600) * 3600, event_type
        |ORDER BY hour_start, event_type""".stripMargin,

    "q_stream_sliding" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s, event_type, value FROM events),
        |x AS (
        |  SELECT ((s // 3600) - k) * 3600 AS win_start, event_type, value
        |  FROM e CROSS JOIN unnest([0, 1]) AS t(k))
        |SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,

    "q_gsets" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         |  COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("l_quantity")} AS m
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // session_window ends are EXCLUSIVE: an event exactly `gap` after
    // the previous one opens a NEW session → `>= 1800`, not `> 1800`
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, s, value,
        |    -- STRICTLY greater: session_window merges an event landing
        |    -- exactly at previous + gap (inclusive end), verified on a
        |    -- real boundary pair at sf0.1
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
        |m AS (
        |  SELECT user_id, s, value,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l)
        |SELECT CAST(MIN(s) AS BIGINT) AS session_start, user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM m GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, s FROM ($eventsPrepSql)),
         |l AS (
         |  SELECT user_id, event_id, s,
         |    CASE WHEN lag(s) OVER w IS NULL
         |           OR s - lag(s) OVER w > 1800 THEN 1 ELSE 0 END AS ns
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         |m AS (
         |  SELECT user_id,
         |    SUM(ns) OVER (PARTITION BY user_id ORDER BY s, event_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM l)
         |SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    // l_extendedprice tiebreak mirrors the Spark side: (l_orderkey,
    // l_linenumber) is not unique, and lag/lead leak tie resolution
    "q_w_analytics" ->
      """SELECT l_suppkey, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber,
        |  prev_val, next_val, running_sum
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    row_number() OVER w AS rn,
        |    lag(l_extendedprice, 1) OVER w AS prev_val,
        |    lead(l_extendedprice, 1) OVER w AS next_val,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) OVER (
        |      PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice))
        |ORDER BY l_suppkey, rn""".stripMargin)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial-ish join kernels.
  *
  * J2 (ref `temperaturas_rm.py:121-147`): nearest-neighbor assignment —
  * the reference materializes a full scipy `cdist` matrix and argmins
  * rows; here [[nearestJoin]] is a broadcast cross join reduced by a
  * map-side-combined `min(struct(dist, …))` argmin — the big side
  * streams, never shuffles.
  *
  * J3+A6 (ref nb c29-c32): gravity model flow matrix + row-stochastic
  * normalization — the reference's O(n²) Python loop becomes a cross
  * join producing the long/COO form (year, origin, dest, flow), and the
  * normalization a window sum. Canonical storage stays long-form;
  * pivot to a dense matrix only at presentation time.
  *
  * Scale path (SURVEY §7 risk 7): for 1-D fixed-point values whose
  * right side scales with the corpus, [[nearestJoinTicks1D]] needs no
  * broadcast and no cross join.
  */
object Nearest {

  /** For every left row, attach the right row minimizing `dist`, with
    * `tieBreak` making the choice total. `left`/`right` must not share
    * column names (prefix beforehand). Adds `_dist`.
    *
    * Implemented as `min(struct(dist, tieBreak…, payload))` — struct
    * ordering is lexicographic, so the min IS the argmin — rather than
    * a rank-1 window: the aggregate partial-combines map-side, so only
    * one candidate row per left row reaches the shuffle instead of the
    * whole |left|×|right| cross product. Grouping is by all left
    * columns. */
  def nearestJoin(left: DataFrame, right: DataFrame,
                  dist: Column, tieBreak: Seq[Column]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    val crossed = left.crossJoin(broadcast(right)).withColumn("_dist", dist)
    val payload = struct(rightCols.map(col): _*).as("_r")
    val best = crossed.groupBy(leftCols.map(col): _*)
      .agg(min(struct(col("_dist") +: tieBreak :+ payload: _*)).as("_m"))
    best.select(leftCols.map(col) ++
      rightCols.map(c => col(s"_m._r.$c").as(c)) :+ col("_m._dist").as("_dist"): _*)
  }

  /** Codegen-fast argmin for FIXED-POINT distances (money, sensor
    * ticks): quantize the distance to integer ticks — round(dist ·
    * invQuantum) — and pack (ticks, rightKey) into ONE long, so the
    * whole argmin is a primitive `min(long)` HashAggregate inside
    * WholeStageCodegen. [[nearestJoin]]'s `min(struct(...))` buffer is
    * not hash-aggregable (struct buffers force a SortAggregate, i.e. a
    * full sort of |left|×|right| candidate rows per run); this path
    * measured ~4× faster at sf0.1 and the gap grows with the candidate
    * count, since hash partial-aggregation keeps the shuffle at one row
    * per left key with no sort anywhere.
    *
    * Contract: exact iff quantization preserves the distance ordering —
    * guaranteed when distances are multiples of 1/invQuantum up to
    * float noise ≪ 1/invQuantum (e.g. 2-dp money with invQuantum=100).
    * Equal-tick ties resolve by smallest `rightKey`. `rightKey` must be
    * a unique non-negative integral key < 2^keyBits, and ticks must fit
    * 62−keyBits bits (ANSI mode throws on overflow rather than
    * corrupting the packing). `_dist` is recomputed exactly from the
    * original expression after the join-back, so downstream consumers
    * see full-precision distances. */
  def nearestJoinQuantized(left: DataFrame, right: DataFrame,
                           dist: Column, rightKey: String, invQuantum: Double,
                           keyBits: Int = 40): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    val packed = round(dist * lit(invQuantum)).cast("long") * lit(1L << keyBits) +
      col(rightKey)
    val best = left.crossJoin(broadcast(right))
      .groupBy(leftCols.map(col): _*)
      .agg(min(packed).as("_p"))
      .select(leftCols.map(col) :+
        pmod(col("_p"), lit(1L << keyBits)).cast("long").as("_k"): _*)
    best.join(broadcast(right), best("_k") === right(rightKey))
      .withColumn("_dist", dist)
      .select(leftCols.map(col) ++ rightCols.map(col) :+ col("_dist"): _*)
  }

  /** The scale twin of [[nearestJoinQuantized]] for 1-D values (money,
    * sensor ticks): NO broadcast, NO cross join — safe when the right
    * side scales with the corpus. Same contract and same winner: among
    * all right rows, minimize (quantized tick distance, rightKey).
    *
    * How it scales: quantize both sides to integer ticks. Right rows
    * collapse to one row per DISTINCT tick carrying the tie-break
    * winner `min(rightKey)` — the reduction is a map-side-combined
    * group-by. The per-tick nearest is then a pred/succ sweep over the
    * union of distinct right ticks and distinct left ticks (two
    * running `last` windows), and the answer map joins back to the
    * left via plain equi-joins. Every corpus-sized step is a shuffle
    * on the tick key; the sweep's input is the DISTINCT tick set,
    * which is bounded by the VALUE DOMAIN (fixed-point money has
    * ≤ ~1M possible ticks), not by row count — at 100 TB it is
    * exactly as big as at 1 GB.
    *
    * The sweep itself is PARTITIONED (round 13): the tick domain is
    * range-bucketed into ≤ `maxBuckets` equal-width ranges (bucketing
    * is monotone in the tick, so within-bucket order is global order),
    * the two running-`last` windows partition by the bucket id, and
    * the cross-bucket handoff — the last right tick below a bucket /
    * the first right tick above it — rides a per-bucket carry table:
    * one `max`/`min` aggregate per bucket, collected (≤ `maxBuckets`
    * rows, bounded by a parameter like the k-means centroids),
    * prefix/suffix-scanned on the driver, and broadcast
    * back as `(bucket, predCarry, succCarry)`. A probe's pred is its
    * within-bucket `last`, or the carry when its bucket has no right
    * tick at or below it — the within-bucket candidate is always ≥
    * the carry tick, so `coalesce(within, carry)` IS the global pred
    * (symmetrically for succ). No stage is single-partition: the
    * engine's former lone `WindowExec: No Partition Defined` stage is
    * gone (PlanSpec pins the whole registry window-partitioned). The
    * distinct-tick union is localCheckpointed — it feeds the domain
    * min/max probe, the carry aggregate, and the sweep, and must not
    * re-derive its corpus-sized parents three times.
    *
    * Correctness of the sweep: tick distance is monotone in |Δtick|,
    * so the minimal distance d* is attained at the nearest distinct
    * tick below (pred) or above (succ); on a tie both carry their
    * per-tick min key and the smaller wins — identical to the packed
    * `min(long)` of [[nearestJoinQuantized]]. Exact under the same
    * fixed-point contract (values are multiples of 1/invQuantum up to
    * float noise ≪ 1/invQuantum; tick span must fit a long). Left
    * rows find no winner only when `right` is empty (they drop, as in
    * an inner join). `_dist` is recomputed full-precision after the
    * join-back. */
  def nearestJoinTicks1D(left: DataFrame, right: DataFrame,
                         leftVal: Column, rightVal: Column, rightKey: String,
                         invQuantum: Double, maxBuckets: Int = 1024): DataFrame = {
    require(maxBuckets > 0, s"need maxBuckets > 0, got $maxBuckets")
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    // null left values are dropped HERE, not left to the final equi-join:
    // a null _ltick would otherwise enter the sweep (sorting first in the
    // ascending window, last in the descending one) and pick up a spurious
    // winner from the _succ arm — [[nearestJoinQuantized]] drops such rows,
    // and the kernels must agree row-for-row (OperatorSpec asserts it)
    val lt = left.withColumn("_ltick", round(leftVal * lit(invQuantum)).cast("long"))
      .filter(col("_ltick").isNotNull)
    // symmetric: a null RIGHT tick would sort first in the ascending sweep
    // and become a _pred candidate whose null _tick makes both distance
    // comparisons null, falling through to least(...) — a spurious winner.
    // min(packed) in the quantized kernel skips nulls; match it.
    val sAgg = right
      .select(round(rightVal * lit(invQuantum)).cast("long").as("_tick"), col(rightKey))
      .filter(col("_tick").isNotNull)
      .groupBy("_tick").agg(min(col(rightKey)).as("_mk"))
    val mkType = sAgg.schema("_mk").dataType
    val qT = lt.select(col("_ltick").as("_tick")).distinct()
      .withColumn("_mk", lit(null).cast(mkType))
      .withColumn("_isq", lit(1))
    // read 3× below (domain probe, carry aggregate, sweep) — checkpoint
    // so the corpus-sized parents run once; the union itself is the
    // domain-bounded distinct-tick set, cheap to materialize
    val un = sAgg.withColumn("_isq", lit(0)).unionByName(qT).localCheckpoint()
    // range-bucket the tick domain: equal-width buckets over [lo, hi],
    // id = (tick − lo) div width — monotone, so bucket order is tick
    // order and a carry from a lower bucket is strictly below every
    // tick in this one. The domain probe is a 1-row aggregate.
    val mm = un.agg(min("_tick"), max("_tick")).head()
    val bLo = if (mm.isNullAt(0)) 0L else mm.getLong(0)
    val bHi = if (mm.isNullAt(1)) 0L else mm.getLong(1)
    val width = math.max(1L, (bHi - bLo) / maxBuckets + 1L)
    val un2 = un.withColumn("_b", expr(s"(_tick - (${bLo}L)) div ${width}L"))
    // right rows sort before a left probe at the same tick (_isq asc),
    // so a same-tick right match is visible to both sweeps (d = 0)
    val cand = when(col("_isq") === 0, struct(col("_tick"), col("_mk")))
    // per-bucket carry: last/first right candidate of each bucket,
    // prefix/suffix-scanned on the driver (≤ maxBuckets rows)
    val summ = un2.groupBy("_b")
      .agg(max(cand).as("_bhi"), min(cand).as("_blo"))
      .collect().sortBy(_.getLong(0))
    val n = summ.length
    val pc = new Array[Any](n)
    val sc = new Array[Any](n)
    var run: Any = null
    var i = 0
    while (i < n) { // pred carry: latest right candidate of LOWER buckets
      pc(i) = run
      if (!summ(i).isNullAt(1)) run = summ(i).getStruct(1)
      i += 1
    }
    run = null
    i = n - 1
    while (i >= 0) { // succ carry: earliest right candidate of HIGHER buckets
      sc(i) = run
      if (!summ(i).isNullAt(2)) run = summ(i).getStruct(2)
      i -= 1
    }
    val candType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_tick",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_mk", mkType)))
    val carrySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_pc", candType),
      org.apache.spark.sql.types.StructField("_sc", candType)))
    val carryRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(summ.indices.map(j =>
        org.apache.spark.sql.Row(summ(j).getLong(0), pc(j), sc(j))): _*)
    val carry = left.sparkSession.createDataFrame(carryRows, carrySchema)
    val wUp = Window.partitionBy(col("_b"))
      .orderBy(col("_tick").asc, col("_isq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDown = Window.partitionBy(col("_b"))
      .orderBy(col("_tick").desc, col("_isq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = un2
      .withColumn("_pred0", last(cand, ignoreNulls = true).over(wUp))
      .withColumn("_succ0", last(cand, ignoreNulls = true).over(wDown))
      .filter(col("_isq") === 1)
      .join(broadcast(carry), Seq("_b"))
      .withColumn("_pred", coalesce(col("_pred0"), col("_pc")))
      .withColumn("_succ", coalesce(col("_succ0"), col("_sc")))
    val dPred = col("_tick") - col("_pred._tick")
    val dSucc = col("_succ._tick") - col("_tick")
    val winnerKey =
      when(col("_pred").isNull, col("_succ._mk"))
        .when(col("_succ").isNull, col("_pred._mk"))
        .when(dPred < dSucc, col("_pred._mk"))
        .when(dSucc < dPred, col("_succ._mk"))
        .otherwise(least(col("_pred._mk"), col("_succ._mk")))
    val answer = marked.select(col("_tick").as("_atick"), winnerKey.as("_wk"))
    lt.join(answer, col("_ltick") === col("_atick"))
      .join(right, col("_wk") === col(rightKey))
      .withColumn("_dist", abs(leftVal - rightVal))
      .select(leftCols.map(col) ++ rightCols.map(col) :+ col("_dist"): _*)
  }

  /** Gravity flows over a zone table `(zone, mass)`:
    * flow(o,d) = mass_o · mass_d / dist(o,d)^2, diagonal excluded,
    * plus the A6 row-normalization flow / Σ_d flow. `distExpr` sees
    * columns `o_zone`/`d_zone`. Masses should be exact (integer /
    * decimal) so each flow is a single deterministic double expression. */
  def gravityFlows(zones: DataFrame, zoneCol: String, massCol: String,
                   distExpr: (Column, Column) => Column): DataFrame = {
    val o = zones.select(col(zoneCol).as("origin"), col(massCol).as("o_mass"))
    val d = zones.select(col(zoneCol).as("dest"), col(massCol).as("d_mass"))
    val dist = distExpr(col("origin"), col("dest"))
    val flow = col("o_mass").cast("double") * col("d_mass").cast("double") /
      (dist * dist)
    val wRow = Window.partitionBy(col("origin"))
    o.crossJoin(broadcast(d))
      .filter(col("origin") =!= col("dest"))
      .withColumn("flow", flow)
      .withColumn("flow_norm",
        round(col("flow") / sum(col("flow")).over(wRow), 6))
      .select(col("origin"), col("dest"), col("flow"), col("flow_norm"))
  }
}

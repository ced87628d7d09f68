package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** KLL quantile sketch as a custom `TypedImperativeAggregate` (SURVEY
  * §2.11 preference (b)) — the MERGEABLE percentile state that
  * completes the state-table family: counts and sums add, extremes
  * lattice, HLL/theta cover distincts, and KLL covers quantiles.
  * `approx_percentile` answers one query's percentiles; a PERSISTED
  * KLL partial table answers "p50/p90/p99 of any slice, any rollup,
  * any day range" from state rows alone — raw rows reduced once,
  * never rescanned (Karnin–Lang–Liberty 2016; DataSketches KLL).
  *
  * Three modes, one per `prettyName`:
  *  - `kll_sketch_agg`: a NUMERIC child builds a sketch from values;
  *  - `kll_union_agg`: a BINARY child MERGES previously serialized
  *    sketches (the rollup pass over a partial table), mirroring
  *    hll_sketch_agg/hll_union_agg;
  *  - `kll_sketch_weighted_agg`: a numeric child with an integral
  *    `weight` child (≥ 1) — `update(v, w)` equals `w` plain updates
  *    at O(log w) level insertions, so a `(value, count)` table feeds
  *    the sketch O(distinct values) updates instead of O(rows). Null
  *    values and null weights are skipped alike.
  *
  * Merge is associative; partials map-side combine like any built-in.
  * Every sketch has the fixed `k` = [[KllSketchAgg.K]]. Below `k`
  * values a KLL sketch stores the exact multiset (estimates are exact
  * order statistics); above, the normalized rank error is ≈ 1.65% at
  * k=200, shrinking ~linearly in k. Above `k` the compaction draws
  * from an unseeded random source, so the retained items (and the
  * serialized bytes) may differ between runs on the same input: what
  * stays stable is the rank-band contract, so the oracle pins rank-band
  * BOUNDS, not the estimate value, and result digests cover only those
  * band booleans.
  */
case class KllSketchAgg(child: Expression, weight: Option[Expression] = None,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] {

  // resolved only after analysis — must stay lazy (construction sees
  // an unresolved child whose dataType throws)
  private lazy val mergeMode = child.dataType == BinaryType

  override def children: Seq[Expression] = child +: weight.toSeq
  // plans show the weight as an argument, not as Some(...)/None
  override protected def stringArgs: Iterator[Any] =
    Iterator(child) ++ weight ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  // guarded on child.resolved: prettyName renders inside analysis
  // error messages / unresolved treeStrings, where forcing mergeMode
  // (child.dataType) would throw UnresolvedException and mask the
  // real error
  override def prettyName: String =
    if (weight.isDefined) "kll_sketch_weighted_agg"
    else if (child.resolved && mergeMode) "kll_union_agg"
    else "kll_sketch_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(KllSketchAgg.K)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) weight match {
      case None =>
        if (mergeMode)
          buf.merge(KllDoublesSketch.heapify(Memory.wrap(v.asInstanceOf[Array[Byte]])))
        else buf.update(toDouble(v))
      case Some(w) => w.eval(input) match {
        case null =>
        case wl: Long => buf.update(toDouble(v), checkWeight(wl))
        case wi: Int  => buf.update(toDouble(v), checkWeight(wi.toLong))
        case other => throw new IllegalArgumentException(
          s"$prettyName: integral weight required, got ${other.getClass.getName}")
      }
    }
    buf
  }

  private def toDouble(v: Any): Double = v match {
    case d: Double     => d
    case f: Float      => f.toDouble
    case l: Long       => l.toDouble
    case i: Int        => i.toDouble
    case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    case other => throw new IllegalArgumentException(
      s"$prettyName: unsupported input ${other.getClass.getName}")
  }

  private def checkWeight(w: Long): Long = {
    if (w < 1L) throw new IllegalArgumentException(
      s"$prettyName: weight must be >= 1, got $w")
    w
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other)
    buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray

  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchAgg =
    copy(child = newChildren.head, weight = weight.map(_ => newChildren(1)))
}

object KllSketchAgg {
  /** The sketch size every KLL aggregate uses: rank error ~0.5%. */
  val K = 800

  /** Aggregate Column: numeric child builds, binary child merges. */
  def apply(c: Column): Column =
    ColumnBridge.column(
      new KllSketchAgg(ColumnBridge.expression(c)).toAggregateExpression())

  /** Weighted build: `value` counted `weight` (integral, ≥ 1) times. */
  def apply(value: Column, weight: Column): Column =
    ColumnBridge.column(new KllSketchAgg(ColumnBridge.expression(value),
      Some(ColumnBridge.expression(weight))).toAggregateExpression())
}

/** Quantile estimate at `rank` (a [0,1] literal-ish expression) from a
  * serialized KLL sketch; null for an empty sketch. Interpreted
  * (CodegenFallback) by design — runs on per-slice sketch rows. */
case class KllQuantileEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kll_quantile_estimate"
  override protected def nullSafeEval(bytes: Any, rank: Any): Any = {
    val sk = KllDoublesSketch.heapify(
      Memory.wrap(bytes.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null
    else sk.getQuantile(rank.asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantileEstimate =
    copy(left = newLeft, right = newRight)
}

object KllQuantileEstimate {
  def apply(sketch: Column, rank: Column): Column =
    ColumnBridge.column(new KllQuantileEstimate(
      ColumnBridge.expression(sketch), ColumnBridge.expression(rank)))
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort in place: the `RangePartitioning` exchange
  * that `EnsureRequirements` puts under a global `SortExec` becomes
  * `CoalesceExec(1)`, so the sort runs in the final stage.
  *
  * A range exchange costs two jobs before the sort starts: one samples
  * the input for the range bounds, one writes the shuffle. When the
  * input is small, AQE's `CoalesceShufflePartitions` then reads the
  * whole shuffle back as one partition. Every contract query ends in an
  * `orderBy` over a small result, so these two jobs were 24 of the 54
  * jobs of a 12-query analytics pass (COVERAGE.md, "Small global
  * sorts").
  *
  * The rule fires only when the sort's input ends up in one partition
  * anyway:
  *  - the input is a one-split scan under projections and filters; or
  *  - the input's size is at most what `CoalesceShufflePartitions` puts
  *    in one partition ([[onePartitionBytes]]).
  * The size comes from the sort's logical statistics. Under AQE re-planning
  * these carry the runtime sizes of the materialized query stages
  * below; over a plain scan they are the plan estimate. While an
  * exchange or a running stage is still below the sort, the rule waits
  * for AQE to re-plan with its runtime size. AQE keeps a re-planned
  * plan only if it has no more exchanges than the current one, so an
  * early decision on an estimate could never be taken back.
  *
  * It leaves alone user repartitions (`repartitionByRange` and the
  * like: their origin is not `ENSURE_REQUIREMENTS`), `TakeOrderedAndProject`
  * (no `SortExec`) and local sorts (sort-merge joins, windows,
  * `sortWithinPartitions`). `EnsureRequirements` adds no exchange over
  * a child that reports one partition, so the exchange is always
  * replaced by `CoalesceExec(1)`, whose `SinglePartition` satisfies the
  * sort's ordered distribution.
  *
  * Injected by [[GraftExtensions]] as a query-stage preparation rule:
  * it runs after `EnsureRequirements`, on the initial adaptive plan and
  * on every AQE re-plan. It adds no conf. */
case class SmallSortInPlace(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if settled(child) && (oneSplitScan(child) || small(s)) =>
      s.withNewChildren(Seq(CoalesceExec(1, child)))
  }

  /** No exchange still to plan and no stage still running below `p`. */
  private def settled(p: SparkPlan): Boolean = p match {
    case q: QueryStageExec => q.isMaterialized
    case _: Exchange       => false
    case _                 => p.children.forall(settled)
  }

  /** A file scan that reads one split, under projections and filters
    * only: it lists one file, no larger than Spark's split size. The
    * listing is the scan's own, which execution reuses; building the
    * scan's RDD here would move its reader set-up into planning. */
  private def oneSplitScan(p: SparkPlan): Boolean = p match {
    case _: ProjectExec | _: FilterExec => oneSplitScan(p.children.head)
    case f: FileSourceScanExec =>
      val files = f.selectedPartitions
      files.totalNumberOfFiles == 1 && files.totalFileSize <= FilePartition.maxSplitBytes(session, files)
    case _ => false
  }

  /** The input's size is the smaller of Spark's size estimate and its
    * row count times its estimated row width (the figure CBO gives a
    * projection). Over a materialized aggregate the first is the size
    * of the shuffled partial buffers, which hold every value for an
    * exact percentile; the row count is that shuffle's, at least one
    * row per group. */
  private def small(s: SortExec): Boolean = s.logicalLink.exists { sort =>
    val size = sort.stats.sizeInBytes
    val byRows = sort.children.flatMap(_.stats.rowCount).map(_ * EstimationUtils.getSizePerRow(sort.output))
    (byRows :+ size).min <= onePartitionBytes
  }

  /** The largest input `CoalesceShufflePartitions` reads as one
    * partition. Its target size is max(minPartitionSize,
    * min(advisoryPartitionSizeInBytes, total / minNumPartitions)), where
    * minNumPartitions is `minPartitionNum`, else the default parallelism
    * under `parallelismFirst` (Spark's default), else 1. With more than
    * one minimum partition, one partition holds at most minPartitionSize;
    * with one, at most the larger of the two sizes. */
  private def onePartitionBytes: BigInt = if (!conf.coalesceShufflePartitionsEnabled) 0 else {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
        session.sparkContext.defaultParallelism
      else 1)
    if (minNum > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }
}

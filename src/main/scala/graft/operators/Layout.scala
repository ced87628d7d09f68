package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side data layout: multi-dimensional clustering (z-order) and
  * balanced shard export.
  *
  * Bucketing ([[Bucketing]]) optimizes the JOIN path; z-ordering
  * optimizes the SCAN path. Parquet keeps min/max statistics per row
  * group (and per file), and Spark's pushed-down predicates skip row
  * groups whose stats can't match. That skipping is only effective if
  * the layout CLUSTERS the filtered columns — a round-robin layout
  * spreads every key range across every file, so stats prune nothing.
  * Interleaving the bits of the filter columns' ranks (a z-/Morton
  * curve) and range-partition-sorting on that value gives every file a
  * tight bounding box in ALL the interleaved dimensions at once, so a
  * conjunctive range predicate touches only the files whose box
  * intersects it — at 100 TB, the difference between scanning the
  * corpus and scanning a corner of it. LayoutSpec MEASURES this from
  * the written parquet footers (files whose stats survive a box
  * predicate: z-ordered ≪ round-robin), it is not just asserted.
  *
  * Shard export: training runs want many same-sized output shards
  * (downstream loaders parallelize per file, and a straggler shard
  * gates the epoch). `balancedShards` round-robins rows into exactly
  * `n` files (±1 row): no key skew can unbalance it, at any scale.
  */
object Layout {

  /** Interleave the low `bits` bits of each rank column: result bit
    * `j·d + i` = bit `j` of `ranked(i)` — the Morton/z-curve index.
    * Plain shift/and/or column arithmetic (codegen-friendly, ~2·d·bits
    * expression nodes; `d · bits ≤ 63` to stay in a signed long). */
  def interleaveBits(ranked: Seq[Column], bits: Int): Column = {
    val d = ranked.size
    require(d * bits <= 63, s"$d dims x $bits bits exceeds a long")
    var acc: Column = lit(0L)
    for (j <- 0 until bits; i <- 0 until d) {
      val bit = shiftright(ranked(i), j).bitwiseAND(lit(1L))
      acc = acc.bitwiseOR(shiftleft(bit, j * d + i))
    }
    acc
  }

  /** Z-value over `cols`, each column rank-normalized into `bits` bits
    * against its observed [min, max] (one tiny stats job at plan
    * construction — same eager-builder class as
    * [[Bucketing.ensureTpchBuckets]]). Nulls rank as 0 (they sort into
    * the curve's origin corner rather than poisoning the interleave). */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 12): Column = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val maxRank = (1L << bits) - 1
    val ranked = cols.zipWithIndex.map { case (c, i) =>
      val lo = stats.getDouble(2 * i)
      val hi = stats.getDouble(2 * i + 1)
      val span = if (hi > lo) hi - lo else 1.0
      coalesce(
        least(greatest(
          ((col(c).cast("double") - lit(lo)) / lit(span) * lit(maxRank.toDouble))
            .cast("long"), lit(0L)), lit(maxRank)),
        lit(0L))
    }
    interleaveBits(ranked, bits)
  }

  /** Write `df` z-ordered on `cols` into `numFiles` range-partitioned,
    * internally sorted parquet files at `path` (overwrite). Each file
    * covers one contiguous z-range → a tight min/max box per file in
    * every clustered dimension. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bits: Int = 12): Unit =
    df.withColumn("_graft_z", zValue(df, cols, bits))
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
      .write.mode("overwrite").parquet(path)

  /** Write `df` as exactly `n` row-balanced (±1) parquet shards —
    * round-robin distribution, immune to key skew. */
  def balancedShards(df: DataFrame, path: String, n: Int): Unit =
    df.repartition(n).write.mode("overwrite").parquet(path)

  // ------------------------------------------------------ ensured copy

  private val written = scala.collection.mutable.Set[String]()

  /** Once-per-JVM z-ordered lineitem copy clustered on
    * (l_partkey, l_suppkey) — the layout q_zorder_slice scans. */
  def ensureZOrderedLineitem(spark: SparkSession, sfDir: String): String =
    synchronized {
      val tag = java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_$tag"
      if (!written.contains(path)) {
        writeZOrdered(graft.Tables(spark, sfDir, "lineitem"), path,
          Seq("l_partkey", "l_suppkey"), numFiles = 16)
        written += path
      }
      path
    }

  /** 2-D box slice over the z-ordered copy: both range predicates push
    * to the parquet scan, and the clustered layout lets file/row-group
    * stats skip everything outside the box's z-range. The oracle runs
    * the same slice on the plain table — layout is results-invisible. */
  def zorderSlice(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.parquet(spark, ensureZOrderedLineitem(spark, sfDir))
      .filter(col("l_partkey").between(0, 24) &&
        col("l_suppkey").between(0, 1))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
}

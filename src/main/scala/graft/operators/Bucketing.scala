package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table layout: the storage-side answer to repeated shuffles.
  *
  * At 100 TB the dominant cost of a fact–fact join (lineitem ⋈ orders)
  * or a high-cardinality aggregation is the shuffle — every run of
  * every downstream query re-partitions the same data on the same key.
  * Bucketing moves that shuffle to WRITE time, once: both tables are
  * hash-clustered into the same number of buckets on the join key, so
  * every later sort-merge join and bucket-key aggregation runs with
  * ZERO exchanges (asserted in PlanSpec's bucketing tests, measured in
  * the q_bucket_* stress entries). This is the single biggest lever
  * for a pipeline that re-joins the same corpus daily.
  *
  * Design notes for the cluster path:
  *  - `repartition(numBuckets, key)` before the write uses the same
  *    Murmur3 hash as the bucket spec, so each task holds exactly one
  *    bucket → one file per bucket. That keeps file counts flat (no
  *    tasks × buckets explosion) and lets Spark keep the per-bucket
  *    sort order usable by downstream merge joins.
  *  - Tables are EXTERNAL (explicit `path`): the catalog entry is
  *    session-local metadata, the parquet layout is the durable
  *    artifact — exactly how an Iceberg/Hive warehouse would carry the
  *    bucket spec between jobs.
  *  - Re-bucketing is idempotent per (session, source dir): the write
  *    happens once, every query after it is shuffle-free.
  */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted external parquet
    * table, one file per bucket. Overwrites any previous layout at
    * `path` (stale files from an earlier run must not leak into the
    * new table's buckets). Drops a `_BUCKET_SPEC` marker so a later
    * session can [[attachBucketed]] instead of rewriting. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    numBuckets: Int, key: String,
                    sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.repartition(numBuckets, col(key))
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, key)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, "_BUCKET_SPEC"), true)
    out.write(bucketSpec(numBuckets, key, sortCols)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def bucketSpec(n: Int, key: String, sortCols: Seq[String]): String =
    s"$n|$key|${sortCols.mkString(",")}"

  /** Register `table` over an EXISTING bucketed layout at `path`
    * without rewriting a byte — the durable-layout contract: the
    * catalog entry is session-local metadata, the files are the
    * artifact, and a new session re-attaches instead of re-shuffling
    * the corpus (at 100 TB, rewriting on every session restart would
    * erase the layout's entire amortization win). Returns false when
    * the path carries no `_BUCKET_SPEC` marker or the marker disagrees
    * with the requested spec — callers then fall back to
    * [[writeBucketed]]; a mismatched attach would silently mis-bucket
    * every downstream join, so the marker check is strict. */
  def attachBucketed(spark: SparkSession, table: String, path: String,
                     numBuckets: Int, key: String,
                     sortCols: Seq[String] = Nil): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(p, "_BUCKET_SPEC")
    if (!fs.exists(marker)) return false
    val in = fs.open(marker)
    val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    if (found != bucketSpec(numBuckets, key, sortCols)) return false
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val ddl = graft.Tables.parquet(spark, path).schema.toDDL
    val sorted =
      if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")})" else ""
    spark.sql(
      s"""CREATE TABLE `$table` ($ddl) USING parquet
         |CLUSTERED BY ($key) $sorted INTO $numBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    true
  }

  /** Bucketed lineitem + orders, clustered on the order key — written
    * once per (session, sfDir), then reused by every bucketed query.
    * Returns the (lineitem, orders) catalog table names.
    *
    * Bucket count is sized to the DATA unless the caller pins it: the
    * smallest power of two with ≤ ~75k lineitem rows per bucket
    * (floor 8) — a fixed count would cap aggregation/join parallelism
    * at write-time size forever (the 10× stress probe measured exactly
    * that: a 30× rollup ratio on 8 frozen buckets). Power-of-two
    * counts keep any two sfDirs' layouts merge-join-compatible after
    * a coalesce, and both tables share one count derived from the
    * bigger side (equal counts are what make the SMJ exchange-free).
    * The derivation is deterministic per sfDir, so every session
    * writing the same data picks the same layout. */
  def ensureTpchBuckets(spark: SparkSession, sfDir: String,
                        buckets: Int = 0): (String, String) = synchronized {
    val tag = java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
    val lt = s"graft_bkt_${tag}_lineitem"
    val ot = s"graft_bkt_${tag}_orders"
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_buckets_$tag"
    if (!spark.catalog.tableExists(lt) || !spark.catalog.tableExists(ot)) {
      // a durable layout from an earlier session re-attaches without
      // rewriting (markerBuckets reads the count the files were
      // actually written with); only a missing/mismatched layout pays
      // the write shuffle again
      val existing =
        if (buckets > 0) Some(buckets)
        else markerBuckets(spark, s"$base/lineitem", "l_orderkey", Seq("l_orderkey"))
      val attached = existing.exists { n =>
        attachBucketed(spark, lt, s"$base/lineitem", n, "l_orderkey", Seq("l_orderkey")) &&
          attachBucketed(spark, ot, s"$base/orders", n, "o_orderkey", Seq("o_orderkey"))
      }
      if (!attached) {
        val li = graft.Tables(spark, sfDir, "lineitem")
        val n = if (buckets > 0) buckets else {
          val rows = li.count()
          var b = 8
          while (b.toLong * 75000L < rows && b < (1 << 20)) b <<= 1
          b
        }
        writeBucketed(li, lt, s"$base/lineitem", n, "l_orderkey", Seq("l_orderkey"))
        writeBucketed(graft.Tables(spark, sfDir, "orders"), ot,
          s"$base/orders", n, "o_orderkey", Seq("o_orderkey"))
      }
    }
    (lt, ot)
  }

  /** The bucket count a `_BUCKET_SPEC` marker at `path` declares, if
    * its key/sort clause matches — None otherwise. */
  private def markerBuckets(spark: SparkSession, path: String,
                            key: String, sortCols: Seq[String]): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(path, "_BUCKET_SPEC")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    found.split("\\|", -1) match {
      case Array(n, k, s) if k == key && s == sortCols.mkString(",") =>
        scala.util.Try(n.toInt).toOption
      case _ => None
    }
  }

  /** Fact–fact join on the bucket key: order-priority revenue rollup.
    * Both sides read pre-clustered, so the sort-merge join plans with
    * no exchange below it — the only shuffle in the whole query is the
    * final 5-group aggregation. (`merge` hint: at test/verify scales
    * orders fits under the broadcast threshold, which would hide the
    * bucket win; at corpus scale SMJ is what the optimizer picks
    * anyway, so the hint pins the plan shape that matters.) */
  def bucketedPriorityRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val (lt, ot) = ensureTpchBuckets(spark, sfDir)
    val l = spark.table(lt)
    val o = spark.table(ot)
    o.hint("merge").join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        Exact.dsum(l("l_extendedprice") * (lit(1) - l("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** High-cardinality aggregation on the bucket key: per-order line
    * rollup. Bucketing satisfies the groupBy's distribution
    * requirement, so the aggregation runs scan-local — zero exchanges
    * anywhere in the plan (PlanSpec). At corpus scale this is the
    * difference between a full-data shuffle and none. */
  def bucketedOrderRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val (lt, _) = ensureTpchBuckets(spark, sfDir)
    spark.table(lt)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        max(col("l_shipdate")).as("last_ship"))
  }
}

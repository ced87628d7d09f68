package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import org.scalatest.BeforeAndAfterAll

/** Per-query fixed costs that a repeated query must not pay again:
  * parquet schema inference ([[Tables.parquet]]'s schema cache) and
  * Janino compilation (the generated-code cache [[GraftSession]]
  * sizes to the contract). */
class FixedCostSpec extends SparkSpec with BeforeAndAfterAll {

  /** Jobs `body` launched. Status-store updates arrive asynchronously,
    * so a marker job in its own group runs after `body`, and the count
    * is read once the marker is visible: the listener bus delivers
    * events in order, so every job `body` started is visible too. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"fixed-cost-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "marker job never reported")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private val dirs = scala.collection.mutable.Buffer.empty[java.io.File]

  private def tempDir(): String = {
    val d = Files.createTempDirectory("graft_schema_cache_").toFile
    dirs += d
    d.getAbsolutePath
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    dirs.foreach(rm)
    super.afterAll()
  }

  // ------------------------------------------------------ schema cache

  test("a repeated Tables construction launches no inference job") {
    Tables(spark, sf, "lineitem")
    assert(jobsIn(Tables(spark, sf, "lineitem")) === 0)
    // the measurement sees inference where it happens: a file set
    // never read before infers once, then never again
    val p = s"${tempDir()}/t"
    spark.range(10).write.parquet(p)
    assert(jobsIn(Tables.parquet(spark, p)) > 0)
    assert(jobsIn(Tables.parquet(spark, p)) === 0)
  }

  test("the cached schema equals the inferred one, nullability and metadata included") {
    val li = s"$sf/lineitem.parquet"
    Tables(spark, sf, "lineitem")
    assert(Tables(spark, sf, "lineitem").schema === spark.read.parquet(li).schema)
    // a non-nullable column carrying field metadata, and a partitioned
    // directory whose partition column's type comes from inference
    val p = s"${tempDir()}/t"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(20).select(col("id"), col("id").as("m", meta), (col("id") % 3).as("part"))
      .write.partitionBy("part").parquet(p)
    val fresh = spark.read.parquet(p)
    Tables.parquet(spark, p)
    val cached = Tables.parquet(spark, p)
    assert(cached.schema === fresh.schema)
    assert(cached.schema("m").metadata === meta)
    assert(cached.queryExecution.optimizedPlan.sameResult(fresh.queryExecution.optimizedPlan))
    assert(cached.collect().toSet === fresh.collect().toSet)
  }

  test("rewriting a path with an extra column re-infers its schema") {
    val p = s"${tempDir()}/t"
    spark.range(5).write.parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq === Seq("id"))
    spark.range(5).withColumn("extra", lit(1L)).write.mode("overwrite").parquet(p)
    val again = Tables.parquet(spark, p)
    assert(again.columns.toSeq === Seq("id", "extra"))
    assert(again.schema("extra").dataType === LongType)
  }

  test("reader options and inference confs are part of the cache key") {
    val p = s"${tempDir()}/t"
    spark.range(5).write.parquet(p)
    Tables.parquet(spark, p)
    // the same files under other reader options are another read
    val merge = Map("mergeSchema" -> "true")
    assert(jobsIn(Tables.parquet(spark, p, merge)) > 0)
    assert(jobsIn(Tables.parquet(spark, p, merge)) === 0)
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(k)
    try {
      spark.conf.set(k, (!prev.toBoolean).toString)
      assert(jobsIn(Tables.parquet(spark, p)) > 0)
      assert(jobsIn(Tables.parquet(spark, p)) === 0)
    } finally spark.conf.set(k, prev)
    // the entry under the original conf is still there
    assert(jobsIn(Tables.parquet(spark, p)) === 0)
  }

  // ------------------------------------------------------ codegen cache

  /** Compilations so far: the histogram records one sample per Janino
    * compile, i.e. per miss of the generated-code cache. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query mix with more generated classes than Spark's default cache recompiles nothing") {
    // the perfbench analytics mix: its generated source is the same on
    // every execution (no per-run literals), and together it generates
    // more classes than Spark's default 100-entry cache holds, so with
    // that default every class is evicted before its next use
    val names = Seq("q_a1_groupsum", "q_tpch_q1", "q_a9_stats", "q_a2_median",
      "q_a8_percentiles", "q_winsorize", "q_kll_rollup", "q_rollup", "q_range_join",
      "q_bucket_join", "q_p2_filter_project", "q_stream_window")
    def round(): Seq[(String, Long)] = names.map { q =>
      val c0 = compiles()
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      Timing.releaseResidue(spark)
      q -> (compiles() - c0)
    }
    // untimed warm-up: builds the once-per-session layouts the mix reads
    round()
    // then start from an empty cache, so round 1 compiles every class
    // one execution of the mix generates, whatever ran before
    val cache = {
      val gen = Class.forName("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      val m = gen.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(gen.getField("MODULE$").get(null))
    }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = round()
    val second = round()
    info(s"round 1: $first")
    info(s"round 2: $second")
    val classes = first.map(_._2).sum
    assert(classes > 100, s"the mix generates only $classes classes: $first")
    assert(second.map(_._2).sum === 0L, s"recompiled on repeat: $second")
  }
}

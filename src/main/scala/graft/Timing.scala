package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Shared measurement policy for [[Bench]] and [[StressSmoke]], so the
  * two artifacts stay methodologically identical: per-query median of
  * `reps` noop-sink writes (full row materialization through the sink
  * API — count() would let Catalyst prune column work), with failures
  * surfaced instead of folded into the timing.
  */
object Timing {

  /** Git HEAD of the working tree the measuring JVM ran from, with a
    * `-dirty` suffix when tracked files are modified — embedded in
    * every Bench/StressSmoke run artifact so the merge tools can
    * verify all inputs were produced at the HEAD they stamp (r12
    * ADVICE: merge-time stamping alone can launder stale runs into a
    * freshly-stamped artifact). */
  def headSha(): String =
    try {
      import scala.sys.process._
      val sha = Seq("git", "rev-parse", "HEAD").!!.trim
      val dirty = Seq("git", "status", "--porcelain").!!.trim.nonEmpty
      if (dirty) s"$sha-dirty" else sha
    } catch { case _: Exception => "unknown" }

  /** One measured query: median seconds over the reps, whether every
    * rep succeeded, and the output cardinality (−1 unless observed). */
  case class Measured(medianSec: Double, ok: Boolean, rows: Long)

  /** Raw per-rep samples behind [[Measured]] — for callers that pool
    * samples across batches (Bench's heavy-tail extra reps, r17) so
    * the median is over EVERY rep taken, not a median of medians. */
  case class Sampled(times: Seq[Double], ok: Boolean, rows: Long) {
    def medianSec: Double = {
      val s = times.sorted; s(s.length / 2)
    }
    def toMeasured: Measured = Measured(medianSec, ok, rows)
  }

  /** Run `fn`'s plan through a noop write `reps` times; return the
    * median seconds and whether every rep succeeded. A failed rep
    * reports its message on stderr — its (near-instant) duration would
    * otherwise masquerade as a fast success in the round artifact.
    *
    * With `observeRows` the row count rides on the timed writes
    * themselves (an `Observation` — one CollectMetrics count over rows
    * already materialized by the sink) instead of a separate
    * `fn(...).count()` afterwards, which re-executed the full query
    * once more per stress run and could fail a run whose timed reps
    * all succeeded. Both sides of a stress ratio measure with the same
    * flag, so the (tiny) metric overhead cancels. */
  def medianNoopWrite(name: String, fn: (SparkSession, String) => DataFrame,
                      spark: SparkSession, dir: String,
                      reps: Int, observeRows: Boolean = false): Measured =
    sampleNoopWrite(name, fn, spark, dir, reps, observeRows).toMeasured

  /** [[medianNoopWrite]]'s body, returning every rep's duration so a
    * caller can pool further batches before taking the median. */
  def sampleNoopWrite(name: String, fn: (SparkSession, String) => DataFrame,
                      spark: SparkSession, dir: String,
                      reps: Int, observeRows: Boolean = false): Sampled = {
    var failed = false
    var rows = -1L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try {
        if (observeRows) {
          val obs = Observation()
          fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          rows = obs.get("rows").asInstanceOf[Long]
        } else
          fn(spark, dir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          failed = true
          System.err.println(s"$name FAILED: ${String.valueOf(e.getMessage).take(200)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // OUTSIDE the timed region: drop everything the rep pinned in
      // the shared session (see releaseResidue) so rep k+1 — and every
      // later query — measures from the same clean block-manager state
      releaseResidue(spark)
      dt
    }
    // rows only from a fully successful run: a failed rep would leave
    // the previous rep's count (stale) or no count at all — consumers
    // must never see a partially-observed cardinality (r12 ADVICE)
    Sampled(times, !failed, if (failed) -1L else rows)
  }

  /** Drop the blocks a rep left in the shared session: SQL-cache
    * entries (`Dedup.applyExactBloom`'s winner cache — Spark's
    * CacheManager dedupes by analyzed plan, so reps 2+ of the same
    * query silently reused rep 1's cache and their medians were
    * flattered since the query's introduction; r17 VERDICT) and
    * persisted/locally-checkpointed RDD blocks (the multi-consumer
    * checkpoints inside dedup/text queries — left to context GC they
    * accumulate across the name-sorted 160-query run and raise
    * memory/GC pressure for LATER queries: the r17 min-basis
    * regressions in the untouched aggregate family). Runs BETWEEN
    * timed regions; blocking, so no async eviction bleeds into the
    * next rep. Each rep reconstructs its plans from the parquet
    * inputs, so nothing semantic is lost — this only stops state from
    * leaking between measurements. Opt out (to reproduce the old
    * shared-state behaviour) with SPARK_GRAFT_BENCH_ISOLATE=0.
    *
    * Contract for callers: NO session-level persisted data survives a
    * rep. Every cached table/plan and every persisted or checkpointed
    * RDD in the SparkContext is dropped — including one a caller
    * warmed before measuring — so a measurement never reads blocks an
    * earlier rep or query left behind.
    *
    * Two per-JVM caches are deliberately NOT residue and survive:
    * [[Tables.parquet]]'s schema cache and Spark's generated-code cache
    * (sized by [[GraftSession.configure]]). Neither holds a data block:
    * one maps a file set to its schema, the other source text to a
    * compiled class. The untimed first execution of a query (a warm-up
    * or check pass) fills them, and a user re-running a query pays
    * neither inference nor compilation again, so a measurement that
    * paid them every rep would time a cost no repeat query has. */
  private val isolateReps: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"

  def releaseResidue(spark: SparkSession): Unit = if (isolateReps) {
    // registry first (async eviction), then a BLOCKING unpersist of
    // every persistent RDD — which includes the cached plans' column
    // buffers — so no eviction overlaps the next timed region
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}

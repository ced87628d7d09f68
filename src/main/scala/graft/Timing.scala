package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The contract runner shared by [[Bench]], [[StressSmoke]] and
  * [[Verify]]: one query selection (`SPARK_GRAFT_ONLY`), one place that
  * catches a query's failure ([[runEach]]), one JSON writer, and the
  * noop-sink sampling both timing mains use.
  *
  * A timed query is the median of noop-sink writes (full row
  * materialization through the sink API — count() would let Catalyst
  * prune column work). The two timing mains sample differently on
  * purpose:
  *  - Bench takes [[Reps]] reps and tops a query whose median exceeds
  *    [[HeavySec]] up to [[HeavyReps]] pooled reps: one contention
  *    window in 3 reps moves the median of that >1.5 s tail most (r16
  *    interleaved p90 spread 0.635).
  *  - StressSmoke takes [[Reps]] flat reps (topping up its x10/x100
  *    probes, most of them over 1.5 s, would double the campaign's
  *    stress legs) and observes each query's output row count.
  */
object Timing {

  type Query = (SparkSession, String) => DataFrame

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.Timing")

  val Reps = 3
  val HeavySec = 1.5
  val HeavyReps = 7

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

  /** What [[runEach]] did: each selected query's result in run order,
    * and each failed query's message. A failed query is in `failures`
    * only. */
  case class Outcome[A](results: Seq[(String, A)], failures: Seq[(String, String)])

  /** `SPARK_GRAFT_ONLY`'s comma list; `None` (or an empty list) selects
    * every query. */
  def onlyNames(value: Option[String]): Option[Set[String]] =
    value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)

  /** Run `body` on each of `queries` that `only` selects. This is the
    * one place a query's failure is caught: an error of any kind, a
    * Catalyst StackOverflowError included, is recorded as that query's
    * failure with its message, and the next query runs. A name in
    * `only` that `queries` lacks is a failure too, so a typo cannot
    * pass as a clean, smaller run. */
  def runEach[A](queries: Seq[(String, Query)], only: Option[String])
                (body: (String, Query) => A): Outcome[A] = {
    val pick = onlyNames(only)
    val ran = queries.filter(q => pick.forall(_(q._1))).map { case (name, fn) =>
      name -> (try Right(body(name, fn)) catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        log.error(s"$name FAILED: $msg")
        Left(msg)
      })
    }
    val unknown = pick.getOrElse(Set.empty).toSeq.sorted
      .filterNot(queries.map(_._1).toSet).map(_ -> "no such query")
    Outcome(ran.collect { case (n, Right(a)) => n -> a },
      ran.collect { case (n, Left(m)) => n -> m } ++ unknown)
  }

  /** A JSON string literal: quote, backslash and every control char
    * (< 0x20) escaped — a tab or CR in hand-written oracle SQL would
    * otherwise make a reader's json.load fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of already-encoded values, in the given order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** A JSON array of strings. */
  def arr(items: Seq[String]): String = items.map(str).mkString("[", ",", "]")

  def write(path: String, json: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)

  /** One measured query: every rep's seconds and the output
    * cardinality (−1 unless observed). A caller may pool samples
    * (Bench's top-up), so the median is over EVERY rep taken, not a
    * median of medians. */
  case class Sampled(times: Seq[Double], rows: Long) {
    def medianSec: Double = {
      val s = times.sorted; s(s.length / 2)
    }
  }

  /** Run `fn`'s plan through a noop write `reps` times and return every
    * rep's seconds. The first failed rep throws, so an error's
    * near-instant duration can never pass as a fast measurement; the
    * rep's residue is released either way.
    *
    * With `observeRows` the row count rides on the timed writes
    * themselves (an `Observation` — one CollectMetrics count over rows
    * already materialized by the sink) instead of a separate
    * `fn(...).count()` afterwards, which re-executed the full query
    * once more per stress run. Both sides of a stress ratio measure
    * with the same flag, so the (tiny) metric overhead cancels. */
  def sampleNoopWrite(fn: Query, spark: SparkSession, dir: String,
                      reps: Int, observeRows: Boolean = false): Sampled = {
    var rows = -1L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      // the release runs OUTSIDE the timed region: drop everything the
      // rep pinned in the shared session (see releaseResidue) so rep
      // k+1 — and every later query — measures from the same clean
      // block-manager state
      try {
        if (observeRows) {
          val obs = Observation()
          fn(spark, dir).observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          rows = obs.get("rows").asInstanceOf[Long]
        } else
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally releaseResidue(spark)
    }
    Sampled(times, rows)
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
    * leaking between measurements.
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
  def releaseResidue(spark: SparkSession): Unit = {
    // registry first (async eviction), then a BLOCKING unpersist of
    // every persistent RDD — which includes the cached plans' column
    // buffers — so no eviction overlaps the next timed region
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}

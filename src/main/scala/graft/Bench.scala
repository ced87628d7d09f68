package graft

import org.apache.spark.sql.SparkSession

import graft.Timing.{arr, obj, str}

object Bench {

  /** Bench's sampling policy (see [[Timing]]): [[Timing.Reps]] reps,
    * and a query whose median exceeds [[Timing.HeavySec]] topped up to
    * [[Timing.HeavyReps]] with the median over the POOLED samples. */
  private def medianSec(fn: Timing.Query, spark: SparkSession, dir: String): Double = {
    val base = Timing.sampleNoopWrite(fn, spark, dir, Timing.Reps)
    if (base.medianSec <= Timing.HeavySec) base.medianSec
    else Timing.Sampled(base.times ++ Timing.sampleNoopWrite(fn, spark, dir,
      Timing.HeavyReps - Timing.Reps).times, base.rows).medianSec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // warm the session (codegen, shuffle machinery, parquet footers) so the
    // first measured query isn't charged ~7 s of one-time startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.all.foreach(n => graft.Tables(spark, sfDir, n).count())
    // Per-query medians: single-shot timing on this class of VM swings up
    // to 10x on identical code, which poisons round-over-round comparison.
    // name-sorted so run order (and who inherits residual JIT warmup) is
    // identical across rounds — artifacts stay comparable.
    val run = Timing.runEach(SparkEntry.queries.toSeq.sortBy(_._1), only)(
      (_, fn) => medianSec(fn, spark, sfDir))
    val total = run.results.map(_._2).sum
    // "failures" is present only when something broke, so the artifact's
    // happy-path shape is unchanged round over round
    val failures = if (run.failures.isEmpty) Nil
      else Seq("failures" -> arr(run.failures.map(_._1)))
    // a SPARK_GRAFT_ONLY run is NOT the round's full bench: label it
    // (metric + explicit query list) so a subset total can never be
    // mistaken for a full-suite artifact downstream
    val pick = Timing.onlyNames(only)
    val metric = if (pick.isEmpty) "total" else "subset_total"
    val head = Seq("metric" -> str(metric), "value" -> total.toString, "unit" -> str("sec"))
    // The full per-query JSON goes ONLY to the sidecar file, never to
    // stdout: the driver captures sbt stdout with a 2000-char tail
    // window, and the ~5 KB per-query line flooded it every round
    // (r9-r11: BENCH parsed:null). The sidecar is the durable artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    Timing.write(out, obj(head ++ Seq(
      "queries" -> obj(run.results.map { case (k, v) => k -> v.toString }),
      "sf" -> str(sfDir), "head_sha" -> str(Timing.headSha())) ++ failures ++
      pick.map(p => "only" -> arr(p.toSeq.sorted))))
    // Stdout carries ONE compact JSON line (totals + sidecar path): short
    // enough that no tail window truncates it, bare at column 0 (build.sbt
    // sets run/outputStrategy=StdoutOutput so sbt adds no "[info] "
    // prefix), and the only '{'-line in the run's stdout — any
    // line-scanning parser recovers the total and the per-query file.
    println(obj(head ++ Seq("n" -> run.results.size.toString, "sf" -> str(sfDir),
      "queries_file" -> str(out)) ++ failures))
    spark.stop()
    // a bench with broken queries must not look like a clean run to
    // callers that only check rc
    if (run.failures.nonEmpty) sys.exit(1)
  }
}

package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(cpus)
    // warm the session (codegen, shuffle machinery, parquet footers) so the
    // first measured query isn't charged ~7 s of one-time startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.all.foreach(n => graft.Tables(spark, sfDir, n).count())
    // Per-query median of `reps` runs (Timing.sampleNoopWrite): single-shot
    // timing on this class of VM swings up to 10x on identical code, which
    // poisons round-over-round comparison. name-sorted so run order (and who
    // inherits residual JIT warmup) is identical across rounds — artifacts
    // stay comparable.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(SparkEntry.queries.keySet)
    // Heavy-tail rep boost (r17 — VERDICT r16 item 3): the interleaved
    // regression gate's per-query spread was worst on the >1.5 s tail
    // (p90 rel spread 0.635 at r16), where one contention window in 3
    // reps moves the in-run median. Queries whose base median exceeds
    // SPARK_GRAFT_BENCH_HEAVY_SEC get topped up to
    // SPARK_GRAFT_BENCH_HEAVY_REPS total reps, with the median taken
    // over the POOLED samples (not a median of medians). Defaults keep
    // the artifact's methodology unchanged unless the campaign opts in.
    val heavySec = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_SEC", "1.5").toDouble
    val heavyReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_REPS", reps.toString).toInt
    val results = SparkEntry.queries.toSeq.filter(q => only(q._1))
      .sortBy(_._1).map { case (name, fn) =>
        val base = Timing.sampleNoopWrite(name, fn, spark, sfDir, reps)
        val m =
          if (base.ok && heavyReps > reps && base.medianSec > heavySec) {
            val extra = Timing.sampleNoopWrite(name, fn, spark, sfDir,
              heavyReps - reps)
            Timing.Sampled(base.times ++ extra.times,
              base.ok && extra.ok, base.rows)
          } else base
        (name, m.medianSec, m.ok)
      }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failures = results.collect { case (k, _, false) => s"\"" + k + "\"" }
    // "failures" is present only when something broke, so the artifact's
    // happy-path shape is unchanged round over round
    val failuresField =
      if (failures.isEmpty) "" else s""","failures":${failures.mkString("[", ",", "]")}"""
    // a SPARK_GRAFT_BENCH_ONLY run is NOT the round's full bench: label it
    // (metric + explicit query list) so a subset total can never be
    // mistaken for a full-suite artifact downstream
    val onlyField = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map { _ =>
      only.toSeq.sorted.map(q => s"\"" + q + "\"").mkString(""","only":[""", ",", "]")
    }.getOrElse("")
    val metric = if (onlyField.isEmpty) "total" else "subset_total"
    val json =
      s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","head_sha":"${Timing.headSha()}"$failuresField$onlyField}"""
    // The full per-query JSON goes ONLY to the sidecar file, never to
    // stdout: the driver captures sbt stdout with a 2000-char tail
    // window, and the ~5 KB per-query line flooded it every round
    // (r9-r11: BENCH parsed:null). The sidecar is the durable artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"bench artifact write to $out failed: ${e.getMessage}") }
    // Stdout carries ONE compact JSON line (totals + sidecar path): short
    // enough that no tail window truncates it, bare at column 0 (build.sbt
    // sets run/outputStrategy=StdoutOutput so sbt adds no "[info] "
    // prefix), and the only '{'-line in the run's stdout — any
    // line-scanning parser recovers the total and the per-query file.
    println(s"""{"metric":"$metric","value":$total,"unit":"sec","n":${results.size},"sf":"$sfDir","queries_file":"$out"$failuresField}""")
    spark.stop()
    // a bench with broken queries must not look like a clean run to
    // callers that only check rc (the timings of failed queries are
    // analysis-error times, not measurements)
    if (failures.nonEmpty) sys.exit(1)
  }
}

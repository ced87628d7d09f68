package graft

import graft.Timing.{obj, str}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val run = Timing.runEach(SparkEntry.queries.toSeq, sys.env.get("SPARK_GRAFT_ONLY")) {
      (name, fn) => fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    Timing.write(s"$outDir/oracle_sql.json",
      obj(SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> str(v) }))
    // a query that errors before producing output must surface as a
    // recorded failure, not silently go missing from the dump (a
    // downstream correctness artifact built from the dirs alone would
    // read as a clean run) — and the exit code must agree
    Timing.write(s"$outDir/verify_errors.json",
      obj(run.failures.map { case (k, v) => k -> str(v) }))
    spark.stop()
    if (run.failures.nonEmpty) sys.exit(1)
  }
}

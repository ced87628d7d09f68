package graft

/** Prints a registered query's AQE-FINALIZED physical plan — after one
  * execution, so runtime decisions (`ReusedExchange`/stage reuse, AQE
  * join conversions, skew splits, coalesced partitions) are visible.
  * `PLANS.md` (graft.Plans) dumps the STATIC plan, which can both miss
  * runtime reuse and show exchanges AQE later removes; when auditing
  * "does this subtree really recompute?", this is the ground truth.
  *
  * Usage: `sbt "runMain graft.PlanProbe <query> [sfDir]"`.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: PlanProbe <queryName> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)
    val df = SparkEntry.queries(name)(spark, sfDir)
    // drive THIS dataset's own QueryExecution: a write (or .rdd /
    // .foreach, which plan a separate rddQueryExecution) would leave
    // the printed AdaptiveSparkPlan at isFinalPlan=false. collect()
    // is the one action sharing the QueryExecution — fine for a
    // diagnostic probe (mind the driver heap on corpus-sized outputs).
    val n = df.collect().length
    println(s"== AQE-finalized plan: $name ($n rows) ==")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}

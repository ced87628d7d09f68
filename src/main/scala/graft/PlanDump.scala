package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Writes `explain("formatted")` for the given queries to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence an
  * optimization round commits (plans/rNN/). Unlike [[Plans]] (one
  * PLANS.md at sf0.001 / 4 partitions), this dumps ONE FILE PER QUERY
  * at bench conditions (sf0.1, 32 shuffle partitions) so plan diffs
  * line up with the numbers the bench reports.
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    Files.createDirectories(outDir)
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(mode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}

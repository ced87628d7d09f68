package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{lit, raise_error}

/** The contract runner the Bench, StressSmoke and Verify mains share:
  * selection, the one failure path, residue release and the JSON
  * writer. */
class TimingSpec extends SparkSpec {

  private val ok: Timing.Query = (s, _) => s.range(10).toDF()

  /** The runner's failure line, and the task- and write-failure
    * loggers: a query failing its noop write on purpose would print a
    * stack trace per failed task and an abort line per partition. */
  private def quietly[A](body: => A): A =
    QuietLogs("graft.Timing", "org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager", "org.apache.spark.util.Utils",
      "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
      "org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec",
      QuietLogs.ListenerBus)(body)

  test("only selects its queries, in run order; an unknown name is a failure") {
    val qs = Seq("q1" -> ok, "q2" -> ok, "q3" -> ok)
    def names(only: Option[String]) = Timing.runEach(qs, only)((n, _) => n)
    assert(names(Some(" q3, q1 ")).results.map(_._1) === Seq("q1", "q3"))
    assert(names(None).results.map(_._1) === Seq("q1", "q2", "q3"))
    assert(names(Some(" , ")).results.map(_._1) === Seq("q1", "q2", "q3"))
    val typo = names(Some("q2,q_missing"))
    assert(typo.results.map(_._1) === Seq("q2"))
    assert(typo.failures === Seq("q_missing" -> "no such query"))
  }

  test("construction and execution failures land in failures with their messages; the rest still time") {
    val qs = Seq[(String, Timing.Query)](
      "a_ok" -> ok,
      "b_construct" -> ((_, _) => throw new IllegalStateException("bad build")),
      "c_exec" -> ((s, _) => s.range(10).select(raise_error(lit("bad row")))),
      "d_ok" -> ok)
    val run = quietly(Timing.runEach(qs, None)(
      (_, fn) => Timing.sampleNoopWrite(fn, spark, sf, Timing.Reps).medianSec))
    assert(run.results.map(_._1) === Seq("a_ok", "d_ok"))
    assert(run.results.forall(_._2 > 0))
    val failures = run.failures.toMap
    assert(failures.keySet === Set("b_construct", "c_exec"))
    assert(failures("b_construct") === "IllegalStateException: bad build")
    assert(failures("c_exec").contains("bad row"), failures("c_exec"))
  }

  test("a failed rep leaves no persisted RDD or cached plan behind") {
    val leaky: Timing.Query = (s, _) => {
      s.sparkContext.parallelize(1 to 10).persist().count()
      val cached = s.range(100).toDF("id").cache()
      cached.count()
      cached.select(raise_error(lit("after persist")))
    }
    val run = quietly(Timing.runEach(Seq("leaky" -> leaky), None)(
      (_, fn) => Timing.sampleNoopWrite(fn, spark, sf, Timing.Reps)))
    assert(run.failures.map(_._1) === Seq("leaky"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failure message with quote, backslash and control chars round-trips through Jackson") {
    val msg = "a\"b\\c\nd\te\u0001f\r"
    val fails: Timing.Query = (_, _) => throw new RuntimeException(msg)
    val run = quietly(Timing.runEach(Seq("q \"x\"" -> fails), None)((_, fn) => fn(spark, sf)))
    val json = Timing.obj(run.failures.map { case (k, v) => k -> Timing.str(v) } ++
      Seq("names" -> Timing.arr(run.failures.map(_._1))))
    val tree = new ObjectMapper().readTree(json)
    assert(tree.get("q \"x\"").asText === s"RuntimeException: $msg")
    assert(tree.get("names").get(0).asText === "q \"x\"")
  }
}

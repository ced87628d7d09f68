package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.graftbridge.BusBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Every operator of a physical plan, through AQE's query stages. */
  def allOps(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allOps(a.executedPlan)
    case s: QueryStageExec        => allOps(s.plan)
    case other                    => other +: other.children.flatMap(allOps)
  }

  /** Runs `body` with the session confs `confs` set, and restores
    * (or unsets) them afterwards. */
  def withConfs[A](confs: (String, String)*)(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

/** Log scoping for cases that fail on purpose: `body` runs with the
  * named log4j loggers off. Their levels are restored once the listener
  * bus has delivered every event posted meanwhile, so a failure that a
  * listener re-logs on the bus thread is silenced too. Each expected
  * failure would otherwise print a full stack trace into the suite's
  * log. */
object QuietLogs {
  /** Re-logs a query's planning failure from Spark's listener bus. */
  val ListenerBus = "org.apache.spark.sql.util.ExecutionListenerBus"

  def apply[A](loggers: String*)(body: => A): A = {
    val levels = loggers.map(LogManager.getLogger(_).getLevel)
    loggers.foreach(Configurator.setLevel(_, Level.OFF))
    try body finally {
      BusBridge.drain(TestSession.spark.sparkContext)
      loggers.zip(levels).foreach { case (l, lv) => Configurator.setLevel(l, lv) }
    }
  }
}

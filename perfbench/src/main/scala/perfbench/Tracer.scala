package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark, through public hooks only.
  *
  * Jobs are attributed to a query's layer by the job group the harness
  * sets around each call (`pb-<exec>-construct`, `pb-<exec>-exec`);
  * stages and tasks follow their job, and so does the SQL execution a
  * job ran in (its `spark.sql.execution.id`), whose start and end come
  * from Spark's own SQL execution events. The sink call's Catalyst
  * phases come from its `QueryExecution.tracker`, taken when the write
  * command's `QueryExecutionListener.onSuccess` fires. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val stageGroup = mutable.Map.empty[Int, (String, Int)]
  private val groups = mutable.Map.empty[String, Counters]
  private val spans = mutable.Map.empty[String, mutable.ArrayBuffer[Span]]
  private val jobStarts = mutable.Map.empty[Int, (String, Long, Option[Long])]
  private val groupSql = mutable.Map.empty[String, mutable.LinkedHashSet[Long]]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val sqlEnd = mutable.Map.empty[Long, Long]
  private var writes = List.empty[Catalyst]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Wait until every event posted so far has been handled. */
  def drain(): Unit = BusBridge.drain(spark.sparkContext)

  /** Counters and spans of one job group, removed from the tracer
    * (call after [[drain]]): `sql <id>` for each SQL execution its jobs
    * ran in, `job <id>` (parent: its SQL execution, if any) and
    * `stage <id>` (parent: its job). */
  def take(group: String): (Counters, Seq[Span]) = synchronized {
    val sql = groupSql.remove(group).getOrElse(Nil).toSeq.flatMap { id =>
      for (t0 <- sqlStart.remove(id); t1 <- sqlEnd.remove(id))
        yield Span(s"sql $id", None, t0.toDouble, t1.toDouble)
    }
    (groups.remove(group).getOrElse(Counters()),
      sql ++ spans.remove(group).map(_.toSeq).getOrElse(Nil))
  }

  /** Catalyst phases of the write commands finished since the last
    * call, newest first (call after [[drain]]). */
  def takeWrites(): List[Catalyst] = synchronized {
    val w = writes; writes = Nil; w
  }

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = (g, e.jobId))
      groups.getOrElseUpdate(g, Counters()).jobs += 1
      val sql = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      sql.foreach(groupSql.getOrElseUpdate(g, mutable.LinkedHashSet.empty) += _)
      jobStarts(e.jobId) = (g, e.time, sql)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t0, sql) =>
      spans.getOrElseUpdate(g, mutable.ArrayBuffer.empty) +=
        Span(s"job ${e.jobId}", sql.map(id => s"sql $id"), t0.toDouble, e.time.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStart(s.executionId) = s.time }
    case s: SparkListenerSQLExecutionEnd => synchronized { sqlEnd(s.executionId) = s.time }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { case (g, job) =>
      groups.getOrElseUpdate(g, Counters()).stages += 1
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        spans.getOrElseUpdate(g, mutable.ArrayBuffer.empty) +=
          Span(s"stage ${info.stageId}", Some(s"job $job"), t0.toDouble, t1.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { case (g, _) =>
      val c = groups.getOrElseUpdate(g, Counters())
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val written = m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
        if (read == 0 && written == 0) c.emptyTasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private def isWrite(p: LogicalPlan): Boolean = p match {
    case _: V2WriteCommand | _: DataWritingCommand => true
    case _ => p.getClass.getSimpleName == "SaveIntoDataSourceCommand"
  }

  private def phases(qe: QueryExecution, ok: Boolean): Catalyst = {
    val ph = qe.tracker.phases
    def get(n: String) = ph.get(n).map(s => (s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    Catalyst(ok, get("analysis"), get("optimization"), get("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (isWrite(qe.logical)) synchronized { writes = phases(qe, ok = true) :: writes }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (isWrite(qe.logical)) synchronized { writes = phases(qe, ok = false) :: writes }
}

object Tracer {
  /** Task-level totals of one job group. */
  final case class Counters(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
                            var emptyTasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                            var gcMs: Long = 0, var inputBytes: Long = 0,
                            var shuffleWriteBytes: Long = 0, var shuffleReadBytes: Long = 0,
                            var spillBytes: Long = 0, var peakExecMem: Long = 0) {
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
      "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
      "peak_exec_mem_bytes" -> peakExecMem)
  }

  /** A SQL execution, job or stage interval, epoch milliseconds; a
    * stage names its job as parent, a job its SQL execution. */
  final case class Span(name: String, parent: Option[String], startMs: Double, endMs: Double)

  /** Catalyst phase intervals (epoch ms) of one write command. */
  final case class Catalyst(ok: Boolean, analysis: Option[(Double, Double)],
                            optimization: Option[(Double, Double)],
                            planning: Option[(Double, Double)])
}

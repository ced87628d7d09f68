package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry, Tables, Timing}
import graft.operators.{Bucketing, Layout}
import graft.pipelines.IngestionJob
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: one closed-loop client that runs a
  * workload's contract queries one at a time and records what each
  * call into the engine cost. It computes no statistics and judges
  * nothing — `run.py` does both from the record this writes.
  *
  * Usage: `Harness key=value ...` with keys
  *  - `mode`: `run` (set-up, check pass, timed passes) or `stamp`
  *    (digest every listed query once through both sinks);
  *  - `queries`: comma-separated contract query names, or `*` for
  *    all of them;
  *  - `data`: input directory (one parquet per table);
  *  - `work`: work directory for this run (tmpdir, warehouse,
  *    Spark local dir, parquet sink), created fresh by the caller;
  *  - `sink`: `noop` or `parquet` (`IngestionJob.saveTables`);
  *  - `seed`: orders each pass's queries;
  *  - `passes`: the fewest timed passes (the workload's fixed count);
  *  - `seconds`: the timed region runs whole passes until this many
  *    seconds have passed and at least `passes` passes are made;
  *  - `launched_ms`: epoch ms at which the caller started the JVM;
  *  - `trace`: `1` alternates untraced and traced passes, starting and
  *    ending with an untraced one;
  *  - `out`: where the JSON record goes.
  */
object Harness {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    val queries: Seq[String] =
      if (apply("queries") == "*") SparkEntry.queries.keys.toSeq.sorted
      else apply("queries").split(",").toSeq.filter(_.nonEmpty)
    val data: String = apply("data")
    val work: String = apply("work")
    val parquetSink: Boolean = kv.getOrElse("sink", "noop") == "parquet"
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val record = conf("mode") match {
      case "run"   => run(conf)
      case "stamp" => stamp(conf)
      case m       => sys.error(s"unknown mode $m")
    }
    Files.write(new File(conf("out")).toPath,
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ------------------------------------------------------------ setup

  /** The session set-up, in this run's own tmpdir and warehouse so the
    * once-per-session layout and stats work is paid on every run:
    * session start, warm-up (a codegen'd aggregate and one scan per
    * table), then the layouts and statistics the contract queries
    * would otherwise build inside their first execution. `jvm_s` is
    * process launch (`launched_ms`, from the caller) to this call. */
  private def setup(conf: Conf): (SparkSession, Map[String, Double]) = {
    val jvmS = (System.currentTimeMillis() - conf("launched_ms").toLong) / 1e3
    val dir = new File(conf.work)
    new File(dir, "tmp").mkdirs()
    System.setProperty("java.io.tmpdir", new File(dir, "tmp").getAbsolutePath)
    val t0 = System.nanoTime()
    val spark = GraftSession.localFs(GraftSession.configure(SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)))
      .getOrCreate()
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(n => Tables(spark, conf.data, n).count())
    val t2 = System.nanoTime()
    Tables.ensureStats(spark, conf.data, "lineitem",
      Seq("l_returnflag", "l_quantity", "l_extendedprice"))
    Bucketing.ensureTpchBuckets(spark, conf.data)
    Layout.ensureZOrderedLineitem(spark, conf.data)
    Tables.eventsByDay(spark, conf.data)
    val t3 = System.nanoTime()
    (spark, Map("jvm_s" -> jvmS, "session_s" -> (t1 - t0) / 1e9, "warm_s" -> (t2 - t1) / 1e9,
      "layout_s" -> (t3 - t2) / 1e9))
  }

  private def queryFns(conf: Conf): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    conf.queries.map(q => q -> all.getOrElse(q, sys.error(s"unknown contract query $q")))
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  // ------------------------------------------------------------- sinks

  /** Output files of the parquet sink for one table: (bytes, files). */
  private def stored(conf: Conf, q: String): (Long, Long) = {
    val files = Option(new File(conf.work, s"sink/$q").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length.toLong)
  }

  /** The workload's sink call: a noop write, or the ingestion job's
    * per-table save into this run's parquet directory. Returns the
    * saved row count, or None for the noop sink. A `Left` from
    * `saveTables` is rethrown so it counts as a failed execution. */
  private def sink(conf: Conf, q: String, df: DataFrame): Option[Long] =
    if (conf.parquetSink) {
      val out = new File(conf.work, "sink").getAbsolutePath
      IngestionJob.saveTables(Seq(q -> df), IngestionJob.parquetWriter(out))(q) match {
        case Right(n) => Some(n)
        case Left(msg) => throw new SinkFailure(msg)
      }
    } else {
      df.write.format("noop").mode("overwrite").save()
      None
    }

  final class SinkFailure(msg: String) extends RuntimeException(msg)

  /** Digest of what the workload's sink delivers: the collected result
    * for the noop sink, the parquet read back for the ingestion sink. */
  private def check(conf: Conf, spark: SparkSession, q: String,
                    fn: (SparkSession, String) => DataFrame): Map[String, Any] =
    try {
      val df = fn(spark, conf.data)
      val d =
        if (conf.parquetSink) {
          sink(conf, q, df)
          Digest.of(spark.read.parquet(new File(conf.work, s"sink/$q").getAbsolutePath))
        } else Digest.of(df)
      Map("digest" -> d.digest, "rows" -> d.rows)
    } catch { case NonFatal(e) => Map("error" -> message(e)) }
    finally Timing.releaseResidue(spark)

  // -------------------------------------------------------------- run

  private def run(conf: Conf): Map[String, Any] = {
    val (spark, setupTimes) = setup(conf)
    val fns = queryFns(conf)
    val seed = conf("seed").toLong
    val traced = conf("trace") == "1"
    val rng = new Random(seed)
    // untimed check pass: verifies every query's output against its
    // digest (in run.py) and warms codegen before the timed region
    val c0 = System.nanoTime()
    val checks = rng.shuffle(fns).map { case (q, fn) => q -> check(conf, spark, q, fn) }.toMap
    val checkS = (System.nanoTime() - c0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val seconds = conf("seconds").toDouble
    val minPasses = math.max(conf("passes").toInt, if (traced) 3 else 1)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var execs = 0
    val heap = ArrayBuffer.empty[Long]
    var paused = 0L
    val start = System.nanoTime()
    while (passes.size < minPasses || (traced && passes.size % 2 == 0) ||
      (System.nanoTime() - start - paused) / 1e9 < seconds) {
      // traced runs alternate: even passes untraced, odd passes traced,
      // and end untraced, so each traced pass is followed by an untraced
      // one on the same session to compare it with
      val tr = tracer.filter(_ => passes.size % 2 == 1)
      val rows = rng.shuffle(fns).map { case (q, fn) =>
        execs += 1
        execute(conf, spark, q, fn, tr, execs)
      }
      passes += Map("traced" -> tr.isDefined, "execs" -> rows)
      // outside the timed region: the heap retained after the pass
      val g0 = System.nanoTime()
      heap += retainedHeap(spark)
      paused += System.nanoTime() - g0
    }
    Map("cores" -> conf.cores, "setup" -> setupTimes, "checks" -> checks, "check_s" -> checkS,
      "timed_s" -> (System.nanoTime() - start - paused) / 1e9,
      "passes" -> passes, "retained_heap_bytes" -> heap)
  }

  /** One closed-loop execution: construct the DataFrame, hand it to the
    * sink, and (traced) collect what Spark reported for both calls. */
  private def execute(conf: Conf, spark: SparkSession, q: String,
                      fn: (SparkSession, String) => DataFrame,
                      tracer: Option[Tracer], id: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def ms(n: Long): Double = epoch0 + (n - nano0) / 1e6
    tracer.foreach(_ => sc.setJobGroup(s"pb-$id-construct", q))
    var failedIn: String = null
    var error: String = null
    var rows: Option[Long] = None
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      failedIn = "construct"
      val df = fn(spark, conf.data)
      t1 = System.nanoTime()
      tracer.foreach(_ => sc.setJobGroup(s"pb-$id-exec", q))
      failedIn = "exec"
      rows = sink(conf, q, df)
      failedIn = null
    } catch {
      case e: SinkFailure => failedIn = "sink"; error = message(e)
      case NonFatal(e) => error = message(e)
    }
    val t2 = System.nanoTime()
    if (failedIn == "construct") t1 = t2
    tracer.foreach(_ => sc.clearJobGroup())
    val base = Map("query" -> q, "construct_s" -> (t1 - t0) / 1e9,
      "sink_s" -> (t2 - t1) / 1e9, "latency_s" -> (t2 - t0) / 1e9,
      "failed_in" -> failedIn, "error" -> error, "rows" -> rows,
      "start_ms" -> ms(t0), "construct_end_ms" -> ms(t1), "end_ms" -> ms(t2))
    val sinkFiles =
      if (conf.parquetSink && failedIn == null) {
        val (bytes, files) = stored(conf, q)
        Map("output_bytes" -> bytes, "output_files" -> files)
      } else Map.empty[String, Any]
    val trace = tracer.map { t =>
      t.drain()
      val (cc, cs) = t.take(s"pb-$id-construct")
      val (ec, es) = t.take(s"pb-$id-exec")
      val cat = t.takeWrites().headOption
      def phase(p: Option[(Double, Double)]) = p.map { case (a, b) => Seq(a, b) }
      def spans(s: Seq[Tracer.Span]) =
        s.map(x => Map("name" -> x.name, "parent" -> x.parent, "start_ms" -> x.startMs,
          "end_ms" -> x.endMs))
      Map("construct" -> cc.toMap, "exec" -> ec.toMap,
        "construct_spans" -> spans(cs), "exec_spans" -> spans(es),
        "catalyst" -> cat.map(c => Map("ok" -> c.ok, "analysis" -> phase(c.analysis),
          "optimization" -> phase(c.optimization), "planning" -> phase(c.planning))))
    }.getOrElse(Map.empty)
    // outside the timed region: drop what the execution pinned in the
    // shared session so the next one starts from the same state
    Timing.releaseResidue(spark)
    base ++ sinkFiles ++ trace
  }

  // ------------------------------------------------------------ stamp

  /** Digest every listed query once through each sink, for the
    * committed digest file: the collected result and the parquet
    * written by `IngestionJob.saveTables` and read back. */
  private def stamp(conf: Conf): Map[String, Any] = {
    val (spark, _) = setup(conf)
    val noop = conf.copy(kv = conf.kv + ("sink" -> "noop"))
    val parquet = conf.copy(kv = conf.kv + ("sink" -> "parquet"))
    Map("results" -> queryFns(conf).map { case (q, fn) =>
      q -> Map("noop" -> check(noop, spark, q, fn), "parquet" -> check(parquet, spark, q, fn))
    }.toMap)
  }

  /** JVM heap still in use after a full collection: what the
    * session retains between queries. Heap in use at an arbitrary
    * moment mostly measures when the collector last ran. A fixed probe
    * query runs first, so what a query leaves behind until the next one
    * starts does not depend on which query ended the pass. The second
    * collection, after Spark's ContextCleaner has had time to drop the
    * blocks whose handles the first one freed, keeps the figure from
    * depending on that cleaner's timing. */
  private def retainedHeap(spark: SparkSession): Long = {
    spark.range(1).write.format("noop").mode("overwrite").save()
    Timing.releaseResidue(spark)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

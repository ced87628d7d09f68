package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming smoke: the windowed aggregate produces the same
  * result through the streaming engine (memory sink, processed
  * synchronously) as through the batch engine. */
class StreamingSpec extends SparkSpec {

  /** Logs "terminated with error" and the stack trace when a stream
    * fails; the guard cases below fail theirs on purpose. */
  private val StreamFailure = "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution"

  test("windowedAgg: streaming result == batch result on the events table") {
    val batch = StreamingOps.windowedAgg(Tables(spark, sf, "events"))
      .agg(sum("n"), count(lit(1))).collect()(0)

    // file-stream source needs a directory: stage the events parquet
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    val stream = StreamingOps.readEventStream(spark, dir.getPath)
    val q = StreamingOps.windowedAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("win_out").agg(sum("n"), count(lit(1))).collect()(0)
    assert(streamed === batch)
  }

  test("slidingAgg: streaming result == batch result (overlapping windows)") {
    val batch = StreamingOps.slidingAgg(Tables(spark, sf, "events"))
      .agg(sum("n"), count(lit(1))).collect()(0)
    val dir = java.nio.file.Files.createTempDirectory("graft_slide_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    val q = StreamingOps.slidingAgg(StreamingOps.readEventStream(spark, dir.getPath))
      .writeStream.outputMode("complete").format("memory").queryName("slide_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("slide_out").agg(sum("n"), count(lit(1))).collect()(0)
    assert(streamed === batch)
    // every event lands in exactly windowLen/slide = 2 windows
    val total = Tables(spark, sf, "events").count()
    assert(batch.getLong(0) === 2 * total)
  }

  test("streamToTable e2e: windowed agg → foreachBatch → Derby JDBC, replace-idempotent") {
    // the two halves of the beyond-reference surface composed: the
    // streaming ops feeding the ingestion JDBC sink — ingestion.py's
    // production shape over a live stream
    val dir = java.nio.file.Files.createTempDirectory("graft_s2t_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    val dbPath = java.nio.file.Files.createTempDirectory("graft_s2t_db_").resolve("db")
    val url = s"jdbc:derby:$dbPath;create=true"
    val writer = graft.pipelines.IngestionJob.jdbcWriter(url, "app", "app", dbSchema = "APP") _
    def run(): Unit = {
      val cp = java.nio.file.Files.createTempDirectory("graft_s2t_cp_").toString
      val q = StreamingOps.streamToTable(
        StreamingOps.windowedAgg(StreamingOps.readEventStream(spark, dir.getPath)),
        "win_load", writer, cp, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    run()
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "APP.win_load")
      .option("user", "app").option("password", "app").load()
    val batch = StreamingOps.windowedAgg(Tables(spark, sf, "events"))
      .agg(sum("n"), count(lit(1))).collect()(0)
    val loaded = readBack().agg(sum("n"), count(lit(1))).collect()(0)
    assert(loaded === batch)
    // redelivery idempotence: running the same load again (fresh
    // checkpoint = the batch re-runs from scratch) REPLACES the
    // snapshot — identical table, no appended duplicates
    run()
    assert(readBack().agg(sum("n"), count(lit(1))).collect()(0) === batch)
  }

  test("stateful sessionCounts (mapGroupsWithState) matches batch sessionize") {
    import spark.implicits._
    // batch truth
    val batch = graft.operators.Windows.sessionize(
      Tables.withEpochSeconds(Tables(spark, sf, "events")),
      "user_id", col("s"), gapSeconds = 1800)
      .groupBy("user_id").agg(max("session_id").as("n_sessions"))
      .as[(Long, Long)].collect().toMap

    val dir = java.nio.file.Files.createTempDirectory("graft_sess_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    val q = StreamingOps.sessionCounts(StreamingOps.readEventStream(spark, dir.getPath))
      .writeStream.outputMode("update").format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sess_out")
      .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("stateful streaming under the RocksDB state store (the 100 TB keyed-state path)") {
    import spark.implicits._
    // the default HDFS-backed store keeps every key's state on the
    // executor HEAP — the one piece of the streaming extension that
    // cannot hold 100 TB-scale keyed state. RocksDB spills to local
    // disk with an off-heap working set; this proves the engine's
    // stateful operators (mapGroupsWithState sessionization) run —
    // and agree with batch — under the production provider. The conf
    // is read at query START, so setting it session-wide here scopes
    // it to this query; restored in finally for the other suites.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = graft.operators.Windows.sessionize(
        Tables.withEpochSeconds(Tables(spark, sf, "events")),
        "user_id", col("s"), gapSeconds = 1800)
        .groupBy("user_id").agg(max("session_id").as("n_sessions"))
        .as[(Long, Long)].collect().toMap
      val dir = java.nio.file.Files.createTempDirectory("graft_rocks_").toFile
      dir.deleteOnExit()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(dir.getPath, "events.parquet"))
      val q = StreamingOps.sessionCounts(StreamingOps.readEventStream(spark, dir.getPath))
        .writeStream.outputMode("update").format("memory").queryName("rocks_out")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // the query really ran on RocksDB, not a silent fallback: the
      // provider reports its own custom metrics in the progress
      assert(q.lastProgress.json.toLowerCase.contains("rocksdb"))
      val streamed = spark.table("rocks_out")
        .select("user_id", "n_sessions").as[(Long, Long)].collect().toMap
      assert(streamed === batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming dropDuplicates dedups the event stream with a watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sdd_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "a.parquet"))
    java.nio.file.Files.copy(                       // same data twice → dups
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "b.parquet"))
    val raw = StreamingOps.readEventStream(spark, dir.getPath)
    val stream = raw
      .withColumn("event_time", StreamingOps.tsCol(raw))
      .withWatermark("event_time", "1 hour")
      .dropDuplicates("event_id")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("dedup_out").count()
    val expected = Tables(spark, sf, "events").count()
    assert(n === expected)  // doubled input, deduped back to the original count
  }

  test("streaming dedupExact keeps first arrival per content, matches batch applyExact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the quick brown fox"),   // dup of 1
      (3L, "JUMPS over"), (4L, "jumps over"),                     // dup after normalize
      (5L, "unique content here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_sdx_").toFile
    dir.deleteOnExit()
    docs.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.getPath)
    val q = StreamingOps.dedupExact(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory").queryName("sdx_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("sdx_out")
      .select("doc_id").as[Long].collect().toSet
    val batch = graft.operators.Dedup.applyExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set(1L, 3L, 5L))
  }

  test("dedupExactWatermarked drops within-watermark duplicates with bounded state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    val out = StreamingOps.dedupExactWatermarked(
      docs, "text", "event_time", delay = "1 hour")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdw_out").start()
    // batch 1: first arrival of "a"; batch 2: a dup of "a" 10 min later
    // (inside the watermark → dropped) and a fresh "b"
    in.addData((1L, "a", 1000L))
    q.processAllAvailable()
    in.addData((2L, "a", 1600L), (3L, "b", 1700L))
    q.processAllAvailable()
    val kept = spark.table("sdw_out").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(kept === Set(1L, 3L))
  }

  test("dedupMinhashStream: batch 2 dedups against batch 1's persisted ledger") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_mhstream_")
    val ledgerDir = tmp.resolve("ledger").toString
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "pack my box with five dozen liquor jugs now"
    val textC = "sphinx of black quartz judge my vow again today"
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupMinhashStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt").toString,
      emit = b => kept.synchronized {
        kept ++= b.select("doc_id").as[Long].collect()
      },
      w = 3, numHashes = 16, bands = 8, threshold = 0.5)
    // batch 1: two distinct docs — both kept, both enter the ledger
    in.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    assert(kept.toSet === Set(1L, 2L))
    // batch 2: doc 3 duplicates HISTORY doc 1 (cross-batch: only the
    // persisted ledger can catch it), docs 4/5 duplicate each other
    // WITHIN the batch (min id kept)
    in.addData((3L, textA), (4L, textC), (5L, textC))
    q.processAllAvailable()
    q.stop()
    assert(kept.toSet === Set(1L, 2L, 4L))
    // the ledger holds exactly the kept docs' signatures, one batch=N
    // partition per micro-batch (numHashes longs per doc, no text)
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.select("doc").as[Long].collect().toSet === Set(1L, 2L, 4L))
    // doc + s0..s15 (+ the batch=N partition column the root-dir read
    // discovers; the operator's own ledger read passes leaf dirs, so
    // applyMinhashIncremental sees exactly the 17 signature columns)
    assert(ledger.drop("batch").columns.length === 17)
  }

  test("dedupExactStream: cross-batch exact dup dropped via the fingerprint ledger") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_exstream_")
    val ledgerDir = tmp.resolve("ledger").toString
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupExactStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt").toString,
      emit = b => kept.synchronized {
        kept ++= b.select("doc_id").as[Long].collect()
      })
    in.addData((1L, "alpha"), (2L, "beta"))
    q.processAllAvailable()
    // batch 2: doc 3 = exact dup of HISTORY doc 1; docs 4/5 dup each
    // other within the batch (min id kept); doc 6 fresh
    in.addData((3L, "alpha"), (4L, "gamma"), (5L, "gamma"), (6L, "delta"))
    q.processAllAvailable()
    q.stop()
    assert(kept.toSet === Set(1L, 2L, 4L, 6L))
    // ledger = one md5 fingerprint per kept content, per-batch partitions
    val ledger = spark.read.parquet(ledgerDir)
    assert(ledger.count() === 4L)
    assert(ledger.drop("batch").columns.toSeq === Seq("fp"))
  }

  test("compactLedger: folded history still dedups, dir count drops, layout stays live") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_")
    val ledgerDir = tmp.resolve("ledger").toString
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupExactStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt").toString,
      emit = b => kept.synchronized {
        kept ++= b.select("doc_id").as[Long].collect()
      })
    // three committed micro-batches of distinct content
    in.addData((1L, "alpha")); q.processAllAvailable()
    in.addData((2L, "beta"));  q.processAllAvailable()
    in.addData((3L, "gamma")); q.processAllAvailable()
    def batchDirs() = new java.io.File(ledgerDir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(batchDirs().toSeq === Seq("batch=0", "batch=1", "batch=2"))
    // compact while the stream is live: batches 0..2 are committed
    // (processAllAvailable returned), so none of them can re-run
    assert(StreamingOps.compactLedger(spark, ledgerDir, upToBatch = 2) === 3)
    assert(batchDirs().toSeq === Seq("batch=0-2-g1"))
    assert(spark.read.parquet(ledgerDir + "/batch=0-2-g1").count() === 3L)
    // batch 3 still dedups against the FULL (now consolidated) history
    in.addData((4L, "alpha"), (5L, "delta")); q.processAllAvailable()
    assert(kept.toSet === Set(1L, 2L, 3L, 5L))
    assert(batchDirs().toSeq === Seq("batch=0-2-g1", "batch=3"))
    // a second compaction folds the consolidated dir with the new
    // plain one (gen bumps — names never collide), history preserved
    assert(StreamingOps.compactLedger(spark, ledgerDir, upToBatch = 3) === 2)
    assert(batchDirs().toSeq === Seq("batch=0-3-g2"))
    in.addData((6L, "delta"), (7L, "epsilon")); q.processAllAvailable()
    q.stop()
    assert(kept.toSet === Set(1L, 2L, 3L, 5L, 7L))
    // nothing ≤ upToBatch left to fold → no-op
    assert(StreamingOps.compactLedger(spark, ledgerDir, upToBatch = 3) === 0)
  }

  test("compactLedger crash paths: stray temp cleaned, superset history converges") {
    import spark.implicits._
    // simulate the two crash residues the publish-then-retire protocol
    // can leave: (a) a _compacting temp from a pass that died before
    // rename — must be invisible to reads and cleaned by the next pass;
    // (b) a published consolidated dir WITH its source dirs still
    // present (died between rename and deletes) — duplicate history
    // rows that the next pass must fold back to a distinct set
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash_")
    val ledgerDir = tmp.resolve("ledger").toString
    def writeBatch(n: Long, fps: Seq[String]): Unit =
      fps.toDF("fp").coalesce(1).write.mode("overwrite")
        .parquet(s"$ledgerDir/batch=$n")
    writeBatch(0, Seq("a", "b"))
    writeBatch(1, Seq("c"))
    // (a) stray temp with garbage rows — never part of history
    Seq("zz").toDF("fp").write.parquet(s"$ledgerDir/_compacting")
    // (b) a prior pass already published batch=0-1-g1 but crashed
    // before retiring the sources: duplicates of a, b, c on disk
    spark.read.parquet(s"$ledgerDir/batch=0", s"$ledgerDir/batch=1")
      .write.parquet(s"$ledgerDir/batch=0-1-g1")
    // a re-run folds sources + the published dir, distinct()s the
    // duplicates, bumps the generation, and retires everything stale
    assert(StreamingOps.compactLedger(spark, ledgerDir, upToBatch = 1) === 3)
    val dirs = new java.io.File(ledgerDir).listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("batch=0-1-g2"))
    assert(spark.read.parquet(s"$ledgerDir/batch=0-1-g2")
      .as[String].collect().sorted.toSeq === Seq("a", "b", "c"))
  }

  test("ledgerStream fails fast when a fresh checkpoint reuses an old ledger") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_guard_")
    val ledgerDir = tmp.resolve("ledger").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupExactStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData((1L, "alpha")); q.processAllAvailable()
    in.addData((2L, "beta"));  q.processAllAvailable()
    q.stop()
    // same ledger, FRESH checkpoint: batchId restarts at 0 while the
    // ledger still covers 0..1 — the r12 ADVICE corruption scenario
    // (overwrite of batch=0 under surviving batch=1 history). The
    // guard must kill the batch instead of half-destroying the ledger.
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.dedupExactStream(
      in2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt2").toString, emit = _ => ())
    in2.addData((3L, "gamma"))
    val e = QuietLogs(StreamFailure)(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    })
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("reset without")), messages(e).mkString(" | "))
    // and the old ledger survives untouched
    assert(spark.read.parquet(ledgerDir).count() === 2L)
  }

  test("aggStateStream maintains per-key state across micro-batches, equals batch recompute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_aggstate_")
    val stateDir = tmp.resolve("state").toString
    @volatile var last: Array[(String, Long, Double, Double, Double, Long)] = Array.empty
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString,
      emit = b => last = b
        .select("key", "n", "sum_v", "min_v", "max_v", "nd_est")
        .as[(String, Long, Double, Double, Double, Long)].collect())
    val b1 = Seq(("a", 1.5, 10L), ("a", 2.5, 11L), ("b", 9.0, 20L))
    val b2 = Seq(("a", 4.0, 10L), ("b", -1.0, 21L), ("c", 0.5, 30L))
    val b3 = Seq(("c", 8.0, 31L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val expected = Sketches.readState(
      Sketches.aggState((b1 ++ b2 ++ b3).toDF("key", "v", "u"), Seq("key"), "v", "u"))
      .select("key", "n", "sum_v", "min_v", "max_v", "nd_est")
      .as[(String, Long, Double, Double, Double, Long)].collect()
    assert(last.sortBy(_._1).toSeq === expected.sortBy(_._1).toSeq)
    // tiny exact distincts: the HLL estimate is exact at this scale
    assert(last.map(_._1).toSet === Set("a", "b", "c"))
    assert(last.find(_._1 == "a").get._6 === 2L)
    // one snapshot dir per micro-batch. keepLastN = 1 is BANNED (r13
    // ADVICE: a failed batch whose own snapshot survived a 1-deep
    // prune would rebuild state from itself alone); keepLastN = 2
    // keeps the newest snapshot AND its predecessor
    val root = new java.io.File(stateDir)
    assert(root.listFiles().count(_.getName.startsWith("state=")) === 3)
    intercept[IllegalArgumentException] {
      StreamingOps.pruneStateSnapshots(spark, stateDir, keepLastN = 1)
    }
    assert(StreamingOps.pruneStateSnapshots(spark, stateDir, keepLastN = 2) === 1)
    assert(root.listFiles().filter(_.getName.startsWith("state="))
      .map(_.getName).sorted.toSeq === Seq("state=1", "state=2"))
    // the surviving latest snapshot still renders correctly
    val rendered = Sketches.readState(spark.read.parquet(s"$stateDir/state=2"))
      .select("key", "n").as[(String, Long)].collect().toMap
    assert(rendered === Map("a" -> 3L, "b" -> 2L, "c" -> 2L))
  }

  test("dedupExactStream auto-compaction: dirs stay bounded, results equal the unmaintained run") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // five micro-batches with cross-batch dups, run twice: maintained
    // (maintainEvery = 2 → compaction fires inside foreachBatch at
    // batches 2 and 4) and unmaintained — kept sets must be identical
    // (r13 VERDICT item 3: maintenance must be policy, not memory)
    val batches = Seq(
      Seq((1L, "alpha"), (2L, "beta")),
      Seq((3L, "alpha"), (4L, "gamma")),          // 3 dups history
      Seq((5L, "delta")),
      Seq((6L, "gamma"), (7L, "epsilon")),        // 6 dups history
      Seq((8L, "zeta"), (9L, "beta")))            // 9 dups history
    def run(maintainEvery: Int, tag: String): (Set[Long], Seq[String]) = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_autoc_$tag")
      val ledgerDir = tmp.resolve("ledger").toString
      val kept = scala.collection.mutable.ArrayBuffer[Long]()
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupExactStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        ledgerDir, tmp.resolve("ckpt").toString,
        emit = b => kept.synchronized {
          kept ++= b.select("doc_id").as[Long].collect()
        },
        maintainEvery = maintainEvery)
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val dirs = new java.io.File(ledgerDir).listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).sorted.toSeq
      (kept.toSet, dirs)
    }
    val (keptM, dirsM) = run(2, "on")
    val (keptU, dirsU) = run(0, "off")
    assert(keptM === keptU)
    assert(keptM === Set(1L, 2L, 4L, 5L, 7L, 8L))
    // unmaintained: one dir per batch; maintained: batch 4's pass
    // folded everything ≤ 3 into one consolidated dir + batch=4
    assert(dirsU === Seq("batch=0", "batch=1", "batch=2", "batch=3", "batch=4"))
    assert(dirsM === Seq("batch=0-3-g2", "batch=4"), dirsM.mkString(","))
  }

  test("aggStateStream auto-prune: snapshots stay bounded, state equals batch recompute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_autoprune_")
    val stateDir = tmp.resolve("state").toString
    @volatile var last: Array[(String, Long, Double)] = Array.empty
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString,
      emit = b => last = b.select("key", "n", "sum_v")
        .as[(String, Long, Double)].collect(),
      maintainEvery = 2)
    val all = (0 until 5).map(i =>
      Seq((s"k${i % 2}", i + 0.5, i.toLong), ("k0", 2.0 * i, 100L + i)))
    all.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // prune fired at batches 2 and 4 with keepLastN = 2: exactly
    // state=3 and state=4 survive five batches
    val snaps = new java.io.File(stateDir).listFiles
      .filter(_.getName.startsWith("state=")).map(_.getName).sorted.toSeq
    assert(snaps === Seq("state=3", "state=4"), snaps.mkString(","))
    // and the maintained state still equals the from-scratch aggregate
    val expected = Sketches.readState(
      Sketches.aggState(all.flatten.toDF("key", "v", "u"), Seq("key"), "v", "u"))
      .select("key", "n", "sum_v").as[(String, Long, Double)].collect()
    assert(last.sortBy(_._1).toSeq === expected.sortBy(_._1).toSeq)
  }

  test("aggStateStream fullState: streaming combined state equals the batch aggStateFull") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_fullstate_")
    @volatile var last: Array[(String, Long, Double, Long, Long, Double, Double)] = Array.empty
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      tmp.resolve("state").toString, tmp.resolve("ckpt").toString,
      emit = b => last = b
        .select("key", "n", "sum_v", "nd_est", "nd_theta_est", "q50", "q90")
        .as[(String, Long, Double, Long, Long, Double, Double)].collect(),
      fullState = true)
    val b1 = (0 until 60).map(i => (s"k${i % 2}", i.toDouble, i.toLong % 17))
    val b2 = (60 until 100).map(i => (s"k${i % 2}", i.toDouble, i.toLong % 29))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val expected = Sketches.readStateFull(
      Sketches.aggStateFull((b1 ++ b2).toDF("key", "v", "u"), Seq("key"), "v", "u"))
      .select("key", "n", "sum_v", "nd_est", "nd_theta_est", "q50", "q90")
      .as[(String, Long, Double, Long, Long, Double, Double)].collect()
    // everything is in the sketches' exact regimes at this size, so
    // even the estimates must agree with the one-shot batch aggregate
    assert(last.sortBy(_._1).toSeq === expected.sortBy(_._1).toSeq)
  }

  test("aggStateStream fullState composes with auto-prune: bounded snapshots, exact state intact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx = spark.sqlContext
    // the two r14 features together: combined state rows under the
    // every-N-batches retention policy — prune must never break the
    // incremental updateStateFull chain
    val tmp = java.nio.file.Files.createTempDirectory("graft_fullprune_")
    val stateDir = tmp.resolve("state").toString
    @volatile var last: Array[(String, Long, Double, Double)] = Array.empty
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString,
      emit = b => last = b.select("key", "n", "sum_v", "q50")
        .as[(String, Long, Double, Double)].collect(),
      maintainEvery = 2, fullState = true)
    val all = (0 until 5).map(i =>
      Seq((s"k${i % 2}", i + 0.25, i.toLong), ("k1", 3.0 * i, 50L + i)))
    all.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val snaps = new java.io.File(stateDir).listFiles
      .filter(_.getName.startsWith("state=")).map(_.getName).sorted.toSeq
    assert(snaps === Seq("state=3", "state=4"), snaps.mkString(","))
    val expected = Sketches.readStateFull(
      Sketches.aggStateFull(all.flatten.toDF("key", "v", "u"), Seq("key"), "v", "u"))
      .select("key", "n", "sum_v", "q50")
      .as[(String, Long, Double, Double)].collect()
    assert(last.sortBy(_._1).toSeq === expected.sortBy(_._1).toSeq)
  }

  test("aggStateStream fails fast on an orphaned own-snapshot (history lost to an over-prune)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_orphan_")
    val stateDir = tmp.resolve("state").toString
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData(("a", 1.0, 1L)); q.processAllAvailable()
    in.addData(("a", 2.0, 2L)); q.processAllAvailable()
    q.stop()
    // simulate the r13 ADVICE scenario: batch 2 wrote state=2 then
    // failed before committing, and every predecessor was pruned away
    // — the re-run of batch 2 must NOT rebuild state from itself alone
    val root = new java.io.File(stateDir)
    assert(new java.io.File(root, "state=0").listFiles != null)
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete)); f.delete(); ()
    }
    delete(new java.io.File(root, "state=0"))
    assert(new java.io.File(root, "state=1")
      .renameTo(new java.io.File(root, "state=2")))
    // restart the SAME source against the SAME checkpoint: batches 0-1
    // are committed, so the next micro-batch is id 2 — whose own
    // state=2 dir exists with no predecessor
    val q2 = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData(("b", 3.0, 3L))
    val e = QuietLogs(StreamFailure)(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    })
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("no prior")), messages(e).mkString(" | "))
  }

  test("aggStateStream fails fast when the whole state dir was wiped mid-stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // r14 ADVICE: the orphaned-snapshot guard only fired when the
    // re-running batch's OWN state=N dir survived; an over-prune or
    // external wipe that removed EVERY snapshot fell through to the
    // fresh-start branch and silently rebuilt state from the current
    // batch alone — same history loss, other shape
    val tmp = java.nio.file.Files.createTempDirectory("graft_wiped_")
    val stateDir = tmp.resolve("state").toString
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData(("a", 1.0, 1L)); q.processAllAvailable()
    in.addData(("a", 2.0, 2L)); q.processAllAvailable()
    q.stop()
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete)); f.delete(); ()
    }
    delete(new java.io.File(stateDir)) // external wipe of ALL snapshots
    val q2 = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData(("b", 3.0, 3L))
    val e = QuietLogs(StreamFailure)(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    })
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("wiped outside")),
      messages(e).mkString(" | "))
  }

  test("auto-compaction crash between emit and compaction: restart converges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // r14 VERDICT item 6: compactLedger(upToBatch = batchId − 1) fires
    // inside foreachBatch AFTER emit — so a crash in that window
    // re-runs the batch with its own ledger dir already written and
    // the maintenance pass still pending. The re-run must neither
    // dedup the batch against its half-written self, double-append,
    // nor skip the compaction — final kept set and ledger layout equal
    // the crash-free maintained run.
    val tmp = java.nio.file.Files.createTempDirectory("graft_autocrash_")
    val ledgerDir = tmp.resolve("ledger").toString
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    var crashed = false
    val in = MemoryStream[(Long, String)]
    def start() = StreamingOps.dedupExactStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      ledgerDir, tmp.resolve("ckpt").toString,
      emit = b => kept.synchronized {
        val ids = b.select("doc_id").as[Long].collect()
        // first delivery of batch 2 (doc 5) dies IN emit: after the
        // ledger write, before the batch-2 compaction pass
        if (!crashed && ids.contains(5L)) {
          crashed = true
          throw new IllegalStateException("emit sink died")
        }
        kept ++= ids
      },
      maintainEvery = 2)
    val q = start()
    in.addData((1L, "alpha"), (2L, "beta"));  q.processAllAvailable()
    in.addData((3L, "alpha"), (4L, "gamma")); q.processAllAvailable()
    in.addData((5L, "delta"))
    QuietLogs(StreamFailure)(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    })
    q.stop()
    // batch 2's own ledger dir was written before the crash — the
    // exact window under test
    assert(new java.io.File(ledgerDir, "batch=2").isDirectory)
    val q2 = start() // same checkpoint: batch 2 re-runs
    q2.processAllAvailable()
    in.addData((6L, "gamma"), (7L, "epsilon")); q2.processAllAvailable()
    in.addData((8L, "zeta"), (9L, "beta"));     q2.processAllAvailable()
    q2.stop()
    assert(kept.toSet === Set(1L, 2L, 4L, 5L, 7L, 8L))
    assert(kept.size === 6, s"double-emitted: $kept")
    // the re-run's batch-2 compaction folded 0..1; batch 4's folded ≤3
    val dirs = new java.io.File(ledgerDir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq
    assert(dirs === Seq("batch=0-3-g2", "batch=4"), dirs.mkString(","))
    // converged history: every kept content fingerprint exactly once
    assert(spark.read.parquet(ledgerDir).select("fp").distinct().count() === 6L)
    assert(spark.read.parquet(ledgerDir).count() === 6L)
  }

  test("aggStateStream fails fast when a fresh checkpoint reuses an old state dir") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_aggguard_")
    val stateDir = tmp.resolve("state").toString
    val in = MemoryStream[(String, Double, Long)]
    val q = StreamingOps.aggStateStream(
      in.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt").toString, emit = _ => ())
    in.addData(("a", 1.0, 1L)); q.processAllAvailable()
    in.addData(("a", 2.0, 2L)); q.processAllAvailable()
    q.stop()
    // fresh checkpoint restarts batchId at 0 while state=1 survives:
    // the guard must refuse rather than fork a stale lineage
    val in2 = MemoryStream[(String, Double, Long)]
    val q2 = StreamingOps.aggStateStream(
      in2.toDF().toDF("key", "v", "u"), Seq("key"), "v", "u",
      stateDir, tmp.resolve("ckpt2").toString, emit = _ => ())
    in2.addData(("b", 3.0, 3L))
    val e = QuietLogs(StreamFailure)(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    })
    q2.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("reset without")), messages(e).mkString(" | "))
  }

  test("followWithinJoin: stream-stream join == batch join (views → purchases)") {
    import spark.implicits._
    val ev = Tables(spark, sf, "events")
    val batch = StreamingOps.followWithinJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"), within = "6 hours")
      .select("l_event", "r_event").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    // two independent stream reads of the same source — a genuine
    // stream-stream join with per-side watermarks, not a self-join alias
    val views = StreamingOps.readEventStream(spark, dir.getPath)
      .filter(col("event_type") === "view")
    val purchases = StreamingOps.readEventStream(spark, dir.getPath)
      .filter(col("event_type") === "purchase")
    val q = StreamingOps.followWithinJoin(views, purchases, within = "6 hours")
      .writeStream.outputMode("append").format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ssj_out")
      .select("l_event", "r_event").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("sessionize runs on the event stream shape (batch check)") {
    import spark.implicits._
    val df = Seq((1L, 0L), (1L, 100L), (1L, 5000L), (2L, 0L))
      .toDF("user_id", "s")
    val got = graft.operators.Windows.sessionize(df, "user_id", col("s"), gapSeconds = 1800)
      .groupBy("user_id").agg(max("session_id").as("ns"))
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L)))
  }

  test("session_window merges an event at exactly start+gap (inclusive end)") {
    import spark.implicits._
    // 0s and 1800s must MERGE (session_window's end is inclusive for
    // merging — verified against a real boundary pair at sf0.1);
    // 3601s (gap 1801 > 1800) starts a new session. The DuckDB oracle
    // models this with a STRICTLY-greater new-session test.
    val ev = Seq(1L -> 0L, 2L -> 1800L, 3L -> 3601L)
      .map { case (id, s) => (id,
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)),
        7L, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ns = StreamingOps.sessionWindowAgg(ev)
      .collect().map(_.getAs[Long]("n")).sorted.toSeq
    assert(ns === Seq(1L, 2L))
  }
}

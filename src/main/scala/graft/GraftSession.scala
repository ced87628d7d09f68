package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * - `shuffle.partitions` sized to the core count (not the 200
  *   default) — right for local[32]; on a cluster this is overridden
  *   by AQE coalescing anyway.
  * - AQE on: runtime re-planning (skew-join splitting, partition
  *   coalescing, broadcast-join demotion/promotion) is the main
  *   defence when the same plans run at 1000× the data.
  * - `nanosAsLong`: some driver testdata generations ship `events.ts`
  *   as parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  *   rejects by default; this reads it as a long (nanos since epoch).
  *   Harmless for the timestamp[us] generation (reads as
  *   TIMESTAMP/TIMESTAMP_NTZ as usual) — every ts consumer branches on
  *   the resolved dtype via [[Tables.epochSeconds]]/[[Tables.eventTime]].
  */
object GraftSession {
  def apply(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
            appName: String = "graft"): SparkSession = configure(
    SparkSession.builder().master(master).appName(appName)
      // default only — configure() itself never touches it, so a caller's
      // explicit shuffle.partitions (Bench/Verify's SPARK_GRAFT_CPUS) wins
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toString)).getOrCreate()

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    // CBO on (r16): optimizedPlan.stats carries ANALYZEd column stats
    // (attributeStats) only under the cost-based visitor, and the
    // stats-driven dispatches (Profile.useApprox / lowCardinality —
    // zero-job arm picks) are dead code without it. Tables without
    // catalog stats keep size-only estimation, so raw-parquet plans
    // are unchanged; [[Tables.ensureStats]] is what opts a table in.
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Wide shuffles use the serialized (single-spill-file) writer
    // instead of bypass-merge (r18, guide §2.2 — M·R block fan-out):
    // bypass opens R partition files + R write buffers PER MAP TASK,
    // and Spark's default threshold (200) let a 128-map-task × 200-
    // partition range exchange open 25,600 streams — measured 4.8×
    // slower than the serialized writer on the same stage (x10
    // q_bucket_rollup sort: 4.06 s → 0.85 s map stage). 64 keeps
    // bypass for narrow local shuffles, where per-record serialized
    // sorting buys nothing; production shuffles are far wider than
    // 200 and always took the serialized path — this closes the
    // mid-width window, it does not retune for local mode.
    .config("spark.shuffle.sort.bypassMergeThreshold", "64")
    // Generated-code cache sized to the query contract. Spark's default
    // holds 100 classes, LRU, so a repeating mix of more than 100
    // classes evicts each one before its next use and recompiles it on
    // the critical path: the 12-query perfbench analytics mix (134
    // classes at sf0.001) recompiled 83 classes (0.84 s) in a 6 s pass
    // at sf0.01.
    // Measured with this setting (local[4], sf0.01, noop sink): one pass
    // over all 160 contract queries compiles 1,777 classes, and a second
    // pass recompiles 46 (8 queries whose generated source changes per
    // execution). 4096 is the power of two above twice the contract,
    // leaving room for the other classes a different scale's plans
    // generate. The resident classes cost a few MB of retained heap.
    // A static conf: the CodeGenerator reads it once per JVM, from the
    // session active when the first class is generated.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")
  // NOTE: partition-discovery threshold deliberately NOT set here —
  // it is a storage-profile decision, not an engine default; local
  // entrypoints opt in via [[localFs]].

  /** Local-filesystem storage profile, applied by the LOCAL bench /
    * probe / verify entrypoints on top of [[configure]] — not by the
    * shared builder (r16 ADVICE: the threshold is a storage-profile
    * decision, not an engine default).
    *
    * Partition discovery above the threshold launches a Spark job
    * with ONE TASK PER DIRECTORY; on a local FS the per-task overhead
    * dwarfs the listing (measured by [[DppSplit]] on a 3,000-day
    * partitioned copy: 5.9 s as a listing job vs 0.38 s driver-side —
    * the whole r15 q_dpp_dayslice x100 "anomaly" was this job, not
    * the pruned scan, which beats the full scan once the table handle
    * exists). Driver-side listing is right up to ~10k dirs HERE; on
    * an object store a 10k-prefix serial driver listing is the known
    * slow pattern, so a cluster deployment keeps Spark's default (or,
    * better, uses catalog tables whose partitions come from the
    * metastore and are never re-listed per query). Override with
    * SPARK_GRAFT_LIST_THRESHOLD for listing A/B measurements. */
  def localFs(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "10000"))
}

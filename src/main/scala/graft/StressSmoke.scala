package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Timing.{arr, obj, str}

/** One-order-of-magnitude scale probe: replicate the sf0.1 tables ~10×
  * with deterministic perturbation, then run the stress pack under a
  * cluster-like `spark.sql.shuffle.partitions=200` and report
  * per-query medians.
  *
  * Purpose: the correctness gate runs at sf0.01 and the bench at
  * sf0.1; this main validates empirically — not just by plan-reading —
  * that the bucket-join/partial-agg shapes scale linearly for one more
  * decade. A query whose time grows ≫10× at 10× rows has a
  * super-linear stage (quadratic candidate set, driver collect, global
  * sort) that plan audits missed.
  *
  * Replication design per family:
  *  - `documents`: replica k>0 suffixes EVERY token with the replica
  *    id, so replicas share no shingles/tokens (cross-replica Jaccard
  *    ~0) while dup/near-dup structure WITHIN each replica is
  *    preserved — candidate sets scale like a genuinely 10× corpus.
  *  - `embeddings`: replica vectors are regenerated as hash-uniform
  *    noise (a small perturbation would make every LSH bucket 10×
  *    denser and the candidate set quadratic, measuring output
  *    explosion instead of corpus growth).
  *  - `customer`/`orders`/`lineitem`: key columns get per-replica
  *    offsets (custkey, orderkey) so the join graph replicates —
  *    group/partition COUNTS grow 10× with per-group size constant,
  *    the shape a 10×-bigger TPC-H instance has. Dims
  *    (region/nation/supplier/part) stay unscaled broadcast dims.
  *  - `events`: event_id/user_id offsets plus a +1000·k-day timestamp
  *    shift, so per-user series and per-day KNN-impute groups replicate
  *    instead of densifying (knnImpute is quadratic in group size by
  *    design — donors×nulls within a day — so densified days would
  *    measure that documented property, not corpus growth).
  *
  * Usage: StressSmoke [srcSfDir] [workDir]; generation is skipped if
  * workDir already holds the scaled tables. Run with
  * SPARK_GRAFT_STRESS_REPLICAS=1 for the same-methodology 1× baseline
  * side of the ratio artifact. The artifact goes to
  * SPARK_GRAFT_BENCH_OUT (default /tmp/graft_stress.json) and
  * SPARK_GRAFT_ONLY=q_a,q_b runs a subset.
  */
object StressSmoke {
  import graft.operators.{Dedup, Profile, Similarity}

  /** Queries with a linear-or-better scale design, spanning BOTH
    * halves of the engine: the LLM-ops families (dedup/text/
    * multimodal/sampling) and the relational/window/TPC-H families.
    * Excluded by design: q_sim_topk (the documented quadratic exact-ANN
    * baseline) and q_w2_seasonal/q_a2_median and friends whose cost is
    * a strict subset of a packed sibling. (q_dedup_cluster_apply —
    * formerly excluded as cluster + one anti-join — is IN since round
    * 10 so the 100× probes can cover the full cluster-then-apply
    * path.) */
  val stressQueries: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_apply", "q_dedup_jaccard", "q_dedup_cluster",
    "q_dedup_cluster_apply",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_embed",
    "q_text_stats", "q_text_clean", "q_text_fingerprint", "q_text_rollingfp",
    "q_text_langid", "q_text_vocab", "q_text_tokenids", "q_text_topk",
    "q_text_pack", "q_mm_meta", "q_mm_features", "q_mm_frames", "q_mm_decode",
    "q_mm_resize", "q_split", "q_split_stratified", "q_sim_ann", "q_sim_ivf",
    "q_dedup_bloom", "q_dedup_incremental", "q_decontaminate", "q_text_chunk",
    "q_text_repetition", "q_text_redact", "q_text_entropy", "q_text_tfidf",
    "q_pipeline_pretrain", "q_pipeline_rag", "q_sample_byrate", "q_sample_mixture",
    "q_select_budget", "q_dedup_lines", "q_quality_gate",
    "q_densify", "q_stream_join", "q_f_json", "q_scd2",
    "q_interval_join", "q_sample_exactn", "q_asof_fwd", "q_snapshot_diff",
    // relational / window / TPC-H families (replicated star schema)
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7",
    "q_tpch_q8", "q_tpch_q10", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
    "q_tpch_q17", "q_tpch_q18", "q_j2_nearest", "q_o1_topk", "q_profile",
    "q_mad_outliers", "q_w1_interp", "q_w3_knn_impute",
    // round-6 additions: the decorrelation/NAAJ TPC-H shapes, the
    // skew-mitigated join (lineitem partkeys get 10× hotter under
    // replication — the exact load salting exists for), multi-level
    // aggregates, session windows, percentiles, and the partition-
    // pruned day slice vs its full-scan control
    "q_tpch_q2", "q_tpch_q4", "q_tpch_q9", "q_tpch_q11", "q_tpch_q12",
    "q_tpch_q16", "q_tpch_q20", "q_tpch_q21",
    "q_skew_join", "q_a8_percentiles", "q_session_window",
    "q_gsets", "q_cube", "q_rollup", "q_dpp_dayslice", "q_dpp_fullscan",
    // round-7 additions: the bench's heaviest query (incremental
    // near-dup ledger), both as-of directions' heavier sibling, the
    // bucketed range join, and the de-broadcast-hinted OLS join
    "q_dedup_minhash_inc", "q_asof_join", "q_range_join", "q_a7_ols",
    // round-10 additions: the LM quality filter (reference slice stays
    // 1x-sized by design — the fixed-seed-corpus shape — while the
    // scored target side replicates), the training-order shuffle, and
    // the per-source KL domain-shift diagnostic
    "q_lm_score", "q_shuffle_order", "q_domain_shift", "q_mm_neardup",
    "q_dedup_containment", "q_decontaminate_semantic",
    // bucketed layout: the write is genuinely once-per-workdir (the
    // _BUCKET_SPEC marker lets later JVMs attach instead of rewrite —
    // rewriting per JVM poisoned reps with the write's page-cache
    // aftermath), so the reps measure the join and the bucket-key
    // rollup on their shuffle-free plans
    "q_bucket_join", "q_bucket_rollup",
    // z-ordered layout: once-per-JVM clustered write (same first-rep
    // amortization), then the box slice scans stats-pruned files
    "q_zorder_slice",
    // round-10 curation ops: repeated-span removal and fuzzy ER run
    // the canonical 500-doc slice replicated into EVERY replica via
    // pmod (replica tokens are suffixed, so grams/blocks never cross
    // replicas — candidate work scales linearly); k-means runs the
    // canonical full-corpus query as-is (embeddings replicate)
    "q_span_dedup", "q_er_match", "q_kmeans",
    // round 11: the k=64 kmeans_argmin face on the replicated corpus
    "q_kmeans_large",
    // round 12: the sketch-MAD arm (the 100 TB answer to the exact
    // double-median's 30.6/100 x100 probe — heaviest flat-output probe)
    // and the DSIR importance scorer (two explode→agg model passes +
    // a broadcast-λ scoring pass — linear by construction)
    "q_mad_outliers_approx", "q_dsir_select",
    // round 13: the sketch-threshold DSIR arm (localCheckpointed
    // scorer + GK-median keep rule — the scale answer to the exact
    // arm's single-reducer percentile)
    "q_dsir_select_approx",
    // round 13 (first measured r14): the RAW sketch arms. The
    // *_approx bench queries carry exact-percentile ORACLE bound
    // checks, which dominate their x100 probes (q_mad_outliers_approx
    // 26.6/100 at r13 measures mostly the verification pass); these
    // probe-only bodies measure what a 100 TB run actually executes —
    // the GK sketch pass alone. New names, not overrides of the twin
    // names, so the twins' round-over-round ratio series stays
    // comparable.
    "q_mad_sketch_raw", "q_dsir_sketch_raw",
    // round 17: the plain (un-pre-aggregated) sketch arm — see the
    // override's comment; completes the committed three-arm MAD series
    "q_mad_plain_raw",
    // round 13 (second wave): mergeable-sketch rollup and incremental
    // state maintenance — both plain map-side-combinable aggregates
    // over the replicated star schema (output is per-key, flat), so
    // their ratios read the aggregate scan cost directly — plus the
    // pre-flight diagnostics (equi-depth bins, key skew, join
    // cardinality: aggregate-then-tiny-join shapes) and the PMI
    // collocation pass (explode→count + vocab-sized marginal joins)
    "q_hll_rollup", "q_agg_incremental",
    "q_equidepth", "q_key_skew", "q_join_size", "q_text_pmi",
    // round 15: the q_join_size representation-bisect probes (same
    // per-key-counts join shape, single-scalar output renderings)
    "q_join_size_bigint", "q_join_size_str",
    // round 16: the stats-dispatched Auto faces — at replicated scale
    // the CBO stats (re-ANALYZEd on the replica workdir by
    // ensureStats) must pick the sketch arm + weighted preAgg, so the
    // probe measures the dispatcher's choice end-to-end against the
    // manual arms it must match or beat
    "q_mad_outliers_auto", "q_winsorize_auto", "q_equidepth_auto",
    // theta overlap: per-slice sketch aggregation over the replicated
    // orders table; the pairwise intersection stays O(slices²) sketch
    // rows no matter the scale (the exact verification arm's distinct
    // self-join is the part that grows)
    "q_theta_overlap",
    // kll rollup: quantiles from merged sketch state — the percentile
    // leg of the state family (the exact-percentile band verification
    // is the growing part, as with the other *_ok contracts)
    "q_kll_rollup",
    // round 14 (closing the r13 measurement gap — these five shipped in
    // r13 without x10/x100 entries): temperature mixture (one literal
    // filter over the corpus), quality-aware keep-best and the two
    // split faces (pmod-replicated canonical slices — same linear-
    // candidate design as q_span_dedup), plus the r14 combined-state
    // and theta-novelty queries (map-side-combinable aggregates over
    // the replicated star schema; novelty's exact anti-join arm is the
    // growing part)
    "q_sample_temp", "q_dedup_keep_best", "q_split_leakfree",
    "q_split_contamination", "q_agg_state_full", "q_theta_novelty")

  /** Stress-side query bodies, looked up before
    * [[SparkEntry.queries]]: probe-only names (the raw sketch arms) and
    * canonical queries whose fixed id slice would measure nothing at
    * 10×. The near-dup/ANN entries run the same operators as the
    * canonical queries, on the slices the r4 artifact used:
    * q_dedup_embed widens vec_id < 500 to < 1000, the semantic
    * decontamination corpus replicates via pmod, and q_sim_ann
    * searches the whole replicated corpus. q_dedup_minhash and
    * q_dedup_simhash have no entry and run their canonical bodies. */
  private val overrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    // raw sketch arms (probe-only names — see stressQueries note): the
    // operator passes without the oracle's exact-percentile bound
    // verification that the registered *_approx twins must also run.
    // q_mad_plain_raw is the PLAIN sketch arm (r17 — VERDICT r16 item
    // 2): with q_mad_outliers (exact) and q_mad_sketch_raw (weighted
    // sketch) it completes the three-arm MAD family in ONE artifact.
    "q_mad_sketch_raw" -> madRaw(Profile.Arm.WeightedSketch),
    "q_mad_plain_raw" -> madRaw(Profile.Arm.Sketch),
    "q_dsir_sketch_raw" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val scored = graft.operators.Sampling.dsirWeights(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", buckets = 4096)
        .select(col("doc_id"), col("w")).localCheckpoint()
      scored.crossJoin(broadcast(scored.agg(
          expr("approx_percentile(w, 0.5, 10000)").as("_t"))))
        .filter(col("w") > col("_t"))
        .select("doc_id")
        .orderBy("doc_id")
    }),
    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingNearDup(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 1000),
        "vec_id", "embedding", dim = 64, threshold = 0.35,
        bits = 4, tables = 8)
        .orderBy("id_a", "id_b")),
    // eval side stays the replica-0 slice (held-out sets don't grow
    // with the corpus); the corpus side replicates via pmod — replica
    // k>0 vectors are hash-uniform noise, so bucket occupancy (the
    // candidate-generation work) scales linearly while true leaks stay
    // 1×-sized, exactly the 100 TB shape
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val rid = pmod(col("vec_id"), lit(OFF))
      Dedup.semanticDecontaminate(
        e.filter(rid >= 40 && rid < 500),
        e.filter(col("vec_id") < 40),
        "vec_id", "embedding", dim = 64, threshold = 0.30,
        bits = 4, tables = 8)
        .orderBy("corpus_id", "eval_id")
    }),
    "q_sim_ann" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Similarity.bucketedTopK(
        e.filter(col("vec_id") < 50), e, "vec_id", "embedding",
        dim = 64, k = 5, bits = 4, tables = 8)
        .orderBy("q_id", "rank")
    }),
    // the canonical q_densify/q_scd2 slice to user_id < 50 for a
    // bounded oracle — replica key offsets would leave that slice
    // 1×-sized, so the probe runs them over ALL users (replicated
    // user counts: the linear dimension these operators scale on)
    "q_densify" -> ((s, dir) => {
      val daily = Tables.withEpochDay(Tables(s, dir, "events"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"))
      graft.operators.Temporal.densify(daily, Seq("user_id"), "day")
        .orderBy("user_id", "day")
    }),
    // the canonical slice (ledger = docs 0-249, batch = 250-499) is
    // bounded for the oracle; the probe replicates THAT slice into
    // every replica via pmod(doc_id, OFF) — at 1× it is byte-identical
    // to the canonical query, at N× it is N independent copies of the
    // same ledger+batch workload (the linear dimension a continuous-
    // ingestion dedup scales on: more shards, not a bigger batch)
    "q_dedup_minhash_inc" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val rid = pmod(col("doc_id"), lit(OFF))
      // checkpointed like the canonical query: the ledger feeds two
      // consumers (banding + history scoring) — unpersisted, the
      // history shingle→minhash pipeline ran TWICE per rep, which the
      // r16 leg profile measured as ~4 s of the ~20 s x100 total
      // (MINHASH_SPLIT_r16.json; in production the ledger is a
      // persisted parquet table, so the rebuild isn't the operator's
      // cost either way)
      val ledger = Dedup.minhashLedgerOf(
        docs.filter(rid < 250), "doc_id", "text", w = 3)
        .localCheckpoint()
      Dedup.applyMinhashIncremental(
        docs.filter(rid >= 250 && rid < 500), "doc_id", "text",
        ledger, w = 3, numHashes = 16, bands = 8, threshold = 0.05)
        .select("doc_id").orderBy("doc_id")
    }),
    // the canonical 200-id slice is fixed for the oracle; the probe
    // replicates it into every replica via pmod (OFF % 4 == 0 keeps
    // the planted 4-id groups aligned) — N replicas × 200 images, the
    // linear dimension an image-dedup pass scales on
    "q_mm_neardup" -> ((s, dir) => {
      val ids = Tables(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(OFF)) < 200).select("doc_id")
      Dedup.hammingPairs64(
        graft.operators.Multimodal.imageHashes(
          graft.operators.Multimodal.patternMedia(ids, "doc_id")),
        "media_id", "ahash", maxHamming = 3, outA = "id_a", outB = "id_b")
        .orderBy("id_a", "id_b")
    }),

    // the canonical doc_id < 500 slices of the r13 curation queries,
    // replicated into every replica via pmod (replica tokens are
    // suffixed → shingle buckets never cross replicas → the Jaccard
    // candidate set and the CC/winner work scale linearly)
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(OFF)) < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      Dedup.applyNearDupsKeepBest(docs, "doc_id", pairs, col("n_chars"))
        .select("doc_id").orderBy("doc_id")
    }),
    "q_split_leakfree" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(OFF)) < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      graft.operators.Sampling.leakFreeSplit(docs, "doc_id", pairs,
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select(col("doc_id"), col("unit").cast("long").as("unit"), col("split"))
        .orderBy("doc_id")
    }),
    "q_split_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(OFF)) < 500)
      val pairs = Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", w = 3, threshold = 0.05, maxBucket = 100)
      val assigned = graft.operators.Sampling.byModulo(docs, "doc_id",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
      graft.operators.Sampling.splitContamination(assigned, "doc_id", pairs)
        .orderBy("split_a", "split_b")
    }),

    // the canonical doc_id < 500 slice replicated into every replica:
    // replica k>0 tokens carry the replica suffix, so no gram is ever
    // shared across replicas — the winner aggregation and coverage
    // join grow linearly with the corpus, the 100 TB shape
    "q_span_dedup" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(
        Tables(s, dir, "documents").filter(pmod(col("doc_id"), lit(OFF)) < 500),
        "doc_id", "text", w = 3)
        .orderBy("doc_id")),
    // the canonical query blocks on `part` names, but dims copy through
    // unreplicated — the probe instead derives record names from the
    // replicated documents (first 6 tokens), so blocks and the
    // Levenshtein verify scale with the corpus while the hot-token cap
    // keeps any one block bounded
    "q_er_match" -> ((s, dir) => {
      val recs = Tables(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(OFF)) < 500)
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 6), " ").as("name"))
      graft.operators.EntityResolution.fuzzyMatchPairs(
        recs, "doc_id", "name", maxDistance = 8, maxBucket = 100)
        .orderBy("id_a", "id_b")
    }),

    "q_scd2" -> ((s, dir) => {
      val e = Tables.withEpochSeconds(Tables(s, dir, "events"))
        .select("user_id", "event_id", "event_type", "s")
      graft.operators.Temporal.scd2(e, Seq("user_id"), "s",
        Seq(col("event_id")), Seq("event_type"))
        .select("user_id", "event_type", "valid_from", "valid_to")
        .orderBy("user_id", "valid_from")
    }))

  /** Replicate `name` `reps`×, adding `off * k` to each column in
    * `keyOffsets` (types preserved) — replica 0 is the original. */
  private def replicate(spark: SparkSession, src: String, work: String,
                        name: String, keyOffsets: Map[String, Long],
                        reps: Int): Unit = {
    val df = spark.read.parquet(s"$src/$name.parquet")
    val k = explode(sequence(lit(0), lit(reps - 1))).as("k")
    val cols = df.columns.map { c =>
      keyOffsets.get(c) match {
        case Some(off) => df.schema(c).dataType match {
          // offsets for ts-typed columns are specified in NANOS (the
          // long-generation contract); the timestamp[us] generation
          // gets the same shift as a µs day-time interval
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType =>
            (col(c) + expr(s"INTERVAL '${off / 1000}' MICROSECOND") * col("k")).as(c)
          case dt => (col(c) + col("k").cast("long") * off).cast(dt).as(c)
        }
        case None => col(c)
      }
    }
    df.select(col("*"), k).select(cols: _*)
      .repartition(64).write.mode("overwrite").parquet(s"$work/$name.parquet")
  }

  /** Per-replica key offset: replica k's ids live at `id + k*OFF`, so
    * `pmod(id, OFF)` recovers the within-replica id — probe overrides
    * use it to replicate a canonical fixed-id slice into EVERY replica
    * (linear scaling of the same work) instead of leaving it 1×-sized. */
  val OFF = 10000000L

  def generate(spark: SparkSession, src: String, work: String, reps: Int): Unit = {
    val k = explode(sequence(lit(0), lit(reps - 1))).as("k")
    // replica 0 is the original corpus; replicas k>0 suffix EVERY token
    // with the replica id, so replicas share no shingles/tokens with
    // each other (cross-replica Jaccard ~ 0) while dup/near-dup
    // structure WITHIN each replica is preserved — the candidate sets
    // scale like a genuinely 10x larger corpus, not like 10 copies
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), k)
      .select(
        (col("doc_id") + col("k").cast("long") * OFF).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(concat(regexp_replace(col("text"), lit(" "),
            concat(col("k"), lit(" "))), col("k"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(64).write.mode("overwrite").parquet(s"$work/documents.parquet")
    // replica k>0 vectors are regenerated as hash-uniform noise (NOT a
    // small perturbation of the original: near-identical replicas would
    // make every LSH bucket 10× denser and the candidate set quadratic,
    // measuring output explosion instead of corpus growth)
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), k)
      .select(
        (col("vec_id") + col("k").cast("long") * OFF).as("vec_id"),
        when(col("k") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (_, i) =>
            ((pmod(xxhash64(col("vec_id"), col("k"), i), lit(2000L)) - 1000L) / 1000.0)
              .cast("float")))
          .as("embedding"))
    embs.repartition(64).write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    // star schema: facts replicate with offset keys, dims copy through
    replicate(spark, src, work, "customer", Map("c_custkey" -> OFF), reps)
    replicate(spark, src, work, "orders",
      Map("o_orderkey" -> OFF, "o_custkey" -> OFF), reps)
    replicate(spark, src, work, "lineitem", Map("l_orderkey" -> OFF), reps)
    // ts offset stays specified in nanos regardless of the physical
    // dtype (replicate converts to a µs interval for timestamp cols);
    // +1000 days per replica so per-day KNN-impute groups
    // replicate instead of densifying (group size drives a by-design
    // quadratic donor×null join within each day). Above 10 replicas the
    // total shift is clamped to ~10000 days: 1000·(reps-1) days of
    // nanos would overflow Long at reps=100 (2024 epoch ≈ 1.7e18 ns +
    // 8.6e18 shift > Long.MaxValue → ANSI abort); 10000/reps days per
    // replica keeps replica day-groups disjoint (events span ~30 days)
    // while the max ts stays ≈ 4.4e18.
    val shiftDays = if (reps <= 10) 1000L else (10000L / reps).max(35L)
    replicate(spark, src, work, "events",
      Map("event_id" -> OFF, "user_id" -> OFF,
        "ts" -> 86400L * shiftDays * 1000000000L), reps)
    for (dim <- Seq("region", "nation", "supplier", "part"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$work/$dim.parquet")
  }

  /** A raw MAD probe: the operator on `arm` and a per-flag summary. */
  private def madRaw(arm: Profile.Arm): (SparkSession, String) => DataFrame =
    (s, dir) => Profile.madOutliers(Tables(s, dir, "lineitem"),
        "l_quantity", Seq("l_returnflag"), k = 1.5, arm = arm)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        min("_med").as("med"), min("_mad").as("mad_val"))
      .orderBy("l_returnflag")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_sf1shape"
    val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPLICAS", "10").toInt
    // cluster-like shuffle width: validates that nothing depends on the
    // bench's cozy 32 partitions (COVERAGE.md's x10 grower audit
    // measured what the width costs the sub-second queries)
    val shuffleParts = 200
    val spark = GraftSession.local(32, shuffleParts)
    if (!new java.io.File(s"$work/lineitem.parquet").exists()) {
      val t0 = System.nanoTime()
      generate(spark, src, work, reps)
      println(f"generated ${reps}x tables in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.range(1000000).selectExpr("sum(id)").collect() // session warmup
    // out_rows rides on the timed writes themselves (Observation over
    // the noop sink). A ratio >> replicas is only a scale-killer when
    // the OUTPUT did not also grow (q_bucket_rollup emits 10x the groups
    // at 10x): out_rows on both sides lets stress_merge derive a
    // per-output-row ratio, so that distinction is in the artifact. The
    // "failed" array lets stress_merge.py reject a partial run: a
    // crashed run's survivors must never min-merge into the round
    // artifact as if they were clean.
    val run = Timing.runEach(
      stressQueries.map(n => n -> overrides.getOrElse(n, SparkEntry.queries(n))),
      sys.env.get("SPARK_GRAFT_ONLY")) { (_, fn) =>
      Timing.sampleNoopWrite(fn, spark, work, Timing.Reps, observeRows = true)
    }
    val head = Seq("metric" -> str("stress_total"),
      "value" -> run.results.map(_._2.medianSec).sum.toString, "unit" -> str("sec"))
    val failed = "failed" -> arr(run.failures.map(_._1))
    val sf = "sf" -> str(s"${src}x$reps")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_stress.json")
    Timing.write(out, obj(head ++ Seq(
      "queries" -> obj(run.results.map { case (n, m) => n -> m.medianSec.toString }),
      "out_rows" -> obj(run.results.map { case (n, m) => n -> m.rows.toString }),
      failed, sf, "shuffle_partitions" -> shuffleParts.toString,
      "head_sha" -> str(Timing.headSha()))))
    println(obj(head ++ Seq("n" -> run.results.size.toString, sf,
      "queries_file" -> str(out), failed)))
    spark.stop()
    // rc mirrors the artifact's "failed" array (same rationale as Bench)
    if (run.failures.nonEmpty) sys.exit(1)
  }
}

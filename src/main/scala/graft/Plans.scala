package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the headline queries to PLANS.md —
  * the physical-plan evidence (pushdown, broadcast, partial agg,
  * codegen spans) that PlanSpec asserts programmatically. Regenerate:
  * `sbt "runMain graft.Plans"`. */
object Plans {
  val headline: Seq[String] = Seq(
    "q_p2_filter_project", "q_a1_groupsum", "q_j1_join3", "q_j2_nearest",
    "q_tpch_q5", "q_asof_join", "q_sim_topk", "q_dedup_jaccard",
    "q_stream_window", "q_text_tokenids", "q_w2_seasonal",
    "q_tpch_q17", "q_session_window", "q_text_rollingfp", "q_split_stratified",
    "q_decontaminate", "q_pipeline_pretrain", "q_dedup_minhash",
    "q_standardize", "q_winsorize", "q_dedup_bloom", "q_sim_ivf",
    "q_profile_approx", "q_tpch_q1", "q_tpch_q6", "q_dedup_lines",
    "q_quality_gate", "q_mad_outliers", "q_densify", "q_stream_join",
    "q_scd2", "q_tpch_q7", "q_tpch_q13", "q_dedup_minhash_inc",
    "q_pipeline_rag", "q_snapshot_diff", "q_interval_join", "q_asof_fwd",
    "q_sample_exactn",
    // round 6: decorrelation/NAAJ shapes, the de-broadcast q8, DPP
    "q_tpch_q2", "q_tpch_q8", "q_tpch_q16", "q_tpch_q21", "q_dpp_dayslice",
    // round 10: LM filter (broadcast LM tables), training-order
    // shuffle (per-shard windows), KL domain shift, image near-dup
    // (band equi-join over perceptual hashes), n-gram containment
    "q_lm_score", "q_shuffle_order", "q_domain_shift",
    "q_mm_neardup", "q_dedup_containment",
    // round 10: embedding-space decontamination (bipartite LSH,
    // broadcast eval side)
    "q_decontaminate_semantic",
    // round 10: storage layouts — bucketed SMJ with no exchange below
    // the join, bucket-key rollup with no exchange at all, z-ordered
    // box slice with both range predicates pushed to the scan
    "q_bucket_join", "q_bucket_rollup", "q_zorder_slice",
    // round 11: the three heaviest round-10 ops' plans (kmeans must
    // show assignment as ONE narrow projection, kmeans_argmin carrying
    // the k×64 centroid matrix OUTSIDE the plan tree at k=8 and k=64
    // alike; ER and span-dedup no cartesian anywhere — keyed
    // equi-joins only)
    "q_kmeans", "q_er_match", "q_span_dedup", "q_kmeans_large",
    // round 12: the r11 stress artifact's worst non-output-explained
    // ratio — the plan must show the DERIVED l_shipdate bound pushed to
    // the lineitem scan (Catalyst can't infer it through the semi-join
    // condition) so the fact side shuffles only the late tail
    "q_tpch_q4",
    // round 12 (re-shaped r14: GK→KLL; r15: pre-aggregated weighted
    // arm) — the operator's medians now derive from a codegen'd
    // (group, value)→count hash aggregate feeding kll_sketch_weighted
    // updates, with the MAD residual pass computed from the
    // localCheckpointed counts table (no second corpus scan); the
    // exact-percentile branches in the same plan are the oracle's
    // bound checks, not the operator
    "q_mad_outliers_approx",
    // round 12: DSIR — both bucket models partial-aggregate before a
    // ≤buckets-row shuffle, λ rides a BroadcastExchange into the
    // scoring pass, and the only nested-loops are 1-row broadcasts
    // (model totals, median threshold)
    "q_dsir_select",
    // round 13: the sketch-threshold DSIR arm (the visible plan starts
    // from the localCheckpointed scorer — the token explodes run once,
    // in the checkpoint job) and the α=0.5 temperature mixture (one
    // literal filter over the corpus scan: no join, no window, no
    // exchange before the output sort). q_j2_nearest above now shows
    // the round-13 bucketed ticks sweep: every Window carries
    // `partitionBy _b`, the carry table rides a BroadcastExchange,
    // and no stage is single-partition.
    "q_dsir_select_approx", "q_sample_temp",
    // round 13 (second wave): the mergeable-state family — partial
    // hll_sketch_agg / hll_union_agg modes and the no-extra-exchange
    // union-merge (both state branches pre-partitioned on the key);
    // theta overlap (per-slice ObjectHashAggregate → slices²-row
    // nested-loop on SKETCH rows, documented); the pre-flight
    // diagnostics (aggregate-then-broadcast-scalar shapes); leak-free
    // split (label table joined on the id, corpus streams once)
    "q_hll_rollup", "q_agg_incremental", "q_theta_overlap", "q_kll_rollup",
    "q_key_skew", "q_join_size", "q_equidepth", "q_text_pmi",
    "q_split_leakfree", "q_dedup_keep_best",
    // round 14: the combined one-pass state row (ONE ObjectHashAggregate
    // carrying HLL + KLL + theta partials over a single scan, merged by
    // a second sketch-mode aggregate with no raw-row rescan) and the
    // theta novelty face (history partials merge per key, batch sketch
    // A-NOT-B's against them — sketch-row joins only). q_winsorize_approx
    // is here because r14 swapped its GK arm for ONE kll_sketch_agg per
    // group feeding both bounds.
    "q_agg_state_full", "q_theta_novelty", "q_winsorize_approx",
    // round 17: the stats-dispatched Auto faces — the plan must show
    // the arm the zero-job CBO dispatch picked on the ANALYZEd catalog
    // table (at this sf the rowCount shortcut proves the exact arm;
    // no probe stage either way)
    "q_mad_outliers_auto", "q_winsorize_auto", "q_equidepth_auto")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local(4)
    val mode = ExplainMode.fromString("formatted")
    val sections = headline.map { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(mode)
      s"## $name\n\n```\n$plan```\n"
    }
    val doc =
      s"""# PLANS — physical plans of the headline queries
         |
         |Generated by `graft.Plans` at HEAD `${Timing.headSha()}`.
         |Generated at sf0.001 (plan shape is scale-invariant;
         |AQE may further coalesce/convert at runtime). Things to look for:
         |`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),
         |`BroadcastHashJoin` on dim joins, `partial_*` aggregate modes
         |(map-side combine), and codegen stage markers.
         |
         |${sections.mkString("\n")}""".stripMargin
    Files.writeString(Paths.get(out), doc)
    println(s"wrote $out")
    spark.stop()
  }
}

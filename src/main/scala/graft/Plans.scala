package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The plan tool: `explain("formatted")` of registered queries, in three
  * modes that share the session and the explain code.
  *
  *  - `graft.Plans [sfDir] [out]` writes PLANS.md for the headline
  *    queries at sf0.001 on 4 cores — the physical-plan evidence
  *    (pushdown, broadcast, partial agg, codegen spans) that PlanSpec
  *    asserts programmatically.
  *  - `graft.Plans dump <outDir> <suffix> <q1,q2,...>` writes
  *    `<outDir>/<query>_<suffix>.txt`, ONE FILE PER QUERY at bench
  *    conditions (`SPARK_GRAFT_SF_DIR`, default sf0.1, on 32 cores), so
  *    the before/after plan diffs an optimization round commits
  *    (plans/rNN/) line up with the numbers the bench reports.
  *  - `graft.Plans final <query> [sfDir]` prints the AQE-FINALIZED plan
  *    after one collect (sf0.1 on 32 cores by default), so runtime
  *    decisions (`ReusedExchange`/stage reuse, AQE join conversions,
  *    skew splits, coalesced partitions) are visible. The static plans
  *    of the other modes can both miss runtime reuse and show exchanges
  *    AQE later removes; when auditing "does this subtree really
  *    recompute?", this is the ground truth.
  *
  * Run any mode with `sbt "runMain graft.Plans <args>"`. */
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
    // round 12 (re-shaped r14: GK→KLL; r15: the weighted sketch arm)
    // — the operator's medians now derive from a codegen'd
    // (group, value)→count hash aggregate feeding the KLL aggregate's
    // weighted updates (kll_sketch_weighted_agg), with the MAD residual
    // pass computed from the localCheckpointed counts table (no second
    // corpus scan); the exact-percentile branches in the same plan are
    // the oracle's bound checks, not the operator
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

  def main(args: Array[String]): Unit = args.toList match {
    case "dump" :: outDir :: suffix :: names :: Nil =>
      withSession(32) { spark =>
        val dir = Paths.get(outDir)
        Files.createDirectories(dir)
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
          Files.writeString(dir.resolve(s"${name}_$suffix.txt"), explain(spark, name, sfDir))
          println(s"wrote ${name}_$suffix.txt")
        }
      }
    case "final" :: name :: rest if rest.size <= 1 =>
      withSession(32) { spark =>
        val df = SparkEntry.queries(name)(spark, rest.headOption.getOrElse("/root/testdata/sf0.1"))
        // drive THIS dataset's own QueryExecution: a write (or .rdd /
        // .foreach, which plan a separate rddQueryExecution) would leave
        // the printed AdaptiveSparkPlan at isFinalPlan=false. collect()
        // is the one action sharing the QueryExecution — fine for a
        // diagnostic probe (mind the driver heap on corpus-sized outputs).
        val n = df.collect().length
        println(s"== AQE-finalized plan: $name ($n rows) ==")
        println(df.queryExecution.executedPlan.toString)
      }
    case rest if rest.size <= 2 && !rest.headOption.exists(Set("dump", "final")) =>
      val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
      val out = rest.lift(1).getOrElse("PLANS.md")
      withSession(4) { spark =>
        val sections = headline.map { name =>
          s"## $name\n\n```\n${stable(explain(spark, name, sfDir))}```\n"
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
      }
    case _ => sys.error("usage: Plans [sfDir] [out] | Plans dump <outDir> <suffix> " +
      "<q1,q2,...> | Plans final <query> [sfDir]")
  }

  private def explain(spark: SparkSession, name: String, sfDir: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  /** `plan` with its run-specific tokens made stable, so two runs on
    * one commit write the same PLANS.md: expression, plan and RDD ids
    * renumbered in first-seen order (a `#n` still links an attribute
    * to the operator that produced it), and lambda hashes, the DPP
    * layout fingerprint and call-site line numbers dropped. */
  private[graft] def stable(plan: String): String = {
    val fixed = Seq(
      """\$\$Lambda\$[^\s,)\]]*""" -> """\$\$Lambda""",
      """graft_dpp_[0-9a-f]+""" -> "graft_dpp_<fp>",
      """(\.scala):\d+""" -> "$1"
    ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
    Seq("""(#)(\d+)""", """(plan_id=)(\d+)""", """(RDD\[)(\d+)""").foldLeft(fixed) { (s, re) =>
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      re.r.replaceAllIn(s, m => m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size))
    }
  }

  private def withSession(cores: Int)(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(cores)
    try body(spark) finally spark.stop()
  }
}

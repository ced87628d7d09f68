package graft

import graft.operators.Nearest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans the engine relies on at scale
  * must actually materialize — filters reach the parquet scan, small
  * dims broadcast, argmin aggregates combine map-side, scans prune
  * columns. A regression here is a 100×-at-scale bug even when results
  * stay correct. */
class PlanSpec extends SparkSpec {

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** `df`'s final plan: AQE fixes it only when `df` itself runs. */
  private def finalOps(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    allOps(df.queryExecution.executedPlan)
  }

  private def rangeExchanges(ops: Seq[SparkPlan]): Seq[ShuffleExchangeLike] = ops.collect {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  test("P2 filter+project: predicate pushed to parquet, columns pruned") {
    val plan = physicalPlan("q_p2_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(800))
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(800))
    // scan must read only the 6 needed columns, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"), readSchema)
  }

  test("Q6: every predicate reaches the parquet scan (date range, band, cap)") {
    // formatted mode — the simple plan string truncates long PushedFilters lists
    val plan = SparkEntry.queries("q_tpch_q6")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,24.0)"), pushed)
    // scan reads only the 4 referenced columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"), readSchema)
  }

  test("Q4: the derived l_shipdate bound reaches the lineitem scan") {
    // o_orderdate >= 1996-01-01 ∧ l_shipdate > o_orderdate + 30d imply
    // l_shipdate > 1996-01-31, but Catalyst can't derive range
    // constraints through the semi-join condition — the bound is
    // stated at the scan (round 12; without it the semi-join shuffles
    // EVERY lineitem row to probe one quarter of orders). This guard
    // keeps the filter from being silently dropped in a refactor.
    val plan = SparkEntry.queries("q_tpch_q4")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // l_shipdate exists only on the lineitem scan, so one assertion on
    // the plan's pushed lines pins both the filter and its placement
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThan(l_shipdate,1996-01-31"),
      s"derived bound not pushed to the scan:\n$pushed")
  }

  test("J1 dim joins broadcast (no shuffle of the fact side)") {
    val plan = physicalPlan("q_j1_join3")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("J2 nearest-join argmin partial-aggregates map-side") {
    // q_j2_nearest's ticks kernel materializes its distinct-tick union
    // behind a localCheckpoint (round 13), so its own partial_min runs
    // inside the checkpoint job; pin the map-side combine on the packed
    // quantized kernel, which is the same argmin reduction shape
    val cust = Tables(spark, sf, "customer").select("c_custkey", "c_acctbal")
    val supp = Tables(spark, sf, "supplier").select("s_suppkey", "s_acctbal")
    val plan = Nearest.nearestJoinQuantized(cust, supp,
      abs(col("c_acctbal") - col("s_acctbal")), "s_suppkey", invQuantum = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan.take(1500))
  }

  test("A1 group-aggregate runs partial (map-side combine) + final") {
    val plan = physicalPlan("q_a1_groupsum")
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(plan.contains("partial_"), plan.take(1500))
  }

  test("exact sums plan as partial+final HashAggregate with no decimal cast") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.types.DecimalType
    // (query, exact sums beside a decimal sum): q_a7_ols keeps a decimal
    // sum for its decimal × integer Σxy, beside one exact_sum for Σy
    for ((name, beside) <- Seq("q_a1_groupsum" -> None, "q_tpch_q1" -> None,
        "q_a9_stats" -> None, "q_a7_ols" -> Some(1))) {
      val df = SparkEntry.queries(name)(spark, sf)
      val ops = finalOps(df)
      val plan = df.queryExecution.executedPlan
      val hash = ops.collect { case h: HashAggregateExec => h }
      val modes = hash.flatMap(_.aggregateExpressions.map(_.mode)).toSet
      assert(modes.contains(Partial) && modes.contains(Final), s"$name:\n$plan")
      assert(!ops.exists(o => o.isInstanceOf[ObjectHashAggregateExec] ||
        o.isInstanceOf[SortAggregateExec]), s"$name:\n$plan")
      val aggs = hash.flatMap(_.aggregateExpressions)
      beside match {
        case None =>
          val decimalCasts = aggs.flatMap(_.collect {
            case c: Cast if c.dataType.isInstanceOf[DecimalType] => c
          })
          assert(decimalCasts.isEmpty, s"$name aggregates cast to decimal: $decimalCasts")
        case Some(exactSums) =>
          val finalSums = aggs.filter(_.mode == Final).map(_.aggregateFunction.prettyName)
          assert(finalSums.count(_ == "exact_sum") === exactSums, s"$name: $finalSums")
      }
    }
  }

  test("small global sorts run in place: no workload query's final sort has a range exchange") {
    // the perfbench workload lists (perfbench/workloads.json): every
    // result is a small ordered table, so SmallSortInPlace plans each
    // final sort over CoalesceExec(1) instead of a sampled range shuffle
    val analytics = Seq("q_a1_groupsum", "q_tpch_q1", "q_a9_stats", "q_a2_median",
      "q_a8_percentiles", "q_winsorize", "q_kll_rollup", "q_rollup", "q_range_join",
      "q_bucket_join", "q_p2_filter_project", "q_stream_window")
    val curation = Seq("q_dedup_minhash_inc", "q_dedup_semantic_apply", "q_kmeans",
      "q_dsir_select_approx", "q_text_pmi", "q_sample_temp", "q_text_vocab",
      "q_sample_mixture", "q_dedup_exact", "q_select_budget", "q_shuffle_order",
      "q_quality_gate", "q_text_clean", "q_mm_meta")
    // q_text_vocab sorts Text.buildVocab's zipWithIndex output: an RDD
    // with four partitions and no size estimate (Spark's default size,
    // Long.MaxValue), so the rule cannot know it is small.
    // (q_text_pmi ends in orderBy + limit, a TakeOrderedAndProject, and
    // q_dsir_select_approx in a one-row check with no sort.)
    val rangeSorted = Seq("q_text_vocab")
    val kept = (analytics ++ curation).filter { name =>
      val ops = finalOps(SparkEntry.queries(name)(spark, sf))
      val inPlace = ops.forall {
        case s: SortExec if s.global => allOps(s.child).exists(_.isInstanceOf[CoalesceExec])
        case _                       => true
      }
      rangeExchanges(ops).nonEmpty || !inPlace
    }
    assert(kept === rangeSorted, "final sorts not planned in place")
  }

  test("small global sorts: a sort above the one-partition bound keeps its range exchange") {
    // 2M longs: a 16 MB estimate, above the 1 MB a coalesced partition holds
    val big = spark.range(0, 2000000).orderBy(desc("id")).queryExecution.executedPlan
    assert(rangeExchanges(allOps(big)).map(_.shuffleOrigin) === Seq(ENSURE_REQUIREMENTS), big)
    // the bound lowered through AQE's own conf: q_a1_groupsum's few
    // hundred bytes of runtime input are above it, so the sort keeps its
    // exchange, with the same rows; the one-split-scan arm does not read
    // the bound, so q_p2_filter_project stays in place
    val inPlace = SparkEntry.queries("q_a1_groupsum")(spark, sf).collect().toSeq
    withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      val df = SparkEntry.queries("q_a1_groupsum")(spark, sf)
      assert(rangeExchanges(finalOps(df)).size === 1, df.queryExecution.executedPlan)
      assert(df.collect().toSeq === inPlace)
      val scan = SparkEntry.queries("q_p2_filter_project")(spark, sf)
      assert(rangeExchanges(finalOps(scan)).isEmpty, scan.queryExecution.executedPlan)
    }
  }

  test("small global sorts: user range repartitions and top-k keep their plans") {
    val ids = spark.range(0, 100).toDF("id")
    for ((df, origin) <- Seq(ids.repartitionByRange(4, col("id")) -> REPARTITION_BY_NUM,
        ids.repartitionByRange(col("id")) -> REPARTITION_BY_COL)) {
      val ops = finalOps(df)
      assert(rangeExchanges(ops).map(_.shuffleOrigin) === Seq(origin), df.queryExecution.executedPlan)
      assert(!ops.exists(_.isInstanceOf[CoalesceExec]), df.queryExecution.executedPlan)
    }
    val topK = ids.orderBy(desc("id")).limit(5)
    val ops = finalOps(topK)
    assert(ops.exists(_.isInstanceOf[TakeOrderedAndProjectExec]), topK.queryExecution.executedPlan)
    assert(!ops.exists(o => o.isInstanceOf[CoalesceExec] || o.isInstanceOf[SortExec]),
      topK.queryExecution.executedPlan)
    assert(topK.collect().map(_.getLong(0)).toSeq === (99L to 95L by -1L))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE finalizes (and codegen-wraps) the plan only at execution —
    // and only for THIS df's plan (count() would build a different one)
    val df = SparkEntry.queries("q_p2_filter_project")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the simple string
    assert(plan.contains("*(1)"), plan.take(1200))
  }

  test("q_j2 tick-domain plan: no corpus-sized broadcast") {
    val df = SparkEntry.queries("q_j2_nearest")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the kernel must not cross-join or nested-loop-broadcast the
    // corpus-scaling right side at ANY threshold
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("mergeable-state plans: map-side sketch partials, no exchange after the state union") {
    // q_hll_rollup: both aggregation levels must partial-combine
    // map-side (partial_hll_sketch_agg under the first exchange,
    // partial_hll_union_agg under the merge) — the property that makes
    // the rollup a state-table read instead of a raw-row reshuffle
    val rollup = physicalPlan("q_hll_rollup")
    assert(rollup.contains("partial_hll_sketch_agg"), rollup.take(2000))
    assert(rollup.contains("partial_hll_union_agg"), rollup.take(2000))
    // q_agg_incremental: the state-merge aggregate sits directly on the
    // Union of the two pre-partitioned state branches — no Exchange
    // between them (both branches already hash-partition on the key)
    val incPlan = physicalPlan("q_agg_incremental")
    // direct parent chain: no shuffle between the Union of the two
    // pre-partitioned state branches and the merge aggregate above it
    assert(incPlan.contains("Union"), incPlan.take(2000))
    val unionIdx = incPlan.indexOf("Union")
    val mergeIdx = incPlan.lastIndexOf("ObjectHashAggregate", unionIdx)
    assert(mergeIdx >= 0, incPlan.take(2000))
    assert(!incPlan.substring(mergeIdx, unionIdx).contains("Exchange"),
      incPlan.substring(mergeIdx, math.min(unionIdx + 200, incPlan.length)))
  }

  test("vocab-id assignment has no global un-partitioned window") {
    // Text.buildVocab replaces row_number() OVER (ORDER BY token) — a
    // single-task global window — with range-partition + zipWithIndex;
    // the tokenids plan must contain no Window operator at all
    val plan = physicalPlan("q_text_tokenids")
    assert(!plan.contains("Window"), plan.take(2000))
    import spark.implicits._
    // ids are still exactly row_number-over-token-order
    val toks = Seq("b", "c", "a", "c", "b").toDF("token")
    val got = graft.functions.Text.buildVocab(toks)
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("seasonalFill join strategy is size-driven (no forced broadcast hints)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i % 7, i % 24, i % 5,
      if (i % 11 == 0) None else Some(i.toDouble))).toDF("g", "fine", "coarse", "v")
    val filled = graft.operators.Windows.seasonalFill(
      df, "g", col("fine"), col("coarse"), "v")
    // no ResolvedHint survives in the optimized plan — the optimizer is
    // free to pick broadcast (small side) or shuffle join (large side)
    val logical = filled.queryExecution.optimizedPlan.toString
    assert(!logical.contains("ResolvedHint"), logical.take(1500))
    filled.collect()  // still executes correctly without the hints
  }

  test("pure-SQL client parity: spark.sql over temp views equals the DataFrame plan") {
    import spark.implicits._
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "nation", "region"))
      Tables(spark, sf, t).createOrReplaceTempView(t)
    val viaSql = spark.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
      .as[(String, Double)].collect().toSeq
    val viaDf = SparkEntry.queries("q_tpch_q5")(spark, sf)
      .as[(String, Double)].collect().toSeq
    assert(viaSql === viaDf)
  }

  test("cosine_sim SQL function registered via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT))) AS c").collect()(0).getDouble(0)
    assert(math.abs(r - 0.6) < 1e-6)
  }

  test("scale guard: no cartesian/nested-loop join outside the documented all-pairs ops") {
    // Permanent regression gate for the per-round "no scale-killers"
    // audit: every registered query's physical plan must be free of
    // CartesianProduct and BroadcastNestedLoopJoin, except the three
    // operators whose all-pairs shape is the documented design:
    //  - q_sim_topk: exact brute-force ANN baseline (Similarity.bruteForceTopK)
    //  - q_j3_gravity: all-pairs gravity flow matrix (zones × zones, COO)
    // (q_j2_nearest left this list when it moved to the tick-domain
    // kernel — its plan is equi-joins + a bounded-domain window)
    val allPairsByDesign = Set("q_sim_topk", "q_j3_gravity")
    // q_sim_ivf's nested-loop is NOT all-pairs: it is the coarse
    // quantizer assigning vectors to the constant nCells-row centroid
    // table (bounded 16× fan-out, O(N·nCells)); the candidate join
    // itself is an equi-join on the cell id.
    // q_tpch_q22's / q_tpch_q11's nested-loop is a ONE-row broadcast
    // (the scalar avg-balance / total-value threshold): O(N·1) — a
    // broadcast scalar, not a join. q_lm_score (1-row reference-vocab
    // aggregate V) and q_domain_shift (1-row corpus token total) are
    // the same class: a broadcast scalar riding every row, as is
    // q_dsir_select (1-row model totals + 1-row median threshold).
    // round 13 additions of the same 1-row broadcast-scalar class:
    // q_equidepth (1-row boundary array), q_key_skew (1-row key
    // stats), q_text_pmi (1-row bigram total); r16: q_equidepth_auto
    // (the same 1-row boundary array through the dispatched arm, plus
    // the export's 1-row bin-total anchor). q_theta_overlap is
    // slice-pairs-by-design: both join sides are per-slice AGGREGATED
    // sketch rows (∝ #slices, never corpus rows), paired with an
    // inequality — O(slices²) on tables that are tiny by construction.
    val boundedBroadcastByDesign =
      Set("q_sim_ivf", "q_tpch_q22", "q_tpch_q11", "q_lm_score",
        "q_domain_shift", "q_dsir_select", "q_dsir_select_approx",
        "q_equidepth", "q_equidepth_auto", "q_key_skew", "q_text_pmi",
        "q_theta_overlap")
    val allowed = allPairsByDesign ++ boundedBroadcastByDesign
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = physicalPlan(name)
      val crossy = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (crossy && !allowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"undocumented all-pairs plan in: $offenders")
    // keep the whitelist honest: the documented ones really do cross-join
    allowed.foreach { name =>
      val plan = physicalPlan(name)
      assert(plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin"), s"$name no longer cross-joins — drop it from the whitelist")
    }
  }

  test("scale guard: no un-partitioned Window operator anywhere in the registry") {
    // Permanent gate for the round-13 fix: a Window with an empty
    // partitionSpec single-tasks its whole input ("WindowExec: No
    // Partition Defined"). The last one (the ticks-1D pred/succ sweep)
    // moved to bucket-partitioned windows with a driver carry table —
    // no registered query may ever plan one again. Checked on the
    // optimized logical plan: Window survives 1:1 into WindowExec, and
    // logical planning avoids executing queries (the ticks kernel runs
    // two driver jobs at plan-build time either way).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val global = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (global.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty, s"global (un-partitioned) Window in: $offenders")
  }

  test("Q21: EXISTS/NOT-EXISTS decorrelate to hash semi/anti joins, not BNLJ") {
    // the correlated "another supplier on the same order" EXISTS and
    // the "no other late supplier" NOT EXISTS must plan as equi
    // semi/anti joins on the order key (supplier inequality riding as
    // a join condition) — a BroadcastNestedLoopJoin here would be
    // O(late × lineitem) and die at 100 TB
    val plan = physicalPlan("q_tpch_q21")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
  }

  test("Q16: NOT IN subquery plans as a null-aware anti join (NAAJ), not BNLJ") {
    // single-key NOT IN → BroadcastHashJoin LeftAnti with the
    // null-aware flag (spark.sql.optimizeNullAwareAntiJoin); the
    // unoptimized fallback is a BroadcastNestedLoopJoin with an
    // OR-isnull condition that never hash-partitions
    // sf0.01, not the suite default sf0.001: at sf0.001 zero of the 10
    // suppliers have s_acctbal < 0, the NOT IN build side is empty, and
    // AQE's empty-relation propagation deletes the anti join from the
    // finalized plan entirely — the walk below would find nothing even
    // though the plan is correct. sf0.01 has negative-balance suppliers,
    // so the NAAJ survives into the executed plan.
    val sfNaaj = "/root/testdata/sf0.01"
    val df = SparkEntry.queries("q_tpch_q16")(spark, sfNaaj)
    df.collect()   // AQE finalizes this df's physical plan
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString.take(2000))
    // inspect the operator flag itself, not its Spark-version-specific
    // toString layout (the trailing-boolean formatting of
    // isNullAwareAntiJoin has changed across releases). AQE wraps the
    // tree in leaf nodes (AdaptiveSparkPlanExec, QueryStageExec) that
    // collect() won't descend through — allOps walks them.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val naaj = allOps(plan).collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty, s"no null-aware BroadcastHashJoin found:\n${plan.toString.take(2000)}")
  }

  test("q_dpp_dayslice: the registered query's scan carries a dynamicpruning filter") {
    // ScaleOpsSpec proves DPP works in this session config on ad-hoc
    // tables; this pins the BENCHED query to that plan — a regression
    // to a full scan would silently erase the measured pruning win
    val plan = physicalPlan("q_dpp_dayslice")
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
  }

  test("profile approxDistinct shuffles no distinct values (HLL sketch merge only)") {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = Tables(spark, sf, "lineitem")
    // exact countDistinct: the optimizer prunes the wide agg through
    // the union into per-column single-distinct aggregates, each
    // REGROUPING the column's values on a hash exchange — the cost
    // that scales with per-column cardinality at 100 TB…
    val exact = graft.operators.Profile.profile(li, cols)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Exchange hashpartitioning"), exact.take(1200))
    // …which the HLL path must NOT pay: partial sketches merge through
    // the single-partition exchange only, no value-keyed shuffle and
    // no multi-distinct Expand anywhere
    val approx = graft.operators.Profile.profile(li, cols, approxDistinct = true)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Exchange hashpartitioning"), approx.take(1200))
    assert(!approx.contains("Expand"), approx.take(1200))
  }

  test("ANN recall@5 vs exact top-k ground truth (LSH and IVF)") {
    import spark.implicits._
    // self-oracle: q_sim_topk is the exact brute-force baseline; the
    // approximate variants must recover most of its neighbor sets
    def sets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf)
        .select(col("q_id"), col("n_id")).as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = sets("q_sim_topk")
    for (approx <- Seq("q_sim_ann", "q_sim_ivf")) {
      val got = sets(approx)
      val recalls = exact.map { case (q, truth) =>
        got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.6, s"$approx mean recall@5 = $mean < 0.6")
    }
  }

  test("MinHash-LSH and embedding-LSH dedup recall vs their exact pair sets") {
    import spark.implicits._
    // the oracle checks these operators hash-for-hash against its own
    // SQL twin; these gates check their LSH recall vs exact truth
    val docs = Tables(spark, sf, "documents")
    val exactPairs = graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", w = 3, threshold = 0.05)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lshPairs = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text", w = 3,
        numHashes = 16, bands = 8, threshold = 0.05)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lshPairs.subsetOf(exactPairs))   // exact-verify ⇒ precision 1
    val mhRecall = lshPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(mhRecall >= 0.7, s"minhash recall = $mhRecall < 0.7")

    // embedding-LSH near-dup vs brute-force cosine pairs ≥ threshold
    val e = Tables(spark, sf, "embeddings").filter(col("vec_id") < 500)
    val truth = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.Vectors.cosine(col("va"), col("vb")) >= 0.35)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val near = graft.operators.Dedup
      .embeddingNearDup(e, "vec_id", "embedding", dim = 64, threshold = 0.35,
        bits = 4, tables = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(near.subsetOf(truth))
    val emRecall = if (truth.isEmpty) 1.0
      else near.intersect(truth).size.toDouble / truth.size
    assert(emRecall >= 0.6, s"embedding near-dup recall = $emRecall < 0.6")
  }

  test("star-schema hard hints cover only fixed-size dims or ≤1-row aggregates") {
    // the scale rule from the Q8 rewrite: every TPC-H table except
    // nation (25 rows) and region (5 rows) grows linearly with SF —
    // including part and supplier (at sf0.1 part is already larger
    // than customer) — so a hard broadcast hint on any of them would
    // force-materialize a corpus-sized relation on every executor at
    // 100×. Hints may only cover the true fixed dims (nation/region,
    // day dims, eval sets) or global-aggregate (≤1-row) subtrees;
    // everything else is AQE's call — it broadcasts the same tables
    // unhinted at every size where doing so is safe.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scaling = Seq("customer", "orders", "lineitem", "part", "supplier",
      "events", "documents", "embeddings")
    val names = SparkEntry.queries.keys
      .filter(n => n.startsWith("q_tpch_") || n == "q_a7_ols" || n == "q_j1_join3")
    assert(names.size >= 24)   // the full 22-shape suite + OLS + J1
    for (name <- names.toSeq.sorted) {
      val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint =>
          val globalAgg = h.child.collectFirst {
            case a: Aggregate if a.groupingExpressions.isEmpty => a
          }.isDefined
          if (!globalAgg) {
            val paths = h.child.collect {
              case lr: LogicalRelation => lr.relation match {
                case fs: HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString).mkString(",")
                case other => other.toString
              }
            }
            val bad = paths.filter(p => scaling.exists(tb => p.contains(s"/$tb")))
            assert(bad.isEmpty, s"$name: hard hint covers corpus-scaling input(s): $bad")
          }
        case _ => ()
      }
    }
  }

  test("fused CosineSim equals the composed zip_with/aggregate form bit-for-bit") {
    import spark.implicits._
    val e = Tables(spark, sf, "embeddings").limit(200)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib")).limit(5000)
    val diff = pairs.select(
      graft.functions.Vectors.cosine(col("va"), col("vb")).as("fused"),
      ComposedVectors.cosine(col("va"), col("vb")).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(diff === 0)
  }

  test("fused CosineFold and DetHyperplaneKeys equal their composed forms bit-for-bit") {
    import spark.implicits._
    val e = Tables(spark, sf, "embeddings").limit(200)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib")).limit(5000)
    val cosDiff = pairs.select(
      graft.functions.Vectors.cosineFold(col("va"), col("vb"), 64).as("fused"),
      graft.functions.Vectors.cosineFoldComposed(col("va"), col("vb"), 64).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(cosDiff === 0)
    val keyDiff = e.select(
      graft.functions.Vectors.detHyperplaneKeys(col("embedding"), 64, 4, 8).as("fused"),
      graft.functions.Vectors.detHyperplaneKeysComposed(col("embedding"), 64, 4, 8).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(keyDiff === 0)
  }

  test("fused vector expressions: ragged-vector contract matches each reference form") {
    import spark.implicits._
    // round-13 parity sweep (KMeansArgmin got its strict check in r12;
    // this pins the rest of the fixed-dim family): no fused expression
    // may silently TRUNCATE a dim mismatch — it must do whatever its
    // reference form does (null-poison or named error)
    val ragged = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    // CosineSim/DotProduct: composed zip_with pads the shorter array
    // with nulls → null result; fused must agree, not truncate
    val r = ragged.select(
      graft.functions.Vectors.cosine(col("a"), col("b")).as("c"),
      graft.functions.Vectors.dot(col("a"), col("b")).as("d"),
      ComposedVectors.dot(col("a"), col("b")).as("dc")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r.toString)
    // fixed-dim folds: a vector SHORTER than the declared dim throws a
    // named error on every path (the composed folds' element_at dies
    // under ANSI too — never a silent partial dot)
    def rootMsgs(f: => Any): String = {
      val e = QuietLogs(QuietLogs.ListenerBus)(intercept[Throwable](f))
      Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(rootMsgs(ragged.select(graft.functions.Vectors
      .cosineFold(col("a"), col("b"), 3)).collect()).contains("cosine_fold"))
    assert(rootMsgs(ragged.select(graft.functions.Vectors
      .detHyperplaneKeys(col("b"), 3, 4, 2)).collect()).contains("det_hyperplane_keys"))
    // and longer-than-dim uses the first dim components, same as the
    // composed folds' element_at(1..dim) — no error, no extra terms
    val long = ragged.select(graft.functions.Vectors
        .cosineFold(col("a"), col("a"), 2).as("f"),
      graft.functions.Vectors.cosineFoldComposed(col("a"), col("a"), 2).as("c"))
      .collect()(0)
    assert(long.getDouble(0) === long.getDouble(1))
    // KMeansArgmin: a direct expression construction with a degenerate
    // matrix fails at CONSTRUCTION with the named require, not at
    // eval-time with a raw IndexOutOfBounds (r12 ADVICE)
    val bad = intercept[IllegalArgumentException] {
      graft.functions.KMeansArgminExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("a")), Seq.empty)
    }
    assert(bad.getMessage.contains("kmeans_argmin"), bad.getMessage)
    val badRagged = intercept[IllegalArgumentException] {
      graft.functions.KMeansArgminExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("a")),
        Seq(Seq(1L, 2L), Seq(3L)))
    }
    assert(badRagged.getMessage.contains("rectangular"), badRagged.getMessage)
  }

  test("fused vector folds reject array<double> at ANALYSIS, not at runtime") {
    import spark.implicits._
    // the fused loops read getFloat(d) raw bytes: an embeddings
    // regeneration to array<double> must die where ContractSpec gates
    // every query (analysis), never read garbage cosines at runtime
    val dbl = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.4)))
      .toDF("id", "v") // v: array<double>
    val cos = QuietLogs(QuietLogs.ListenerBus)(intercept[org.apache.spark.sql.AnalysisException] {
      dbl.select(graft.functions.Vectors
        .cosineFold(col("v"), col("v"), 2)).queryExecution.analyzed
    })
    assert(cos.getMessage.contains("cosine_fold"), cos.getMessage)
    val keys = QuietLogs(QuietLogs.ListenerBus)(intercept[org.apache.spark.sql.AnalysisException] {
      dbl.select(graft.functions.Vectors
        .detHyperplaneKeys(col("v"), 2, 4, 8)).queryExecution.analyzed
    })
    assert(keys.getMessage.contains("det_hyperplane_keys"), keys.getMessage)
  }

  test("fused QualityStatsExpr equals the composed regex/split form row-for-row") {
    import spark.implicits._
    // real corpus + adversarial edges: consecutive stopwords, double
    // spaces (empty tokens), trailing space, single token,
    // punctuation-only, multi-byte codepoints (each counts once as
    // punct and once as a char), and null text (null features both
    // ways). Empty text is OUTSIDE the operator contract: ANSI mode
    // throws on its 0/0 punct_ratio in both forms alike.
    val docs = (Tables(spark, sf, "documents").select("doc_id", "text")
      union Seq((200001L, Some("the a the")), (200002L, Some("a  b ")),
          (200003L, Some("x")), (200005L, Some("!?.,")),
          (200006L, Some("café 世界 a")), (200007L, None))
        .toDF("doc_id", "text"))
    val stops = Seq("the", "a")
    val fused = graft.functions.Text.qualityFeatures(docs, "text", stops)
      .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio")
      .orderBy("doc_id").collect().toSeq
    val composed = graft.functions.Text.qualityFeaturesComposed(docs, "text", stops)
      .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio")
      .orderBy("doc_id").collect().toSeq
    assert(fused.map(_.toString) === composed.map(_.toString))
    // and the gate plan is exchange-free up to its output sort
    val plan = graft.functions.Text.qualityFeatures(
      Tables(spark, sf, "documents"), "text", stops)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("bucketed join: zero exchanges below the sort-merge join; bucketed rollup: zero anywhere") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // fact–fact join over the bucketed layout: the SMJ's subtree must
    // contain no shuffle — the buckets ARE the distribution
    val join = SparkEntry.queries("q_bucket_join")(spark, sf)
    join.collect()   // AQE-finalize
    val smj = allOps(join.queryExecution.executedPlan)
      .collectFirst { case j: SortMergeJoinExec => j }
      .getOrElse(fail("no SortMergeJoin in q_bucket_join plan:\n" +
        join.queryExecution.executedPlan.toString.take(2000)))
    val below = (allOps(smj.left) ++ allOps(smj.right))
      .collect { case e: ShuffleExchangeLike => e }
    assert(below.isEmpty, s"exchange below the bucketed SMJ:\n$smj")

    // aggregation on the bucket key: the ENTIRE plan is exchange-free
    val rollup = graft.operators.Bucketing.bucketedOrderRollup(spark, sf)
    rollup.collect()
    val anywhere = allOps(rollup.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
    assert(anywhere.isEmpty,
      rollup.queryExecution.executedPlan.toString.take(2000))

    // and the layout is results-invisible: bucketed join ≡ plain join
    val plain = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"),
        graft.operators.Exact.dsum(
          org.apache.spark.sql.functions.expr(
            "l_extendedprice * (1 - l_discount)")).as("revenue"))
      .orderBy("o_orderpriority")
    assert(join.collect().toSeq === plain.collect().toSeq)
  }

  test("attachBucketed re-registers a durable layout without rewriting a byte") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_attach_").toString
    val df = Tables(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    graft.operators.Bucketing.writeBucketed(
      df, "attach_t", s"$dir/t", 4, "o_orderkey", Seq("o_orderkey"))
    val files = () => new java.io.File(s"$dir/t").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val before = files()
    val expect = spark.table("attach_t").orderBy("o_orderkey").collect().toSeq
    spark.sql("DROP TABLE attach_t") // a fresh session's empty catalog
    assert(graft.operators.Bucketing.attachBucketed(
      spark, "attach_t", s"$dir/t", 4, "o_orderkey", Seq("o_orderkey")))
    assert(files() === before) // same files, same mtimes — nothing rewritten
    assert(spark.table("attach_t").orderBy("o_orderkey").collect().toSeq === expect)
    // the attached table still carries the bucket distribution: a
    // bucket-key aggregation plans with no exchange at all
    val agg = spark.table("attach_t").groupBy("o_orderkey").agg(count(lit(1)).as("n"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      agg.queryExecution.executedPlan.toString.take(1500))
    // a spec mismatch refuses the attach (mis-bucketed joins are silent
    // corruption — the strict marker check is the guard)
    assert(!graft.operators.Bucketing.attachBucketed(
      spark, "attach_t2", s"$dir/t", 8, "o_orderkey", Seq("o_orderkey")))
  }

  test("fused RepetitionStatsExpr equals the composed explode/groupBy form row-for-row") {
    import spark.implicits._
    // includes docs with trailing spaces, repeats, a single token, and a
    // NULL text (both forms must drop it — composed explodes to no rows,
    // fused filters it before the expression)
    val docs = (Tables(spark, sf, "documents").select("doc_id", "text")
      union Seq((100001L, Some("a a a")), (100002L, Some("x")),
          (100003L, Some("b b ")), (100004L, Some("")), (100005L, None))
        .toDF("doc_id", "text"))
    val fused = graft.functions.Text.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val composed = graft.functions.Text.repetitionStatsComposed(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(fused === composed)
    // and the plan really is exchange-free (scan-parallel)
    val plan = graft.functions.Text.repetitionStats(
      Tables(spark, sf, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }
}

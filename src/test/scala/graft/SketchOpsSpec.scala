package graft

import graft.functions.Text
import graft.operators.{Dedup, Profile, Sampling, Sketches}
import org.apache.spark.sql.functions._

/** Round-13 additions: mergeable aggregate state (HLL + additive),
  * quality-aware dedup apply, leakage-safe splitting, and the
  * profiling/corpus diagnostics (equi-depth bins, key skew, join
  * cardinality, PMI collocations). */
class SketchOpsSpec extends SparkSpec {
  import spark.implicits._

  private val cuts = Seq("train" -> 80, "val" -> 90, "test" -> 100)

  test("equidepth: quartile bins of 1..8 hold 2 rows each; approx arm agrees here") {
    val df = (1 to 8).map(_.toDouble).toDF("v")
    // boundaries = interpolated (2.75, 4.5, 6.25) → bins {1,2},{3,4},{5,6},{7,8}
    val got = Profile.equidepth(df, "v", bins = 4).orderBy("bin")
      .as[(Int, Long, Double, Double)].collect()
    assert(got.toSeq === Seq((0, 2L, 1.0, 2.0), (1, 2L, 3.0, 4.0),
      (2, 2L, 5.0, 6.0), (3, 2L, 7.0, 8.0)))
    // at a size far under k the KLL arm retains every value: its
    // order-statistic boundaries (2, 4, 6) differ from the exact
    // interpolated ones (2.75, 4.5, 6.25) but induce the same bins
    val approx = Profile.equidepth(df, "v", bins = 4, arm = Profile.Arm.Sketch)
      .orderBy("bin").as[(Int, Long, Double, Double)].collect()
    assert(approx.toSeq === got.toSeq)
  }

  test("keySkew ranks the heaviest keys with their over-uniform factor") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val got = Profile.keySkew(df, "k", topK = 2)
      .as[(String, Long, Long, Long, Double)].collect()
    // n_keys=3, n_rows=10: a → 6·3/10 = 1.8, b → 3·3/10 = 0.9
    assert(got.toSeq === Seq(("a", 6L, 3L, 10L, 1.8), ("b", 3L, 3L, 10L, 0.9)))
  }

  test("joinCardinality predicts the inner-join size without executing it") {
    val left = Seq(1L, 1L, 2L, 3L).toDF("lk")
    val right = Seq(1L, 2L, 2L, 4L).toDF("rk")
    val card = Profile.joinCardinality(left, "lk", right, "rk")
    // products carried as DECIMAL(38,0) (r13 ADVICE): Long arithmetic
    // would wrap silently on a ~3e9 × 3e9 hot key — the exact scale
    // this pre-flight exists for
    assert(card.schema("join_rows").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 0))
    assert(card.schema("max_key_rows").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 0))
    val got = card.select(col("join_rows").cast("long"),
        col("n_matching_keys"), col("max_key_rows").cast("long"))
      .as[(Long, Long, Long)].collect().head
    assert(got === ((4L, 2L, 2L))) // keys 1: 2·1, 2: 1·2 → 4 rows total
    assert(left.join(right, col("lk") === col("rk")).count() === got._1)
  }

  test("collocations: PMI from position-specific marginals, rank by rounded pmi then bigram") {
    val docs = Seq("x y x y", "z w").toDF("text")
    val got = Text.collocations(docs, "text", minCount = 1, topK = 10)
      .as[(String, Long, Double)].collect()
    // bigram positions: "x y"×2, "y x"×1, "z w"×1 (N=4)
    // PMI(x y) = ln(2·4/(2·2)) = ln2; PMI(y x) = PMI(z w) = ln4 —
    // the tie breaks on the bigram string
    assert(got.toSeq === Seq(
      ("y x", 1L, 1.386294), ("z w", 1L, 1.386294), ("x y", 2L, 0.693147)))
  }

  test("aggState + mergeStates: merged slices equal the one-shot aggregate exactly") {
    val rows = (0 until 1000).map(i => (i.toLong, s"p${i % 3}", (i % 97).toDouble, i.toLong % 250))
    val df = rows.toDF("id", "key", "v", "u")
    val oneShot = Sketches.readState(
      Sketches.aggState(df, Seq("key"), "v", "u"))
    // three arbitrary slices (uneven, not aligned with the key) merged
    // pairwise in a different order than they were built
    val s1 = Sketches.aggState(df.filter(col("id") < 100), Seq("key"), "v", "u")
    val s2 = Sketches.aggState(df.filter(col("id") >= 100 && col("id") < 617), Seq("key"), "v", "u")
    val s3 = Sketches.aggState(df.filter(col("id") >= 617), Seq("key"), "v", "u")
    val merged = Sketches.readState(
      Sketches.mergeStates(s3.unionByName(Sketches.mergeStates(s1.unionByName(s2), Seq("key"))), Seq("key")))
    val a = oneShot.orderBy("key")
      .select("key", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Double, Double, Double)].collect()
    val b = merged.orderBy("key")
      .select("key", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(a.toSeq === b.toSeq) // decimal route ⇒ bit-identical sums
    // sketch estimates: tolerance, not bit-equality (union tree shape
    // may legally change the HLL register encoding)
    val ests = oneShot.orderBy("key").select("nd_est").as[Long].collect()
      .zip(merged.orderBy("key").select("nd_est").as[Long].collect())
    val exact = df.groupBy("key").agg(countDistinct(col("u")).as("nd"))
      .orderBy("key").select("nd").as[Long].collect()
    ests.zip(exact).foreach { case ((e1, e2), ex) =>
      assert(math.abs(e1 - ex) <= ex * 0.02 + 16, s"one-shot est $e1 vs exact $ex")
      assert(math.abs(e2 - ex) <= ex * 0.02 + 16, s"merged est $e2 vs exact $ex")
    }
  }

  test("updateState folds a batch into state without touching history rows") {
    val hist = (0 until 500).map(i => (s"k${i % 2}", i.toDouble, i.toLong % 100)).toDF("key", "v", "u")
    val batch = (500 until 800).map(i => (s"k${i % 2}", i.toDouble, i.toLong % 130)).toDF("key", "v", "u")
    val state = Sketches.aggState(hist, Seq("key"), "v", "u")
    val updated = Sketches.readState(
      Sketches.updateState(state, batch, Seq("key"), "v", "u"))
    val scratch = Sketches.readState(
      Sketches.aggState(hist.unionByName(batch), Seq("key"), "v", "u"))
    val a = updated.orderBy("key").select("key", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Double, Double, Double)].collect()
    val b = scratch.orderBy("key").select("key", "n", "sum_v", "min_v", "max_v")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(a.toSeq === b.toSeq)
  }

  test("hllPartials/hllMerge: rollup over partial sketches tracks exact distincts") {
    val df = (0 until 2000).map(i => (i % 4, i % 7, (i % 731).toLong)).toDF("key", "day", "u")
    val merged = Sketches.hllMerge(
      Sketches.hllPartials(df, Seq("key", "day"), "u"), Seq("key"))
      .orderBy("key")
    val exact = df.groupBy("key").agg(countDistinct(col("u")).as("nd"), count(lit(1)).as("n"))
      .orderBy("key").as[(Int, Long, Long)].collect()
    val got = merged.select("key", "n", "nd_est").as[(Int, Long, Long)].collect()
    got.zip(exact).foreach { case ((k, n, est), (ek, nd, en)) =>
      assert(k === ek && n === en)
      assert(math.abs(est - nd) <= nd * 0.02 + 16, s"key $k: est $est vs exact $nd")
    }
  }

  test("theta overlap: exact below nominal entries, partitioning-independent") {
    // slices: a = {0..999}, b = {500..1499} → overlap 500; both under
    // 2^12 nominal entries, so the theta sketch holds the full set and
    // every estimate is EXACT
    val rows = (0 until 1000).map(u => ("a", u.toLong)) ++
      (500 until 1500).map(u => ("b", u.toLong))
    val df = rows.toDF("slice", "u")
    val got = Sketches.distinctOverlap(
      Sketches.thetaPartials(df, Seq("slice"), "u"), "slice")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(("a", "b", 1000L, 1000L, 500L, 500L)))
    // hash-ordered retention ⇒ the sketch is a pure function of the
    // SET: any partitioning/merge tree yields the same bytes
    val repart = Sketches.distinctOverlap(
      Sketches.thetaPartials(df.repartition(7, col("u")), Seq("slice"), "u"),
      "slice").as[(String, String, Long, Long, Long, Long)].collect()
    assert(repart.toSeq === got.toSeq)
  }

  test("kll partials: exact below k, slice merge and parquet round-trip agree") {
    // 100 values across 4 slices, all under k=800 → the sketch holds
    // the exact multiset and getQuantile is an exact order statistic
    val df = (1 to 100).map(i => (s"s${i % 4}", i.toDouble)).toDF("slice", "v")
    val partials = Sketches.kllPartials(df, Seq("slice"), "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_kll_").toString
    partials.write.mode("overwrite").parquet(dir)
    val merged = Sketches.kllMerge(spark.read.parquet(dir), Seq.empty)
    val got = Sketches.kllQuantiles(merged, Seq(0.5, 0.9))
      .select("n", "q50", "q90").as[(Long, Double, Double)].collect().head
    assert(got._1 === 100L)
    // INCLUSIVE rank semantics: smallest value with rank ≥ p
    assert(got._2 === 50.0, s"median ${got._2}")
    assert(got._3 === 90.0, s"p90 ${got._3}")
  }

  test("weighted KLL build equals the plain sketch's answers on the same multiset") {
    import graft.functions.{KllQuantileEstimate, KllSketchAgg}
    // multiset: value i (1..50) appears i·10 times (12,750 rows). The
    // weighted arm sees ONE row per value with its count as weight —
    // 50 retained items at k=800, so binary weight decomposition makes
    // rank queries exact order statistics, same as the raw sketch
    // below k... which here is ABOVE k (12,750 > 800) and may compact;
    // so assert the weighted arm against the EXACT order statistic.
    val counts = (1 to 50).map(i => (i.toDouble, i * 10L))
    val raw = counts.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }
    def exactAtRank(p: Double): Double = { // inclusive: smallest v with rank ≥ p
      val sorted = raw.sorted
      sorted(math.ceil(p * sorted.size).toInt - 1)
    }
    val wdf = counts.toDF("v", "w")
    val got = wdf.agg(
        KllQuantileEstimate(KllSketchAgg(col("v"), col("w")),
          lit(0.5)).as("q50"),
        KllQuantileEstimate(KllSketchAgg(col("v"), col("w")),
          lit(0.9)).as("q90"))
      .as[(Double, Double)].collect().head
    assert(got._1 === exactAtRank(0.5), s"weighted median ${got._1}")
    assert(got._2 === exactAtRank(0.9), s"weighted p90 ${got._2}")
    // null value OR null weight skips the row (same contract as the
    // plain sketch's null skip) — the estimate over the survivors only
    val withNulls = (counts.map { case (v, w) => (Some(v), Some(w)) } ++
      Seq((None, Some(99999L)), (Some(9999.0), None)))
      .toDF("v", "w")
    val gotN = withNulls.agg(
        KllQuantileEstimate(KllSketchAgg(col("v"), col("w")),
          lit(0.5)))
      .as[Double].collect().head
    assert(gotN === exactAtRank(0.5), s"null-skipping weighted median $gotN")
    // weight < 1 is a caller bug and must surface as the operator's
    // own named error, not an opaque SketchesArgumentException from
    // deep inside an executor task
    val badEx = QuietLogs("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager")(intercept[Throwable] {
      Seq((1.0, 0L)).toDF("v", "w")
        .agg(KllQuantileEstimate(KllSketchAgg(col("v"), col("w")),
          lit(0.5))).collect()
    })
    val msgs = Iterator.iterate(badEx)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("kll_sketch_weighted_agg") && msgs.contains(">= 1"), msgs)
    // merge-safety: partial weighted sketches built on shards answer
    // identically after a binary-mode merge (the map-side-combine path)
    val merged = wdf.repartition(7, col("v"))
      .groupBy(pmod(col("v").cast("int"), lit(3)).as("shard"))
      .agg(KllSketchAgg(col("v"), col("w")).as("sk"))
      .agg(KllQuantileEstimate(KllSketchAgg(col("sk")), lit(0.5)))
      .as[Double].collect().head
    assert(merged === exactAtRank(0.5), s"merged weighted median $merged")
  }

  test("KLL unit weights: all-ones build is byte-identical, (value, count) build answers exact ranks") {
    import graft.functions.KllSketchAgg
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    // rows: a value, a unit weight and a count, each possibly null; few
    // distinct values, so duplicates are the rule. At most 100 rows of
    // counts ≤ 50 keep every build under k retained items (a weight
    // occupies one item per set bit), where KLL is exact — above k its
    // compaction draws from an unseeded random source, so no byte
    // identity holds there.
    val rowsGen = Gen.choose(0, 100).flatMap(Gen.listOfN(_, Gen.zip(
      Gen.option(Gen.choose(-10, 10).map(_.toDouble)),
      Gen.option(Gen.const(1L)),
      Gen.option(Gen.choose(1L, 50L)))))
    val ranks = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
    def sketch(bytes: Array[Byte]) = KllDoublesSketch.heapify(Memory.wrap(bytes))
    val prop = Prop.forAllNoShrink(rowsGen, Gen.choose(1, 4)) { (rows, parts) =>
      val got = rows.toDF("v", "one", "n").repartition(parts).agg(
          KllSketchAgg(when(col("one").isNotNull, col("v"))).as("plain"),
          KllSketchAgg(col("v"), col("one")).as("ones"),
          KllSketchAgg(col("v"), col("n")).as("counted"))
        .as[(Array[Byte], Array[Byte], Array[Byte])].collect().head
      // the expanded multiset and its INCLUSIVE order statistic: the
      // smallest value whose rank reaches p (DataSketches rounds p·N to
      // 7 decimals on small N before the ceiling)
      val expanded = rows.collect { case (Some(v), _, Some(n)) => Seq.fill(n.toInt)(v) }
        .flatten.sorted
      def exact(p: Double) =
        expanded(math.ceil(math.round(p * expanded.size * 1e7) / 1e7).toInt - 1)
      val counted = sketch(got._3)
      val answers = if (counted.isEmpty) Nil else ranks.map(counted.getQuantile)
      Prop(got._1.sameElements(got._2)) :| s"unit weights change the bytes over $parts partitions" &&
        Prop(answers == (if (expanded.isEmpty) Nil else ranks.map(exact))) :|
          s"weighted ranks $answers over ${expanded.size} expanded values"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(20261020L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("madOutliers/winsorize preAggregate arm holds the oracle band contracts") {
    import graft.operators.Profile
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
    // the pre-aggregated sketch arm must satisfy the SAME ±1% rank
    // bands the registered *_approx twins pin (and the plan must
    // actually run the weighted aggregate, not silently fall back)
    val mad = Profile.madOutliers(li, "l_quantity", Seq("l_returnflag"),
      k = 1.5, arm = Profile.Arm.WeightedSketch)
    assert(mad.queryExecution.optimizedPlan.toString
      .contains("kll_sketch_weighted_agg"))
    val exMed = li.groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, array(0.49, 0.51))").as("em"))
    val medChecks = mad.groupBy("l_returnflag")
      .agg(min("_med").as("_amed"), min("_mad").as("_amad"))
      .join(exMed, "l_returnflag")
      .select((col("_amed") >= col("em")(0) && col("_amed") <= col("em")(1)).as("ok"))
      .as[Boolean].collect()
    assert(medChecks.forall(identity), medChecks.mkString(","))
    val w = Profile.winsorize(li, "l_quantity", Seq("l_returnflag"),
      lo = 0.05, hi = 0.95, arm = Profile.Arm.WeightedSketch)
    assert(w.queryExecution.optimizedPlan.toString
      .contains("kll_sketch_weighted_agg"))
    val exB = li.groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, array(0.04, 0.06, 0.94, 0.96))").as("e"))
    val bChecks = w.groupBy("l_returnflag")
      .agg(min("_lo").as("_alo"), min("_hi").as("_ahi"),
        sum(when(col("l_quantity_w") < col("_lo")
          || col("l_quantity_w") > col("_hi"), 1L).otherwise(0L)).as("esc"))
      .join(exB, "l_returnflag")
      .select((col("_alo") >= col("e")(0) && col("_alo") <= col("e")(1)
        && col("_ahi") >= col("e")(2) && col("_ahi") <= col("e")(3)
        && col("esc") === 0L).as("ok"))
      .as[Boolean].collect()
    assert(bChecks.forall(identity), bChecks.mkString(","))
  }

  test("theta partials survive a parquet round-trip (the state-table path)") {
    // production stores partials as a table and intersects LATER runs'
    // sketches against them — the binary column must round-trip
    val rows = (0 until 800).map(u => ("a", u.toLong)) ++
      (400 until 1200).map(u => ("b", u.toLong))
    val partials = Sketches.thetaPartials(rows.toDF("slice", "u"), Seq("slice"), "u")
    val dir = java.nio.file.Files.createTempDirectory("graft_theta_").toString
    partials.write.mode("overwrite").parquet(dir)
    val got = Sketches.distinctOverlap(spark.read.parquet(dir), "slice")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(("a", "b", 800L, 800L, 400L, 400L)))
  }

  test("theta overlap: sampling regime stays within the published error") {
    // 30k vs 30k with 15k shared, lgK=12 (4096 entries) → sampling;
    // intersection error ≈ (1/√k)·√(|A∪B|/|A∩B|) ≈ 2.7% here
    val rows = (0 until 30000).map(u => ("a", u.toLong)) ++
      (15000 until 45000).map(u => ("b", u.toLong))
    val got = Sketches.distinctOverlap(
      Sketches.thetaPartials(rows.toDF("slice", "u"), Seq("slice"), "u"),
      "slice").as[(String, String, Long, Long, Long, Long)].collect().head
    assert(math.abs(got._5 - 15000L) <= 15000 * 0.08,
      s"overlap estimate ${got._5} off from 15000")
    assert(math.abs(got._3 - 30000L) <= 30000 * 0.05)
    assert(math.abs(got._6 - 15000L) <= 15000 * 0.08,
      s"a-only estimate ${got._6} off from 15000")
  }

  test("applyNearDupsKeepBest keeps the max-score member, min-id on ties, singletons whole") {
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 20.0), // cluster {1,2,3} → keep 2 (max score)
      (5L, 7.0), (6L, 7.0),               // cluster {5,6}, tied → keep 5 (min id)
      (9L, 1.0)                           // singleton → kept
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.applyNearDupsKeepBest(docs, "doc_id", pairs, col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 5L, 9L))
  }

  test("leakFreeSplit: clusters move as one unit, singletons match byModulo, audit is empty") {
    // ids chosen so the per-doc modulo rule WOULD tear cluster {85,95}
    // across val/test; the unit rule sends both to bucket 85 → 'val'
    val docs = Seq(85L, 95L, 12L, 88L, 99L).toDF("doc_id")
    val pairs = Seq((85L, 95L)).toDF("doc_a", "doc_b")
    val assigned = Sampling.leakFreeSplit(docs, "doc_id", pairs, cuts)
    val got = assigned.select("doc_id", "unit", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (12L, 12L, "train"), (85L, 85L, "val"), (88L, 88L, "val"),
      (95L, 85L, "val"), (99L, 99L, "test")))
    // the audit of the leak-free assignment finds nothing to report
    assert(Sampling.splitContamination(assigned, "doc_id", pairs).count() === 0L)
    // while the per-doc rule leaks exactly the torn pair
    val perDoc = Sampling.byModulo(docs, "doc_id", cuts)
    val leaks = Sampling.splitContamination(perDoc, "doc_id", pairs)
      .as[(String, String, Long)].collect().toSeq
    assert(leaks === Seq(("val", "test", 1L)))
  }

  // ---- round 14: full combined state, theta merge/novelty ----

  test("thetaMerge: binary-mode union over partials equals the one-shot sketch (exact regime)") {
    // slices at (key, day) granularity merged to key — the rollup that
    // needs ThetaSketchAgg's r14 BINARY merge mode; all sets under
    // 4096 entries, so every estimate is exact
    val df = (0 until 3000).map(i => (s"k${i % 2}", i % 5, (i % 1100).toLong))
      .toDF("key", "day", "u")
    val merged = Sketches.thetaMerge(
      Sketches.thetaPartials(df, Seq("key", "day"), "u"), Seq("key"))
    val got = merged.select(col("key"), col("n"),
        round(graft.functions.ThetaEstimate(col("theta"))).cast("long").as("nd"))
      .orderBy("key").as[(String, Long, Long)].collect()
    val exact = df.groupBy("key")
      .agg(count(lit(1)).as("n"), countDistinct(col("u")).as("nd"))
      .orderBy("key").as[(String, Long, Long)].collect()
    assert(got.toSeq === exact.toSeq)
  }

  test("ThetaSketchAgg accepts float and decimal keys like KllSketchAgg (r13 ADVICE)") {
    import graft.functions.{ThetaEstimate, ThetaSketchAgg}
    val f = (1 to 100).map(i => (i % 37).toFloat).toDF("v")
      .agg(round(ThetaEstimate(ThetaSketchAgg(col("v"), 12))).cast("long"))
      .as[Long].collect().head
    assert(f === 37L)
    val d = (1 to 100).map(i => BigDecimal(i % 23)).toDF("v")
      .agg(round(ThetaEstimate(ThetaSketchAgg(col("v"), 12))).cast("long"))
      .as[Long].collect().head
    assert(d === 23L)
  }

  test("sketch agg prettyName survives an unresolved child (r13 ADVICE)") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    assert(graft.functions.KllSketchAgg(UnresolvedAttribute("x"))
      .prettyName === "kll_sketch_agg")
    assert(graft.functions.ThetaSketchAgg(UnresolvedAttribute("x"), 12)
      .prettyName === "theta_sketch_agg")
  }

  test("aggStateFull: one-pass state merges associatively; exact fields bit-identical") {
    val rows = (0 until 1200).map(i =>
      (i.toLong, s"p${i % 3}", (i % 101).toDouble, i.toLong % 300))
    val df = rows.toDF("id", "key", "v", "u")
    def exactCols(st: org.apache.spark.sql.DataFrame) =
      Sketches.readStateFull(st, Seq(0.5, 0.9)).orderBy("key")
        .select("key", "n", "sum_v", "min_v", "max_v")
        .as[(String, Long, Double, Double, Double)].collect().toSeq
    val oneShot = Sketches.aggStateFull(df, Seq("key"), "v", "u")
    // two different merge trees over three unaligned slices
    val s1 = Sketches.aggStateFull(df.filter(col("id") < 150), Seq("key"), "v", "u")
    val s2 = Sketches.aggStateFull(df.filter(col("id") >= 150 && col("id") < 801), Seq("key"), "v", "u")
    val s3 = Sketches.aggStateFull(df.filter(col("id") >= 801), Seq("key"), "v", "u")
    val treeA = Sketches.mergeStatesFull(
      s3.unionByName(Sketches.mergeStatesFull(s1.unionByName(s2), Seq("key"))),
      Seq("key"))
    val treeB = Sketches.mergeStatesFull(
      s1.unionByName(Sketches.mergeStatesFull(s2.unionByName(s3), Seq("key"))),
      Seq("key"))
    assert(exactCols(treeA) === exactCols(oneShot))
    assert(exactCols(treeB) === exactCols(oneShot))
    // sketch estimates: all sets/multisets under sketch capacity here,
    // so HLL/theta are within the small-range bound and KLL quantiles
    // are exact order statistics regardless of merge tree
    val exact = df.groupBy("key").agg(
        countDistinct(col("u")).as("nd"),
        expr("percentile(v, array(0.49, 0.51, 0.89, 0.91))").as("eb"))
      .orderBy("key").as[(String, Long, Seq[Double])].collect()
    for (tree <- Seq(treeA, treeB, oneShot)) {
      val est = Sketches.readStateFull(tree, Seq(0.5, 0.9)).orderBy("key")
        .select("key", "nd_est", "nd_theta_est", "q50", "q90")
        .as[(String, Long, Long, Double, Double)].collect()
      est.zip(exact).foreach { case ((k, hll, th, q50, q90), (ek, nd, eb)) =>
        assert(k === ek)
        assert(math.abs(hll - nd) <= nd * 0.02 + 16, s"$k hll $hll vs $nd")
        assert(th === nd, s"$k theta $th vs $nd (exact regime)")
        assert(q50 >= eb(0) && q50 <= eb(1), s"$k q50 $q50 outside $eb")
        assert(q90 >= eb(2) && q90 <= eb(3), s"$k q90 $q90 outside $eb")
      }
    }
    // updateStateFull ≡ from-scratch on the exact fields
    val upd = Sketches.updateStateFull(
      Sketches.aggStateFull(df.filter(col("id") < 700), Seq("key"), "v", "u"),
      df.filter(col("id") >= 700), Seq("key"), "v", "u")
    assert(exactCols(upd) === exactCols(oneShot))
    // withTheta = false drops the theta column end-to-end
    val noTheta = Sketches.mergeStatesFull(
      Sketches.aggStateFull(df, Seq("key"), "v", "u", withTheta = false),
      Seq("key"))
    assert(!noTheta.columns.contains("nd_theta"))
    assert(!Sketches.readStateFull(noTheta).columns.contains("nd_theta_est"))
  }

  test("equidepth KLL arm past exact retention: boundaries inside rank bands, population balanced") {
    // 40k values >> k=800: the sketch is in its estimation regime —
    // every bin must hold its share of rows within the sketch's rank
    // error (±1% of N per boundary → ±2% per bin, doubled for slack)
    val n = 40000
    val df = (1 to n).map(_.toDouble).toDF("v")
    val got = Profile.equidepth(df, "v", bins = 4, arm = Profile.Arm.Sketch)
      .orderBy("bin").as[(Int, Long, Double, Double)].collect()
    assert(got.map(_._1).toSeq === Seq(0, 1, 2, 3))
    assert(got.map(_._2).sum === n.toLong)
    got.foreach { case (b, cnt, _, _) =>
      assert(math.abs(cnt - n / 4) <= n * 0.04, s"bin $b holds $cnt of $n")
    }
    // weighted sketch arm (r15): same contract on a DUPLICATE-heavy column
    // (each of 400 values appears 100×) — the weighted sketch holds the
    // per-value counts exactly, so bins balance within the same bands
    val dup = (1 to n).map(i => (i % 400).toDouble).toDF("v")
    val gotW = Profile.equidepth(dup, "v", bins = 4,
      arm = Profile.Arm.WeightedSketch)
      .orderBy("bin").as[(Int, Long, Double, Double)].collect()
    assert(gotW.map(_._2).sum === n.toLong)
    gotW.foreach { case (b, cnt, _, _) =>
      assert(math.abs(cnt - n / 4) <= n * 0.04, s"preAgg bin $b holds $cnt of $n")
    }
  }

  test("thetaNovelty: batch-vs-history new-id counts, no-history keys fully novel") {
    // history: key a saw 0..799, key b saw 0..299 (at two 'day' slices
    // each, so the history MERGE is exercised); batch: a sees 600..999
    // (novel 800..999 = 200), b sees 0..99 (novel 0), c is brand new
    val hist = ((0 until 800).map(u => ("a", u % 2, u.toLong)) ++
      (0 until 300).map(u => ("b", u % 2, u.toLong))).toDF("key", "day", "u")
    val batch = ((600 until 1000).map(u => ("a", u.toLong)) ++
      (0 until 100).map(u => ("b", u.toLong)) ++
      (0 until 50).map(u => ("c", u.toLong))).toDF("key", "u")
    val got = Sketches.thetaNovelty(
      Sketches.thetaPartials(hist, Seq("key", "day"), "u"),
      batch, Seq("key"), "u")
      .orderBy("key")
      .as[(String, Long, Long, Long, Long)].collect()
    // exact regime (all sets < 4096): estimates are exact counts
    assert(got.toSeq === Seq(
      ("a", 400L, 400L, 800L, 200L),
      ("b", 100L, 100L, 300L, 0L),
      ("c", 50L, 50L, 0L, 50L)))
  }
}

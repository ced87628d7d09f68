package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Per-operator unit tests on tiny in-code fixtures (SURVEY §5.1):
  * exact expected outputs, checked via collect. */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("W1 interpolateLinear: position-based linear fill + ffill/bfill edges") {
    val df = Seq(
      ("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, None), ("a", 4, Some(40.0)),
      ("a", 5, None),                        // trailing → ffill(40)
      ("b", 1, None), ("b", 2, Some(5.0)),   // leading → bfill(5)
      ("c", 1, None)                         // all-null group stays null
    ).toDF("g", "ord", "v")
    val got = Windows.interpolateLinear(df, Seq("g"), Seq(col("ord")), "v")
      .select("g", "ord", "v_filled").as[(String, Int, Option[Double])]
      .collect().toSet
    assert(got === Set(
      ("a", 1, Some(10.0)), ("a", 2, Some(20.0)), ("a", 3, Some(30.0)),
      ("a", 4, Some(40.0)), ("a", 5, Some(40.0)),
      ("b", 1, Some(5.0)), ("b", 2, Some(5.0)),
      ("c", 1, None)))
  }

  test("W2 seasonalFill: fine → coarse → overall median priority") {
    val df = Seq(
      // g=x: fine bucket 1 has data (10,20) → median 15 fills row 3
      ("x", 1, 1, Some(10.0)), ("x", 1, 1, Some(20.0)), ("x", 1, 1, None),
      // fine bucket 2 empty → coarse bucket 1 median (10,20) = 15
      ("x", 2, 1, None),
      // fine 3 / coarse 2 empty → overall median 15
      ("x", 3, 2, None)
    ).toDF("g", "fine", "coarse", "v")
    val got = Windows.seasonalFill(df, "g", col("fine"), col("coarse"), "v")
      .select("v_filled").as[Double].collect().sorted
    assert(got === Array(10.0, 15.0, 15.0, 15.0, 20.0))
  }

  test("W3 knnImpute: inverse-distance-weighted k nearest donors") {
    val df = Seq(
      (1L, "d1", 0.0, Some(10.0)), (2L, "d1", 1.0, None),
      (3L, "d1", 2.0, Some(20.0)), (4L, "d1", 10.0, Some(50.0))
    ).toDF("id", "g", "f", "v")
    val got = Impute.knnImpute(df, "g", "id", Seq("f"), "v", k = 2)
      .filter(col("id") === 2).select("v_imputed").as[Double].head()
    // donors at dist 1 (v=10) and 1 (v=20) → weights equal → 15
    assert(math.abs(got - 15.0) < 1e-12)
  }

  test("A7 olsPredict: exact closed form on a known line") {
    // y = 3x + 7 exactly → slope 3, intercept 7, pred(10) = 37
    val df = Seq(("g", 1, 10.0), ("g", 2, 13.0), ("g", 3, 16.0), ("g", 4, 19.0))
      .toDF("k", "x", "y")
    val r = Regression.olsPredict(df, Seq("k"), col("x"), col("y"), atX = 10)
      .select("slope", "intercept", "pred").as[(Double, Double, Double)].head()
    assert(math.abs(r._1 - 3.0) < 1e-9 && math.abs(r._2 - 7.0) < 1e-9 &&
      math.abs(r._3 - 37.0) < 1e-9)
  }

  test("A7 olsPredict: clamps negative predictions to 0 (ref max(0, pred))") {
    val df = Seq(("g", 1, 100.0), ("g", 2, 50.0), ("g", 3, 0.0)).toDF("k", "x", "y")
    val r = Regression.olsPredict(df, Seq("k"), col("x"), col("y"), atX = 10)
      .select("pred").as[Double].head()
    assert(r === 0.0)
  }

  test("J2 nearestJoin picks the true argmin with tie-break") {
    val left = Seq((1, 0.0), (2, 9.0)).toDF("lid", "lx")
    val right = Seq((10, 1.0), (11, 8.0), (12, 10.0)).toDF("rid", "rx")
    val got = Nearest.nearestJoin(left, right, abs(col("lx") - col("rx")),
      Seq(col("rid")))
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(got === Set((1, 10), (2, 11)))  // 2 is dist-1 from both 11,12? no: |9-8|=1,|9-10|=1 → tie → min rid 11
  }

  test("J2 nearestJoinQuantized ≡ nearestJoin on fixed-point data, full-precision _dist") {
    val rnd = new scala.util.Random(11)
    // 2-dp "money" values — the quantized path's exactness domain
    val left = (1 to 40).map(i => (i, rnd.nextInt(100000) / 100.0)).toDF("lid", "lx")
    val right = (1 to 25).map(i => (i, rnd.nextInt(100000) / 100.0)).toDF("rid", "rx")
    val dist = abs(col("lx") - col("rx"))
    val exact = Nearest.nearestJoin(left, right, dist, Seq(col("rid")))
      .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
    val quant = Nearest.nearestJoinQuantized(left, right, dist, "rid", invQuantum = 100)
      .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
    // same choice where cent-ties don't occur; where they do, both break
    // by min rid — compare on (lid, rid) and on exact recomputed _dist
    assert(quant.map(t => (t._1, t._2)) === exact.map(t => (t._1, t._2)))
    assert(quant === exact)
  }

  test("J2 nearestJoinTicks1D ≡ nearestJoinQuantized (scale twin, same winner incl. ties)") {
    val rnd = new scala.util.Random(23)
    // small value pool forces frequent exact ties → the (tick, key)
    // tie-break is genuinely exercised, plus duplicate right values
    val left = (1 to 60).map(i => (i, rnd.nextInt(400) / 100.0)).toDF("lid", "lx")
    val right = (1 to 30).map(i => (i, rnd.nextInt(400) / 100.0)).toDF("rid", "rx")
    val dist = abs(col("lx") - col("rx"))
    val quant = Nearest.nearestJoinQuantized(left, right, dist, "rid", invQuantum = 100)
      .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
    val ticks = Nearest.nearestJoinTicks1D(left, right,
      col("lx"), col("rx"), "rid", invQuantum = 100)
      .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
    assert(ticks === quant)
  }

  test("J2 nearestJoinTicks1D bucketed sweep: cross-bucket carries agree with one bucket") {
    val rnd = new scala.util.Random(41)
    // sparse ticks over a wide domain so tiny maxBuckets forces most
    // probes to resolve through the pred/succ CARRY path (right-empty
    // buckets, boundary handoff), including ties at bucket edges
    val left = (1 to 80).map(i => (i, rnd.nextInt(100000) / 100.0)).toDF("lid", "lx")
    val right = (1 to 12).map(i => (i, rnd.nextInt(100000) / 100.0)).toDF("rid", "rx")
    val dist = abs(col("lx") - col("rx"))
    val quant = Nearest.nearestJoinQuantized(left, right, dist, "rid", invQuantum = 100)
      .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
    for (mb <- Seq(1, 3, 7, 1024)) {
      val ticks = Nearest.nearestJoinTicks1D(left, right,
        col("lx"), col("rx"), "rid", invQuantum = 100, maxBuckets = mb)
        .select("lid", "rid", "_dist").as[(Int, Int, Double)].collect().toSet
      assert(ticks === quant, s"maxBuckets=$mb diverged")
    }
  }

  test("J2 nearestJoinTicks1D bucketed sweep handles a NEGATIVE tick domain") {
    // acctbal-style values go negative (q_tpch_q16's suppliers), so the
    // domain lower bound bLo is negative and the bucket id expression
    // (_tick - (bLo)) div width must still be the monotone non-negative
    // shift — including probes whose nearest right tick sits across a
    // bucket boundary on the negative side
    val left = Seq((1, -9.37), (2, -0.02), (3, 4.50), (4, -999.99)).toDF("lid", "lx")
    val right = Seq((10, -10.00), (11, 0.00), (12, 4.49)).toDF("rid", "rx")
    val dist = abs(col("lx") - col("rx"))
    val quant = Nearest.nearestJoinQuantized(left, right, dist, "rid", invQuantum = 100)
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    for (mb <- Seq(1, 2, 5, 1024)) {
      val ticks = Nearest.nearestJoinTicks1D(left, right,
        col("lx"), col("rx"), "rid", invQuantum = 100, maxBuckets = mb)
        .select("lid", "rid").as[(Int, Int)].collect().toSet
      assert(ticks === quant, s"maxBuckets=$mb diverged on negative domain")
    }
    assert(quant === Set((1, 10), (2, 11), (3, 12), (4, 10)))
  }

  test("J2 nearestJoinTicks1D ≡ nearestJoinQuantized with null values on BOTH sides") {
    // null left values must drop (not pick up a spurious _succ winner);
    // null right values must be skipped (not become a null-tick _pred
    // whose null distance falls through to the least(...) tie arm)
    val left = Seq((1, Some(1.00)), (2, None), (3, Some(0.10))).toDF("lid", "lx")
    val right = Seq((10, Some(0.90)), (11, None), (12, Some(5.00))).toDF("rid", "rx")
    val dist = abs(col("lx") - col("rx"))
    val quant = Nearest.nearestJoinQuantized(left, right, dist, "rid", invQuantum = 100)
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    val ticks = Nearest.nearestJoinTicks1D(left, right,
      col("lx"), col("rx"), "rid", invQuantum = 100)
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(ticks === quant)
    assert(ticks === Set((1, 10), (3, 10)))  // lid=2 dropped; rid=11 never wins
  }

  test("Temporal.rangeJoin ≡ naive non-equi join; half-open [start, end) bounds") {
    import graft.operators.Temporal
    val rnd = new scala.util.Random(13)
    val pts = (1 to 200).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      rnd.nextInt(1000).toLong)).toDF("pid", "k", "t")
    val ivs = (1 to 30).map { i =>
      val s = rnd.nextInt(950).toLong
      (i.toLong, if (i % 2 == 0) "a" else "b", s, s + 1 + rnd.nextInt(200))
    }.toDF("iid", "k", "lo", "hi")
    val naive = pts.join(ivs.withColumnRenamed("k", "k2"),
        col("k") === col("k2") && col("t") >= col("lo") && col("t") < col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val bucketed = Temporal.rangeJoin(pts, ivs, Seq("k"), "t", "lo", "hi",
        bucketWidth = 64)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(bucketed === naive)
    // each matching pair appears exactly once (points hit ONE bucket)
    val cnt = Temporal.rangeJoin(pts, ivs, Seq("k"), "t", "lo", "hi", 64).count()
    assert(cnt === bucketed.size)
    // boundary: start inclusive, end exclusive; empty interval matches nothing
    val p = Seq((1L, "x", 100L)).toDF("pid", "k", "t")
    val atStart = Seq((1L, "x", 100L, 200L)).toDF("iid", "k", "lo", "hi")
    val atEnd = Seq((1L, "x", 50L, 100L)).toDF("iid", "k", "lo", "hi")
    val empty = Seq((1L, "x", 100L, 100L)).toDF("iid", "k", "lo", "hi")
    assert(Temporal.rangeJoin(p, atStart, Seq("k"), "t", "lo", "hi", 64).count() === 1)
    assert(Temporal.rangeJoin(p, atEnd, Seq("k"), "t", "lo", "hi", 64).count() === 0)
    assert(Temporal.rangeJoin(p, empty, Seq("k"), "t", "lo", "hi", 64).count() === 0)
  }

  test("J3+A6 gravityFlows: flows match closed form; rows sum to 1") {
    val zones = Seq((0, 10L), (1, 20L), (2, 30L)).toDF("z", "m")
    val rows = Nearest.gravityFlows(zones, "z", "m",
      (o, d) => abs(o - d).cast("double")).collect()
    assert(rows.length === 6)
    val f01 = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 1).get.getDouble(2)
    assert(math.abs(f01 - 10.0 * 20.0 / 1.0) < 1e-9)
    val f02 = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 2).get.getDouble(2)
    assert(math.abs(f02 - 10.0 * 30.0 / 4.0) < 1e-9)
    val rowSums = rows.groupBy(_.getInt(0)).values.map(_.map(_.getDouble(3)).sum)
    rowSums.foreach(s => assert(math.abs(s - 1.0) < 1e-4))  // flow_norm rounded to 6dp
  }

  test("Dedup.exact groups identical normalized text") {
    val docs = Seq((1L, "Hello World"), (2L, "  hello world  "), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("Dedup.ngramJaccardPairs finds a known near-dup pair") {
    val base = "a b c d e f g h i j"
    val docs = Seq((1L, base), (2L, base + " k"), (3L, "z y x w v u t s r q"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", w = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("Dedup.ngramJaccardPairs maxBucket drops hot stop-shingles, keeps column order") {
    // "s1 s2 s3" is a stop-shingle present in ALL 4 docs; with
    // maxBucket=3 it is dropped, so docs 3/4 (which share ONLY the
    // stop-shingle) no longer pair, while 1/2 still match on their
    // remaining shingles.
    val docs = Seq(
      (1L, "s1 s2 s3 a b c d"), (2L, "s1 s2 s3 a b c e"),
      (3L, "s1 s2 s3 q r"), (4L, "s1 s2 s3 t u")).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      w = 3, threshold = 0.1, maxBucket = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)))
    // uncapped: every doc pairs with every other through the stop-shingle
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      w = 3, threshold = 0.1, maxBucket = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((3L, 4L)) && uncapped.contains((1L, 2L)))
  }

  test("Text.shingles: docs shorter than w produce no shingles") {
    import graft.functions.Text
    val df = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Text.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq.empty)
    assert(got(2L) === Seq("a b c"))
    assert(got(3L) === Seq("a b c", "b c d"))
  }

  test("Dedup.applyExactIncremental drops ledger-known and in-batch duplicates") {
    val ledger = Dedup.ledgerOf(Seq((0L, "seen before")).toDF("doc_id", "text"), "text")
    val batch = Seq(
      (10L, "seen before"),          // in the ledger → dropped
      (11L, "brand new"), (12L, "brand new"),   // in-batch dup → keep min id
      (13L, "also new")).toDF("doc_id", "text")
    val kept = Dedup.applyExactIncremental(batch, "doc_id", "text", ledger)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
    // ledger grows by the batch's distinct new fingerprints
    val updated = ledger.union(Dedup.ledgerOf(batch, "text")).distinct()
    assert(updated.count() === 3)   // seen before, brand new, also new
    val kept2 = Dedup.applyExactIncremental(
      Seq((20L, "also new"), (21L, "newest")).toDF("doc_id", "text"),
      "doc_id", "text", updated)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(21L))
  }

  test("Profile.standardize: z-score and min-max match closed form") {
    import graft.operators.Profile
    val df = (1 to 5).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val got = Profile.standardize(df, "v", Seq("grp"), offset = 3.0)
      .select("v", "v_z", "v_minmax").as[(Double, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // mean 3, sample std = sqrt(2.5)
    val std = math.sqrt(2.5)
    assert(math.abs(got(5.0)._1 - 2.0 / std) < 1e-12)
    assert(math.abs(got(1.0)._1 + 2.0 / std) < 1e-12)
    assert(got(3.0)._1 === 0.0)
    assert(got(1.0)._2 === 0.0 && got(5.0)._2 === 1.0 && got(3.0)._2 === 0.5)
  }

  test("Profile.winsorize clamps to interpolated per-group percentiles") {
    import graft.operators.Profile
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val w = Profile.winsorize(df, "v", Seq("grp"), lo = 0.1, hi = 0.9)
      .select("v", "v_w").as[(Double, Double)].collect().toMap
    // (n-1)·p interpolation: p10 = 1.9, p90 = 9.1
    assert(w(1.0) === 1.9 && w(10.0) === 9.1)
    assert(w(5.0) === 5.0)   // interior values untouched
  }

  test("Profile.winsorize/standardize keep rows whose group key is NULL") {
    import graft.operators.Profile
    val df = Seq(("g", 1.0), ("g", 2.0), (null, 5.0), (null, 7.0))
      .toDF("grp", "v")
    assert(Profile.winsorize(df, "v", Seq("grp"), 0.1, 0.9).count() === 4)
    val z = Profile.standardize(df, "v", Seq("grp"), offset = 0.0)
    assert(z.count() === 4)
    // the NULL group standardizes against its own stats (mean 6)
    val nullZ = z.filter(col("grp").isNull).select("v", "v_minmax")
      .as[(Double, Double)].collect().toMap
    assert(nullZ(5.0) === 0.0 && nullZ(7.0) === 1.0)
  }

  test("Dedup.applyNearDups keeps cluster representatives and unclustered docs") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    // chain 1—2—3 clusters to min-id 1; doc 4 is unclustered
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.applyNearDups(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("Dedup.applyExactBloom is byte-identical to applyExact (with duplicates present)") {
    val docs = (0L until 200L).map { i =>
      // 100 distinct contents, each duplicated once → 50% dup corpus
      (i, s"content number ${i % 100} with shared words")
    }.toDF("doc_id", "text")
    val plain = Dedup.applyExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val bloomed = Dedup.applyExactBloom(docs, "doc_id", "text",
      expectedWinners = 1000L, fpp = 0.03)
      .select("doc_id").as[Long].collect().sorted
    assert(bloomed === plain)
    assert(plain.length === 100)   // min-id winner per content
  }

  test("Dedup.benchmarkOverlap counts shared 8-grams; decontaminate drops exactly those docs") {
    val leaked = "the quick brown fox jumps over the lazy dog tonight"
    val train = Seq(
      (1L, leaked),                                     // full eval doc leaked
      (2L, "completely unrelated words about spark engines and shuffles two"),
      (3L, "prefix words then " + leaked)               // eval text embedded mid-doc
    ).toDF("doc_id", "text")
    val bench = Seq((100L, leaked)).toDF("doc_id", "text")
    val overlap = Dedup.benchmarkOverlap(train, "doc_id", "text", bench, "text", w = 8)
      .as[(Long, Long)].collect().toMap
    // leaked doc has 10 tokens → 3 distinct 8-grams, all shared
    assert(overlap === Map(1L -> 3L, 3L -> 3L))
    val clean = Dedup.decontaminate(train, "doc_id", "text", bench, "text", w = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(clean === Set(2L))
  }

  test("Text.repetitionStats: duplicate/top-token and top-bigram fractions") {
    import graft.functions.Text
    val docs = Seq(
      (1L, "a a b"),            // 3 tokens, 2 distinct; bigrams: "a a","a b"
      (2L, "x"),                // single token → no bigrams
      (3L, "w w w w")           // fully degenerate: bigrams all "w w"
    ).toDF("doc_id", "text")
    val got = Text.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === ((3L, 1.0 / 3, 2.0 / 3, 0.5)))
    assert(got(2L) === ((1L, 0.0, 1.0, 0.0)))
    assert(got(3L) === ((4L, 0.75, 1.0, 1.0)))
  }

  test("Text.tfidfTopTerms: sklearn-style smoothed idf, rank and tie-break") {
    import graft.functions.Text
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val got = Text.tfidfTopTerms(docs, "doc_id", "text", k = 2, nDocs = 3L)
      .select("doc_id", "rank", "term", "score")
      .as[(Long, Int, String, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // idf(df=1) = ln(4/2)+1 ≈ 1.693147; idf(df=2) = ln(4/3)+1 ≈ 1.287682
    assert(got === Seq(
      (1L, 1, "apple", 3.386294),   // 2 × 1.693147
      (1L, 2, "banana", 1.287682),
      (2L, 1, "banana", 1.287682),  // ties with cherry → term asc
      (2L, 2, "cherry", 1.287682),
      (3L, 1, "cherry", 3.863046))) // 3 × 1.287682
  }

  test("Text.redactPii replaces planted PII with typed tags, leaves clean text alone") {
    import graft.functions.Text
    val rows = Seq(
      (1L, "mail john.doe+spam@example.co.uk now"),
      (2L, "call 555-123-4567 or 555.987.6543"),
      (3L, "ssn 123-45-6789 leaked from 10.0.0.1"),
      (4L, "clean text with numbers 1234 and dots a.b stays intact")
    ).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), Text.redactPii(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "mail [EMAIL] now")
    assert(got(2L) === "call [PHONE] or [PHONE]")
    assert(got(3L) === "ssn [SSN] leaked from [IP]")
    assert(got(4L) === "clean text with numbers 1234 and dots a.b stays intact")
  }

  test("Text.charEntropy: exact values on uniform and degenerate distributions") {
    import graft.functions.Text
    val docs = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, "aab"))
      .toDF("doc_id", "text")
    val got = Text.charEntropy(docs, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 1.0)                     // two symbols, uniform
    assert(got(2L) === 0.0)                     // degenerate
    assert(got(3L) === 2.0)                     // four symbols, uniform
    assert(got(4L) === 0.918296)                // H(2/3, 1/3) rounded 6dp
  }

  test("Text.clean: NFC composition, whitespace collapse, control strip") {
    import graft.functions.Text
    val decomposed = "cafe\u0301  RICO"          // e + combining acute
    val rows = Seq(
      (1L, decomposed),
      (2L, "a\u0001b\tc\nde"),                  // \u0001 stripped; \t\n collapse
      (3L, "  caf\u00e9 rico "),                  // already-NFC
      (4L, "plain text")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Text.clean(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L) === "caf\u00e9 rico")
    assert(rows(2L) === "ab c de")
    assert(rows(3L) === "caf\u00e9 rico")
    assert(rows(1L) === rows(3L))        // composed == decomposed after clean
    assert(rows(4L) === "plain text")
    // SQL registration: decomposed in -> composed out
    val viaSql = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n").as[String].head()
    assert(viaSql === "caf\u00e9")
  }

  test("Text.chunk: overlap windows cover every char; count formula; short tail") {
    import graft.functions.Text
    val docs = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "x" * 14))
      .toDF("doc_id", "text")
    val got = Text.chunk(docs, "doc_id", "text", size = 6, stride = 4)
      .select("doc_id", "chunk_idx", "chunk").as[(Long, Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(1L) === Seq("abcdef", "efghij"))         // 50% overlap windows
    assert(got(2L) === Seq("abc"))                      // short doc → 1 chunk
    assert(got(3L) === Seq("xxxxxx", "xxxxxx", "xxxxxx")) // len 14 → ceil(8/4)+1 = 3
    // reconstruction: stride-prefixes of all but the last chunk + last chunk
    for ((id, text) <- Seq(1L -> "abcdefghij", 3L -> ("x" * 14))) {
      val cs = got(id)
      assert(cs.init.map(_.take(4)).mkString + cs.last === text)
    }
  }

  test("Text.rollingFingerprint matches a driver-side reference fold (golden)") {
    import graft.functions.Text
    // reference implementation of the documented semantics:
    // h ← (h·31 + codepoint) mod M, M = 2^57−13, left-to-right
    val M = (1L << 57) - 13
    def ref(text: String): Long =
      text.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * 31L + cp) % M)
    val texts = Seq("the quick brown fox", "the quick brown fox", "fox brown quick the", "", "café 😀")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), Text.rollingFingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) === ref(t), s"text '$t'")
    }
    assert(got(0L) === got(1L))      // deterministic
    assert(got(0L) !== got(2L))      // order-sensitive (unlike a bag hash)
    // SQL registration via GraftExtensions
    val viaSql = spark.sql("SELECT rolling_fp('the quick brown fox') AS f")
      .as[Long].head()
    assert(viaSql === ref("the quick brown fox"))
  }

  test("Text.domainShift: KL zero on corpus-identical groups, hand-computed drift") {
    import graft.functions.Text
    // identical per-group distributions → KL exactly 0 for both
    val same = Seq((1L, "s1", "a b"), (2L, "s2", "a b")).toDF("id", "source", "text")
    val z = Text.domainShift(same, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(z("s1") === (("s1", 2L, 2L, 0.0)))
    assert(z("s2") === (("s2", 2L, 2L, 0.0)))
    // drifted: corpus = {a:2, b:2, c:1}, n = 5
    val df = Seq((1L, "s1", "a a b"), (2L, "s2", "b c")).toDF("id", "source", "text")
    val got = Text.domainShift(df, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val kl1 = r6(2.0 / 3 * math.log((2.0 / 3) / (2.0 / 5))
      + 1.0 / 3 * math.log((1.0 / 3) / (2.0 / 5)))
    val kl2 = r6(1.0 / 2 * math.log((1.0 / 2) / (2.0 / 5))
      + 1.0 / 2 * math.log((1.0 / 2) / (1.0 / 5)))
    assert(got("s1") === (("s1", 3L, 2L, kl1)))
    assert(got("s2") === (("s2", 2L, 2L, kl2)))
    assert(kl1 > 0 && kl2 > 0)
  }

  test("Text.lmScore: add-one bigram LM, hand-computed probabilities") {
    import graft.functions.Text
    // ref "a b a b c": V = 3, bigrams (a b)→2 (b a)→1 (b c)→1,
    // contexts a→2 b→2; smoothing denominator offset V+1 = 4
    val ref = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val tgt = Seq(
      (10L, "a b x"),   // (a b): (2+1)/(2+4)=1/2; (b x): (0+1)/(2+4)=1/6
      (11L, "z"),       // <2 tokens: no bigram positions, no row
      (12L, "z z")      // unseen context: uniform floor (0+1)/(0+4)=1/4
    ).toDF("doc_id", "text")
    val got = Text.lmScore(ref, tgt, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(11L))
    assert(got(10L) === ((10L, 2L, 1L, 1.242453)))  // (ln2 + ln6)/2, 6 dp
    assert(got(12L) === ((12L, 1L, 0L, 1.386294)))  // ln4, 6 dp
  }

  test("Text.qualityFeatures: regex stopword count ≡ token-filter form on edge cases") {
    import graft.functions.Text
    val docs = Seq(
      (1L, "the a the"),        // consecutive stopwords + both ends
      (2L, "a  the"),           // empty token from a double space
      (3L, "theater a.b the"),  // substrings and near-misses must not match
      (4L, "x y z")             // none
    ).toDF("doc_id", "text")
    val got = Text.qualityFeatures(docs, "text", Seq("the", "a"))
      .select("doc_id", "stopword_ratio").as[(Long, Double)].collect().toMap
    val stopArr = array(lit("the"), lit("a"))
    val toks = split(col("text"), " ")
    val ref = docs.select(col("doc_id"),
      (size(filter(toks, w => array_contains(stopArr, w))).cast("double") /
        size(toks).cast("double")).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got === ref)
    assert(got(1L) === 1.0 && got(3L) === 1.0 / 3.0 && got(4L) === 0.0)
  }

  test("Text.buildVocabByFreq: most-frequent-first ids with token tie-break") {
    import graft.functions.Text
    val toks = Seq("b", "a", "b", "c", "a", "b").toDF("token")
    val got = Text.buildVocabByFreq(toks)
      .as[(String, Long, Long)].collect().sortBy(_._3).toSeq
    assert(got === Seq(("b", 3L, 1L), ("a", 2L, 2L), ("c", 1L, 3L)))
  }

  test("Dedup.minhashLshPairs finds an exact duplicate at threshold 0.9, jaccard 1.0") {
    val base = "a b c d e f g h i j k l m n o p"
    val docs = Seq((1L, base), (2L, base), (3L, "z y x w v u t s r q p2 o2 n2 m2"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
      w = 3, numHashes = 16, bands = 8, threshold = 0.9)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("Dedup.minhashLshPairs recalls a near-dup with the exact verified jaccard") {
    val base = "a b c d e f g h i j"
    val docs = Seq((1L, base), (2L, base + " k"), (3L, "z y x w v u t s r q"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
      w = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    // docs 1/2 share 8 of 9 distinct shingles → J = 8/9; identical sigs
    // on the shared mins guarantee a band match at this similarity
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    assert(math.abs(got.head._3 - 8.0 / 9.0) < 1e-12)
  }

  test("Dedup.simhashPairs: identical docs at hamming 0, disjoint docs unpaired") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "zq wx ee rr tt yy uu ii oo pp")).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 0)))
  }

  test("Dedup.embeddingNearDup pairs near-parallel vectors, not orthogonal ones") {
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val embs = Seq(
      (1L, vec(d => if (d == 0) 1f else 0f)),
      (2L, vec(d => if (d == 0) 0.9f else if (d == 1) 0.1f else 0f)),
      (3L, vec(d => if (d == 63) 1f else 0f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(embs, "vec_id", "embedding",
      dim = dim, threshold = 0.35, bits = 4, tables = 8)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    // 1e-6 tolerance: the fixture's 0.9f/0.1f floats are not the exact
    // doubles 0.9/0.1 of this closed form
    assert(math.abs(got.head._3 - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-6)
  }

  test("Similarity.bucketedTopK ranks the true nearest neighbor first") {
    import graft.operators.Similarity
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val base = vec(d => if (d < 4) 1f else 0f)
    val embs = Seq(
      (1L, base),
      (2L, vec(d => if (d < 4) 1f else if (d == 5) 0.1f else 0f)),  // near 1
      (3L, vec(d => if (d >= 60) 1f else 0f))                        // far
    ).toDF("vec_id", "embedding")
    val got = Similarity.bucketedTopK(
      embs.filter(col("vec_id") === 1L), embs, "vec_id", "embedding",
      dim = dim, k = 2, bits = 4, tables = 8)
      .select("q_id", "n_id", "rank").as[(Long, Long, Int)].collect()
      .sortBy(_._3)
    assert(got.head === ((1L, 2L, 1)))   // near-parallel vector ranks first
  }

  test("Dedup.connectedComponents labels transitive chains with the min id") {
    // chain 1-2-3 plus isolated pair 10-11: clusters {1,2,3}→1, {10,11}→10
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("Profile.profile: one row per column with exact counts") {
    val df = Seq((1.0, Some(2.0)), (3.0, None), (3.0, Some(6.0))).toDF("a", "b")
    val got = Profile.profile(df, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got === Set(
      ("a", 3L, 0L, 2L, 1.0, 3.0),
      ("b", 3L, 1L, 2L, 2.0, 6.0)))
  }

  test("Profile.profile approxDistinct: same schema, HLL estimate within ±15% of exact") {
    val li = Tables(spark, sf, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val ap = Profile.profile(li, cols, approxDistinct = true)
    val ex = Profile.profile(li, cols)
    assert(ap.schema === ex.schema)   // drop-in 100 TB mode: identical shape
    val apD = ap.select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    val exD = ex.select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    for ((c, exact) <- exD) {
      val rel = math.abs(apD(c).toDouble / exact - 1.0)
      assert(rel <= 0.15, s"$c: approx ${apD(c)} vs exact $exact (rel err $rel > 0.15)")
    }
  }

  test("Text.tokenIds maps tokens in order with OOV → -1") {
    val docs = Seq((1L, "b a c a"), (2L, "zz b")).toDF("doc_id", "text")
    val vocab = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("token", "token_id")
    val got = graft.functions.Text.tokenIds(docs, "doc_id", "text", vocab)
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "2 1 3 1", 2L -> "-1 2"))
  }

  test("Text.packSequences fills fixed budgets sequentially per shard") {
    val docs = Seq((1L, "s", 100), (2L, "s", 100), (3L, "s", 100), (4L, "s", 100),
      (5L, "t", 250)).toDF("doc_id", "shard", "n")
    val got = graft.functions.Text.packSequences(docs, "doc_id", "n", budget = 250, shardCol = "shard")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // shard s prefixes: 0,100,200,300 → packs 0,0,0,1; shard t: prefix 0 → pack 0
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("Sampling.mixture: binding group kept whole, hash-rule membership, untargeted dropped") {
    val rows = (1L to 40L).map(i => (i, if (i <= 20) "a" else if (i <= 30) "b" else "x"))
    val df = rows.toDF("id", "g")
    // targets a 0.5 / b 0.5 → T = min(20/0.5, 10/0.5) = 20 → rate_a = 0.5, rate_b = 1.0
    val got = Sampling.mixture(df, "g", "id", Map("a" -> 0.5, "b" -> 0.5))
      .select("id", "g").as[(Long, String)].collect()
    val byG = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(!byG.contains("x"))                  // untargeted group dropped
    assert(byG("b") === (21L to 30L).toSet)     // binding group keeps every row
    val expA = (1L to 20L)
      .filter(i => Math.floorMod(i * 2654435761L, 1000000L) < 500000L).toSet
    assert(byG("a") === expA)                   // exactly the hash rule at rate 0.5
  }

  test("Sampling.selectUntilBudget keeps the order-prefix within budget per group") {
    val df = Seq((1L, "s", 100L), (2L, "s", 300L), (3L, "s", 200L),
      (4L, "t", 500L), (5L, "t", 100L)).toDF("id", "g", "cost")
    // cost desc, id: s → 2 (cum 300), 3 (500), 1 (600); t → 4 (500), 5 (600)
    val got = Sampling.selectUntilBudget(df, "g",
      Seq(col("cost").desc, col("id")), "cost", budget = 500L)
      .select("id").as[Long].collect().toSet
    assert(got === Set(2L, 3L, 4L))             // the crossing rows (1, 5) are out
  }

  test("Sampling splits are deterministic, exhaustive, and disjoint") {
    val df = (0L until 1000L).toDF("id")
    val cuts = Seq("train" -> 80, "val" -> 90, "test" -> 100)
    val split = Sampling.byModulo(df, "id", cuts)
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 1000L)
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > counts("val"))
    // determinism: recomputing yields the identical assignment
    val again = split.select("id", "split").except(
      split.select("id", "split")).count()
    assert(again === 0)
    // modulo is exactly 800/100/100 on uniform ids
    assert(counts === Map("train" -> 800L, "val" -> 100L, "test" -> 100L))
  }

  test("Dedup.semanticDecontaminate: planted eval copy is always caught, bipartite only") {
    // an exact copy of an eval vector shares EVERY bucket — recall 1
    // by construction, cosine exactly 1.0; the negated vector (cos -1)
    // and the orthogonal one must not leak through. Also bipartite:
    // corpus-corpus duplicates (10, 13) must NOT pair with each other.
    val unit = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val ortho = Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val eval_ = Seq((0L, unit)).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, unit), (11L, ortho), (12L, unit.map(-_)), (13L, unit)
    ).toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(corpus, eval_, "vec_id", "embedding",
      dim = 8, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 0L, 1.0), (13L, 0L, 1.0)))
  }

  test("Dedup.applySemanticDedup: min-id survives per semantic cluster, payload intact") {
    // cluster {2,5,9}: identical unit vectors (exact copies collide in
    // every bucket) → only min id 2 survives; 7 is orthogonal to all →
    // unclustered, survives; the anti-join must keep item payloads.
    val unit = Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val ortho = Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val embs = Seq((5L, unit), (2L, unit), (9L, unit), (7L, ortho))
      .toDF("vec_id", "embedding")
    val items = Seq((2L, "a"), (5L, "b"), (7L, "c"), (9L, "d"))
      .toDF("vec_id", "payload")
    val got = Dedup.applySemanticDedup(items, "vec_id",
      embs, "vec_id", "embedding", dim = 8, threshold = 0.9)
      .as[(Long, String)].collect().toSet
    assert(got === Set((2L, "a"), (7L, "c")))
  }

  test("Dedup.ngramContainmentPairs: excerpt scores 1.0 where Jaccard stays low") {
    // B quotes A whole: A's 3 shingles ⊂ B's 6 → containment 1.0,
    // Jaccard only 0.5 — the asymmetry the operator exists for
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      w = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont === Set((1L, 2L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      w = 3, threshold = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("image near-dup end-to-end: planted group distances through real pixels") {
    // one group of 4 pattern images: member m flips m disjoint bits,
    // so kept pairs at maxHamming=3 are exactly (0,1)=1 (0,2)=2
    // (0,3)=3 (1,2)=3; (1,3)=4 and (2,3)=5 must be rejected
    val ids = (40L to 43L).toDF("doc_id")
    val pairs = Dedup.hammingPairs64(
      Multimodal.imageHashes(Multimodal.patternMedia(ids, "doc_id")),
      "media_id", "ahash", maxHamming = 3, outA = "id_a", outB = "id_b")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((40L, 41L, 1), (40L, 42L, 2), (40L, 43L, 3), (41L, 42L, 3)))
    // every id round-trips the real encode→decode→hash path
    (40L to 43L).foreach { id =>
      assert(Multimodal.aHash64(Multimodal.patternPng(Multimodal.patternOf(id)))
        === Multimodal.patternOf(id))
    }
  }

  test("Multimodal.aHash64 recovers patternPng bit-exactly; survives real resize") {
    val pats = Seq(0x0123456789abcdefL, -1L >>> 1, java.lang.Long.MIN_VALUE | 5L,
      1L << 5, ~(1L << 63) ^ 0xff00ff00ff00ffL, Multimodal.patternOf(42L))
    for (p <- pats) {
      assert(Multimodal.aHash64(Multimodal.patternPng(p)) === p, s"pat=$p")
      // perceptual property: the hash survives a REAL bilinear resize
      assert(Multimodal.aHash64(
        Multimodal.resize(Multimodal.patternPng(p), 32, 32)) === p, s"resized pat=$p")
    }
  }

  test("Sampling.shuffleOrder: permutation, dense shard positions, partitioning-stable") {
    val df = (1L to 1000L).toDF("id")
    val s = Sampling.shuffleOrder(df, "id", numShards = 8, salt = 1L)
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect()
    // a permutation: every id exactly once, shards cover 0..7
    assert(s.map(_._1).sorted.toSeq === (1L to 1000L))
    assert(s.map(_._2).toSet === (0 to 7).toSet)
    // positions are dense 1..|shard| within every shard
    s.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // pure function of (id, salt): identical under any partitioning
    val s2 = Sampling.shuffleOrder(df.repartition(13), "id", 8, salt = 1L)
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect()
    assert(s.sortBy(_._1).toSeq === s2.sortBy(_._1).toSeq)
    // a different salt is a different permutation (epoch reshuffle)
    val s3 = Sampling.shuffleOrder(df, "id", 8, salt = 2L)
      .select("id", "shard", "pos").as[(Long, Int, Int)].collect()
    assert(s.sortBy(_._1).toSeq !== s3.sortBy(_._1).toSeq)
    // not an identity-ish order: within a shard, consecutive positions
    // are not consecutive ids (spot-check the first shard's head)
    val head = s.filter(_._2 == 0).sortBy(_._3).take(10).map(_._1)
    assert(head.sliding(2).exists(p => (p(1) - p(0)).abs != 8))
  }

  test("Sampling.stratifiedByModulo: deterministic, rate-accurate, nested across rates") {
    val df = (1L to 10000L).map(i => (i, if (i % 3 == 0) "en" else "es"))
      .toDF("id", "lang")
    val rates = Map("es" -> 0.25, "en" -> 1.0)
    val s1 = Sampling.stratifiedByModulo(df, "lang", "id", rates)
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.stratifiedByModulo(df.repartition(13), "lang", "id", rates)
      .select("id").as[Long].collect().toSet
    assert(s1 === s2)                       // partitioning-independent
    val en = df.filter(col("lang") === "en").count()
    assert(s1.count(_ % 3 == 0) === en)     // rate 1.0 keeps everything
    val esKept = s1.size - en
    val esTotal = df.count() - en
    val rate = esKept.toDouble / esTotal
    assert(math.abs(rate - 0.25) < 0.02, s"es rate $rate")
    // nested: raising a rate only adds rows
    val bigger = Sampling.stratifiedByModulo(df, "lang", "id", Map("es" -> 0.5, "en" -> 1.0))
      .select("id").as[Long].collect().toSet
    assert(s1.subsetOf(bigger))
  }

  test("Similarity.bruteForceTopK ranks by cosine") {
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vs.filter(col("vec_id") === 1), vs,
      "vec_id", "embedding", k = 2)
      .select("n_id", "rank").as[(Long, Int)].collect().toSet
    assert(got === Set((4L, 1), (2L, 2)))
  }

  test("Relational.pivotCount fills absent combinations with 0") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "t")
    val got = Relational.pivotCount(df, "k", "t", Seq("a", "b"))
      .as[(Int, Long, Long)].collect().toSet
    assert(got === Set((1, 2L, 0L), (2, 0L, 1L)))
  }

  test("Multimodal plumbing: byte_len survives the stubbed decode") {
    val docs = Seq((1L, "abcd", "s")).toDF("doc_id", "text", "source")
    val got = Multimodal.extractFeatures(Multimodal.asMedia(docs, "doc_id", "text", "source"))
      .select("media_id", "byte_len").as[(Long, Long)].head()
    assert(got === ((1L, 4L)))
  }

  test("Multimodal.decode reads real PNG/JPEG dimensions via ImageIO") {
    // PNG: generated fixture, true dimensions back
    val png = Multimodal.makePng(123, 45, seed = 7)
    val (pw, ph, pd) = Multimodal.decode(png)
    assert((pw, ph) === ((123, 45)))
    assert(pd === png.length.toDouble / (123 * 45))
    // JPEG: re-encode the same image, dimensions survive the lossy codec
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val (jw, jh, _) = Multimodal.decode(bos.toByteArray)
    assert((jw, jh) === ((123, 45)))
    // end-to-end through the partition-batched extractFeatures
    val media = Multimodal.syntheticPngMedia(
      Seq(5L).toDF("doc_id"), "doc_id", _ => 123, _ => 45)
    val row = Multimodal.extractFeatures(media)
      .select("width", "height").as[(Int, Int)].head()
    assert(row === ((123, 45)))
    // real resize path: output is a decodable PNG at the target size
    val (rw, rh, _) = Multimodal.decode(Multimodal.resize(png, 30, 20))
    assert((rw, rh) === ((30, 20)))
  }

  test("Multimodal.sampleFrames fans one payload out to n frame rows pre-shuffle") {
    val docs = Seq((1L, "0123456789abcdef", "s")).toDF("doc_id", "text", "source")
    val frames = Multimodal.sampleFrames(Multimodal.asMedia(docs, "doc_id", "text", "source"), n = 4)
      .collect()
    assert(frames.length === 4)
    assert(frames.map(_.getInt(1)).sorted.toSeq === Seq(0, 1, 2, 3))
    // frames partition the payload: concatenation restores the original bytes
    val joined = frames.sortBy(_.getInt(1))
      .flatMap(_.getAs[Array[Byte]](2)).map(_.toChar).mkString
    assert(joined === "0123456789abcdef")
  }

  test("Profile.madOutliers: hand-computed fences, null-group rows survive") {
    // group g: values 1..9 plus a wild 100 → med 5.5 (even 10-count
    // interpolation), |dev| = {4.5,3.5,...,0.5,0.5,...,94.5} → MAD 2.5,
    // fence k=3 → 7.5: outliers are |x−5.5| > 7.5 → just the 100
    val df = ((1 to 9).map(i => (Some("g"), i.toDouble)) :+ ((Some("g"), 100.0)) :+
      ((None: Option[String], 7.0))).toDF("grp", "x")
    val got = Profile.madOutliers(df, "x", Seq("grp"), k = 3.0)
    val gRows = got.filter(col("grp") === "g")
    assert(gRows.filter(col("is_outlier")).select("x").as[Double].collect().toSeq === Seq(100.0))
    assert(gRows.select("_med").distinct().as[Double].head() === 5.5)
    assert(gRows.select("_mad").distinct().as[Double].head() === 2.5)
    // the null-key group is its own group and must NOT be dropped by
    // the bounds join-backs (the Profile.joinBounds <=> contract)
    val nullRow = got.filter(col("grp").isNull)
    assert(nullRow.count() === 1)
    // singleton group: MAD 0 → nothing beats 0 strictly times k → not an outlier
    assert(nullRow.filter(col("is_outlier")).count() === 0)
  }

  test("Sampling.mixtureTemperature: alpha flattens shares, binding group kept whole") {
    import graft.operators.Sampling
    // heavy head (400 'a'), mid (100 'b'), tail (25 'c') — ids spread
    // uniformly so hash-rule realized rates track targets closely
    val df = ((1 to 400).map(i => (i.toLong, "a")) ++
      (1001 to 1100).map(i => (i.toLong, "b")) ++
      (2001 to 2025).map(i => (i.toLong, "c"))).toDF("id", "g")
    val out = Sampling.mixtureTemperature(df, "g", "id", alpha = 0.5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the smallest group binds: nothing upsampled, tail kept whole
    assert(out("c") === 25L)
    // expected kept ≈ n^0.5 scaled so the tail keeps all: a→100, b→50
    // (hash-bucket granularity swings a few rows either way)
    assert(math.abs(out("a") - 100L) <= 12, out.toString)
    assert(math.abs(out("b") - 50L) <= 8, out.toString)
    // flattening: output head/tail ratio ≈ sqrt of the input's 16:1
    assert(out("a").toDouble / out("c") < 6.0, out.toString)
    // alpha = 1 keeps the corpus shape exactly (T = 1, every rate = 1)
    val id = Sampling.mixtureTemperature(df, "g", "id", alpha = 1.0)
    assert(id.count() === df.count())
    // membership is the transparent hash rule (nested under rate)
    val kept = Sampling.mixtureTemperature(df, "g", "id", alpha = 0.5)
      .select("id").as[Long].collect().toSet
    val rateA = 25.0 / math.sqrt(25.0) * math.sqrt(400.0) / 400.0
    (1 to 400).foreach { i =>
      val bucket = (i.toLong * 2654435761L) % 1000000L
      assert(kept.contains(i.toLong) === (bucket < rateA * 1000000L), s"id $i")
    }
    intercept[IllegalArgumentException](Sampling.mixtureTemperature(df, "g", "id", 0.0))
    intercept[IllegalArgumentException](Sampling.mixtureTemperature(df, "g", "id", 1.5))
  }

  test("Sampling.dsirWeights: target-like docs score positive, off-target negative") {
    // raw corpus = two disjoint vocabularies; target sample = only the
    // fruit vocabulary → every fruit doc must strictly outscore every
    // animal doc (the animal buckets have ct = 0, smoothing only).
    // Absolute signs are NOT asserted: with buckets >> vocabulary the
    // add-one mass shifts all weights by a common negative offset —
    // selection is by ranking/threshold, which only needs the order.
    val docs = Seq(
      (1L, "apple banana cherry apple"),
      (2L, "banana cherry apple banana"),
      (3L, "dog emu fox dog"),
      (4L, "emu fox dog emu")).toDF("doc_id", "text")
    val target = Seq((10L, "apple banana cherry")).toDF("doc_id", "text")
    val w = graft.operators.Sampling
      .dsirWeights(docs, "doc_id", "text", target, "text", buckets = 512)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet === Set(1L, 2L, 3L, 4L))
    assert(w.values.forall(_._1 === 4L)) // n_tok
    assert(math.min(w(1L)._2, w(2L)._2) > math.max(w(3L)._2, w(4L)._2), w.toString)
  }

  test("Sampling.dsirWeights is TOTAL: empty-string and NULL-text docs are preserved") {
    // round-13 totality contract: the scorer emits one row per input
    // doc. An empty-string doc tokenizes to one "" token (whitespace
    // split never yields an empty array) and gets a real model score;
    // a NULL-text doc has zero evidence and scores exactly (0, 0.0)
    val docs = Seq(
      (1L, Some("apple banana")),
      (2L, Some("")),
      (3L, (None: Option[String]))).toDF("doc_id", "text")
    val target = Seq((10L, Some("apple"))).toDF("doc_id", "text")
    val w = graft.operators.Sampling
      .dsirWeights(docs, "doc_id", "text", target, "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet === Set(1L, 2L, 3L))   // row preservation
    assert(w(1L)._1 === 2L)
    assert(w(2L)._1 === 1L)                // "" is one token
    assert(w(3L) === ((0L, 0.0)))          // null text: zero tokens, neutral weight
  }

  test("Profile.madOutliers approx arm ≡ exact arm where the sketch is exact (n < k)") {
    // k = 800 >> n: the KLL sketch retains every value, so the
    // approx arm must reproduce the exact arm's fences and decisions
    // bit-for-bit on this data — the dispatch equivalence check (the
    // 100 TB arm diverges only by bounded sketch error at scale)
    val df = ((1 to 9).map(i => (Some("g"), i.toDouble)) :+ ((Some("g"), 100.0)) :+
      ((None: Option[String], 7.0))).toDF("grp", "x")
    // KLL at exact retention picks an actual value (no interpolation):
    // med 5.0 vs exact 5.5 on the even group — decisions must still
    // agree (fence positions shift together), so compare decisions,
    // not the fence values
    val exactFlags = Profile.madOutliers(df, "x", Seq("grp"), k = 3.0)
      .select("grp", "x", "is_outlier").orderBy("grp", "x")
      .collect().map(_.toString).toSeq
    val approxFlags = Profile.madOutliers(df, "x", Seq("grp"), k = 3.0,
      arm = Profile.Arm.Sketch)
      .select("grp", "x", "is_outlier").orderBy("grp", "x")
      .collect().map(_.toString).toSeq
    assert(approxFlags === exactFlags)
  }

  test("Dedup.dedupLines: first occurrence keeps each line, order preserved, all-lost docs dropped") {
    val docs = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),          // beta lost to doc 1
      (3L, "gamma\nbeta"),          // both lost → doc dropped
      (4L, "epsilon\nepsilon")      // within-doc repeat collapses to the first
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "alpha\nbeta\ngamma", 3L),
      (2L, "delta", 1L),
      (4L, "epsilon", 1L)))
  }

  test("applyMinhashIncremental drops history near-dups and batch twins, keeps fresh docs") {
    val history = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val ledger = Dedup.minhashLedgerOf(history, "doc_id", "text", w = 3)
    val batch = Seq(
      (10L, "a b c d e f g h"),                      // dup of history → dropped
      (11L, "z y x w v u t s"),                      // twin pair: min id kept
      (12L, "z y x w v u t s"),
      (13L, "p q r fully unrelated tokens here")     // fresh → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.applyMinhashIncremental(batch, "doc_id", "text",
      ledger, w = 3, numHashes = 16, bands = 8, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
    // empty ledger: only batch-internal dedup applies
    val noHist = Dedup.applyMinhashIncremental(batch, "doc_id", "text",
      Dedup.minhashLedgerOf(history.limit(0), "doc_id", "text", w = 3),
      w = 3, numHashes = 16, bands = 8, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(noHist === Set(10L, 11L, 13L))
  }

  test("applyMinhashIncremental rejects a ledger with mismatched signature arity") {
    val history = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val batch = Seq((10L, "z y x w v u t s")).toDF("doc_id", "text")
    val ledger8 = Dedup.minhashLedgerOf(history, "doc_id", "text", w = 3, numHashes = 8)
    // fewer hashes than requested → would die in detBands unresolved;
    // more hashes → would silently band over a prefix. Both must fail
    // loudly at the door instead.
    val e = intercept[IllegalArgumentException] {
      Dedup.applyMinhashIncremental(batch, "doc_id", "text",
        ledger8, w = 3, numHashes = 16, bands = 8, threshold = 0.9)
    }
    assert(e.getMessage.contains("arity mismatch"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.applyMinhashIncremental(batch, "doc_id", "text",
        Dedup.minhashLedgerOf(history, "doc_id", "text", w = 3, numHashes = 16),
        w = 3, numHashes = 8, bands = 4, threshold = 0.9)
    }
    assert(e2.getMessage.contains("arity mismatch"), e2.getMessage)
  }

  test("as-of joins resolve right-side timestamp ties deterministically (greatest payload)") {
    // three right rows share (u1, t=100) — the window order must not
    // depend on partition delivery order, so both input orders (and a
    // repartition shuffle) must pick the same winner: the greatest
    // payload struct
    val left = Seq((1L, "u1", 100L), (2L, "u1", 150L)).toDF("event_id", "user_id", "s")
    val dup = Seq(("u1", 100L, 10.0), ("u1", 100L, 30.0), ("u1", 100L, 20.0))
    def run(rows: Seq[(String, Long, Double)], fwd: Boolean) = {
      val right = rows.toDF("user_id", "s", "pvalue").repartition(3)
      val f = if (fwd) Temporal.asOfJoinForward _ else Temporal.asOfJoin _
      f(left, right, "user_id", "s", "s", Seq("pvalue"))
        .select(col("event_id"), col("_match.pvalue")).as[(Long, Double)]
        .collect().toSet
    }
    assert(run(dup, fwd = false) === Set((1L, 30.0), (2L, 30.0)))
    assert(run(dup.reverse, fwd = false) === Set((1L, 30.0), (2L, 30.0)))
    // forward: left@100 matches the t=100 group (inclusive ≥), left@150 has no later right
    assert(run(dup, fwd = true) === Set((1L, 30.0)))
    assert(run(dup.reverse, fwd = true) === Set((1L, 30.0)))
  }

  test("intervalOverlapJoin equals the naive overlap predicate with each pair met once") {
    val rnd = new scala.util.Random(99)
    val left = (1 to 40).map { i =>
      val s = rnd.nextInt(1000).toLong; (i.toLong, s"k${i % 3}", s, s + 1 + rnd.nextInt(400)) }
      .toDF("lid", "k", "ls", "le")
    val right = (1 to 30).map { i =>
      val s = rnd.nextInt(1000).toLong; (i.toLong, s"k${i % 3}", s, s + 1 + rnd.nextInt(400)) }
      .toDF("rid", "k", "rs", "re")
    val naive = left.join(right, Seq("k"))
      .filter(col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    val bucketed = Temporal.intervalOverlapJoin(left, right, Seq("k"),
      "ls", "le", "rs", "re", bucketWidth = 100)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(bucketed.sorted === naive.sorted)               // same pairs…
    assert(bucketed.distinct.size === bucketed.size)       // …each exactly once
    assert(naive.nonEmpty)
    // the adaptive-width overload returns the identical pair set
    // (correctness is width-invariant; only the bucket grid changes)
    val adaptive = Temporal.intervalOverlapJoin(left, right, Seq("k"),
      "ls", "le", "rs", "re")
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(adaptive.sorted === naive.sorted)
    assert(adaptive.distinct.size === adaptive.size)
  }

  test("Temporal.adaptiveBucketWidth: 2·p95 snapped to the next power of two; fallback") {
    // 95 spans of 1000 s + 5 outliers of 50000 s → p95 = 1000,
    // 2·p95 = 2000 → snap 2048 (the outliers must NOT set the grid)
    val iv = (1 to 100).map(i => (i.toLong, 0L, if (i <= 95) 1000L else 50000L))
      .toDF("id", "s", "e")
    assert(Temporal.adaptiveBucketWidth(Seq((iv, "s", "e"))) === 2048L)
    // exact power of two stays put: all spans 1024 → 2·p95 = 2048
    val pow2 = (1 to 10).map(i => (i.toLong, 0L, 1024L)).toDF("id", "s", "e")
    assert(Temporal.adaptiveBucketWidth(Seq((pow2, "s", "e"))) === 2048L)
    // no positive spans → documented fallback
    val empty = Seq((1L, 5L, 5L)).toDF("id", "s", "e")
    assert(Temporal.adaptiveBucketWidth(Seq((empty, "s", "e"))) === 3600L)
  }

  test("Sampling.exactNPerGroup: exact sizes, plain subset, partitioning-stable membership") {
    val df = (1 to 500).map(i => (s"g${i % 3}", i.toLong * 17)).toDF("g", "id")
    val got = Sampling.exactNPerGroup(df, Seq("g"), "id", n = 50)
    val sizes = got.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(sizes.values.toSet === Set(50L))
    // subset of the input, no synthetic columns
    assert(got.columns.toSeq === Seq("g", "id"))
    assert(got.except(df).count() === 0)
    // same membership under a different initial partitioning
    val again = Sampling.exactNPerGroup(df.repartition(13), Seq("g"), "id", n = 50)
    assert(again.select("id").as[Long].collect().toSet ===
      got.select("id").as[Long].collect().toSet)
    // groups smaller than n are kept whole
    val tiny = Sampling.exactNPerGroup(df.limit(10), Seq("g"), "id", n = 50)
    assert(tiny.count() === 10)
    // ids past 2^63/2654435761 ≈ 3.5e9: the mod-before-multiply rank
    // must not overflow (the naive id·c form throws under ANSI here)
    val huge = Seq(("g", 4000000000L), ("g", 4000000017L), ("g", 9000000000L))
      .toDF("g", "id")
    assert(Sampling.exactNPerGroup(huge, Seq("g"), "id", n = 2).count() === 2)
  }

  test("Relational.snapshotDiff: added/removed/changed classes, null-safe value compare") {
    val oldSnap = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(30.0)),
      (4L, None: Option[Double])).toDF("k", "v")
    val newSnap = Seq((2L, Some(20.0)),          // unchanged → absent from diff
      (3L, Some(31.0)),                          // changed
      (4L, Some(40.0)),                          // null → value IS a change
      (5L, Some(50.0))                           // added
    ).toDF("k", "v")                             // key 1 removed
    val got = Relational.snapshotDiff(oldSnap, newSnap, Seq("k"))
      .select("change_type", "k", "old_v", "v")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSet
    assert(got === Set(
      ("removed", 1L, Some(10.0), None),
      ("changed", 3L, Some(30.0), Some(31.0)),
      ("changed", 4L, None, Some(40.0)),
      ("added", 5L, None, Some(50.0))))
  }

  test("MinHash estimate-verify scores the same candidates within the k=16 error bound") {
    val docs = Tables(spark, sf, "documents")
    def run(v: MinHashVerify) = Dedup.minhashLshPairs(docs, "doc_id", "text",
      w = 3, numHashes = 16, bands = 8, threshold = 0.0, verify = v)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = run(ExactVerify)
    val est = run(EstimateVerify)
    // same banding → same candidate set at threshold 0
    assert(est.keySet === exact.keySet)
    assert(exact.nonEmpty)
    // per-pair agreement fraction is an unbiased Jaccard estimator with
    // std err √(J(1−J)/16) ≤ 0.125 — deterministic data, so these are
    // fixed numbers, not a flaky statistical gate
    val diffs = exact.map { case (k, j) => math.abs(est(k) - j) }
    assert(diffs.max <= 0.5, s"max |est-exact| = ${diffs.max}")
    assert(diffs.sum / diffs.size <= 0.2, s"mean |est-exact| = ${diffs.sum / diffs.size}")
  }

  test("Temporal.scd2: runs collapse, null state transitions count as changes, current row open") {
    val log = Seq(
      (1L, 1L, Some("a")), (1L, 2L, Some("a")),   // run of a → one row
      (1L, 3L, Some("b")),
      (1L, 4L, None),                             // b → null IS a change
      (1L, 5L, Some("b")),                        // null → b again
      (2L, 1L, Some("x"))
    ).toDF("k", "t", "st")
    val got = Temporal.scd2(log, Seq("k"), "t", Seq(col("t")), Seq("st"))
      .select("k", "st", "valid_from", "valid_to", "is_current")
      .as[(Long, Option[String], Long, Option[Long], Boolean)].collect().toSet
    assert(got === Set(
      (1L, Some("a"), 1L, Some(3L), false),
      (1L, Some("b"), 3L, Some(4L), false),
      (1L, None, 4L, Some(5L), false),
      (1L, Some("b"), 5L, None, true),
      (2L, Some("x"), 1L, None, true)))
    // one exchange: both window passes share the (key, time) sort
    val plan = Temporal.scd2(log, Seq("k"), "t", Seq(col("t")), Seq("st"))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 1, plan.take(2000))
  }

  test("Temporal.densify manufactures gap ticks with null values, null-safe on group keys") {
    val df = Seq((Some("a"), 1L, Some(10.0)), (Some("a"), 4L, Some(40.0)),
      (None: Option[String], 7L, Some(7.0))).toDF("g", "t", "v")
    val got = Temporal.densify(df, Seq("g"), "t")
      .as[(Option[String], Long, Option[Double])].collect().toSet
    assert(got === Set(
      (Some("a"), 1L, Some(10.0)), (Some("a"), 2L, None), (Some("a"), 3L, None),
      (Some("a"), 4L, Some(40.0)),
      (None, 7L, Some(7.0))))   // null-keyed series densifies, not vanishes
    // step > 1: grid at the stride, existing rows must be on-grid to match
    val wide = Temporal.densify(
      Seq(("a", 0L, 1.0), ("a", 20L, 2.0)).toDF("g", "t", "v"),
      Seq("g"), "t", step = 10L)
    assert(wide.count() === 3)
    assert(wide.filter(col("v").isNull).count() === 1)
  }

  test("Temporal.densify strict mode fails loudly on off-grid rows instead of dropping them") {
    // t=15 is off the 0+k·10 grid: default mode silently loses its
    // value (the documented quiet-data-loss mode), strict raises
    val offGrid = Seq(("a", 0L, 1.0), ("a", 15L, 9.0), ("a", 20L, 2.0)).toDF("g", "t", "v")
    val lenient = Temporal.densify(offGrid, Seq("g"), "t", step = 10L)
    assert(lenient.filter(col("v") === 9.0).count() === 0)
    val e = QuietLogs("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager")(intercept[Exception] {
      Temporal.densify(offGrid, Seq("g"), "t", step = 10L, strict = true).collect()
    })
    assert(e.getMessage.contains("off-grid") ||
      Option(e.getCause).exists(_.getMessage.contains("off-grid")), e.toString)
    // on-grid input: strict output is identical to the default
    val onGrid = Seq(("a", 0L, 1.0), ("a", 20L, 2.0)).toDF("g", "t", "v")
    assert(Temporal.densify(onGrid, Seq("g"), "t", step = 10L, strict = true)
      .collect().toSet ===
      Temporal.densify(onGrid, Seq("g"), "t", step = 10L).collect().toSet)
  }

  test("Text.qualityLogit: logit equals the hand-built linear score; gate is monotone") {
    import graft.functions.Text
    val df = Seq((1L, "the cat sat"), (2L, "zz!! ##")).toDF("doc_id", "text")
    val got = Text.qualityLogit(df, "text", Seq("the"),
      bias = -1.0, wLen = 0.5, wTokLen = 0.25, wStop = 3.0, wPunct = -2.0)
      .select("doc_id", "logit").as[(Long, Double)].collect().toMap
    // doc 1: 3 tokens, avg_len (11-2)/3=3, stop 1/3, punct 0/11
    val z1 = -1.0 + 0.5 * math.sqrt(3.0) + 0.25 * 3.0 + 3.0 * (1.0 / 3.0) + -2.0 * 0.0
    assert(got(1L) === z1)
    // doc 2: 2 tokens "zz!!","##", avg_len 3, stop 0, punct 6/7 → penalized below doc 1
    assert(got(2L) < got(1L))
  }
}

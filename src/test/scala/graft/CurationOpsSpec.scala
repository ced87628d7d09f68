package graft

import graft.operators.{Clustering, Dedup, EntityResolution}
import org.apache.spark.sql.functions._

/** Round-10 curation operators: repeated-span removal, fuzzy entity
  * resolution, exact-integer k-means. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("removeRepeatedSpans strips cross-doc and in-doc repeated grams, keeps short docs") {
    val docs = Seq(
      (1L, "a b c d e"),        // corpus-first occurrence of "a b c" — untouched
      (2L, "x a b c y"),        // quotes doc 1's gram → loses positions 1..3
      (3L, "p q r s p q r s"),  // in-doc repeat: second "p q r"+"q r s" span covered
      (4L, "u v")               // shorter than w=3 → passes through whole
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id")
      .as[(Long, String, Int, Long)].collect()
    assert(out.length === 4) // row count preserved
    assert(out(0) === ((1L, "a b c d e", 5, 0L)))
    assert(out(1) === ((2L, "x y", 5, 3L)))
    // doc 3 grams: winners at pos 0..1; pos-4 "p q r" and pos-5 "q r s"
    // are repeats → positions 4..7 covered, "s" at pos 3 survives
    assert(out(2) === ((3L, "p q r s", 8, 4L)))
    assert(out(3) === ((4L, "u v", 2, 0L)))
  }

  test("removeRepeatedSpans keeps a fully-covered doc as an empty-text row") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id").as[(Long, String, Int, Long)].collect()
    assert(out(0) === ((1L, "a b c", 3, 0L)))
    assert(out(1) === ((2L, "", 3, 3L)))
  }

  test("fuzzyMatchPairs blocks on shared tokens and verifies with Levenshtein") {
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme corpp"), (3L, "acme ltd"), (4L, "zzz qqq")
    ).toDF("rid", "name")
    val out = EntityResolution.fuzzyMatchPairs(recs, "rid", "name", maxDistance = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    // (1,2): one inserted char → dist 1; (1,3)/(2,3): "corp(p)"→"ltd"
    // is dist ≥ 4 → rejected; 4 shares no token → never a candidate
    assert(out === Set((1L, 2L, 1)))
  }

  test("fuzzyMatchPairs hot-token cap drops saturated blocks (recall trade, documented)") {
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme corpp"), (3L, "acme ltd")
    ).toDF("rid", "name")
    val out = EntityResolution.fuzzyMatchPairs(recs, "rid", "name",
      maxDistance = 2, maxBucket = 2)
    // "acme" occurs 3 > 2 → block dropped; no other shared token
    assert(out.count() === 0L)
  }

  test("kmeansAssign separates two planted clusters and is partitioning-independent") {
    val vecs = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)),
      (2L, Array(10.0, 10.0)), (3L, Array(11.0, 10.0))
    ).toDF("vid", "v")
    val out = Clustering.kmeansAssign(vecs, "vid", "v", k = 2, iters = 2)
      .select("vid", "cluster").as[(Long, Int)].collect().toMap
    // init c0=(0,0), c1=(1,0); after round 1 c1 drifts to the far
    // mass's mean, round 2 reassigns id 1 back to c0
    assert(out === Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
    val repart = Clustering.kmeansAssign(vecs.repartition(7), "vid", "v", k = 2, iters = 2)
      .select("vid", "cluster").as[(Long, Int)].collect().toMap
    assert(repart === out) // exact integer arithmetic ⇒ partitioning-independent
  }

  /** Plain-Scala Lloyd k-means with the semantics kmeansAssign
    * promises: floor(x·10⁶) quantization, integer squared L2, ties to
    * the smaller index, floor-mean updates, and an empty cell keeping
    * its centroid. Returns (id, cluster, dist2) sorted by id. */
  private def lloydReference(vecs: Seq[(Long, Seq[Double])], k: Int,
                             iters: Int): Seq[(Long, Int, Long)] = {
    val q = vecs.sortBy(_._1)
      .map { case (id, v) => (id, v.map(x => math.floor(x * 1000000.0).toLong)) }
    def argmin(v: Seq[Long], cents: Seq[Seq[Long]]): (Int, Long) =
      cents.indices.map { j =>
        (j, v.zip(cents(j)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.reduceLeft((best, c) => if (c._2 < best._2) c else best)
    var cents = q.take(k).map(_._2)
    for (_ <- 1 to iters) {
      val cells = q.groupBy { case (_, v) => argmin(v, cents)._1 }
      cents = cents.indices.map { j =>
        cells.get(j).fold(cents(j)) { members =>
          members.map(_._2).transpose.map(dim => Math.floorDiv(dim.sum, dim.size.toLong))
        }
      }
    }
    q.map { case (id, v) => val (j, d) = argmin(v, cents); (id, j, d) }
  }

  test("kmeansAssign ≡ a plain-Scala Lloyd reference at k=8, row for row") {
    // exactness reference for the kmeans_argmin assignment on the real
    // corpus at the canonical q_kmeans parameters: same cluster AND
    // same exact-integer dist2 for every vector
    val e = Tables(spark, sf, "embeddings")
    val got = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 2)
      .orderBy("vec_id").collect().toSeq
      .map(r => (r.getAs[Number](0).longValue, r.getInt(1), r.getLong(2)))
    val vecs = e.select("vec_id", "embedding").collect().toSeq.map(r =>
      (r.getAs[Number](0).longValue,
        r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue)))
    assert(got === lloydReference(vecs, k = 8, iters = 2))
    // the plan must not grow with k: the argmin is a single expression
    // node carrying the matrix outside the AST
    val plan = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("kmeans_argmin"), plan.take(1200))
  }

  test("kmeansAssign at k=40 on 120 vectors runs and covers every point") {
    // a k·dim literal argmin would fold 40·dim nodes into the plan;
    // kmeans_argmin keeps plan size O(1) in k. Correctness is spec'd
    // against the reference above; here assert the end-to-end run
    // completes and covers all points.
    val e = Tables(spark, sf, "embeddings").limit(120)
    val out = Clustering.kmeansAssign(e, "vec_id", "embedding", k = 40, iters = 1)
    assert(out.count() === 120L)
    assert(out.select("cluster").distinct().count() > 1L)
  }

  test("KMeansArgminExpr: structural semanticEquals (CSE-dedupable) and ragged-input rejection") {
    import graft.functions.KMeansArgminExpr
    // two expressions built from EQUAL-but-distinct matrices must be
    // semanticEquals — an identity-compared Array field would defeat
    // canonicalization/common-subexpression elimination, evaluating the
    // same argmin twice when its column is referenced twice
    def mat() = Array(Array(1L, 2L), Array(3L, 4L))
    // equal catalyst children (Literals compare structurally; Column
    // wrappers carry call-site Origins that differ by construction)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def child() = Literal.create(Seq(9L, 9L), ArrayType(LongType))
    val a = KMeansArgminExpr(child(), mat().map(_.toSeq).toSeq)
    val b = KMeansArgminExpr(child(), mat().map(_.toSeq).toSeq)
    assert(a == b && a.semanticEquals(b) && a.hashCode == b.hashCode)
    // ragged vectors throw in BOTH directions: a longer vector must not
    // be silently truncated to dim
    val vecs = Seq((0L, Array(1L, 2L)), (1L, Array(1L, 2L, 3L))).toDF("vid", "vq")
    val long = QuietLogs(QuietLogs.ListenerBus)(intercept[Exception] {
      vecs.select(KMeansArgminExpr(col("vq"), mat())).collect()
    })
    assert(String.valueOf(long.getMessage)
      .contains("kmeans_argmin: vector length") ||
      String.valueOf(long.getCause).contains("kmeans_argmin: vector length"))
    val short = QuietLogs(QuietLogs.ListenerBus)(intercept[Exception] {
      Seq((0L, Array(1L))).toDF("vid", "vq")
        .select(KMeansArgminExpr(col("vq"), mat())).collect()
    })
    assert(String.valueOf(short.getMessage)
      .contains("kmeans_argmin: vector length") ||
      String.valueOf(short.getCause).contains("kmeans_argmin: vector length"))
  }

  test("kmeansAssign keeps an emptied cell's previous centroid") {
    // k=3 over 3 points where two init centroids coincide: cell 1
    // can never win a tie against cell 0 (equal dist2, higher index)
    // so it empties and must keep its init centroid without error
    val vecs = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(0.0, 0.0)), (2L, Array(5.0, 5.0))
    ).toDF("vid", "v")
    val out = Clustering.kmeansAssign(vecs, "vid", "v", k = 3, iters = 2)
      .select("vid", "cluster").as[(Long, Int)].collect().toMap
    assert(out === Map(0L -> 0, 1L -> 0, 2L -> 2))
  }
}

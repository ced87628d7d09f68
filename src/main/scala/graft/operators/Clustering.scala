package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embedding column — the corpus
  * curation pass (SemDeDup / SSL-prototype style) that groups a
  * training corpus into semantic cells so downstream sampling can
  * balance coverage instead of drawing blind.
  *
  * Exactness design: k-means is usually float-order-dependent (the
  * centroid mean depends on summation order), which would make the
  * result engine- and partitioning-dependent. Here every step runs in
  * EXACT integer arithmetic instead: vectors are quantized once to
  * fixed-point longs (floor(x·10⁶) — deterministic in any engine),
  * distances are integer squared-L2, and centroid updates are
  * floor(Σ/n) on exact integer sums. Integer addition is
  * order-independent, so the whole iteration is bit-reproducible
  * under any partitioning AND SQL-mirrorable for the oracle — same
  * rationale as [[Exact.dsum]]'s decimal sums, taken to the integer
  * domain. The 10⁻⁶ quantization error is far below any meaningful
  * cluster geometry (inputs are unit-scale embeddings).
  *
  * Scale design (the classic Lloyd-on-Spark shape, cf. Spark MLlib
  * KMeans): centroids live on the driver (k·dim longs — bounded by
  * parameters, not data) and ride into the assignment expression as
  * one matrix, so assignment is ONE narrow projection over
  * the corpus — no join, no shuffle. The update aggregates
  * (cell, dim) partial sums map-side: shuffle is k·dim rows per
  * partition regardless of corpus size. Empty cells keep their
  * previous centroid (deterministic, mirrored by the oracle).
  */
object Clustering {

  /** Assign every vector to one of k clusters after `iters` Lloyd
    * update rounds. Deterministic init: the k smallest-id vectors are
    * the starting centroids (cluster j = j-th smallest id).
    * Output: (idCol, cluster, dist2) — dist2 the exact integer
    * squared distance (quantized domain) to the final centroid;
    * ties broken toward the smaller cluster index.
    *
    * The argmin is [[graft.functions.KMeansArgminExpr]], which carries
    * the centroid matrix as ONE reference object outside the
    * expression tree, so the plan stays O(1) in k (a SemDeDup pass
    * runs k in the thousands). Measured (COVERAGE.md's k-means row;
    * sf0.1 embeddings, iters=0, assignment only): ~0.2 s flat through
    * k=1024 with ~0.01 s plan build, where an argmin composed of k·dim
    * literal nodes took 0.8 s at k=8 and 4.7 s at k=256. */
  def kmeansAssign(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int): DataFrame = {
    require(k >= 2 && iters >= 0, "need k >= 2 and iters >= 0")
    val q = vecs.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * lit(1000000.0)).cast("long")).as("vq"))

    def best(cents: Array[Array[Long]]): Column =
      graft.functions.KMeansArgminExpr(col("vq"), cents)

    var cents: Array[Array[Long]] = q.orderBy("id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"need at least $k vectors, got ${cents.length}")

    for (_ <- 1 to iters) {
      val cells = q.withColumn("_b", best(cents))
        .select(col("_b").getField("cluster").as("cell"), col("vq"))
      val updated = cells
        .select(col("cell"), posexplode(col("vq")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        // exact integer floor division (pmod handles negative sums);
        // (s - pmod(s, n)) is divisible by n, so `div` is exact
        .withColumn("cval", expr("(s - pmod(s, n)) div n"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("cval")))),
          x => x.getField("cval")).as("cq"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      cents = Array.tabulate(k)(j => updated.getOrElse(j, cents(j)))
    }

    q.withColumn("_b", best(cents))
      .select(col("id").as(idCol),
        col("_b").getField("cluster").as("cluster"),
        col("_b").getField("dist2").as("dist2"))
  }
}

package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast join of the query
  * set against the corpus; exact, O(|Q|·N), right when |Q| is small or
  * as the ground-truth oracle.
  *
  * Scale path: IVF-style bucketed search — corpus and queries are
  * assigned to hyperplane-LSH buckets (multi-probe via several tables);
  * the join key is the bucket id, so comparisons per query drop from N
  * to the bucket occupancy. Bucket assignment is a pure expression
  * (no trained model to ship); at 100 TB the corpus side is scanned
  * once, shuffled once on bucket id.
  */
object Similarity {

  /** Exact top-k by cosine for each query row. `queries`/`corpus` need
    * (idCol, vecCol). Ranking uses a rounded cosine + id tie-break so
    * results are totally ordered and oracle-stable. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", round(Vectors.cosine(col("q_v"), col("n_v")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (the first
    * `nCells` corpus vectors act as centroids — no trained model to
    * ship) assigns every corpus vector to its max-dot-product cell; a
    * query searches its `nProbes` best cells' posting lists (classic
    * IVF multi-probe: recall grows with probes, cost ∝ probes ×
    * occupancy). At 100 TB the corpus is assigned once at ingest and
    * stored partitioned by cell id, so a query touches `nProbes`
    * partitions. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, nCells: Int = 16,
              nProbes: Int = 1): DataFrame = {
    val cents = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
    def assign(df: DataFrame, id: String, v: String, probes: Int): DataFrame = {
      val w = Window.partitionBy(col(id))
        .orderBy(col("_dot").desc, col("cent_id"))
      df.crossJoin(broadcast(cents))
        .withColumn("_dot", Vectors.dot(col(v), col("cent_v")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= probes)
        .select(col(id), col(v), col("cent_id").as("cell"))
    }
    val c = assign(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v")), "n_id", "n_v", 1)
    val q = assign(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v")), "q_id", "q_v", nProbes)
    val scored = q.join(c, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(Vectors.cosine(col("q_v"), col("n_v")), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Bucketed (LSH) ANN top-k: candidates = corpus vectors sharing any
    * of `tables` hyperplane buckets with the query; exact cosine +
    * top-k within candidates. Recall grows with `tables`, cost with
    * bucket occupancy (≈ N / 2^bits per table). Same parity recipe as
    * [[graft.operators.Dedup.embeddingNearDup]]: hash-free rational
    * hyperplanes ([[Vectors.detHyperplaneKeys]]) and a strict
    * left-to-right fold cosine ([[Vectors.cosineFold]]) make every
    * double bit-identical in ANSI SQL, so candidate generation,
    * scoring, and ranking all hash-match the DuckDB oracle with no
    * rounding. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, dim: Int, k: Int,
                   bits: Int = 4, tables: Int = 8): DataFrame = {
    def bucketize(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id),
        posexplode(Vectors.detHyperplaneKeys(col(v), dim, bits, tables))
          .as(Seq("t", "key")))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val cv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    val q = bucketize(qv, "q_id", "q_v")
    val c = bucketize(cv, "n_id", "n_v")
    // candidates dedup on IDS ONLY: a (q, n) pair colliding in several
    // tables must not drag two 64-float payloads through the distinct
    // shuffle once per collision — vectors join back per UNIQUE pair
    // for scoring (queries usually broadcast; the corpus fetch is a
    // plain equi-join on n_id)
    val cand = q.join(c, Seq("t", "key")).filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val scored = cand.join(qv, "q_id").join(cv, "n_id")
      .withColumn("cos", Vectors.cosineFold(col("q_v"), col("n_v"), dim))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }
}

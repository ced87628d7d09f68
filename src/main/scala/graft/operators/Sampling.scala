package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines: every row is
  * assigned to a named split by a pure function of its id, so the
  * assignment is stable across runs, engines, and repartitioning —
  * unlike `randomSplit`, which depends on partition layout. The
  * samplers bucket ids by transparent arithmetic (`byModulo`: id mod
  * 100; the others: Knuth's multiplicative hash), so every assignment
  * is SQL-reproducible.
  */
object Sampling {

  /** (name, upper-percentile) pairs, e.g. Seq("train"→80, "val"→90,
    * "test"→100): bucket < 80 → train, 80–89 → val, 90–99 → test. */
  def splitColumn(bucket: Column, cuts: Seq[(String, Int)]): Column =
    cuts.foldRight(lit(null).cast("string")) { case ((name, upper), rest) =>
      when(bucket < upper, lit(name)).otherwise(rest)
    }

  def byModulo(df: DataFrame, idCol: String, cuts: Seq[(String, Int)]): DataFrame =
    df.withColumn("split", splitColumn(pmod(col(idCol), lit(100)).cast("int"), cuts))

  /** Leakage-safe split: assign whole NEAR-DUP CLUSTERS to splits, not
    * individual docs. A per-doc split lets two near-identical documents
    * land in train and test — the held-out set then scores memorization
    * (the train/test contamination failure mode near-dup detection
    * exists to prevent). Here the split unit is the doc's connected
    * component over `pairs` (its min-id label from
    * [[Dedup.connectedComponents]]; unpaired docs are their own unit),
    * and the bucket is a pure function of the UNIT id — so every member
    * of a cluster shares one split, and singleton docs get exactly the
    * [[byModulo]] assignment. Output: the input rows plus `unit` and
    * `split`. Scale: the label table is ∝ clustered docs (tiny next to
    * the corpus) and joins on the id; the corpus itself streams once. */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                    cuts: Seq[(String, Int)],
                    aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val units = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("node").as(idCol), col("cluster"))
    docs.join(units, Seq(idCol), "left")
      .withColumn("unit", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
      .withColumn("split",
        splitColumn(pmod(col("unit"), lit(100)).cast("int"), cuts))
  }

  /** Split-contamination audit: given per-doc split assignments and a
    * near-dup pair list, count the pairs whose members landed in
    * DIFFERENT splits — the leakage a [[leakFreeSplit]] drives to zero
    * and a plain per-doc split leaves behind. Output one row per
    * ordered (split_a, split_b) leak direction with its pair count;
    * empty ⇔ no cross-split near-dups. Only ids and split labels
    * shuffle — two joins of the pair list against the assignment. */
  def splitContamination(assigned: DataFrame, idCol: String, pairs: DataFrame,
                         aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val splits = assigned.select(col(idCol), col("split"))
    pairs
      .join(splits.select(col(idCol).as(aCol), col("split").as("split_a")), aCol)
      .join(splits.select(col(idCol).as(bCol), col("split").as("split_b")), bCol)
      .filter(col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Deterministic exactly-n-per-group sample: rank each group's rows
    * by a transparent multiplicative hash of the id (Knuth's constant,
    * SQL-reproducible; the id itself tie-breaks) and keep the first
    * `n` — the fixed-size counterpart of rate-based sampling (eval-set
    * carving, per-source inspection samples, k-shot selection).
    * Engine/partitioning-stable membership like the other samplers.
    * One shuffle on the group key; groups smaller than `n` are kept
    * whole. The rank column is dropped — the sample is a plain subset
    * of the input rows. The id is reduced mod p BEFORE the multiply
    * ((id mod p)·c ≡ id·c mod p), so the product stays < 2^63 for any
    * long id — ANSI-safe with no overflow cliff at id ≈ 3.5e9. */
  def exactNPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                     n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val p = 1000000007L
    val rank = pmod(pmod(col(idCol), lit(p)) * lit(2654435761L), lit(p))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(rank, col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= n)
      .drop("_rk")
  }

  /** Deterministic global training-order shuffle: permute the corpus
    * into `numShards` shards with a dense position inside each — the
    * "shuffle before packing / epoch streaming" pass of a pretraining
    * pipeline. Rank key = the [[exactNPerGroup]] multiplicative-hash
    * recipe over `id + salt` (a different salt permutes differently —
    * one call per epoch); shard = key mod numShards; pos = row_number
    * within the shard ordered by (key, id).
    *
    * Scale shape: the naive `ORDER BY hash(id)` is a GLOBAL sort — the
    * corpus funnels through one range partitioner. Sharding first
    * keeps every window per-shard (parallel by construction, shard
    * size ≈ n/numShards), and (shard, pos) is a total iteration order
    * consumers stream shard-major. Assignment and order are pure
    * functions of (id, salt): stable across runs, engines, and
    * partitionings, and ANSI-SQL-reproducible for the oracle. */
  def shuffleOrder(df: DataFrame, idCol: String, numShards: Int,
                   salt: Long = 0L): DataFrame = {
    require(numShards > 0, s"need numShards > 0, got $numShards")
    val p = 1000000007L
    val key = pmod(pmod(col(idCol) + lit(salt), lit(p)) * lit(2654435761L), lit(p))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_key"), col(idCol))
    df.withColumn("_key", key)
      .withColumn("shard", pmod(col("_key"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("_key")
  }

  /** Deterministic stratified sampling: keep a row iff its
    * multiplicative-hash bucket — (id · 2654435761) mod 10⁶, Knuth's
    * constant, a pure function of the id — falls under the stratum's
    * rate. It downsamples over-represented strata (the classic
    * language/source rebalancing pass of a pretraining mix) with
    * run/partitioning/engine-stable membership, unlike `sampleBy`, and
    * is fully reproducible in ANSI SQL (oracle-checked). Strata missing
    * from `rates` keep `defaultRate`. A row kept at rate r stays kept
    * at any rate ≥ r (nested samples — raising a stratum's rate only
    * ADDS rows, an audit-friendly property random samplers lack). Safe
    * under ANSI overflow checking for ids up to ~2⁶³/2654435761 ≈
    * 3.5e9. */
  def stratifiedByModulo(df: DataFrame, stratumCol: String, idCol: String,
                         rates: Map[String, Double],
                         defaultRate: Double = 1.0): DataFrame = {
    val threshold = rates.foldLeft(lit(defaultRate * 1000000L)) {
      case (rest, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(rate * 1000000L)).otherwise(rest)
    }
    df.filter(pmod(col(idCol) * lit(2654435761L), lit(1000000L)) < threshold)
  }

  /** Deterministic per-row weighted sampling: keep a row iff its
    * multiplicative-hash bucket falls under `rate` (a Column in [0,1] —
    * e.g. a quality score or length-proportional importance weight).
    * The continuous generalization of [[stratifiedByModulo]]: same
    * nested-sample property (raising a row's rate can only add it),
    * same engine-independent membership, SQL-reproducible. */
  def byRate(df: DataFrame, idCol: String, rate: Column): DataFrame =
    df.filter(pmod(col(idCol) * lit(2654435761L), lit(1000000L)) <
      rate * lit(1000000L))

  /** Mixture sampling: downsample each group so the OUTPUT's group
    * shares match `targets` (the data-mixing pass of a pretraining
    * corpus — e.g. 60% web / 30% code / 10% books), maximal under
    * no-upsampling: the binding group (smallest nᵍ/targetᵍ) keeps
    * every row, every other group keeps rate
    * rᵍ = T·targetᵍ/nᵍ with T = min over groups of nᵍ/targetᵍ.
    * Groups absent from `targets` are dropped. Membership is the same
    * transparent multiplicative-hash bucket as [[stratifiedByModulo]]
    * (nested, engine/partitioning-stable, SQL-reproducible); realized
    * shares match targets to hash-bucket granularity (±1e-6·n), not
    * exactly.
    *
    * Scale shape: one tiny groupBy for the targeted-group counts
    * (≤ |targets| rows, collected — bounded driver literals), the
    * binding scale folded on the driver, and the per-group rates
    * riding the corpus as a literal when-chain — the corpus itself
    * streams through one filter; the plan has no join, no window, no
    * shuffle. */
  def mixture(df: DataFrame, groupCol: String, idCol: String,
              targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive shares")
    val targetExpr = targets.foldLeft(lit(null).cast("double")) {
      case (rest, (g, share)) =>
        when(col(groupCol) === g, lit(share)).otherwise(rest)
    }
    // per-group counts of the TARGETED groups only: ≤ |targets| rows,
    // collected to the driver (bounded driver literals — the binding
    // scale is a fold over a handful of numbers, not a distributed
    // computation). The corpus
    // then streams through ONE filter of pure literal expressions: no
    // join, no window, no shuffle anywhere in the plan (round 13 —
    // this replaced a counts-dim global window, the guard class the
    // plan-wide no-unpartitioned-window PlanSpec test now pins).
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_target", targetExpr)
      .filter(col("_target").isNotNull)
      .collect()
    // binding scale T = min over groups of n/target; rate_g = T·target_g/n_g
    // — the same double expressions the oracle SQL evaluates
    val bindT =
      if (counts.isEmpty) 0.0
      else counts.map(r => r.getLong(1).toDouble / r.getDouble(2)).min
    val rateExpr = counts.foldLeft(lit(null).cast("double")) { (rest, r) =>
      when(col(groupCol) === lit(r.get(0)),
        lit(bindT) * lit(r.getDouble(2)) / lit(r.getLong(1).toDouble))
        .otherwise(rest)
    }
    // null rate = untargeted group → dropped (the former inner join)
    df.filter(rateExpr.isNotNull &&
      pmod(col(idCol) * lit(2654435761L), lit(1000000L)) <
        rateExpr * lit(1000000L))
  }

  /** Temperature-flattened mixture (α-smoothing — the multilingual
    * rebalance of mBERT/XLM-R, Conneau et al. 2020): resample groups
    * toward shares ∝ nᵍ^α, 0 < α ≤ 1. α = 1 keeps the corpus shape,
    * α → 0 flattens toward uniform; the smallest group is always the
    * binding group (nᵍ/nᵍ^α = nᵍ^{1−α} is minimized there) and keeps
    * every row, so the pass never upsamples. Delegates to [[mixture]]
    * with the UNNORMALIZED weights nᵍ^α as targets — shares are
    * scale-invariant, and skipping the normalizing division keeps
    * every arithmetic step (pow/sqrt, ÷, ·, min) a single correctly-
    * rounded IEEE op on identical inputs in any engine, which is what
    * puts the hash-exact keep rule under the DuckDB oracle. α = 0.5
    * computes `sqrt` (correctly rounded EVERYWHERE by IEEE-754, unlike
    * the last-ulp-loose libm `pow`), so the oracle-checked query face
    * uses α = 0.5; other α are engine-exact but only pow-reproducible.
    *
    * Scale shape: same as [[mixture]] — one counts aggregate over the
    * group column (collected: bounded by the source/language
    * cardinality, the k-literal pattern), then the corpus streams
    * through one literal filter. */
  def mixtureTemperature(df: DataFrame, groupCol: String, idCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1, got $alpha")
    val counts = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("_n")).collect()
    val targets = counts.map { r =>
      val n = r.getLong(1).toDouble
      String.valueOf(r.get(0)) ->
        (if (alpha == 0.5) math.sqrt(n) else math.pow(n, alpha))
    }.toMap
    if (targets.isEmpty) df.filter(lit(false))
    else mixture(df, groupCol, idCol, targets)
  }

  /** Budget-capped selection: per group, keep rows in `order` until
    * the running sum of `costCol` exceeds `budget` — the
    * data-selection pass that takes the best documents (quality-first
    * order) up to a token/char budget per source. A row is kept iff
    * its inclusive running cost is ≤ budget, so the output never
    * exceeds the budget. `order` must be total (tie-break on the id)
    * for deterministic membership. One shuffle on the group key; the
    * running sum is a single window pass. */
  def selectUntilBudget(df: DataFrame, groupCol: String, order: Seq[Column],
                        costCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("_cum", sum(col(costCol)).over(w))
      .filter(col("_cum") <= budget)
      .drop("_cum")
  }

  /** DSIR-style importance weights for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every raw document by how target-like its
    * hashed token distribution is — w(doc) = Σ_tokens [ln p̂_target(b)
    * − ln p̂_raw(b)] over hashed feature buckets b, with add-one
    * smoothing on both unigram bucket models. Positive w = the doc
    * looks more like the target sample than like the raw corpus
    * average; select by thresholding or top-k on w.
    *
    * Feature hashing uses the transparent [[graft.functions.RollingFp]]
    * fold mod `buckets` — the same SQL-reproducible det hash family
    * the dedup operators use, so the whole scorer (hashing included)
    * runs under the DuckDB oracle.
    *
    * Scale shape: each model is one explode → two-level aggregate
    * (partial map-side; the shuffle carries ≤ `buckets` rows), the
    * log-ratio table is ≤ `buckets` rows broadcast to the scoring
    * pass, and the per-doc sum partial-aggregates map-side (a doc's
    * tokens are co-located after explode), so the scoring shuffle is
    * one row per document. The target sample is typically small
    * (that's the method's point) but nothing here requires it.
    * Returns (idCol, n_tok, w) and is TOTAL over `docs` (round 13):
    * a doc whose text yields no tokens — NULL text; the whitespace
    * tokenizer never returns an empty array otherwise — emits
    * (n_tok = 0, w = 0.0) instead of silently vanishing, so a
    * selection rule downstream sees every input row and decides
    * explicitly (a zero-evidence doc scores exactly neutral).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String,
                  buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    import graft.functions.{RollingFp, Text}
    def bucketCounts(df: DataFrame, tc: String): DataFrame =
      df.select(explode(Text.tokens(col(tc))).as("_tok"))
        .select(pmod(RollingFp(col("_tok")), lit(buckets.toLong)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
    val raw = bucketCounts(docs, textCol)
      .withColumnRenamed("c", "cr")
    val tgt = bucketCounts(target, targetTextCol)
      .withColumnRenamed("c", "ct")
    // one-row totals ride as crossJoin'd literals (broadcast-1-row)
    val nr = raw.agg(sum("cr").as("nr"))
    val nt = tgt.agg(sum("ct").as("nt"))
    val lam = raw.join(tgt, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(nr).crossJoin(nt)
      .select(col("b"),
        (log(col("ct") + 1.0) - log(col("nt") + lit(buckets.toDouble)) -
          log(col("cr") + 1.0) + log(col("nr") + lit(buckets.toDouble)))
          .as("_lam"))
    // explode_outer + left join: tokenless docs ride through as one
    // null-token row and score (0, 0.0) — totality. Every real token's
    // bucket exists in lam by construction (raw covers the corpus), so
    // the left join loses nothing vs inner.
    docs.select(col(idCol), explode_outer(Text.tokens(col(textCol))).as("_tok"))
      .withColumn("b",
        when(col("_tok").isNotNull, pmod(RollingFp(col("_tok")), lit(buckets.toLong))))
      .join(broadcast(lam), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_tok")).as("n_tok"),
        coalesce(sum("_lam"), lit(0.0)).as("w"))
  }
}

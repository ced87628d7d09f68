package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns as pure
  * column expressions (`zip_with`/`aggregate` fold left-to-right, so
  * results are deterministic — no summation-order noise).
  *
  * Scale note: these run per-row with no shuffle; the expensive part of
  * similarity workloads is pair enumeration, handled in
  * [[graft.operators.Similarity]] by bucketing before any math runs.
  */
object Vectors {

  /** Σ aᵢ·bᵢ in double — fused codegen expression ([[DotProduct]]). */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  /** Strict left-to-right fold dot — the ORACLE-PARITY variant: the
    * interpreted `aggregate` accumulates in exactly DuckDB
    * `list_reduce`'s order, so the resulting double is bit-identical
    * cross-engine. Slower than [[dot]]; use where reproducibility in
    * SQL matters more than speed. */
  def dotFold(a: Column, b: Column, dim: Int): Column =
    aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, d) =>
      acc + element_at(a, d + 1).cast("double") * element_at(b, d + 1).cast("double"))

  /** Fold-based cosine (dotFold/√(dotFold·dotFold)) — bit-identical to
    * the same quotient of `list_reduce` folds in SQL. Backed by the
    * fused [[CosineFold]] codegen expression (identical accumulation
    * order — spec'd bit-for-bit against [[cosineFoldComposed]]). */
  def cosineFold(a: Column, b: Column, dim: Int): Column =
    CosineFold(a, b, dim)

  /** The composed-builtins form of [[cosineFold]] (interpreted
    * `aggregate` folds) — kept as the reference semantics the fused
    * expression is tested against. */
  def cosineFoldComposed(a: Column, b: Column, dim: Int): Column =
    dotFold(a, b, dim) / sqrt(dotFold(a, a, dim) * dotFold(b, b, dim))

  /** Deterministic hyperplane bucket keys, one per table: bit b of
    * table t's key is the sign of the fold-dot of the vector with the
    * rational hyperplane w(t,b,d) = ((((t·bits+b)·dim+d)·2654435761)
    * mod 2001 − 1000)/1000 — hash-free, so the identical key
    * computation is expressible in ANSI SQL. Returns `array<long>` of
    * `tables` keys. Backed by the fused [[DetHyperplaneKeysExpr]]
    * codegen expression (bits×tables interpreted folds per row
    * otherwise — the dominant cost of the ANN/near-dup operators). */
  def detHyperplaneKeys(v: Column, dim: Int, bits: Int, tables: Int): Column =
    DetHyperplaneKeysExpr(v, dim, bits, tables)

  /** The composed-builtins form of [[detHyperplaneKeys]] — kept as the
    * reference semantics the fused expression is tested against. */
  def detHyperplaneKeysComposed(v: Column, dim: Int, bits: Int, tables: Int): Column = {
    def weight(t: Int, b: Int)(d: Column): Column =
      (pmod((lit((t.toLong * bits + b) * dim) + d.cast("long")) * 2654435761L,
        lit(2001L)) - 1000L).cast("double") / 1000.0
    def dotW(t: Int, b: Int): Column =
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0), (acc, d) =>
        acc + element_at(v, d + 1).cast("double") * weight(t, b)(d))
    array((0 until tables).map { t =>
      (0 until bits).map(b => when(dotW(t, b) >= 0, 1L << b).otherwise(0L))
        .reduce(_ + _)
    }: _*)
  }

  /** cosine(a,b) = a·b / (‖a‖‖b‖) — fused single-pass codegen
    * expression ([[CosineSim]]); same index-order accumulation as the
    * zip_with/aggregate composition it replaced. */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)
}

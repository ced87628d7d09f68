package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Composed-builtins (interpreter-evaluated higher-order function)
  * forms of [[Vectors.dot]] and [[Vectors.cosine]]: the reference
  * semantics the fused expressions are tested against. */
object ComposedVectors {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column = Vectors.dot(a, b) / (norm(a) * norm(b))
}

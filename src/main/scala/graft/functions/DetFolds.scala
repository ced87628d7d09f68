package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused codegen forms of the ORACLE-PARITY vector folds
  * ([[Vectors.cosineFoldComposed]] / [[Vectors.detHyperplaneKeysComposed]]).
  *
  * The composed `aggregate(sequence(...))` forms are CodegenFallback:
  * every element costs an interpreted closure call, and the
  * hyperplane-key fold runs bits×tables such folds per row — the
  * dominant cost of q_dedup_embed / q_sim_ann
  * (SURVEY §2.11 preference (b): custom Expression over UDF).
  *
  * Parity argument: each accumulator performs the IDENTICAL sequence
  * of double operations as its interpreted fold — ascending-index
  * `acc += (double)v[d] · w` with no reassociation (the JVM never
  * contracts to FMA implicitly) — so results are bit-identical, which
  * the specs assert. The cosine denominator is `sqrt(na·nb)` (NOT
  * `sqrt(na)·sqrt(nb)` — those differ in floating point), matching the
  * composed form and the DuckDB oracle.
  */
case class CosineFold(left: Expression, right: Expression, dim: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_fold"
  // a null ELEMENT nulls the result even for non-nullable inputs
  override def nullable: Boolean = true
  // the loops read getFloat(d) directly: an embeddings regeneration to
  // array<double> must fail at ANALYSIS (where ContractSpec gates every
  // query), not read garbage bytes at runtime
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() < dim || b.numElements() < dim)
      throw new IllegalArgumentException(
        s"cosine_fold: vector shorter than dim=$dim")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var d = 0
    while (d < dim) {
      if (a.isNullAt(d) || b.isNullAt(d)) return null
      val x = a.getFloat(d).toDouble
      val y = b.getFloat(d).toDouble
      dot += x * y; na += x * x; nb += y * y
      d += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() < $dim || $b.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "cosine_fold: vector shorter than dim=$dim");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $d = 0; $d < $dim; $d++) {
         |  if ($a.isNullAt($d) || $b.isNullAt($d)) { ${ev.isNull} = true; break; }
         |  double $x = (double) $a.getFloat($d);
         |  double $y = (double) $b.getFloat($d);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineFold =
    copy(left = newLeft, right = newRight)
}

object CosineFold {
  def apply(a: Column, b: Column, dim: Int): Column =
    ColumnBridge.column(
      new CosineFold(ColumnBridge.expression(a), ColumnBridge.expression(b), dim))
}

/** Fused deterministic hyperplane bucket keys (the hash-free,
  * SQL-reproducible family): bit b of table t's key is the sign of the
  * ascending-d fold Σ v[d] · w(t,b,d) with the rational weight
  * w = ((((t·bits+b)·dim+d)·2654435761) mod 2001 − 1000)/1000 — all
  * integer arithmetic exact in long, the double accumulation in the
  * identical order as the composed form. A row with any null element
  * produces all-zero keys (the composed `when(null ≥ 0, …).otherwise(0)`
  * collapses every bit to 0), kept bug-for-bug for parity. */
case class DetHyperplaneKeysExpr(child: Expression, dim: Int, bits: Int, tables: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "det_hyperplane_keys"
  // same float-element contract as CosineFold: dtype drift → analysis error
  override def inputTypes = Seq(ArrayType(FloatType))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    DetHyperplaneKeysExpr.keys(v, dim, bits, tables)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = DetHyperplaneKeysExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.keys($c, $dim, $bits, $tables)")
  }

  override protected def withNewChildInternal(newChild: Expression): DetHyperplaneKeysExpr =
    copy(child = newChild)
}

object DetHyperplaneKeysExpr {

  /** Shared by interpreted eval and generated code — one tight loop
    * per (table, bit), ascending d, no reassociation. */
  def keys(v: ArrayData, dim: Int, bits: Int, tables: Int): GenericArrayData = {
    if (v.numElements() < dim)
      throw new IllegalArgumentException(
        s"det_hyperplane_keys: vector shorter than dim=$dim")
    val out = new Array[Long](tables)
    var anyNull = false
    var d = 0
    while (d < dim && !anyNull) { anyNull = v.isNullAt(d); d += 1 }
    if (!anyNull) {
      var t = 0
      while (t < tables) {
        var key = 0L
        var b = 0
        while (b < bits) {
          val base = (t.toLong * bits + b) * dim
          var acc = 0.0
          var i = 0
          while (i < dim) {
            val x = (base + i) * 2654435761L
            val m = ((x % 2001L) + 2001L) % 2001L
            acc += v.getFloat(i).toDouble * ((m - 1000L).toDouble / 1000.0)
            i += 1
          }
          if (acc >= 0.0) key += (1L << b)
          b += 1
        }
        out(t) = key
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  def apply(v: Column, dim: Int, bits: Int, tables: Int): Column =
    ColumnBridge.column(
      new DetHyperplaneKeysExpr(ColumnBridge.expression(v), dim, bits, tables))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Argmin over a centroid MATRIX for the Lloyd assignment
  * ([[graft.operators.Clustering.kmeansAssign]]).
  *
  * Why this exists: an argmin composed of builtins folds the centroids
  * into the plan as k·dim `Literal` nodes inside k `zip_with`/`aggregate`
  * subtrees. At the SemDeDup-style k (10k+ cells) that is ~10⁶ AST
  * nodes — analysis and codegen blow up long before any data moves.
  * Here the matrix rides OUTSIDE the tree as one reference object
  * (`ctx.addReferenceObj`, the same mechanism broadcast scalars use),
  * so plan size is O(1) in k and the assignment stays a single narrow
  * whole-stage-codegen projection — no join, no shuffle, exactly the
  * shape MLlib's Lloyd iteration has with its broadcast centroids.
  *
  * Semantics: exact integer squared-L2 over the quantized vector, ties
  * to the smaller cluster index (strict `<` keeps the first minimum) —
  * what the q_kmeans / q_kmeans_large oracle SQL computes, and what
  * CurationOpsSpec's plain-Scala Lloyd reference checks. Null vector
  * elements are outside the contract (quantization makes the input
  * non-null by construction); a vector whose length differs from the
  * centroid dim in EITHER direction throws rather than being silently
  * truncated or padded.
  *
  * The matrix is held as `Seq[Seq[Long]]` so the case-class equals/
  * hashCode are structural: two expressions built from equal matrices
  * are `semanticEquals`, letting canonicalization / common-subexpression
  * elimination dedupe repeated references (an `Array` field compares by
  * identity and would defeat CSE). The primitive `long[][]` the loop
  * runs on is derived once per expression instance.
  */
case class KMeansArgminExpr(child: Expression, cents: Seq[Seq[Long]])
    extends UnaryExpression with ExpectsInputTypes {

  // guarded in the case-class body (not only the Column-level apply)
  // so EVERY construction path — including a direct instantiation —
  // fails with a named error instead of a raw per-row
  // IndexOutOfBoundsException from best() reading cents(0)
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "kmeans_argmin: centroid matrix must be non-empty and rectangular")

  // the eval-time form: one contiguous primitive matrix, built once per
  // expression instance (and once per codegen'd plan as a referenced
  // object), never per row
  @transient private lazy val centsArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray

  override def dataType: DataType = StructType(Seq(
    StructField("dist2", LongType, nullable = false),
    StructField("cluster", IntegerType, nullable = false)))
  override def prettyName: String = "kmeans_argmin"
  // quantized fixed-point vectors are array<long>; anything else is
  // upstream drift and must fail at analysis (same contract as the
  // float folds in DetFolds)
  override def inputTypes = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    KMeansArgminExpr.best(input.asInstanceOf[ArrayData], centsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansCents", centsArr, "long[][]")
    val obj = KMeansArgminExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.best($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): KMeansArgminExpr =
    copy(child = newChild)
}

object KMeansArgminExpr {

  /** Shared by interpreted eval and generated code: one tight
    * (k × dim) integer loop per row, after a single per-row dim check. */
  def best(v: ArrayData, cents: Array[Array[Long]]): InternalRow = {
    val k = cents.length
    val dim = cents(0).length
    // checked once per row, outside the k loop: shorter AND longer
    // vectors both throw (truncating a long vector would silently
    // assign it by a prefix of its coordinates)
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"kmeans_argmin: vector length ${v.numElements()} != centroid dim $dim")
    var bestD = Long.MaxValue
    var bestJ = 0
    var j = 0
    while (j < k) {
      val c = cents(j)
      var d = 0L
      var i = 0
      while (i < dim) {
        val t = v.getLong(i) - c(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; bestJ = j }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestD, bestJ))
  }

  def apply(v: Column, cents: Array[Array[Long]]): Column = {
    require(cents.nonEmpty && cents.forall(_.length == cents(0).length),
      "kmeans_argmin: centroid matrix must be non-empty and rectangular")
    ColumnBridge.column(
      new KMeansArgminExpr(ColumnBridge.expression(v),
        cents.map(_.toSeq).toSeq))
  }
}

package graft

import graft.functions.{CosineSim, DotProduct, NfcNormalize, RollingFp}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook exposing the engine's custom Catalyst
  * expressions to SQL (`spark.sql("SELECT cosine_sim(a, b) ...")`),
  * so the library surface is reachable from pure-SQL clients too.
  * Registered by [[GraftSession]] via `withExtensions`.
  *
  * It also injects one physical rule, [[SmallSortInPlace]], through
  * `injectQueryStagePrepRule`: a global sort whose input ends up in one
  * partition anyway runs over `CoalesceExec(1)` instead of a range
  * exchange. Spark applies query-stage preparation rules only inside
  * adaptive execution, so with `spark.sql.adaptive.enabled=false` the
  * plans are stock.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalize(args(0))))
    ext.injectFunction((
      new FunctionIdentifier("rolling_fp"),
      new ExpressionInfo(classOf[RollingFp].getName, "rolling_fp"),
      (args: Seq[Expression]) => RollingFp(args(0))))
    ext.injectQueryStagePrepRule(SmallSortInPlace(_))
  }
}

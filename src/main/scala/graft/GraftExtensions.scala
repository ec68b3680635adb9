package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{LongDot, NfcNormalize}

/** Canonical plugin wiring for the graft-native Catalyst expressions in
  * SQL TEXT: set `spark.sql.extensions=graft.GraftExtensions` and
  * `graft_long_dot` / `graft_nfc` resolve by name in ANY session of the
  * application — SQL strings, views, thrift-server clients — without
  * per-session `register` calls. (The `LongDot.register` /
  * `NfcNormalize.register` helpers do the same for one ad-hoc session.)
  * The DataFrame API needs neither: `Similarity.dotLong` builds its
  * expression directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.requireArity

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_long_dot"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_long_dot"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_long_dot", 2, exprs)
        LongDot(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_nfc", 1, exprs)
        NfcNormalize(exprs.head)
      }))
  }
}

object GraftExtensions {
  /** Arity gate for the injected builders: a miscalled `graft_long_dot(x)`
    * must surface as the standard WRONG_NUM_ARGS AnalysisException naming
    * the function, not an IndexOutOfBoundsException from destructuring.
    */
  private[graft] def requireArity(name: String, expected: Int,
                                  exprs: Seq[Expression]): Unit =
    if (exprs.length != expected) {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
}

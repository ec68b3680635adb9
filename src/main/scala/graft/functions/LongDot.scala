package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: exact integer dot product of two
  * `ARRAY<BIGINT>` columns. The hot kernel of every pairwise-similarity
  * operator — a higher-order `aggregate(zip_with(...))` formulation is
  * interpreted per element (measured >100x slower at 250k pairs x 64 dims);
  * this compiles to a tight primitive loop inside whole-stage codegen.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_long_dot expects two ARRAY<BIGINT> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $acc += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

object LongDot {
  /** Idempotent per-session registration, so SQL text (and
    * `call_function`) can resolve `graft_long_dot` by name. The DataFrame
    * API needs none: `Similarity.dotLong` builds the expression directly.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_long_dot", exprs => LongDot(exprs(0), exprs(1)), "built-in")
}

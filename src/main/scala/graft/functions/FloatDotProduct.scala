package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two `array<float>` columns, with
  * `doGenCode`: the generated code is a tight primitive loop inside
  * whole-stage codegen — no boxing, no lambda dispatch, no BigDecimal.
  *
  * This is the hot-path kernel for ANN search and embedding near-dup
  * (SURVEY.md §2 #28-30): the interpreted `zip_with`+`aggregate`
  * formulation (higher-order functions don't codegen) measured ~10x
  * slower at sf0.1. IEEE double accumulation in element order — fast
  * path only; the emitted, engine-reproducible values come from the
  * exact [[DotExact]] kernel (per-product DECIMAL(28,12) rounding, exact
  * sum).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

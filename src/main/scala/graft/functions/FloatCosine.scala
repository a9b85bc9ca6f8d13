package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two `array<float>` columns:
  * ONE pass accumulates dot, |a|^2 and |b|^2 together (vs three separate
  * array traversals when composed from dot products). Returns NULL for a
  * zero-norm side. Fast path only — engine-reproducible emitted values
  * come from the exact [[DotExact]] kernel (`cosineExact`). */
case class FloatCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_cosine requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $x.getFloat($i);
         |  double $yv = (double) $y.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosine =
    copy(left = newLeft, right = newRight)
}

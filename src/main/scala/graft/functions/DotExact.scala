package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, BinaryExpression, Cast, EvalMode,
  Expression, Literal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Native exact dot product over two `array<float>` / `array<double>`
  * columns: the codegen'd form of the decimal fold
  * {{{
  *   CAST(aggregate(
  *     zip_with(a, b, (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))),
  *     CAST(0 AS DECIMAL(28,12)),
  *     (acc, p) -> CAST(acc + p AS DECIMAL(28,12))) AS DOUBLE)
  * }}}
  * with one difference: each product rounds as DuckDB rounds it, not by
  * Spark's cast. Nulls and ANSI overflow errors are the fold's (pinned in
  * DotExactSpec against that fold). Higher-order functions run
  * interpreted and built 64 `Decimal` objects per 64-dim pair; this runs
  * one primitive loop inside whole-stage codegen.
  *
  * Per element the product `p` is rounded to 12 decimals as an unscaled
  * `long` the way DuckDB's `CAST(p AS DECIMAL(28,12))` rounds it (see
  * [[DotExact.scaled]]; the oracle computes every exact vector result),
  * and summed exactly in a `long`; the sum converts to DOUBLE once, as
  * the fold's final cast does. Whatever the fast path cannot decide — a
  * null array element, unequal lengths (`zip_with` pads with nulls), NaN
  * or infinity, `|p * 10^12| >= 2^62`, a `long` overflow — sends the
  * whole pair to [[replay]], which evaluates Spark's own `Cast`/`Add` in
  * the fold's order with the same per-product rounding.
  *
  * `evalMode` is captured when the expression is built, as `Cast` does,
  * so the replay raises (ANSI) or nulls (legacy) exactly where the fold
  * built under the same session conf would. */
case class DotExact(left: Expression, right: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_exact requires two array<float> or array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_exact"

  @transient private lazy val leftFloat = DotExact.isFloat(left)
  @transient private lazy val rightFloat = DotExact.isFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return replay(x, y)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return replay(x, y)
      val v = DotExact.scaled(
        DotExact.element(x, i, leftFloat) * DotExact.element(y, i, rightFloat))
      val s = acc + v
      if (v == Long.MinValue || ((acc ^ s) & (v ^ s)) < 0L) return replay(x, y)
      acc = s
      i += 1
    }
    DotExact.toDouble(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dotExact", this)
    def get(arr: String, i: String, isFloat: Boolean): String =
      if (isFloat) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val v = ctx.freshName("v")
      val s = ctx.freshName("s"); val slow = ctx.freshName("slow")
      val r = ctx.freshName("r")
      s"""
         |int $n = $x.numElements();
         |boolean $slow = $n != $y.numElements();
         |long $acc = 0L;
         |for (int $i = 0; !$slow && $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { $slow = true; break; }
         |  long $v = graft.functions.DotExact.scaled(
         |    ${get(x, i, leftFloat)} * ${get(y, i, rightFloat)});
         |  long $s = $acc + $v;
         |  if ($v == java.lang.Long.MIN_VALUE || (($acc ^ $s) & ($v ^ $s)) < 0L) {
         |    $slow = true; break;
         |  }
         |  $acc = $s;
         |}
         |if ($slow) {
         |  Object $r = $self.replay($x, $y);
         |  ${ev.isNull} = $r == null;
         |  if ($r != null) ${ev.value} = ((java.lang.Double) $r).doubleValue();
         |} else {
         |  ${ev.value} = graft.functions.DotExact.toDouble($acc);
         |}
       """.stripMargin
    })
  }

  /** The whole-pair slow path: Spark's own `Cast`/`Add` evaluated on
    * literals in the fold's order — every product cast first (`zip_with`
    * pads the shorter side with nulls), then the additions — so nulls and
    * `NUMERIC_VALUE_OUT_OF_RANGE` errors match the fold by construction.
    * A product the cast accepts takes DuckDB's rounding
    * ([[DotExact.rounded]]) in place of the cast's. Returns null or a
    * boxed Double. */
  def replay(x: ArrayData, y: ArrayData): Any = {
    def present(arr: ArrayData, i: Int) = i < arr.numElements() && !arr.isNullAt(i)
    val products = (0 until math.max(x.numElements(), y.numElements())).map { i =>
      if (present(x, i) && present(y, i)) {
        val p = DotExact.element(x, i, leftFloat) * DotExact.element(y, i, rightFloat)
        val cast = Cast(Literal(p), DotExact.Acc, None, evalMode).eval()
        if (cast == null) null else Decimal(DotExact.rounded(p), 28, 12)
      } else null
    }
    val zero = Cast(Literal(JBigDecimal.ZERO), DotExact.Acc, None, evalMode).eval()
    val sum = products.foldLeft(zero) { (acc, p) =>
      Cast(Add(Literal.create(acc, DotExact.Acc), Literal.create(p, DotExact.Acc),
        NumericEvalContext(evalMode)), DotExact.Acc, None, evalMode).eval()
    }
    Cast(Literal.create(sum, DotExact.Acc), DoubleType, None, evalMode).eval()
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExact =
    copy(left = newLeft, right = newRight)
}

object DotExact {

  /** The fold's per-product and accumulator type. */
  private val Acc: DecimalType = DecimalType(28, 12)

  /** `|p * 10^12|` bound of the fast path: the rounded value fits a `long`
    * with room to spare. */
  private final val FastLimit = 4.611686018427388e18 // 2^62

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def element(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** `p * 10^12` rounded as DuckDB's `CAST(p AS DECIMAL(28,12))` rounds
    * it: scaled in double, nudged by 1e-9 away from zero, then rounded
    * half-to-even (`rint`). The nudge makes an exact .5 round away from
    * zero (0.5e-12 -> 1e-12, 2.5e-12 -> 3e-12); once `|p * 10^12|`
    * passes 2^24 the nudge is below half an ulp and a tie goes to even
    * (0.0699387749725 -> 0.069938774972). Spark's cast instead rounds the shortest decimal of
    * `p` half-up (0.069938774973), which left results one unit off the
    * oracle in the 12th decimal. */
  private def rint12(p: Double): Double = {
    val v = p * 1e12
    math.rint(v + math.signum(v) * 1e-9)
  }

  /** The product `p` rounded to 12 decimals ([[rint12]]) as an unscaled
    * `long` (the value times 10^12), or `Long.MinValue` when the fast path
    * cannot hold it (NaN, infinity, `|p * 10^12| >= 2^62`). Called from
    * generated code. */
  def scaled(p: Double): Long = {
    val r = rint12(p)
    if (math.abs(r) < FastLimit) r.toLong else Long.MinValue
  }

  /** [[scaled]] at any finite magnitude, as a decimal of scale 12. */
  def rounded(p: Double): JBigDecimal = new JBigDecimal(rint12(p)).movePointLeft(12)

  /** The exact sum (unscaled at 12 decimals) as DOUBLE: Spark's
    * `Decimal.toDouble` is `BigDecimal.doubleValue`. Called from generated
    * code. */
  def toDouble(acc: Long): Double = JBigDecimal.valueOf(acc, 12).doubleValue
}

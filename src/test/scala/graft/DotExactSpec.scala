package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{dotExact, DotExact}

/** The [[DotExact]] kernel against the interpreted decimal fold it
  * replaced: equal bit for bit on random and adversarial vectors once each
  * product is rounded as DuckDB's cast rounds it, and equal to the plain
  * fold (Spark's cast) in its nulls and ANSI overflow errors. */
class DotExactSpec extends AnyFunSuite {
  import DotExactSpec.duckCast
  lazy val spark: SparkSession = GraftSession.local(4, "graft-dotexact-test")
  import spark.implicits._

  /** The interpreted higher-order fold with `product` as the per-element
    * step. It accumulates at (28,12): the add is exact at (29,12) and the
    * cast back only trims integer headroom. */
  def fold(product: Column => Column)(a: Column, b: Column): Column = {
    val products = zip_with(a, b, (x, y) =>
      product(x.cast(DoubleType) * y.cast(DoubleType)).cast(DecimalType(28, 12)))
    aggregate(
      products,
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 12)),
      (acc, x) => (acc + x).cast(DecimalType(28, 12))
    ).cast(DoubleType)
  }

  /** The fold as `dotExact` was first defined: Spark's cast per product.
    * The reference for nulls and errors. */
  def dotExactFold(a: Column, b: Column): Column = fold(identity)(a, b)

  /** The fold with DuckDB's rounding per product: the reference for values. */
  def dotExactDuck(a: Column, b: Column): Column =
    fold(udf((p: Double) => duckCast(p)).apply(_))(a, b)

  /** (id, a, b) rows over an RDD scan, so the projection runs in
    * whole-stage codegen rather than being folded into a local relation. */
  def pairs(ta: DataType, tb: DataType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(ta, containsNull = true)),
      StructField("b", ArrayType(tb, containsNull = true)))))

  /** Every row: kernel <=> reference, and the same double string (so -0.0
    * vs 0.0 or a 1-ulp difference would show). Returns the kernel's values. */
  def assertBitEqual(df: DataFrame,
      ref: (Column, Column) => Column = dotExactDuck): Map[Long, Option[Double]] = {
    val out = df.select(col("id"),
      ref(col("a"), col("b")).as("ref"),
      dotExact(col("a"), col("b")).as("got"))
      .select(col("id"), col("ref"), col("got"), (col("ref") <=> col("got")).as("same"))
      .collect()
    def str(r: Row, i: Int) = if (r.isNullAt(i)) "null" else r.getDouble(i).toString
    val bad = out.filter(r => !r.getBoolean(3) || str(r, 1) != str(r, 2))
    if (bad.nonEmpty) fail(s"${bad.length} of ${out.length} rows differ, e.g. " +
      bad.take(5).map(r => s"id ${r.getLong(0)}: ${str(r, 1)} vs ${str(r, 2)}").mkString("; "))
    out.map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
  }

  /** Products whose shortest decimal ends on a 13th-decimal 5, where
    * DuckDB's and Spark's casts part ways (0.0699387749725: DuckDB
    * 0.069938774972, Spark 0.069938774973). */
  def halfway(rnd: Random): Double = {
    val k = if (rnd.nextBoolean()) rnd.nextInt(2000000) - 1000000L
      else (rnd.nextDouble() * 1.6e13).toLong - 8000000000000L
    (k + 0.5) / 1e12
  }

  val specialsD: Array[Double] = Array(0.0, -0.0, Double.MinPositiveValue,
    -Double.MinPositiveValue, 1e-310, -2.2250738585072014e-308, 1e-300, 1e6)
  val specialsF: Array[Float] = Array(0.0f, -0.0f, Float.MinPositiveValue,
    -Float.MinPositiveValue, 1e-40f, 1.17549435e-38f, 1e6f)

  /** One double element: embedding-scale gaussians, magnitudes 1e-300..1e6,
    * specials, halfway products (paired with 1.0 on the other side). */
  def elemD(rnd: Random): Double = rnd.nextInt(5) match {
    case 0 => rnd.nextGaussian() * 0.2
    case 1 => (if (rnd.nextBoolean()) 1 else -1) * rnd.nextDouble() *
      math.pow(10, -300 + rnd.nextInt(307))
    case 2 => specialsD(rnd.nextInt(specialsD.length))
    case 3 => halfway(rnd)
    case _ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)
  }

  /** One float element: gaussians, magnitudes down to the subnormals,
    * specials, and dyadic values m/2^k whose products are exact decimals
    * with up to 20 digits — many land exactly on a 13th-decimal half. */
  def elemF(rnd: Random): Float = rnd.nextInt(5) match {
    case 0 => (rnd.nextGaussian() * 0.2).toFloat
    case 1 => ((if (rnd.nextBoolean()) 1 else -1) * rnd.nextDouble() *
      math.pow(10, -45 + rnd.nextInt(52))).toFloat
    case 2 => specialsF(rnd.nextInt(specialsF.length))
    case 3 => (2 * rnd.nextInt(1024) - 1023).toFloat / (1 << rnd.nextInt(11))
    case _ => (rnd.nextGaussian() * math.pow(10, rnd.nextInt(5) - 2)).toFloat
  }

  def randomRows[T](n: Int, seed: Long, elem: Random => T, one: T): Seq[Row] = {
    val rnd = new Random(seed)
    (0 until n).map { id =>
      val d = rnd.nextInt(80)
      val a = Seq.fill(d)(elem(rnd))
      // a third of the pairs put 1.0 opposite: the product is the element
      val b = if (rnd.nextInt(3) == 0) Seq.fill(d)(one) else Seq.fill(d)(elem(rnd))
      Row(id.toLong, a, b)
    }
  }

  test("dotExact is bit-equal to the decimal fold on random float vectors") {
    assertBitEqual(pairs(FloatType, FloatType, randomRows(20000, 11L, elemF, 1.0f)))
  }

  test("dotExact is bit-equal to the decimal fold on random double vectors") {
    val rows = randomRows(20000, 12L, elemD, 1.0) ++ Seq(
      Row(20000L, Seq(1.0), Seq(0.0699387749725)),
      Row(20001L, Seq(1.0, 1.0), Seq(0.0699387749725, -0.0699387749725)),
      Row(20002L, Seq(-0.0), Seq(0.0)),
      Row(20003L, Seq(1e-300, 1e6), Seq(1e-300, 1e6)))
    val got = assertBitEqual(pairs(DoubleType, DoubleType, rows))
    // DuckDB's rounding, not HALF_UP on the shortest decimal
    assert(got(20000L).contains(0.069938774972))
    assert(got(20001L).contains(0.0))
    assert(got(20002L).contains(0.0) && got(20002L).get.toString == "0.0")
    assert(got(20003L).contains(1e12))
    // mixed element types, as pcaProject's double diff against a literal
    val rnd = new Random(13L)
    val mixed = (0 until 2000).map { id =>
      val d = rnd.nextInt(70)
      Row(id.toLong, Seq.fill(d)(elemF(rnd)), Seq.fill(d)(elemD(rnd)))
    }
    assertBitEqual(pairs(FloatType, DoubleType, mixed))
  }

  test("the per-element rounding equals DuckDB's CAST(p AS DECIMAL(28,12))") {
    // values measured in DuckDB 1.0.0
    val pinned = Seq(0.5e-12 -> "1E-12", 2.5e-12 -> "3E-12", -2.5e-12 -> "-3E-12",
      0.0699387749725 -> "0.069938774972", -0.0699387749725 -> "-0.069938774972")
    for ((p, want) <- pinned) {
      assert(DotExact.rounded(p).compareTo(new java.math.BigDecimal(want)) == 0, p)
      assert(DotExact.scaled(p) == new java.math.BigDecimal(want).movePointRight(12)
        .longValueExact, p)
    }
    val rnd = new Random(14L)
    val ps = Seq(0.0001220703125, 8.7, -8.79, 1e7, -4.6e6, 1e14) ++
      Seq.fill(200000)(rnd.nextInt(4) match {
        case 0 => halfway(rnd)
        case 1 => rnd.nextGaussian() * math.pow(10, rnd.nextInt(22) - 14)
        case 2 => elemF(rnd).toDouble * elemF(rnd).toDouble
        case _ => rnd.nextDouble() * 17.6 - 8.8
      })
    val bad = ps.filter { p =>
      val want = duckCast(p)
      val unscaled = want.movePointRight(12)
      val v = DotExact.scaled(p)
      DotExact.rounded(p).compareTo(want) != 0 ||
        (if (unscaled.abs.compareTo(new java.math.BigDecimal(1L << 62)) < 0)
          v != unscaled.longValueExact
        else v != Long.MinValue) // past 2^62: the whole pair replays
    }
    if (bad.nonEmpty) fail(s"${bad.length} products differ, e.g. ${bad.take(5).mkString(", ")}")
    assert(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .forall(DotExact.scaled(_) == Long.MinValue))
  }

  test("nulls, unequal lengths and the long-overflow replay match the fold") {
    val rows = Seq(
      Row(1L, null, Seq(1.0)),
      Row(2L, Seq(1.0), null),
      Row(3L, Seq(1.0, null), Seq(1.0, 2.0)),
      Row(4L, Seq(1.0, 2.0), Seq(1.0)), // zip_with pads with null
      Row(5L, Seq(), Seq()),
      Row(6L, Seq(Double.NaN), Seq(1.0)),
      Row(7L, Seq(Double.PositiveInfinity, 1.0), Seq(0.0, 1.0)),
      Row(8L, Seq(1e7, 0.5), Seq(1e7, 0.5))) // |p| past the fast path
    val got = assertBitEqual(pairs(DoubleType, DoubleType, rows), dotExactFold)
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_).isEmpty))
    assert(got(5L).contains(0.0))
    assert(got(8L).contains(1e14 + 0.25))
    // 2.9 * 2.9 rounds to 8.41: the unscaled long sum overflows near
    // 1.097M elements and the replay finishes the exact sum
    val big = spark.range(9, 11).select(col("id"),
      array_repeat(lit(2.9), 1100000).as("a"),
      array_repeat(when(col("id") === 9, 2.9).otherwise(-2.9), 1100000).as("b"))
    val sums = assertBitEqual(big, dotExactFold)
    assert(sums(9L).contains(9251000.0) && sums(10L).contains(-9251000.0))
  }

  test("ANSI overflow raises the fold's error; legacy mode gives null") {
    def condition(f: => Any): (String, java.util.Map[String, String]) = {
      val e = intercept[Exception](f)
      val st = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t }
      assert(st.isDefined, e)
      (st.get.getCondition, st.get.getMessageParameters)
    }
    val rows = Seq(
      Row(1L, Seq(1e9, 1e9), Seq(1e9, 1e9)), // a product cast overflows
      Row(2L, Seq(8e7, 8e7), Seq(8e7, 8e7))) // the fold's cast overflows
    val errors = rows.map { r =>
      val df = pairs(DoubleType, DoubleType, Seq(r))
      val ref = condition(df.select(dotExactFold(col("a"), col("b"))).collect())
      val got = condition(df.select(dotExact(col("a"), col("b"))).collect())
      assert(ref._1.startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), ref)
      assert(got._1 == ref._1)
      (got._2.asScala.toMap, ref._2.asScala.toMap)
    }
    // the product cast's error is the fold's own
    assert(errors(0)._1 == errors(0)._2)
    // the sum's error reports the sum of the products as DuckDB rounds them
    val duckSum = duckCast(6.4e15).add(duckCast(6.4e15)).toPlainString
    assert(errors(1)._1 == errors(1)._2 + ("value" -> duckSum))
    assert(duckSum != errors(1)._2("value"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assertBitEqual(pairs(DoubleType, DoubleType, rows), dotExactFold).values
      .foreach(v => assert(v.isEmpty))
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("dot_exact stays inside whole-stage codegen") {
    val df = spark.range(1)
      .select(
        array(($"id" + 1).cast("float"), lit(0.0f)).as("a"),
        array(lit(0.5f), lit(0.5f)).as("b"))
      .select(dotExact(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [dot_exact"), plan)
    assert(df.head().getDouble(0) == 0.5)
  }

  test("interpreted eval path (nullSafeEval) agrees with codegen") {
    val rows = randomRows(500, 15L, elemF, 1.0f) ++ Seq(
      Row(500L, Seq(1.0f, null), Seq(1.0f, 2.0f)),
      Row(501L, Seq(1.0f, 2.0f), Seq(1.0f)))
    val codegen = assertBitEqual(pairs(FloatType, FloatType, rows))
    def lit(v: Any) = Literal.create(
      new GenericArrayData(v.asInstanceOf[Seq[Any]].toArray),
      ArrayType(FloatType, containsNull = true))
    for (r <- rows) {
      val v = DotExact(lit(r.get(1)), lit(r.get(2))).eval(null)
      assert(Option(v).map(_.toString) == codegen(r.getLong(0)).map(_.toString), r)
    }
  }
}

object DotExactSpec {
  /** DuckDB 1.0's `CAST(p AS DECIMAL(28,12))` of a finite double: scale by
    * 10^12 in double, add 1e-9 times the sign, round half-to-even; the
    * result is that integer over 10^12. */
  def duckCast(p: Double): java.math.BigDecimal = {
    val v = p * 1e12
    val sign = if (v > 0) 1.0 else if (v < 0) -1.0 else 0.0
    new java.math.BigDecimal(Math.rint(v + 1e-9 * sign)).scaleByPowerOfTen(-12)
  }
}

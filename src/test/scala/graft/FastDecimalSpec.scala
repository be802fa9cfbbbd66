package graft

import org.apache.spark.sql.functions._
import org.apache.spark.SparkException

import graft.engine.Tables
import graft.functions.ExprHelpers

/** Pins the dec2/dec4 (FastDecimal) value contract the exact-sum
  * determinism idiom rests on (ADVICE r17 medium + low; VERDICT r17
  * next-round #3). The r17 precision drop 18 → 8 narrowed the
  * representable per-row range to 10^(8-scale); these tests make the
  * boundary semantics LOUD: in-range values are cast-identical,
  * out-of-range values throw (never silently null — a nulled row would
  * vanish from sums), and the Math.round saturation corner cannot emit
  * garbage. The per-caller bound audit lives at Tables.dec2's scaladoc;
  * the oracle hash-checks every caller's output at every verified SF.
  */
class FastDecimalSpec extends SparkTestBase {

  private def viaDf2(d: java.lang.Double): Option[java.math.BigDecimal] = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(d)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    Option(df.select(Tables.dec2(col("v")).as("d")).head.getDecimal(0))
  }

  test("in-range dec2/dec4 equals the wide cast bit-for-bit") {
    // spans: TPC-H money/quantity magnitudes, negatives, many-decimal
    // doubles (fallback path), exact .5 rounding, the capacity edges
    val vals = Seq(0.0, 1.0, -1.0, 50.0, 949.5, 104049.5, 0.0001, 0.05,
      -0.08, 1.0 / 3.0, 123456.78, 999999.99, -999999.99, 2.675)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      vals.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    val got = df.select(col("v"), Tables.dec2(col("v")).as("f2"),
        col("v").cast("decimal(18,2)").cast("decimal(8,2)").as("c2"))
      .collect()
    got.foreach { r =>
      assert(r.getDecimal(1) == r.getDecimal(2),
        s"dec2(${r.getDouble(0)}): fast ${r.getDecimal(1)} != cast ${r.getDecimal(2)}")
    }
    val got4 = df.filter(abs(col("v")) < 1e4)
      .select(col("v"), Tables.dec4(col("v")).as("f4"),
        col("v").cast("decimal(18,4)").cast("decimal(8,4)").as("c4"))
      .collect()
    got4.foreach { r =>
      assert(r.getDecimal(1) == r.getDecimal(2),
        s"dec4(${r.getDouble(0)}): fast ${r.getDecimal(1)} != cast ${r.getDecimal(2)}")
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  test("NaN and infinity THROW like overflow, null input stays null") {
    // the cast would null them, and a nulled row vanishes from an exact
    // sum just as an overflowed one would (ADVICE r18 low): the
    // direct-eval path and the codegen'd DataFrame path both fail loudly
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { d =>
      intercept[ArithmeticException] { ExprHelpers.fastDec(d, 8, 2) }
      val e = intercept[Exception] { viaDf2(d) }
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
        s"$d: expected ArithmeticException in cause chain, got $e")
    }
    assert(viaDf2(null).isEmpty)
  }

  test("per-row overflow THROWS instead of silently nulling the row") {
    // 10^6 is dec2's bound; the old cast form kept these (18,2) and the
    // r17 fast path nulled them — either way a sum would silently lose
    // the row. The direct-eval path and the full codegen'd DataFrame
    // path must both fail loudly.
    intercept[ArithmeticException] { ExprHelpers.fastDec(1.0e6, 8, 2) }
    intercept[ArithmeticException] { ExprHelpers.fastDec(-1.23e7, 8, 2) }
    intercept[ArithmeticException] { ExprHelpers.fastDec(1.0e4, 8, 4) }
    val e = intercept[Exception] { viaDf2(1.0e6) }
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $e")
    // just-inside values survive the same code path
    assert(viaDf2(999999.99).get == new java.math.BigDecimal("999999.99"))
    assert(ExprHelpers.fastDec(9999.9999, 8, 4).toString == "9999.9999")
  }

  test("Math.round saturation cannot emit a garbage decimal (ADVICE r17 low)") {
    // d within half an ulp of Long.MinValue/100: Math.round(d*100)
    // saturates to Long.MinValue, c/mult == d holds, and Math.abs(c)
    // is NEGATIVE — the old single-sided bound accepted the saturated
    // value as a decimal(8,2). Must throw (out of range), never return.
    val d = java.lang.Long.MIN_VALUE / 100.0 // -9.223372036854776E16
    assert(Math.round(d * 100.0) == java.lang.Long.MIN_VALUE &&
      java.lang.Long.MIN_VALUE / 100.0 == d, "fixture lost its saturation shape")
    intercept[ArithmeticException] { ExprHelpers.fastDec(d, 8, 2) }
  }

  test("grouped dsum2 over a query-shaped aggregate matches the wide-decimal sum") {
    // the caller shape: grouped exact sums (the DecimalAggregates
    // long-unscaled rewrite) vs the pre-r17 wide accumulator
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val fast = li.groupBy(col("l_returnflag"))
      .agg(Tables.dsum2(col("l_extendedprice")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wide = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fast == wide)
  }
}

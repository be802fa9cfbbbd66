package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-facing static helpers (kept tiny so generated code stays a
  * single static call — whole-stage codegen is preserved). */
object ExprHelpers {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def pct(s: UTF8String): java.lang.Double =
    if (s == null) null else LocaleParse.parsePct(s.toString)

  /** null, or struct(amount double, ccy string-or-null). */
  def money(s: UTF8String): InternalRow = {
    val r = LocaleParse.parseMoney(if (s == null) null else s.toString)
    if (r == null || r._1 == null) null
    else new GenericInternalRow(Array[Any](
      r._1.doubleValue(),
      if (r._2 == null) null else UTF8String.fromString(r._2)))
  }

  def dateIt(s: UTF8String): java.lang.Integer =
    if (s == null) null else LocaleParse.parseDateIt(s.toString)

  /** Unicode NFC canonicalization (java.text.Normalizer — composes
    * combining sequences, e.g. e + U+0301 → é). */
  def nfc(s: UTF8String): UTF8String =
    if (s == null) null
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  private val pow10: Array[Double] =
    (0 to 17).map(i => math.pow(10, i)).toArray

  /** Exact double → Decimal(prec, scale), value-identical to
    * Cast(d as decimal(prec, scale)) but without the per-row
    * Double.toString/BigDecimal.valueOf allocation on the (dominant)
    * fast path. Fast path: c = round(d·10^scale); accepted iff
    * c/10^scale == d exactly — then c·10^-scale and the shortest-repr
    * decimal BigDecimal.valueOf(d) both live in d's half-ulp rounding
    * interval, whose width (≲1e-13·|d|) is far below 10^-scale, so
    * setScale(scale, HALF_UP) of the shortest repr lands on exactly c:
    * the compact Decimal(c) IS the cast's result. Values with more
    * decimals take the cast's own BigDecimal path.
    *
    * OVERFLOW THROWS (r18, ADVICE r17 medium): the non-ANSI cast
    * returns null past 10^(prec−scale), and every caller sits under
    * the exact-deterministic-SUM contract (Tables.dec2/dec4) — a
    * silently nulled row would VANISH from sums with no error, the
    * worst possible failure at a scale where no oracle runs. All
    * current callers are bounded far below the limit (capacity table
    * at Tables.dec2); a future unbounded caller now fails loudly
    * instead of corrupting sums. Bound check is two-sided (not
    * Math.abs) because Math.round saturates at Long.MinValue, whose
    * abs is negative — the saturated c could otherwise slip through
    * as garbage (ADVICE r17 low).
    *
    * NaN and ±Inf throw too (ADVICE r18 low): the cast nulls them, and
    * every caller reads a stored column, never a computed ratio. Null
    * input stays null (the expression is null-safe). */
  def fastDec(d: Double, prec: Int, scale: Int): org.apache.spark.sql.types.Decimal = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      throw new ArithmeticException(
        s"fast_dec: $d has no decimal($prec,$scale) value — callers sum " +
          "these exactly, so a nulled row would silently vanish from the sum")
    val mult = pow10(scale)
    val c = Math.round(d * mult)
    val lim = pow10(prec).toLong
    if (c / mult == d && c > -lim && c < lim)
      org.apache.spark.sql.types.Decimal.createUnsafe(c, prec, scale)
    else {
      val bd = org.apache.spark.sql.types.Decimal(scala.math.BigDecimal.decimal(d))
      if (bd.changePrecision(prec, scale)) bd
      else throw new ArithmeticException(
        s"fast_dec: $d does not fit decimal($prec,$scale) — callers sum " +
          s"these exactly, so a null-on-overflow row would silently vanish " +
          s"from the sum; widen the decimal or bound the column " +
          s"(|value| < 1e${prec - scale})")
    }
  }

  /** Point query against a serialized CountMinSketch (the binary that
    * Spark's `count_min_sketch` aggregate emits). The string item is
    * probed as its UTF-8 bytes — the same representation
    * CountMinSketchAgg feeds to addBinary, so estimates line up with
    * what was counted. Deserialization per call is fine where this is
    * used (a handful of heavy-hitter probes against one broadcast
    * sketch); a corpus-wide probe would hoist the parse. */
  def cmsEstimate(sketch: Array[Byte], item: UTF8String): Long =
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketch))
      .estimateCount(item.getBytes)
}

/** dot_d(a, b): Σ double(a_i)·double(b_i) over two float vectors.
  * Left-to-right accumulation in double — the DuckDB oracle mirrors the
  * exact operand order (list_transform cast-to-double then 'sum'), so
  * results are bit-identical. Codegen'd: the hot loop in similarity /
  * near-dup queries stays inside whole-stage codegen. */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.dot($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** fast_dec(d, prec, scale): exact double → decimal cast without the
  * per-row BigDecimal.valueOf allocation (semantics and proof at
  * ExprHelpers.fastDec). Used by Tables.dec2/dec4 — the engine's
  * exact-decimal-sum determinism idiom — whose Cast form measured
  * ~310 ns/row (1.14 s of the 1.51 s q_agg_group wall at sf0.1, guide
  * §4). Precision ≤ 8 deliberately: Spark's own DecimalAggregates
  * rule then rewrites sum(decimal(≤8,s)) into a pure-long unscaled
  * sum with 10 digits of headroom — the whole hot path stays in
  * codegen'd long arithmetic. */
case class FastDecimal(child: Expression, precision: Int, scale: Int)
    extends UnaryExpression {
  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_dec expects DOUBLE, got ${child.dataType.simpleString}")
  }
  override def nullSafeEval(d: Any): Any =
    ExprHelpers.fastDec(d.asInstanceOf[Double], precision, scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.fastDec($c, $precision, $scale);")
  override def prettyName: String = "fast_dec"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** cms_estimate(sketch, item): frequency point-query against the
  * binary a `count_min_sketch` aggregate produced. CMS never
  * underestimates, so `cms_estimate(s, x) >= true_count(x)` is an
  * invariant the heavy-hitter audit turns into an oracled column. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  // analysis-time contract: a non-binary sketch or non-string item
  // would otherwise pass analysis and die with ClassCastException at
  // execution — and a numeric item would silently probe a different
  // representation than CountMinSketchAgg counted (long vs UTF-8).
  // (checkInputDataTypes, not ExpectsInputTypes: AbstractDataType is
  // private[sql], this hook is the public extension point.)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_estimate expects (BINARY sketch, STRING item), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(sketch: Any, item: Any): Any =
    ExprHelpers.cmsEstimate(sketch.asInstanceOf[Array[Byte]],
      item.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, i) =>
      s"${ev.value} = graft.functions.ExprHelpers.cmsEstimate($s, $i);")
  override def prettyName: String = "cms_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** parse_locale_pct('0,22%') → 0.0022 (crocus vanguard.json:7). */
/** Unicode NFC normalization — the canonicalization step multilingual
  * corpus curation runs before hashing/dedup (decomposed combining
  * sequences and precomposed code points must collide). Codegen'd so it
  * stays inside whole-stage codegen in the curation hot path. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(s: Any): Any =
    ExprHelpers.nfc(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprHelpers.nfc($c)")
  override def prettyName: String = "nfc_normalize"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ParseLocalePct(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(s: Any): Any = {
    val r = ExprHelpers.pct(s.asInstanceOf[UTF8String])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double r = graft.functions.ExprHelpers.pct($c);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** parse_locale_money('USD 632,42' | '5,66 €') →
  * struct(amount double, ccy string) (crocus ishares.json:7, vanguard.json:8,20). */
case class ParseLocaleMoney(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("amount", DoubleType, nullable = false),
    StructField("ccy", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def nullSafeEval(s: Any): Any =
    ExprHelpers.money(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      InternalRow r = graft.functions.ExprHelpers.money($c);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** parse_date_it('28 feb 2025' | '21/02/25') → date
  * (crocus ishares.json:8, vanguard.json:9; explicit Italian month map). */
case class ParseDateIt(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def nullSafeEval(s: Any): Any = {
    val r = ExprHelpers.dateIt(s.asInstanceOf[UTF8String])
    if (r == null) null else r.intValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Integer r = graft.functions.ExprHelpers.dateIt($c);
      if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.intValue(); }
    """)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session registration + Column-level API for the custom expressions. */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_d",
      es => DotProductD(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("parse_locale_pct",
      es => ParseLocalePct(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("parse_locale_money",
      es => ParseLocaleMoney(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("parse_date_it",
      es => ParseDateIt(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("top_k_by",
      es => TopKByLong.fromExprs(es).toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig",
      es => MinHashSig.fromExprs(es).toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("bloom_agg",
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es(0), es(1), es(2)).toAggregateExpression(),
      "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize",
      es => NfcNormalize(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cms_estimate",
      es => CmsEstimate(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("bloom_might_contain",
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1)), "scala_udf")
    // optimizer rules are session state too: imperative twin of
    // GraftExtensions.injectOptimizerRule for sessions built without
    // the static spark.sql.extensions conf. Synchronized: the
    // check-then-append below is a read-modify-write on shared session
    // state and register() is called per-query. Connect sessions have
    // no `experimental` — skip (the static-conf path covers them).
    spark match {
      case cs: org.apache.spark.sql.classic.SparkSession => synchronized {
        if (!cs.experimental.extraOptimizations.contains(
            graft.plans.RankFilterToAggregate))
          cs.experimental.extraOptimizations =
            cs.experimental.extraOptimizations :+
              graft.plans.RankFilterToAggregate
      }
      case _ => ()
    }
  }

  def dot_d(a: Column, b: Column): Column = call_function("dot_d", a, b)
  def parse_locale_pct(c: Column): Column = call_function("parse_locale_pct", c)
  def parse_locale_money(c: Column): Column = call_function("parse_locale_money", c)
  def parse_date_it(c: Column): Column = call_function("parse_date_it", c)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType}

/** The double's EXACT IEEE value quantized straight to decimal(38,18)
  * HALF_UP — the canonical double→decimal input hop for every
  * cross-engine decimal sum and Lloyd mean ([[DecimalConv.decExact]]:
  * [[DecimalConv.decSum]], [[DecimalConv.decMean]],
  * [[DecimalConv.f32Mean]]).
  *
  * Why this exists (the vecdegen-s2 `sim_topk_ivfpq_res` finding):
  * Spark's native double→decimal cast goes through Java's PRE-RYU
  * `Double.toString` (its VALUE, not the exact binary value), while
  * the oracle's `CAST(x AS VARCHAR)` hop is DuckDB's Ryu shortest
  * repr — and the two algorithms disagree in VALUE on ~18% of doubles
  * needing 16–17 significant digits (measured over 500k samples; e.g.
  * Java `8.5749614564503808E17` vs Ryu `8.574961456450381e+17` — the
  * same double, two different decimals). Below ~1e15 both collapse to
  * the same shortest value, which is why eleven gate modes never saw
  * it; at vecdegen's 1e16–1e18 magnitudes the decimal SUMS fork, the
  * double means land one ulp apart, and one mean sat exactly on a
  * float32 rounding boundary — a one-float-ulp codebook fork.
  *
  * `new java.math.BigDecimal(x)` is the EXACT value of the double —
  * defined by IEEE-754 arithmetic, not by any repr algorithm — and
  * the oracle replays it with DuckDB's correctly-rounded
  * `format('{:.70e}', x)` (validated bit-exact against exact
  * quantization over 53k adversarial samples; |x| < 5e-19 is guarded
  * to 0 on the oracle side because DuckDB's string→decimal parser
  * mis-rounds long-mantissa huge-negative-exponent strings — those
  * values quantize to 0 at scale 18 on both sides regardless). The
  * quantization is the same HALF_UP at scale 18 that the oracle's
  * string→decimal cast applies, with no string round-trip on the
  * Spark side. */
case class ExactDecimal18(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DecimalType(38, 18)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "exact_decimal18"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_decimal18 expects a double, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    Decimal(new java.math.BigDecimal(
      ExactDecimal.requireFinite(v.asInstanceOf[Double], prettyName))
      .setScale(18, java.math.RoundingMode.HALF_UP), 38, 18)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d =>
      s"""${ev.value} = org.apache.spark.sql.types.Decimal.apply(
         |  new java.math.BigDecimal(graft.functions.ExactDecimal
         |    .requireFinite($d, "exact_decimal18")).setScale(18,
         |    java.math.RoundingMode.HALF_UP), 38, 18);""".stripMargin)

  override protected def withNewChildInternal(c: Expression): ExactDecimal18 =
    copy(child = c)
}

/** EXACT decimal(38,18) addition — Spark's own decimal `Add` promotes
  * (38,18)+(38,18) to (38,17) (precision 39 capped, scale sacrificed),
  * silently ROUNDING the 18th fractional digit at every step. That was
  * invisible while fold addends were ≤10-digit native images; the r15
  * exact input hop gives every addend 18 significant fractional
  * digits, and a per-step half-ulp(18dp) round breaks the fold ≡
  * unordered-sum bit contract (caught by the PropertySpec fold
  * property within minutes of the hop change). This expression adds
  * the exact java BigDecimals and keeps scale 18 — decimal addition is
  * exact, so the ordered fold of these adds IS the unordered sum.
  * Overflow past the 20 integer digits throws (the same 1e20 headroom
  * contract as the sum type itself). */
case class ExactDecimalAdd(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DecimalType(38, 18)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "exact_decimal_add"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DecimalType(38, 18) &&
        right.dataType == DecimalType(38, 18))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_decimal_add expects two decimal(38,18), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any =
    Decimal(a.asInstanceOf[Decimal].toJavaBigDecimal
      .add(b.asInstanceOf[Decimal].toJavaBigDecimal), 38, 18)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = org.apache.spark.sql.types.Decimal.apply(
         |  $a.toJavaBigDecimal().add($b.toJavaBigDecimal()), 38, 18);"""
        .stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ExactDecimalAdd = copy(l, r)
}

object ExactDecimal {
  /** The exact-decimal hops are defined on FINITE doubles only —
    * `new java.math.BigDecimal(NaN/±Inf)` throws an uninformative
    * NumberFormatException deep in an executor task. Every decSum
    * family rides these hops, so name the expression and the contract
    * in the error instead (ADVICE r15): a non-finite addend means an
    * upstream 0/0 or overflowed double product that must be filtered
    * or fixed at its producer. Called from generated code (static
    * forwarder). */
  def requireFinite(v: Double, expr: String): Double = {
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
      throw new IllegalArgumentException(
        s"$expr: non-finite input $v — exact decimal hops are defined " +
          "on finite doubles; filter or fix the producing expression")
    v
  }

  def exactDecimal18(c: Column): Column =
    Shim.column(ExactDecimal18(Shim.expression(c)))

  def exactAdd(a: Column, b: Column): Column =
    Shim.column(ExactDecimalAdd(Shim.expression(a), Shim.expression(b)))
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, Cast, CheckOverflow, EvalMode, Expression, GreaterThan, If, IntegralDivide, IsNotNull, IsNull, LessThan, Literal, MakeDecimal, Multiply, Or, Remainder, UnaryExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, floor, lit, sum}
import org.apache.spark.sql.types.{BooleanType, DataType, Decimal, DecimalType, IntegerType, LongType}

/** Long-path decimal aggregation.
  *
  * `sum(CAST(x AS DECIMAL(18,2)))` produces DECIMAL(28,2) — past
  * Spark's compact-long range (18 digits), so every hash-aggregate
  * update runs java.math.BigDecimal arithmetic: at a 60M-row fact scan
  * that is the whole query wall (the q68/c65 shape). Summing the
  * UNSCALED long instead keeps the accumulator a primitive long —
  * the same single-codegen'd-add the engine uses for bigint — and
  * rebuilds the decimal once per GROUP via [[MakeDecimal]]. This is
  * Catalyst's own `DecimalAggregates` rewrite, which only fires for
  * input precision ≤ 8 (it reserves 10^10 rows of headroom); these
  * helpers let a query opt in when it can argue the real bound.
  *
  * EXACTNESS: integer arithmetic, bit-identical to the decimal sum —
  * PROVIDED no group's Σ|unscaled(x)| reaches 2^63 (a long sum wraps
  * silently). At scale 2 that is a per-group value sum of 9.2×10^16:
  * money columns (≤10^7 unscaled per row) stay exact to ~10^11 rows
  * per group, far past any per-key fact cardinality, but NOT safe for
  * a global (group-less) sum at 100 TB — keep those on the decimal
  * path. The input-precision half of the contract is ENFORCED: the
  * scan-side expression rejects DECIMAL(p>18) at analysis time (a
  * non-compact input's unscaled value does not fit a long at all).
  */
object DecimalFastFunctions {

  /** [[UnscaledValue]] restricted to compact decimals: DECIMAL(p≤18)
    * is stored as an unscaled long, so `toUnscaledLong` is exact; for
    * p>18 the unscaled value itself can exceed 2^63 and the cast would
    * silently truncate — so this fails at ANALYSIS time instead.
    * Same runtime/codegen as Catalyst's own expression. */
  case class CompactUnscaledValue(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "unscaled_value"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
        TypeCheckResult.TypeCheckSuccess
      case d: DecimalType => TypeCheckResult.TypeCheckFailure(
        s"unscaled_value requires a compact decimal (precision <= " +
          s"${Decimal.MAX_LONG_DIGITS}) whose unscaled value fits a long; " +
          s"got ${d.catalogString}")
      case other => TypeCheckResult.TypeCheckFailure(
        s"unscaled_value requires decimal, got ${other.catalogString}")
    }

    override protected def nullSafeEval(input: Any): Any =
      input.asInstanceOf[Decimal].toUnscaledLong

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$c.toUnscaledLong()")

    override protected def withNewChildInternal(c: Expression): CompactUnscaledValue =
      copy(child = c)
  }

  /** Exact decimal sum of unscaled longs with an all-primitive hot
    * path and NO caller-owned group bound — the Class-B answer (see
    * BENCH_NOTES r15 sweep): fixed-cardinality keys whose groups grow
    * with the data cannot promise Σ|unscaled| < 2^63, so they could
    * not adopt the raw-long accumulator. The running total is carried
    * as `cnt·2^60 + acc` over two long buffer fields: each row is one
    * long add plus two comparisons, and when |acc| crosses 2^60 the
    * rare spill branch moves whole gate-units into `cnt` with one
    * integer div/mod — at money magnitudes once per ~10^10 rows per
    * buffer. Total capacity ≈ 2^123 ≈ 10^37, effectively the
    * DECIMAL(38) ceiling; past the declared DECIMAL(p) the
    * once-per-group evaluate NULLS via CheckOverflow, matching the
    * built-in non-ANSI decimal sum. The merge path is the two-level
    * aggregate (bounded long partials, wide re-sum) expressed inside
    * Spark's own partial/final machinery.
    *
    * Per-row input contract: |child| ≤ 2^60 (any compact decimal's
    * unscaled value is < 10^18 < 2^60) — this keeps every long
    * add/merge overflow-free by the bounds in the field comments; it
    * is not analysis-checkable for free, so it is documented here and
    * in the SQL usage string. */
  case class UnscaledDecimalSum(child: Expression, precision: Int, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

    override def dataType: DataType = DecimalType(precision, scale)
    override def nullable: Boolean = true
    override def prettyName: String = "sum_unscaled_safe"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sum_unscaled_safe sums unscaled BIGINT values, got ${other.catalogString}")
    }

    // ALL buffer fields are fixed-width primitives — this is
    // load-bearing, not a convenience. A first cut kept the spill
    // total as a DECIMAL(p,s) buffer attribute; a jstack of the sf10
    // run caught the hash aggregate in UnsafeRow.setDecimal →
    // BigInteger.toByteArray on EVERY row — non-compact decimals are
    // variable-width in UnsafeRow, so the buffer write-back itself
    // re-pays the decimal tax even when the value is unchanged. The
    // total is therefore carried as cnt·2^60 + acc over two longs;
    // the only non-primitive work left anywhere is the once-per-group
    // evaluate.
    private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()
    private lazy val acc = AttributeReference("acc", LongType, nullable = false)()
    private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

    override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(cnt, acc, seen)

    // Spill unit 2^60 with per-row |input| ≤ 2^60 (any compact
    // decimal's unscaled value is < 10^18 < 2^60): after any update
    // |acc| ≤ gate + 2^60 ≤ 2^61, so the pre-branch add and the merge
    // sum (≤ 2^62) never overflow a long.
    private val gate = 1L << 60
    private def gateLit = Literal(gate)
    // legacy-mode arithmetic: overflow unreachable by the bounds
    // above, so skip ANSI's addExact branch in the hot loop
    private def addLong(l: Expression, r: Expression): Expression =
      Add(l, r, EvalMode.LEGACY)
    // toward-zero div/mod pair (Java semantics): (a div g)·g + (a mod g) = a
    private def divGate(e: Expression): Expression =
      IntegralDivide(e, gateLit, EvalMode.LEGACY)
    private def modGate(e: Expression): Expression =
      Remainder(e, gateLit, EvalMode.LEGACY)

    override lazy val initialValues: Seq[Expression] =
      Seq(Literal(0L), Literal(0L), Literal(false))

    override lazy val updateExpressions: Seq[Expression] = {
      val spill = Or(GreaterThan(acc, gateLit), LessThan(acc, Literal(-gate)))
      Seq(
        If(IsNull(child), cnt, If(spill, addLong(cnt, divGate(acc)), cnt)),
        If(IsNull(child), acc,
          If(spill, addLong(modGate(acc), child), addLong(acc, child))),
        Or(seen, IsNotNull(child)))
    }

    override lazy val mergeExpressions: Seq[Expression] = {
      val rawAcc = addLong(acc.left, acc.right) // |…| ≤ 2^62: no overflow
      Seq(
        addLong(addLong(cnt.left, cnt.right), divGate(rawAcc)),
        modGate(rawAcc),
        Or(seen.left, seen.right))
    }

    // total = cnt·2^60 + acc, assembled in decimal space once per
    // group: value (cnt·2^60 + acc)·10^-scale, checked into (p,s) —
    // past DECIMAL(p) capacity this NULLS, matching the built-in
    // non-ANSI decimal sum (capacity ~10^(38-s): cnt would need
    // ~2^63 spills to wrap ITS long first — unreachable).
    override lazy val evaluateExpression: Expression = {
      val d38 = DecimalType(38, 0)
      val unscaledTotal = Add(
        Multiply(Cast(cnt, d38), Literal.create(Decimal(gate, 38, 0), d38)),
        Cast(acc, d38))
      val scaled = Multiply(unscaledTotal,
        Literal.create(Decimal(1L, 38, scale), DecimalType(38, scale)))
      If(seen, CheckOverflow(scaled, DecimalType(precision, scale), nullOnOverflow = true),
        Literal.create(null, dataType))
    }

    override protected def withNewChildInternal(c: Expression): UnscaledDecimalSum =
      copy(child = c)
  }

  val safeSumBuilder: Seq[Expression] => Expression = {
    case Seq(c, Literal(p: Int, IntegerType), Literal(s: Int, IntegerType)) =>
      UnscaledDecimalSum(c, p, s)
    case _ => throw new IllegalArgumentException(
      "sum_unscaled_safe(unscaled bigint, precision int literal, scale int literal)")
  }

  val unscaledBuilder: Seq[Expression] => Expression = {
    case Seq(c) => CompactUnscaledValue(c)
    case _ => throw new IllegalArgumentException("unscaled_value(decimal)")
  }

  val makeDecimalBuilder: Seq[Expression] => Expression = {
    case Seq(c, Literal(p: Int, IntegerType), Literal(s: Int, IntegerType)) =>
      MakeDecimal(c, p, s)
    case _ => throw new IllegalArgumentException(
      "make_decimal(unscaled bigint, precision int literal, scale int literal)")
  }

  def register(spark: SparkSession): Unit = GraftFunctions.install(spark)

  def unscaled_value(c: Column): Column = call_function("unscaled_value", c)

  def make_decimal(c: Column, precision: Int, scale: Int): Column =
    call_function("make_decimal", c, lit(precision), lit(scale))

  /** `sum` over a compact DECIMAL column through a primitive-long
    * accumulator (see object scaladoc for the exactness bound the
    * caller owns). Result matches `sum(c)` on a DECIMAL(18,s) input:
    * DECIMAL(28,s). Non-compact inputs (precision > 18) fail at
    * analysis time via [[CompactUnscaledValue]]. */
  def sum_unscaled(c: Column, scale: Int): Column =
    make_decimal(sum(unscaled_value(c)), 28, scale)

  /** The battery's `dsum` through the long path: same double as
    * `sum(c).cast("double")` for DECIMAL(18,2) input (exact integer
    * sum → identical decimal → identical double). */
  def dsum_unscaled(c: Column): Column = sum_unscaled(c, 2).cast("double")

  /** Unscaled long of a DOUBLE column holding decimal data, without
    * materializing a Decimal at all: `floor(d · 10^scale + 0.5)`,
    * three codegen-primitive ops and zero allocations. The
    * `unscaled_value(CAST(d AS DECIMAL(18,s)))` form it replaces is
    * NOT allocation-free even though the sum is: Spark's double →
    * decimal cast routes through `BigDecimal.valueOf` (one BigDecimal
    * on `Double.toString`, another in `changePrecision`) plus a
    * Decimal box per row — at a 60M-row fact scan that cast is most
    * of the remaining aggregate wall (R15 lab table in BENCH_NOTES).
    *
    * EXACTNESS CONTRACT (caller owns, same scope as the oracle's):
    * the column's values carry at most `scale` fractional decimal
    * digits (each value is the nearest double to k·10^-scale for
    * integer k) and |value|·10^scale < 2^52. Then d·10^scale lands
    * within ~1e-9 of k, every rounding mode agrees, and the result
    * equals the cast path's unscaled long bit-for-bit. On DIRTY data
    * (a third decimal digit of noise) this rounds the binary value
    * half-up while Spark's cast rounds the shortest decimal string
    * half-up — but on such data Spark's cast already disagrees with
    * DuckDB's (binary-value) cast, so any query under the DuckDB
    * oracle is in-contract by construction. NaN/±Inf are out of
    * contract (the cast nulls them; this folds them to Long bounds).
    */
  def unscaled_of_double(c: Column, scale: Int): Column =
    floor(c * lit(math.pow(10, scale)) + lit(0.5)).cast(LongType)

  /** The battery's `dsum` over a raw DOUBLE column through the long
    * path end-to-end: scan-side [[unscaled_of_double]] (no per-row
    * BigDecimal cast), primitive-long accumulator, one decimal per
    * group. Result matches `sum(c.cast(DECIMAL(18,2))).cast("double")`
    * under the contracts above. */
  def dsum_unscaled_double(c: Column): Column =
    make_decimal(sum(unscaled_of_double(c, 2)), 28, 2).cast("double")

  /** The TPC-H revenue aggregate `sum(price × (1 − disc))` through a
    * primitive-long accumulator. On the decimal path the product is
    * DECIMAL(18,2) × DECIMAL(19,2) → DECIMAL(38,4): non-compact before
    * the sum even starts, so every fact row pays a BigDecimal multiply
    * AND a BigDecimal add. Here both factors' unscaled longs multiply
    * exactly (scale 2 + scale 2 → scale 4; `1.00` is unscaled 100) and
    * the decimal is rebuilt once per group as the same DECIMAL(38,4).
    *
    * Caller owns the group bound: per-row |unscaled| ≤ max-price×100
    * unscaled (TPC-H: ~1.1×10^7) × 100 ≈ 10^9, so Σ stays under 2^63
    * to ~10^9 rows per group — fine for scale-invariant per-key
    * groups (lines-per-part, lines-per-customer), NOT for
    * fixed-cardinality keys whose groups grow with the data. */
  def sum_unscaled_revenue(price: Column, disc: Column): Column =
    make_decimal(
      sum(unscaled_value(price) * (lit(100L) - unscaled_value(disc))), 38, 4)

  /** [[UnscaledDecimalSum]] as a Column: exact decimal sum of unscaled
    * longs, safe for ANY group cardinality (global sums included). */
  def sum_unscaled_safe(c: Column, precision: Int, scale: Int): Column =
    call_function("sum_unscaled_safe", c, lit(precision), lit(scale))

  /** The battery's `dsum` over a raw DOUBLE column, Class-B safe:
    * scan-side [[unscaled_of_double]], spill-guarded long accumulator,
    * decimal rebuilt per group — same double as
    * `sum(c.cast(DECIMAL(18,2))).cast("double")` under the
    * [[unscaled_of_double]] contract, with NO group-size bound. */
  def dsum_safe_double(c: Column): Column =
    sum_unscaled_safe(unscaled_of_double(c, 2), 28, 2).cast("double")

  /** Class-B-safe revenue aggregate over raw DOUBLE columns: the
    * per-row product in long space (|price_u·(100−disc_u)| ≲ 10^10,
    * far under the 2^60 input bound), spill-guarded accumulation to
    * the decimal-path result type DECIMAL(38,4). */
  def sum_revenue_safe_double(price: Column, disc: Column): Column =
    sum_unscaled_safe(
      unscaled_of_double(price, 2) * (lit(100L) - unscaled_of_double(disc, 2)),
      38, 4)

  /** [[sum_unscaled_revenue]] over raw DOUBLE columns: both factors'
    * unscaled longs come from [[unscaled_of_double]], so the fact row
    * pays three primitive flops instead of two BigDecimal casts plus
    * a BigDecimal multiply. Same group bound as the decimal variant
    * (Σ|price_u·(100−disc_u)| < 2^63); same per-column contract as
    * [[unscaled_of_double]] at scale 2. */
  def sum_unscaled_revenue_double(price: Column, disc: Column): Column =
    make_decimal(
      sum(unscaled_of_double(price, 2) * (lit(100L) - unscaled_of_double(disc, 2))),
      38, 4)
}

package graft.engine

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}
import org.apache.spark.sql.{GraftColumnBridge => ExpressionUtils}

/** Cross-engine-exact aggregation helpers.
  *
  * Summing doubles is order-dependent, and Spark's parallel partial/final
  * aggregation does not add values in the same order as a single-threaded
  * engine — so `sum(double)` is not bit-reproducible against the DuckDB
  * oracle (or even across Spark runs with different partitioning). The fix is
  * to accumulate exactly: round each input double to DECIMAL(38,10) (a
  * deterministic rounding of the double's decimal expansion, identical in
  * both engines), sum exactly (associative → partitioning-invariant), and
  * convert the exact result back to double (IEEE nearest-rounding,
  * identical in both engines).
  *
  * [[dsum]] is the native [[ExactSum]] aggregate. It returns the bits of
  * `CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)` but keeps a 128-bit
  * integer total instead of a BigDecimal, and scales most doubles in a few
  * flops instead of a `Double.toString` → BigDecimal cast. The total's
  * range covers DECIMAL(38,10)'s (|total| < 10^28), past which both forms
  * raise Spark's ANSI sum overflow. On q10 at sf0.1 (one JVM, 4-core VM)
  * it costs about 1.2× a plain `sum(double)`, where the decimal form cost
  * 4–5×. It stays a declarative aggregate, so hash aggregation keeps
  * whole-stage codegen, and it works over a window.
  */
object Exact {

  val Dec: DecimalType = DecimalType(38, 10)

  /** Exact, partitioning-invariant sum of a numeric column, as double.
    * Oracle SQL equivalent: CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
    */
  def dsum(c: Column): Column =
    ExpressionUtils.column(ExactSum(ExpressionUtils.expression(c)).toAggregateExpression())

  /** Exact average: exact decimal sum, double division (deterministic).
    * Oracle: CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) /
    *         CAST(COUNT(x) AS DOUBLE)
    */
  def davg(c: Column): Column =
    dsum(c) / count(c).cast(DoubleType)

  /** Oracle-side (DuckDB) SQL fragment builders. Spark SQL text writes the
    * same exact sum as `sum_exact(x)`, which [[GraftExtensions]] registers.
    */
  /** The DuckDB text has two extra VARCHAR hops, because Spark's double↔
    * decimal casts are string-mediated while DuckDB's are binary:
    *  - input double→decimal: Spark quantizes the double's SHORTEST STRING
    *    (BigDecimal.valueOf); DuckDB quantizes the binary expansion. For
    *    magnitudes above ~1e6 the decimal(38,10) grid is finer than the
    *    double's ulp and the two quantizations differ — the string hop makes
    *    DuckDB quantize the same shortest string.
    *  - output decimal→double: DuckDB divides in double arithmetic (not
    *    correctly rounded); Spark uses BigDecimal.doubleValue. The string
    *    hop forces the correctly-rounded parse.
    */
  def sqlSum(expr: String): String =
    s"CAST(CAST(SUM(CAST(CAST(($expr) AS VARCHAR) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

  /** [[sqlSum]] with DECIMAL(18,10) per-term quantization — value-identical
    * whenever every term is below 10^8 in magnitude (rounding to scale 10
    * is width-independent; the SUM accumulator widens to (38,10) in DuckDB
    * regardless), but ~6× faster: the (38,10) form parses every term into
    * decimal128, which dominated t20's 13-pass sf1 oracle (53 s vs 9 s per
    * corpus pass, measured r14). Use ONLY where the term bound is proven —
    * an overflowing cast fails loudly, never silently.
    */
  def sqlSumNarrow(expr: String): String =
    s"CAST(CAST(SUM(CAST(CAST(($expr) AS VARCHAR) AS DECIMAL(18,10))) AS VARCHAR) AS DOUBLE)"

  def sqlAvg(expr: String): String =
    s"(${sqlSum(expr)} / CAST(COUNT($expr) AS DOUBLE))"

  // ---- the ExactSum kernel, called from generated code ----

  /** [[scale]]'s marker for a double off the fast path whose DECIMAL(38,10)
    * value is non-null and fits a long (finite, |x| < 9e8). */
  final val OffSmall: Long = Long.MinValue + 1
  /** [[scale]]'s marker for every other input off the fast path. */
  final val OffBig: Long = Long.MinValue
  /** High word of a total with no non-null input yet. */
  final val Empty: Long = Long.MinValue
  /** High word of a total that left DECIMAL(38,10)'s range. */
  final val Overflow: Long = Long.MinValue + 1
  // A real high word is within ±10^38 / 2^64 ≈ ±5.4e18, clear of both.

  private final val FastLimit = 262144.0 // 2^18
  private final val SmallLimit = 9e8
  // 10^38 as two 64-bit words; −10^38 is (~LimHi, −LimLo) since LimLo ≠ 0.
  final val LimHi = 0x4B3B4CA85A86C47AL
  final val LimLo = 0x098A224000000000L

  /** x·10^10 rounded as Spark's DECIMAL(38,10) cast rounds it, or a marker.
    *
    * Spark rounds `Double.toString(x)` HALF_UP at 10 places; that string
    * lies within ulp(x)/2 of x. With p = |x|·1e10 and e = fma(|x|, 1e10, −p)
    * (so p + e is the exact product), f = p − floor(p) + e is the fractional
    * part of the exact product measured from floor(p). When f is more than
    * ulp(x)·1e10 + 1e-6 away from 0.5, no rounding midpoint lies between
    * the exact product and the string's value, so both round to
    * floor(p) + (f > 0.5). Below 2^18, p < 2^52 keeps p − floor(p) exact.
    * Values near a midpoint, |x| ≥ 2^18, NaN and ±Inf return a marker and
    * are cast by Spark.
    */
  def scale(x: Double): Long = {
    val a = Math.abs(x)
    if (!(a < FastLimit)) { if (a < SmallLimit) OffSmall else OffBig }
    else {
      val p = a * 1e10
      val fl = Math.floor(p)
      val f = (p - fl) + Math.fma(a, 1e10, -p)
      if (Math.abs(f - 0.5) <= Math.ulp(a) * 1e10 + 1e-6) OffSmall
      else {
        val m = fl.toLong + (if (f > 0.5) 1L else 0L)
        if (x < 0) -m else m
      }
    }
  }

  /** Low and high 64-bit words of a DECIMAL(38,10) value's unscaled form. */
  def lowWord(d: Decimal): Long = d.toJavaBigDecimal.unscaledValue.longValue
  def highWord(d: Decimal): Long = d.toJavaBigDecimal.unscaledValue.shiftRight(64).longValue

  /** |hi:lo| < 10^38, i.e. the total still fits DECIMAL(38,10). */
  def inRange(hi: Long, lo: Long): Boolean =
    (hi < LimHi || (hi == LimHi && java.lang.Long.compareUnsigned(lo, LimLo) < 0)) &&
      (hi > ~LimHi || (hi == ~LimHi && java.lang.Long.compareUnsigned(lo, -LimLo) > 0))

  /** High word of (hi:lo) + (dhi:dlo), where loNext = lo + dlo. Both high
    * words are within ±5.5e18, so a wrapped sum lands outside the range and
    * reads as [[Overflow]]. */
  private def addHi(hi: Long, lo: Long, dhi: Long, loNext: Long): Long = {
    val r = hi + dhi + (if (java.lang.Long.compareUnsigned(loNext, lo) < 0) 1L else 0L)
    if (inRange(r, loNext)) r else Overflow
  }

  /** One input row's high word: [[Empty]] starts from zero. */
  def stepHi(hi: Long, lo: Long, loNext: Long, dhi: Long): Long =
    addHi(if (hi == Empty) 0L else hi, lo, dhi, loNext)

  /** High word of the sum of two partial totals. */
  def mergeHi(hl: Long, ll: Long, hr: Long, lr: Long): Long =
    if (hl == Overflow || hr == Overflow) Overflow
    else if (hl == Empty) hr
    else if (hr == Empty) hl
    else addHi(hl, ll, hr, ll + lr)

  /** The total as a DECIMAL(38,10) value, or null after an overflow. */
  def total(hi: Long, lo: Long): Decimal =
    if (hi == Overflow) null
    else if (hi == lo >> 63) Decimal(lo, 38, 10)
    else {
      val mag = BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
      Decimal(new JBigDecimal(mag, 10), 38, 10)
    }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Engine-portable exact aggregation helpers.
  *
  * Floating-point SUM/AVG are order-dependent, and a distributed engine
  * never guarantees reduction order — so a double aggregate can differ
  * between Spark and any oracle engine (and between two runs at
  * different parallelism). The fix, applied uniformly across this
  * library: route every aggregated double through an exact
  * DECIMAL(18,s) cast, sum in decimal (exact, order-independent), and
  * cast the final value back to double. The matching oracle SQL uses
  * the identical casts, so results are bit-identical by construction.
  *
  * This is also the right call at 100 TB: decimal partial aggregates
  * stay in Tungsten codegen and make results reproducible run-to-run.
  */
object Exact {
  private def p10(s: Int): Double = math.pow(10, s)

  /** Fixed-point units of a scale-s column: round(x·10^s) as long.
    * Exact for data with ≤s true decimals (the fixed-point money/qty
    * columns here): the double sits within ~1e-9 of the grid, never
    * near a rounding boundary, so Spark and any other engine agree.
    */
  private def units(c: Column, scale: Int): Column =
    // floor(x+0.5) == ROUND_HALF_UP for the non-negative fixed-point
    // columns this serves, and unlike round() (which routes doubles
    // through a BigDecimal per value — measured 2× on the q1 hot
    // aggregate) it stays a single codegen'd Math.floor
    floor(c * p10(scale) + 0.5).cast("long")

  /** Exact, order-independent sum of a fixed-point double column.
    *
    * Summed as LONG units (3–4× faster than Spark's decimal sum — the
    * same trick native engines use for money types), then converted
    * back: (Σ units)/10^s is the double nearest the exact sum, which
    * is bit-identical to `CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE)` —
    * so DuckDB oracles keep the decimal form. ANSI mode turns any
    * overflow into an error, never silent corruption (headroom up to
    * ~1e12 rows of 1e7-unit values).
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(units(c, scale)).cast(DoubleType) / p10(scale)

  /** SQL fragment matching [[dsum]] — keep in lock-step. */
  def dsumSql(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Exact mean: unit sum divided by count (both order-independent). */
  def davg(c: Column, scale: Int = 2): Column =
    sum(units(c, scale)).cast(DoubleType) / p10(scale) / count(lit(1))

  /** Complete revenue aggregate Σ price·(1-disc) as long fixed-point:
    * cents·(100-discCents) summed in int64, /10^4 at the end. Value-
    * identical to the decimal-arithmetic oracle form ([[revenueSql]]).
    * int64 headroom: ~1e9 rows of 1e9-unit terms; beyond that use
    * `sum(revenue(...))` (decimal path, same value, slower).
    */
  def sumRevenue(price: Column, discount: Column): Column =
    sum(units(price, 2) * (lit(100L) - units(discount, 2)))
      .cast(DoubleType) / 1e4

  /** CASE-guarded variant: contributes only where `cond` holds. */
  def sumRevenueWhere(cond: Column, price: Column, discount: Column): Column =
    sum(when(cond, units(price, 2) * (lit(100L) - units(discount, 2))))
      .cast(DoubleType) / 1e4

  /** Per-row revenue term in scale-4 long units — for computing the
    * product BEFORE a shuffle so the exchange carries one int64
    * instead of two doubles (and the multiply runs map-side).
    * `sum(revenueUnits(...))` then finishes with [[sumFromUnits]];
    * the total is bit-identical to [[sumRevenue]].
    */
  def revenueUnits(price: Column, discount: Column): Column =
    units(price, 2) * (lit(100L) - units(discount, 2))

  /** Exact Σ a·b of two 2-decimal columns as scale-4 long units (TPC-H
    * q6's Σ price·discount). The exact 4-decimal product is what
    * `CAST(a * b AS DECIMAL(18,4))` rounds the double product to, so
    * the total is bit-identical to that oracle form without Spark's
    * per-row double → BigDecimal conversion.
    */
  def sumProduct(a: Column, b: Column): Column =
    sum(units(a, 2) * units(b, 2)).cast(DoubleType) / 1e4

  /** Final conversion of a pre-shuffled scale-4 unit sum. */
  def sumFromUnits(c: Column): Column = sum(c).cast(DoubleType) / 1e4

  /** Σ price·(1-disc)·(1+tax) as scale-6 long units (one int64 sum).
    * Headroom shrinks to ~5e7 rows of max-value terms — beyond that
    * (true 100 TB fact tables) use the decimal [[charge]] path; the
    * value is identical either way.
    */
  def sumCharge(price: Column, discount: Column, tax: Column): Column =
    sum(units(price, 2) * (lit(100L) - units(discount, 2)) *
        (lit(100L) + units(tax, 2)))
      .cast(DoubleType) / 1e6

  /** TPC-H revenue / charge as PURE decimal arithmetic.
    *
    * Casting a COMPUTED double like `price*(1-disc)*(1+tax)` to decimal
    * is not portable: its true value has 6 decimals, the double carries
    * ~1e-11 error, and engines disagree on near-half-way rounding at
    * scale 4 (Spark rounds the shortest decimal repr HALF_UP; DuckDB
    * effectively double-rounds). Instead cast only the BASE columns
    * (2-decimal values — exactly recoverable from their doubles) and
    * multiply in decimal, which is exact in every engine.
    */
  def revenue(price: Column, discount: Column): Column =
    price.cast(DecimalType(12, 2)) * (lit(1) - discount.cast(DecimalType(4, 2)))

  val revenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"

  def charge(price: Column, discount: Column, tax: Column): Column =
    revenue(price, discount) * (lit(1) + tax.cast(DecimalType(4, 2)))

  val chargeSql: String =
    s"$revenueSql * (1 + CAST(l_tax AS DECIMAL(4,2)))"
}

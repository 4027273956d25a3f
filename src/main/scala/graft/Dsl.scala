package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for the DuckDB hash-match oracle (SURVEY.md §2 rules).
  *
  * The driver hash-compares our parquet output against DuckDB executing
  * `SparkEntry.oracleSql` — values must be BIT-identical, so every floating
  * aggregate here is engineered to be exact:
  *
  *  - All fixture money columns are exactly 2-decimal doubles (verified), so
  *    `round(x*100)` is a lossless integer-cents view. Long-integer sums are
  *    exact and associative → independent of partitioning / shuffle order
  *    (Spark's double-sum is NOT: partial-aggregate merge order varies per
  *    run, which would make round(sum(x),2) flaky at rounding boundaries).
  *  - Long sums run in whole-stage codegen at primitive speed — measured 2x
  *    faster than the decimal(38) sums they replaced (BigDecimal boxing), on
  *    the TPC-H Q1 shape at sf0.1.
  *  - Derived money products stay integral in scaled units: disc price in
  *    1e-4 units, charge in 1e-6 units. Final results divide once, as
  *    doubles, in BOTH engines — IEEE division of identical operands is
  *    identical, so hashes match.
  *  - Integer-valued doubles (l_quantity) sum exactly in binary — safe as-is.
  *
  * Range note (the 100 TB audit): a long accumulator holds ±9.2e18. Charge
  * nano-units reach ~1.1e11/row, so a SINGLE aggregation group can sum ~8e7
  * rows before overflow — far beyond any per-group cardinality in these
  * fixtures, but a petabyte-scale single-group total should swap decSum-style
  * `sum(dec2(c))` (kept below) back in: exactness is
  * preserved either way, only speed differs.
  */
object Dsl {
  /** Lossless decimal view of a 2-decimal money column (wide-range path —
    * used where squared terms would overflow a long accumulator). */
  def dec2(c: Column): Column = c.cast("decimal(12,2)")

  /** Lossless integer-cents view of a 2-decimal money column. round() (not
    * floor/cast) because the stored double is only ≈ the decimal value;
    * exact .5 cannot occur, so HALF_UP agreement between engines is moot. */
  def cents(c: Column): Column = round(c * 100).cast("long")
  def centsSql(col: String): String = s"cast(round($col * 100) as bigint)"

  /** Exact, order-independent sum of a money column, returned as double. */
  def moneySum(c: Column): Column = sum(cents(c)) / 100.0
  def moneySumSql(col: String): String =
    s"cast(sum(${centsSql(col)}) as double) / 100.0"

  /** l_extendedprice * (1 - l_discount) in exact 1e-4 units (long). */
  val discPriceMicro: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
  val discPriceMicroSql: String =
    s"${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})"

  /** l_extendedprice * (1 - l_discount) * (1 + l_tax) in exact 1e-6 units. */
  val chargeNanoSql: String =
    s"($discPriceMicroSql) * (100 + ${centsSql("l_tax")})"

  /** Scalar (per-row) double views of the exact scaled-integer products. */
  val discPriceSql: String = s"cast($discPriceMicroSql as double) / 10000.0"
  val chargeSql: String = s"cast($chargeNanoSql as double) / 1000000.0"

  /** Exact, order-independent aggregate sums of the products: accumulate the
    * scaled longs, divide ONCE at the end (sum-of-double would be
    * order-dependent; this is not). */
  def discPriceSum: Column = sum(discPriceMicro) / 10000.0
  val discPriceSumSql: String =
    s"cast(sum($discPriceMicroSql) as double) / 10000.0"
  val chargeSumSql: String =
    s"cast(sum($chargeNanoSql) as double) / 1000000.0"

  /** Engine-identical 6dp canonicalization for reported double columns.
    *
    * Why not native `round(x, 6)`: the two engines round DIFFERENT values.
    * Spark's Round converts the double to its shortest decimal repr
    * (BigDecimal.valueOf) and rounds that HALF_UP; DuckDB rounds the raw
    * binary double. For a value whose shortest repr ends in 5 at the 7th
    * decimal but whose binary value sits just below it (e.g. 41/640 =
    * "0.0640625" ≈ 0.06406249999…), Spark yields …63 and DuckDB …62 —
    * an observed sf0.1 hash flip on percent_rank (round-7, Windows.scala).
    *
    * `floor(x·1e6 + 0.5) / 1e6` instead performs the SAME three IEEE
    * operations on the same input double in both engines — correctly
    * rounded multiply, add, floor — so the outputs are bit-identical by
    * construction, at ties and everywhere else. Magnitude bound: exact for
    * |x| ≲ 4.5e9 (x·1e6 + 0.5 must stay within the 2^53 integer-exact
    * range); every canonicalized column here is well inside. Half-up
    * toward +inf at a true binary tie, which both engines share. */
  def round6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  def round6Sql(expr: String): String = s"floor(($expr) * 1e6 + 0.5) / 1e6"
}

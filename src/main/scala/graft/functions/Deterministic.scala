package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Bit-deterministic numeric aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, and Spark's partial aggregation
  * order is nondeterministic across partitionings — so a raw `sum(double)`
  * can differ between runs and between engines in the last ulps, which breaks
  * hash-compared oracles AND makes production pipelines non-reproducible.
  * The reference sidesteps this only by being single-threaded Python.
  *
  * Our engine's contract: money-like measures are aggregated in exact decimal
  * arithmetic (order-free), converted to double only at the very end. This is
  * also the right call at 100 TB: reproducible results regardless of
  * partition count, AQE decisions, or speculative re-execution.
  */
object Deterministic {
  /** 2-decimal money type: matches the reference's Decimal(x,2) columns
    * (SURVEY §1.2) and is exact for TPC-H-style prices. */
  val Money: DecimalType = DecimalType(18, 2)

  def dec(c: Column): Column = c.cast(Money)

  /** Exact decimal sum, surfaced as double.
    * Oracle-SQL mirror: `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def decSum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** TPC-H style discounted revenue: Σ price·(1−discount), computed fully in
    * decimal (exact product, exact sum), then one double conversion.
    * Mirror: `CAST(sum(CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))) AS DOUBLE)`. */
  def revenue(price: Column, discount: Column): Column =
    sum(dec(price) * (lit(1) - dec(discount))).cast(DoubleType)

  /** [[revenue]] WITHOUT the final double cast — for two-level aggregation
    * (e.g. per-order partial revenue re-summed per region): intermediate
    * results stay exact decimal so the re-sum is still order-free;
    * cast to double only after the LAST aggregation level. */
  def revenueDec(price: Column, discount: Column): Column =
    sum(dec(price) * (lit(1) - dec(discount)))

  /** Fixed-point quantization of an arbitrary double at 1e-6: `floor(x*1e6)`
    * is computed identically on any IEEE-754 engine, and the resulting longs
    * aggregate exactly. Used where no 2-decimal structure exists. */
  def microQuantize(c: Column): Column = floor(c * lit(1000000L)).cast(LongType)
}

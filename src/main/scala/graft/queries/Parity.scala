package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers the query families share, and the oracle-parity
  * conventions they serve (see SURVEY.md §6): double measures are
  * summed as DECIMAL (exact, order-independent), window starts are
  * BIGINT epoch seconds, ratios are emitted as integer cents derived
  * from the exact sums, every aggregate/computed column is aliased
  * identically here and in the DuckDB SQL. FINAL projections cast
  * decimal measures to DOUBLE on both sides: the driver stringifies a
  * parquet DECIMAL with its scale ("1000.00") but the oracle value as
  * a float ("1000.0"), so any DECIMAL output column hash-mismatches
  * on trailing-zero values. decimal→double is only
  * bit-identical across engines while the decimal's UNSCALED value
  * stays under 2^53 (DuckDB converts int→double then divides; Spark
  * rounds correctly) — a scale-6 charge sum crosses that at ~9.0e9.
  * So money sums are emitted as integer hundredths (BIGINT "cents"):
  * round the exact decimal to scale 2, multiply by 100, cast — exact
  * in both engines at any data scale.
  */
private[queries] object Parity {

  def dec(c: Column, p: Int, s: Int): Column = c.cast(DecimalType(p, s))

  /** Final projection of an exact decimal measure (driver-hash parity). */
  def outD(c: Column): Column = c.cast(DoubleType)
  def tsLit(s: String): Column = lit(s).cast(TimestampType)

  /** Ties-safe rank-contract flag for an approx-quantile edge, used
    * inside an aggregation over rows joined with the edge: accept
    * edge v at quantile p (permille) iff count(<v) ≤ (p+tol)‰·n AND
    * count(≤v) ≥ (p−tol)‰·n. This is approx_percentile's actual
    * guarantee (an element whose rank is within ε·n of p·n), stated
    * so it holds for ANY value distribution including heavy ties —
    * a value-distance tolerance would be distribution-dependent.
    * Pure integer arithmetic; tol = 10‰ is 100× the accuracy-10⁴
    * sketch's ε, so only a genuine quantile bug flips the flag.
    */
  def rankFlag(x: Column, edge: Column, pml: Long,
               tolPml: Long = 10L): Column =
    when(sum(when(x < edge, 1L).otherwise(0L)) * 1000 <=
        lit(pml + tolPml) * count(lit(1)) &&
      sum(when(x <= edge, 1L).otherwise(0L)) * 1000 >=
        lit(pml - tolPml) * count(lit(1)), 1).otherwise(0)
}

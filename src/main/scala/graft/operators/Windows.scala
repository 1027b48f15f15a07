package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time window aggregation operators.
  *
  * Re-expresses the reference's custom window assigners Spark-first:
  *  - tumbling per-key SUM (reference: InorderTumblingWindow/
  *    CustomTumblingWindow.java:33-77 + FraudDetectionJob.java:124-165)
  *  - sliding per-key MEAN (reference: InorderTumblingWindow/
  *    CustomSlidingWindow.java:25-127)
  *  - pane/slice-optimized sliding aggregation — the reference slices
  *    sliding windows into panes of gcd(size, slide), accumulates per
  *    pane, and combines panes per window. Here that becomes a
  *    two-level relational aggregation: pre-aggregate per tumbling
  *    pane (1x the input, full map-side partial aggregation), assign
  *    each pane to the windows that contain it, and combine the
  *    already-tiny partials. The naive plan replicates every input row
  *    size/slide times *before* the shuffle; the pane plan replicates
  *    only pane partials, which is the whole point at 100 TB.
  *  - incremental window-sum merge across firings (reference persists
  *    windowStart_accountId sums in RocksDB and re-adds; batch analog
  *    is the per-key running total over window sums)
  *  - count-or-time hybrid trigger chunks (reference: CustomTrigger
  *    .java:35-55 fires every maxCount elements or at window end;
  *    batch analog chunks each window's elements by arrival rank)
  *
  * Tumbling, sliding, pane-sliding and session aggregation share one
  * grouping stage and run on a batch frame or on a stream the caller
  * has given `withWatermark` (Structured Streaming's one query for
  * table and stream); the cumulative sum and trigger chunks use window
  * functions and run on frames only.
  *
  * Conventions for oracle parity: window starts are emitted as BIGINT
  * epoch seconds; double measures are summed as DECIMAL (exact and
  * summation-order independent) and only the FINAL projection casts
  * to DOUBLE (the driver stringifies decimals with their scale, so a
  * DECIMAL output column hash-mismatches the oracle's float repr on
  * any trailing-zero value); integer-cents columns are derived from
  * the DECIMAL sum *before* that cast (a double*100→bigint cast
  * truncates differently across engines).
  */
object Windows {

  val Dec: DecimalType = DecimalType(18, 2)
  val DecOut: DecimalType = DecimalType(38, 2)

  /** The one time-window grouping stage: groups by `key` and the
    * window struct `w` (a `window` or `session_window` column) and
    * emits `sum_dec` (exact DECIMAL), `cnt`, and `ws`, the window start
    * as BIGINT epoch seconds. Rows with a null time fall in no window
    * and are dropped. It groups on the struct, not on `w.start`: a
    * watermarked stream in append mode accepts only the struct. `w`
    * stays in the output, since on a stream it carries the watermark
    * that a second stage over `window_time(w)` needs. Runs on a batch
    * frame or on a stream the caller has given `withWatermark`.
    */
  private def windowAgg(df: DataFrame, key: String, w: Column,
                        sumDec: Column, cnt: Column): DataFrame =
    df.groupBy(col(key), w.as("w"))
      .agg(sumDec.cast(DecOut).as("sum_dec"), cnt.as("cnt"))
      .select(col(key), col("w"), unix_timestamp(col("w.start")).as("ws"),
        col("sum_dec"), col("cnt"))

  /** [[windowAgg]] over raw rows: SUM of `valCol` and a row count. */
  private def windowSum(df: DataFrame, key: String, w: Column,
                        valCol: String): DataFrame =
    windowAgg(df, key, w, sum(col(valCol).cast(Dec)), count(lit(1)))

  /** Projects `keys`, then `sum_val` (the DECIMAL sum cast to DOUBLE),
    * `cnt` and `mean_cents` (integer cents of the exact mean).
    */
  private def withMean(df: DataFrame, keys: Column*): DataFrame =
    df.select(keys ++ Seq(
      col("sum_dec").cast(DoubleType).as("sum_val"), col("cnt"),
      expr("cast(sum_dec * 100 as bigint) div cnt").as("mean_cents")): _*)

  /** Keyed tumbling-window SUM + count with the exact DECIMAL sum kept
    * (column `sum_dec`) — internal building block for operators that
    * filter/re-aggregate on the sum before the final double cast.
    */
  def tumblingAggDec(events: DataFrame, key: String, tsCol: String,
                     valCol: String, sizeSec: Long): DataFrame =
    windowSum(events, key, window(col(tsCol), s"$sizeSec seconds"), valCol)
      .select(col(key), col("ws"), col("sum_dec"), col("cnt"))

  /** Keyed tumbling-window SUM + count; the fraud pipeline's core
    * aggregation. One shuffle on (key, window); partial aggregation
    * happens map-side before it. On a stream in append mode a window
    * emits once, when the watermark passes its end.
    */
  def tumblingAgg(events: DataFrame, key: String, tsCol: String,
                  valCol: String, sizeSec: Long): DataFrame =
    tumblingAggDec(events, key, tsCol, valCol, sizeSec)
      .select(col(key), col("ws"),
        col("sum_dec").cast(DoubleType).as("sum_val"), col("cnt"))

  /** Keyed sliding-window aggregation via the built-in assigner.
    * Spark explodes each row into size/slide windows, then shuffles
    * on (key, window); on a stream each row updates size/slide window
    * states. Baseline for `paneSlidingAgg`.
    */
  def slidingAgg(events: DataFrame, key: String, tsCol: String,
                 valCol: String, sizeSec: Long, slideSec: Long): DataFrame =
    withMean(windowSum(events, key,
      window(col(tsCol), s"$sizeSec seconds", s"$slideSec seconds"), valCol),
      col(key), col("ws"))

  /** Pane/slice-optimized sliding-window aggregation (same result set
    * as [[slidingAgg]]), as two chained time-window aggregations:
    *
    *   1. tumbling panes of gcd(size, slide) — each input row folds
    *      into exactly ONE pane partial (map-side combine in batch,
    *      one state row per pane on a stream);
    *   2. `window(window_time(pane), size, slide)` re-aggregates the
    *      pane partials into the sliding windows.
    *
    * Soundness: `window_time(pane)` is the pane's end−1µs instant;
    * window starts are slide-aligned and pane | slide, so the sliding
    * windows containing that instant are exactly the windows that
    * contain the whole pane (ws < paneStart+pane ⟺ ws ≤ paneStart for
    * pane-aligned ws; instant < ws+size ⟺ paneStart+pane ≤ ws+size),
    * which makes pane partials lossless (reference:
    * CustomSlidingWindow.java:25-127 pane slicing). On a stream the
    * planner propagates the watermark across both stateful operators.
    */
  def paneSlidingAgg(events: DataFrame, key: String, tsCol: String,
                     valCol: String, sizeSec: Long, slideSec: Long): DataFrame = {
    val paneSec = gcd(sizeSec, slideSec)
    val panes = windowSum(events, key, window(col(tsCol), s"$paneSec seconds"), valCol)
    withMean(windowAgg(panes, key,
      window(window_time(col("w")), s"$sizeSec seconds", s"$slideSec seconds"),
      sum(col("sum_dec")), sum(col("cnt"))), col(key), col("ws"))
  }

  /** Gap-based session windows per key (generalizes the reference's
    * 5 s event-time timer buffer, FraudDetector.java:94-119).
    */
  def sessionAgg(events: DataFrame, key: String, tsCol: String,
                 valCol: String, gapSec: Long): DataFrame =
    windowSum(events, key, session_window(col(tsCol), s"$gapSec seconds"), valCol)
      .select(col(key), col("ws").as("sess_start"),
        col("sum_dec").cast(DoubleType).as("sum_val"), col("cnt"))

  /** Per-key running total across tumbling windows, ordered by window
    * start — the batch analog of the reference merging each fired
    * window sum with the prior sum persisted under
    * `windowStart_accountId` in RocksDB (FraudDetectionJob.java:128-160).
    */
  def cumulativeWindowSum(events: DataFrame, key: String, tsCol: String,
                          valCol: String, sizeSec: Long): DataFrame = {
    val perWindow = tumblingAggDec(events, key, tsCol, valCol, sizeSec)
    val w = Window.partitionBy(col(key)).orderBy(col("ws"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running total accumulates in DECIMAL (association-order exact);
    // both measures cast to DOUBLE only in the final projection
    perWindow.select(
      col(key), col("ws"),
      col("sum_dec").cast(DoubleType).as("sum_val"),
      sum(col("sum_dec")).over(w).cast(DecOut).cast(DoubleType).as("running_sum"))
  }

  /** Count-or-time hybrid trigger, batch analog: within each (key,
    * tumbling window), elements ordered by (ts, tieBreak) are emitted
    * as partial aggregates every `maxCount` elements, with a final
    * (possibly short) chunk at window end — the firing pattern of the
    * reference's CustomTrigger(maxCount) which keeps incremental
    * sum/count in ValueState and FIRE_AND_PURGEs every maxCount or at
    * window close (CustomTrigger.java:35-55).
    */
  def triggerChunks(events: DataFrame, key: String, tsCol: String,
                    tieBreak: String, valCol: String,
                    sizeSec: Long, maxCount: Int): DataFrame = {
    val ws = (floor(unix_timestamp(col(tsCol)) / sizeSec) * sizeSec)
      .cast(LongType).as("ws")
    val rankW = Window.partitionBy(col(key), col("ws"))
      .orderBy(col(tsCol), col(tieBreak))
    withMean(events
      .select(col(key), ws, col(tsCol), col(tieBreak), col(valCol))
      .withColumn("chunk",
        floor((row_number().over(rankW) - 1) / maxCount).cast(LongType))
      .groupBy(col(key), col("ws"), col("chunk"))
      .agg(
        sum(col(valCol).cast(Dec)).cast(DecOut).as("sum_dec"),
        count(lit(1)).as("cnt")),
      col(key), col("ws"), col("chunk"))
  }

  @annotation.tailrec
  def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}

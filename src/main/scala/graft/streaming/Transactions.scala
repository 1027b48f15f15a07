package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's transaction entity
  * (org.apache.flink.walkthrough.common.entity.Transaction as used in
  * master/src/main/java/InorderTumblingWindow/TransactionStreamSource.java:26-31):
  * accountId in [0, accounts), amount in [0, 1000), an event-time
  * timestamp.
  */
case class Transaction(accountId: Long, amount: Double, ts: java.sql.Timestamp)

/** Fraud alert emitted when a windowed per-account sum crosses the
  * threshold (reference Alert entity + FraudDetector2.java:22-30).
  */
case class Alert(accountId: Long, windowStartMs: Long, total: Double, cnt: Long)

/** Synthetic transaction stream — Spark-first replacement for the
  * reference's SourceFunction: the built-in `rate` source provides
  * backpressured (value, timestamp) rows; deterministic hashes of
  * `value` derive account and amount, so the stream is reproducible
  * (unlike the reference's java.util.Random) and scales by just
  * raising rowsPerSecond / numPartitions.
  */
object TransactionGen {

  def stream(spark: SparkSession, rowsPerSecond: Int = 100,
             accounts: Int = 10): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        pmod(xxhash64(col("value")), lit(accounts.toLong)).as("accountId"),
        (pmod(xxhash64(col("value"), lit(1)), lit(100000L)).cast(DoubleType) / 100.0)
          .as("amount"),
        col("timestamp").as("ts"))

  /** Event-time perturbation of a Transaction-shaped frame: shifts
    * `ts` by a per-row offset uniform in [−maxSkewMs, +maxSkewMs) —
    * the reference's out-of-order source pipeline, whose watermark
    * assigner adds `(long)(Math.random() * 1000000) - 500000` ms
    * (OutofOrderTumblingWindow/FraudDetectionJob.java:62-70) ahead of
    * a 5 s bounded-out-of-orderness watermark. Here the offset is a
    * HASH of the row (accountId, amount, ts, salt), not RNG state, so
    * the perturbed stream is reproducible run-over-run and
    * partitioning-independent — the property every other graft source
    * keeps and `Math.random()` cannot. Pure projection: apply to the
    * live stream or to a batch frame (how the spec derives expected
    * late-drop counts). `perturb(stream(...))` followed by
    * `withWatermark("ts", "5 seconds")` and a window agg is the
    * reference's out-of-order job.
    */
  def perturb(txns: DataFrame, maxSkewMs: Long = 500000L,
              salt: Long = 0xBADCAFEL): DataFrame =
    txns.withColumn("ts", timestamp_millis(
      unix_millis(col("ts")) +
        pmod(xxhash64(col("accountId"), col("amount"), col("ts"), lit(salt)),
          lit(2 * maxSkewMs)) - maxSkewMs))
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Threshold fraud detection — the reference's core semantic: alert
  * whenever a per-account windowed transaction sum exceeds a
  * threshold (FraudDetector2.java:22-30 with FRAUD_THRESHOLD=10000
  * over per-window sums; FraudDetector.java:94-119 with a 5 s timer
  * buffer).
  *
  * Tumbling-window sum per key, filtered on the threshold. The filter
  * sits above a partial-aggregated shuffle, so at 100 TB the only wide
  * exchange is the (key, window) aggregation; alerts are a tiny
  * filtered result. The same operator is the streaming FraudDetectionJob
  * (window sum → FraudDetector2 threshold): on a stream the caller has
  * given `withWatermark`, append mode emits each window once, when the
  * watermark passes its end.
  */
object Fraud {

  /** Per (key, tumbling window) sums exceeding `threshold`. The
    * threshold compare runs on the exact DECIMAL sum; the output
    * measure is cast to DOUBLE only in the final projection (driver
    * hash parity — see [[Windows]] scaladoc).
    */
  def windowAlerts(events: DataFrame, key: String, tsCol: String,
                   valCol: String, sizeSec: Long, threshold: Double): DataFrame =
    Windows.tumblingAggDec(events, key, tsCol, valCol, sizeSec)
      .filter(col("sum_dec") > lit(threshold).cast(Windows.DecOut))
      .select(col(key), col("ws"),
        col("sum_dec").cast(DoubleType).as("sum_val"), col("cnt"))
}

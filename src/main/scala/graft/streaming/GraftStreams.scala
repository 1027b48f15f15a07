package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Session/state configuration and sinks for graft streams. */
object GraftStreams {

  /** Spark's RocksDB state store — the direct counterpart of the
    * reference's RocksDB state backend (RocksDBManager.java, flink
    * state.backend: rocksdb): keyed streaming state is held off-heap
    * in embedded RocksDB instances per state-store partition, with
    * changelog checkpointing for recovery. At 100 TB / 1000 executors
    * this bounds executor heap while keeping per-key access O(1).
    */
  def withRocksDBState(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

  /** Prometheus scrape endpoint — parity with the reference's
    * Prometheus/Grafana variants (GraphSolution-Prometheus-*
    * flink-conf.yaml configures the PrometheusReporter; FraudDetector
    * .java:50-64 registers throughput/latency gauges). Spark ships
    * the equivalent natively: the driver UI's PrometheusServlet
    * (`/metrics/prometheus`) exposes every registered driver metric,
    * and `spark.sql.streaming.metricsEnabled` publishes per-query
    * streaming gauges (inputRate, processingRate, latency,
    * state-store rows) into that registry — the engine-measured
    * versions of the two gauges the reference computes by hand.
    * Scrape `http://<driver>:<uiPort>/metrics/prometheus`.
    */
  def withPrometheus(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.ui.enabled", "true")
      // driver registry → /metrics/prometheus (PrometheusServlet sink)
      .config("spark.metrics.conf.*.sink.prometheusServlet.class",
        "org.apache.spark.metrics.sink.PrometheusServlet")
      .config("spark.metrics.conf.*.sink.prometheusServlet.path",
        "/metrics/prometheus")
      // executor metrics → /metrics/executors/prometheus
      .config("spark.ui.prometheus.enabled", "true")
      .config("spark.sql.streaming.metricsEnabled", "true")

  /** One micro-batch's write: overwrite this batch's own partition
    * directory. Re-running the same (batch, batchId) — what a retry
    * does — replaces the directory contents, never duplicates.
    */
  private[graft] def writeAlertBatch(batch: DataFrame, batchId: Long,
                                     path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Append alert sink — the reference's AlertSink re-expressed as a
    * replay-idempotent parquet appender via foreachBatch. Each
    * micro-batch overwrites its own `batch_id=<n>` subdirectory, so a
    * batch retried after a failure (foreachBatch gives at-least-once)
    * replaces rather than duplicates its rows — the exactly-once
    * analog of the reference firing each window alert exactly once
    * (FIRE_AND_PURGE, CustomTumblingTrigger.java:26-89). Readers see
    * one partition column `batch_id` on top of the alert schema.
    */
  def parquetAlertSink(alerts: DataFrame, path: String,
                       checkpoint: String): StreamingQuery =
    alerts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeAlertBatch(batch, batchId, path)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}

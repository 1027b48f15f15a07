package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-query throughput/latency gauges — the Spark-first counterpart
  * of the reference's Prometheus instrumentation
  * (GraphSolution-Prometheus-TumblingWindows/src/main/java/spendreport/
  * FraudDetector.java:50-64 registers `transaction_throughput` and
  * `transaction_latency` gauges inside the process function).
  *
  * In Spark the engine already measures both per micro-batch;
  * a StreamingQueryListener observes them without touching the hot
  * path (the reference pays a System.nanoTime per element). Gauges
  * are kept per query name and can be scraped/asserted; wiring them
  * into a metrics registry (Prometheus servlet via
  * spark.metrics.conf) is configuration, not code.
  *
  * A second map keeps the state-store gauges of each query's progress
  * (`stateOperators`), summed over its stateful operators.
  */
class Metrics extends StreamingQueryListener {

  /** name → (inputRowsPerSecond, processedRowsPerSecond, batchDurationMs) */
  val gauges = new ConcurrentHashMap[String, (Double, Double, Long)]()

  /** name → (numRowsTotal, memoryUsedBytes) over all state operators */
  val stateGauges = new ConcurrentHashMap[String, (Long, Long)]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val duration = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    gauges.put(name, (p.inputRowsPerSecond, p.processedRowsPerSecond, duration))
    if (p.stateOperators.nonEmpty)
      stateGauges.put(name, (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

object Metrics {
  /** Attach a fresh listener to the session and return it. */
  def attach(spark: SparkSession): Metrics = {
    val m = new Metrics
    spark.streams.addListener(m)
    m
  }
}

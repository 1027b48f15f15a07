package graft.tools

import graft.GraftSession
import graft.streaming.{Metrics, StreamingDedup, StreamingFraud, TransactionGen}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput benchmark: rate-source transactions through
  * the full fraud pipeline (watermark → tumbling window sum →
  * threshold alerts) for a fixed wall-clock budget, reporting
  * processed rows/sec from the engine's own progress metrics.
  *
  * Context: the reference's TransactionStreamSource emits one
  * transaction per 100 ms sleep (~10 tx/s single-node,
  * TransactionStreamSource.java:34); this pipeline sustains 6-7
  * orders of magnitude more on one node.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val rowsPerSec = args.headOption.map(_.toInt).getOrElse(2000000)
    val seconds = args.lift(1).map(_.toInt).getOrElse(20)
    // pipeline under test: "tumbling" (default, the fraud pipeline),
    // "sliding" (naive size/slide window explode), "panes"
    // (streamingPaneSlidingAgg), "timer" (perElementTimerDetector),
    // "dedup" or "ooo" — sliding vs panes on the same size/slide
    // measures the pane state layout's win directly.
    val pipeline = args.lift(2).getOrElse("tumbling")
    val b0 = GraftSession.builder(appName = "graft-streambench")
    // "timer" and "ooo" run on the RocksDB provider, the reference's
    // state backend
    val spark = (if (pipeline == "timer" || pipeline == "ooo")
      graft.streaming.GraftStreams.withRocksDBState(b0) else b0).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val metrics = Metrics.attach(spark)
    val tx = TransactionGen.stream(spark, rowsPerSecond = rowsPerSec, accounts = 1000)
    val alerts = pipeline match {
      case "sliding" =>
        // same decimal arithmetic as "panes" — the delta isolates the
        // per-row window-state replication, not the aggregate cost
        graft.operators.Windows.streamingNaiveSlidingAgg(tx, "accountId",
          "ts", "amount", sizeSec = 60, slideSec = 5,
          watermarkDelay = "2 seconds")
      case "panes" =>
        graft.operators.Windows.streamingPaneSlidingAgg(tx, "accountId",
          "ts", "amount", sizeSec = 60, slideSec = 5,
          watermarkDelay = "2 seconds")
      case "timer" =>
        // per-element timer detector, GroupState emulation: pending
        // fire-time list managed in user state
        StreamingFraud.perElementTimerDetector(
          tx.as[graft.streaming.Transaction](
            org.apache.spark.sql.Encoders.product),
          windowSec = 5, threshold = 1e12, watermarkDelay = "2 seconds")
          .toDF()
      case "dedup" =>
        // ingest-time dedup throughput: keys collide by design
        // (amount bucketed to 10 units per account), so the state
        // store sees both inserts and hits
        StreamingDedup.exactDedupStream(
          tx.select(col("ts"), concat_ws(" ", lit("tx"), col("accountId"),
            floor(col("amount") / 10).cast("long")).as("text")),
          "ts", "text", watermarkDelay = "2 seconds")
      case "ooo" =>
        // the reference's out-of-order variant at rate: ±500 s
        // hash-perturbed event time (OutofOrderTumblingWindow/
        // FraudDetectionJob.java:62-70) into a 5 s bounded-out-of-
        // orderness watermark on RocksDB state — rows later than the
        // watermark drop, and the engine's numRowsDroppedByWatermark
        // counts them (reported below as lateDropped)
        StreamingFraud.tumblingAlerts(TransactionGen.perturb(tx),
          sizeSec = 5, threshold = 100000.0, watermarkDelay = "5 seconds")
      case _ =>
        StreamingFraud.tumblingAlerts(tx, sizeSec = 5,
          threshold = 100000.0, watermarkDelay = "2 seconds")
    }
    // checkpoint dirs are the largest bench temp artifacts (multi-GB
    // of state store + WAL per 90 s run) — delete on JVM exit, the
    // same hygiene as the `_build_*` table dirs
    val ckptPath = java.nio.file.Files.createTempDirectory("graft_sb")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(ckptPath.toFile)
    }))
    val ckpt = ckptPath.toString
    val q = alerts.writeStream.format("noop")
      .queryName("streambench")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    // A pipeline slower than the configured rate accumulates backlog,
    // so its batches GROW (each covers the wall time of the previous
    // batch's run) — with a fixed sleep the first real batch can
    // outlive the whole budget and the only recorded progress is the
    // empty batch 0, reporting 0 rows/s for a pipeline that was busy
    // the entire time. Wait past the budget (up to 4x) until at least
    // two non-empty batches complete, so every shape reports from
    // batches that actually processed data.
    def nonEmpty() = q.recentProgress.filter(_.numInputRows > 0)
    val deadline = System.nanoTime() + 4L * seconds * 1000 * 1000 * 1000
    Thread.sleep(seconds * 1000L)
    while (nonEmpty().length < 2 && System.nanoTime() < deadline)
      Thread.sleep(5000)
    val progress = nonEmpty()
    q.stop()
    // drop warmup batches only when enough steady ones remain — for a
    // saturated pipeline the big catch-up batches ARE the throughput
    // measurement
    val steady =
      if (progress.length > 4) progress.drop(3) else progress
    val rows = steady.map(_.numInputRows).sum
    val dropped = steady.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    // aggregate rows/time, not mean-of-per-batch-rates: with growing
    // catch-up batches the long batches must carry their weight
    val secsBusy = steady
      .map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      .sum / 1000.0
    val rate = if (secsBusy > 0) rows / secsBusy else 0.0
    println(s"""{"metric":"stream_rows_per_sec","value":$rate,"unit":"rows/sec","rows":$rows,"lateDropped":$dropped,"batches":${steady.length},"configuredRate":$rowsPerSec,"pipeline":"$pipeline"}""")
    spark.stop()
  }
}

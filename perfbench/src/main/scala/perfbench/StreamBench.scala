package perfbench

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{StreamingFraud, Transaction}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Open-loop streaming workload. The generator is Spark's `rate`
  * source: its row timestamps are the rows' scheduled creation times,
  * on a wall-clock schedule that does not slow down when the pipeline
  * does. Seed-salted hashes of the row number project each row into the
  * reference's `Transaction` (account, amount, event time).
  */
object StreamBench {

  /** One streaming workload's shape. `dueMs` is how long after an
    * alert's `windowStartMs` the alert became due (the fire time).
    */
  case class Shape(name: String, rowsPerSecond: Int, accounts: Long, skewMs: Long,
                   dueMs: Long, warmupS: Int, pipeline: DataFrame => DataFrame)

  /** The reference's FraudDetector: a timer 5 s after every element,
    * +-3 s event-time skew under a 5 s watermark. Threshold 0.0: at
    * the reference's 10000 this detector stops alerting in steady
    * state, which would leave no latency samples. 12,000 rows/s keeps
    * a 4-core box below saturation even when other tenants slow it.
    * 15 s of warm-up: until then the state grows and the JIT is still
    * compiling, and the CPU per micro-batch keeps falling.
    */
  val timerShape: Shape = Shape("stream_timer", 12000, 100000L, 3000L,
    5000L, 15, timerPipeline)

  private def timerPipeline(tx: DataFrame): DataFrame =
    StreamingFraud.perElementTimerDetector(tx.as[Transaction](Encoders.product[Transaction]),
      5, 0.0, "5 seconds").toDF()

  def timer(o: Opts, trace: Trace): Result = run(o, trace, timerShape)

  /** Projects `value`/`timestamp` rows into transactions. */
  def transactions(rows: DataFrame, seed: Long, accounts: Long, skewMs: Long): DataFrame = {
    val ts =
      if (skewMs == 0) col("timestamp")
      else timestamp_millis(unix_millis(col("timestamp")) +
        pmod(xxhash64(col("value"), lit(seed + 2)), lit(2 * skewMs)) - skewMs)
    rows.select(
      pmod(xxhash64(col("value"), lit(seed)), lit(accounts)).as("accountId"),
      (pmod(xxhash64(col("value"), lit(seed + 1)), lit(100000L)).cast("double") / 100.0)
        .as("amount"),
      ts.as("ts"))
  }

  /** Alert identity for checks: amounts are whole cents, so sums compare
    * in cents, independent of summation order.
    */
  type Key = (Long, Long, Long, Long)

  private def key(r: Row): Key = (r.getAs[Long]("accountId"), r.getAs[Long]("windowStartMs"),
    math.round(r.getAs[Double]("total") * 100), r.getAs[Long]("cnt"))

  case class Emitted(batchId: Long, emitMs: Long, rows: Array[Row])

  private def sink(q: ConcurrentLinkedQueue[Emitted])(b: DataFrame, id: Long): Unit = {
    val rows = b.collect()
    q.add(Emitted(id, System.currentTimeMillis(), rows))
  }

  private val setups = 3

  def run(o: Opts, trace: Trace, shape: Shape): Result = {
    // Set-up, repeated: a fresh session, then the generator's projection
    // and a keyed aggregation once over a small static frame, so the
    // session's classes and code generation are warm. (The timer
    // detector itself cannot run in batch: it reads the watermark.)
    var spark: SparkSession = null
    val setupSecs = (0 until setups).map { i =>
      val t0 = if (i == 0) Main.jvmStartMs / 1e3 else System.currentTimeMillis() / 1e3
      if (spark != null) spark.stop()
      spark = Main.session(o, s"perfbench-${shape.name}")
      trace.attach(spark)
      trace.span(s"setup:$i") {
        val static = spark.range(0, 50000, 1, o.cores).select(col("id").as("value"),
          timestamp_millis(lit(System.currentTimeMillis()) + col("id").divide(10).cast("long")).as("timestamp"))
        transactions(static, o.seed, shape.accounts, shape.skewMs)
          .groupBy("accountId").agg(sum("amount"), max("ts")).collect()
      }
      System.currentTimeMillis() / 1e3 - t0
    }

    val ckpt = o.work.resolve(s"ckpt-${shape.name}")
    Main.deleteTree(ckpt)
    val emitted = new ConcurrentLinkedQueue[Emitted]()
    val cpuAt = new ConcurrentLinkedQueue[(Long, Double)]()
    val cpuProbe = new CpuProbe(cpuAt)
    spark.streams.addListener(cpuProbe)
    // Start at a fixed sub-second phase: 1 s triggers fire on whole
    // seconds, and the rate source's second boundaries follow its
    // creation time, so the phase between them shifts every latency.
    // The source fixes its creation time about 0.4 s after start();
    // starting at .100 keeps that phase near mid-second, away from the
    // boundary where latencies would jump by a whole second.
    Thread.sleep((1100 - System.currentTimeMillis() % 1000) % 1000)
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", shape.rowsPerSecond)
      .option("numPartitions", o.cores).load()
    val q = shape.pipeline(transactions(src, o.seed, shape.accounts, shape.skewMs))
      .writeStream.foreachBatch(sink(emitted) _)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val started = System.currentTimeMillis()
    val t0 = started + shape.warmupS * 1000L
    val t1 = t0 + o.seconds * 1000L
    def sleepUntil(t: Long): Unit =
      while (System.currentTimeMillis() < t && q.isActive) Thread.sleep(math.min(50L, t - System.currentTimeMillis()).max(1L))
    sleepUntil(t0)
    val cpu0 = Main.cpuSeconds()
    val jit0 = Main.jitSeconds()
    val host0 = Main.hostTicks()
    sleepUntil(t1)
    val cpu1 = Main.cpuSeconds()
    val jit1 = Main.jitSeconds()
    val steal = Main.stealPct(host0, Main.hostTicks())
    // let the batch running at t1 finish, so its progress is recorded
    val lastId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = System.currentTimeMillis() + 15000
    while (q.isActive && Option(q.lastProgress).map(_.batchId).getOrElse(-1L) <= lastId &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    q.stop()
    spark.streams.removeListener(cpuProbe)
    val creationMs = Files.readAllLines(ckpt.resolve("sources/0/0")).asScala.last.trim.toLong
    val queryFailed = q.exception.isDefined
    q.exception.foreach(e => System.err.println(s"[perfbench] ${shape.name} query failed: ${e.getMessage}"))

    val progress = q.recentProgress.toSeq
    val measured = progress.filter { p =>
      val s = startMs(p)
      s >= t0 && s < t1
    }
    val alerts = emitted.asScala.toSeq
    val inWindow = alerts.filter(e => e.emitMs >= t0 && e.emitMs <= t1)
    val latencies = inWindow.flatMap(e =>
      e.rows.map(r => (e.emitMs - r.getAs[Long]("windowStartMs") - shape.dueMs).toDouble))

    val ((checked, mismatched, checkReport), checkS) = Main.timed {
      checkTimerReplay(spark, o, shape)
    }
    val fewSamples = if (latencies.size < 1000) {
      System.err.println(s"[perfbench] only ${latencies.size} alerts in the measured window")
      1L
    } else 0L
    val failed = (if (queryFailed) 1L else 0L) + mismatched + fewSamples
    val attempted = measured.size.toLong + checked + 1

    trace.drain()
    val perLayer = if (trace.enabled) layers(trace, measured, t1 - t0, inWindow.map(_.rows.length).sum) else Nil
    val gc = Main.gcSeconds()
    spark.stop()
    Main.deleteTree(ckpt)

    val cpuS = cpuOverWindow(cpuAt.asScala.toSeq, t0, t1)
    val durs = measured.map(p => dur(p, "triggerExecution"))
    val rows = measured.map(_.numInputRows).sum
    val capacity = if (durs.sum > 0) rows / (durs.sum / 1e3) else 0.0
    val setupS = Main.median(setupSecs)
    val p50 = Main.quantile(latencies, 0.5)
    Result(attempted, failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("cpu_s", cpuS, "s"),
        ("work_p50_ms", Main.median(durs), "ms"),
        ("latency_ms", p50, "ms")),
      perLayer = Layers.fill(perLayer ++ Seq(
        ("jvm.gc_s", gc, "s"), ("jvm.jit_s", jit1 - jit0, "s"), ("jvm.heap_peak_mb", Main.heapPeakMb(), "MB"),
        ("jvm.rss_peak_mb", Main.rssPeakMb(), "MB"))),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("setup_first_s", setupSecs.head, "s"),
        ("warmup_s", shape.warmupS.toDouble, "s"),
        ("input_rows_per_s", shape.rowsPerSecond.toDouble, "rows/s"),
        ("alert_latency_p50_ms", p50, "ms"),
        ("alert_latency_p99_ms", Main.quantile(latencies, 0.99), "ms"),
        ("alert_latency_samples", latencies.size.toDouble, "count"),
        ("microbatch_p50_ms", Main.median(durs), "ms"),
        ("microbatches", durs.size.toDouble, "count"),
        ("capacity_rows_per_s", capacity, "rows/s"),
        ("cpu_s", cpuS, "s"),
        ("cpu_window_s", cpu1 - cpu0, "s"),
        ("rss_peak_mb", Main.rssPeakMb(), "MB"),
        ("host_steal_pct", steal, "%"),
        ("check_s", checkS, "s"),
        ("source_phase_ms", (creationMs % 1000).toDouble, "ms")) ++ checkReport)
  }

  /** Records the process CPU time as each micro-batch's progress
    * arrives, keyed by wall-clock time.
    */
  private class CpuProbe(out: ConcurrentLinkedQueue[(Long, Double)]) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      out.add((System.currentTimeMillis(), Main.cpuSeconds()))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Process CPU-seconds over the window [t0, t1): the median CPU rate
    * between consecutive micro-batch completions inside it, times its
    * length. Each interval holds one batch and the idle time after it,
    * so the median is robust to a single GC pause, compaction or JIT
    * burst, where a plain difference over the window is not.
    */
  private def cpuOverWindow(at: Seq[(Long, Double)], t0: Long, t1: Long): Double = {
    val in = at.filter { case (t, _) => t >= t0 && t < t1 }
    val rates = in.zip(in.drop(1)).collect {
      case ((ta, ca), (tb, cb)) if tb > ta => (cb - ca) / ((tb - ta) / 1e3)
    }
    Main.median(rates) * (t1 - t0) / 1e3
  }

  private def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Per-layer figures from the measured micro-batches' progress:
    * durations as per-batch medians, counts summed over the window,
    * state size as of the last batch. Each micro-batch also becomes a
    * span whose children are its `durationMs` parts.
    */
  private def layers(trace: Trace, ps: Seq[StreamingQueryProgress], windowMs: Long,
                     alerts: Int): Seq[(String, Double, String)] = {
    ps.foreach { p =>
      val s = startMs(p).toDouble
      val key = s"batch:${p.batchId}"
      val id = trace.add(s"microbatch:${p.batchId}", 0, s, s + dur(p, "triggerExecution"), key)
      var at = s
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k => trace.add(s"$k:${p.batchId}", id, at, at + dur(p, k)); at += dur(p, k) }
      p.stateOperators.foreach { so =>
        trace.bump(key, "state_rows_total", so.numRowsTotal)
        trace.bump(key, "state_rows_updated", so.numRowsUpdated)
        trace.bump(key, "state_commit_ms", so.commitTimeMs)
        so.customMetrics.asScala.foreach { case (k, v) => trace.bump(key, k, v.longValue) }
      }
    }
    def med(k: String) = Main.median(ps.map(dur(_, k)))
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def custom(k: String) = ops.map(so => Option(so.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0))
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    val lag = ps.flatMap(p => Option(p.eventTime.get("max"))
      .map(m => (startMs(p) - Instant.parse(m).toEpochMilli).toDouble))
    val keys = ps.map(p => s"batch:${p.batchId}")
    def cnt(m: String) = keys.map(trace.count(_, m)).sum.toDouble
    Seq(
      ("source.rows", ps.map(_.numInputRows).sum.toDouble, ""),
      ("source.latest_offset_ms", med("latestOffset"), ""),
      ("source.get_batch_ms", med("getBatch"), ""),
      ("source.lag_ms", Main.median(lag), ""),
      ("stream.query_planning_ms", med("queryPlanning"), ""),
      ("stream.add_batch_ms", med("addBatch"), ""),
      ("stream.busy_frac", ps.map(dur(_, "triggerExecution")).sum / windowMs, ""),
      ("microbatch.p90_ms", Main.quantile(ps.map(dur(_, "triggerExecution")), 0.9), ""),
      ("sink.alerts", alerts.toDouble, ""),
      ("state.commit_ms", Main.median(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), ""),
      ("state.rows_total", last.map(_.numRowsTotal).sum.toDouble, ""),
      ("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, ""),
      ("state.rows_removed", ops.map(_.numRowsRemoved).sum.toDouble, ""),
      ("state.memory_bytes", last.map(_.memoryUsedBytes).sum.toDouble, ""),
      ("state.rows_dropped_by_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, ""),
      ("state.rocksdb_get_count", custom("rocksdbGetCount").sum, ""),
      ("state.rocksdb_put_count", custom("rocksdbPutCount").sum, ""),
      ("state.rocksdb_bytes_written", custom("rocksdbTotalBytesWritten").sum, ""),
      ("state.rocksdb_file_sync_ms", Main.median(custom("rocksdbCommitFileSyncLatencyMs")), ""),
      ("state.rocksdb_compact_ms", Main.median(custom("rocksdbCommitCompactLatency")), ""),
      ("wal.offset_log_ms", med("walCommit"), ""),
      ("wal.commit_log_ms", med("commitOffsets"), ""),
      ("exec.jobs", cnt("jobs"), ""),
      ("exec.stages", cnt("stages"), ""),
      ("exec.tasks", cnt("tasks"), ""),
      ("exec.task_cpu_s", cnt("task_cpu_ns") / 1e9, ""),
      ("exec.task_overhead_s", cnt("task_overhead_ms") / 1e3, ""),
      ("shuffle.read_bytes", cnt("shuffle_read_bytes"), ""),
      ("shuffle.write_bytes", cnt("shuffle_write_bytes"), ""),
      ("shuffle.spill_bytes", cnt("spill_bytes"), ""))
  }

  // ---- checks ----------------------------------------------------------

  /** Replay sizes: every account sees rows in every batch, and timers
    * fire from about the fifth batch on. One second of event time per
    * batch: with longer steps, every firing after an account's first
    * finds its buffer already cleared, and the replay could no longer
    * tell a detector that fires once per account from the reference.
    */
  private val replayBatches = 10
  private val replayRows = 20000
  private val replayAccounts = 100L
  private val replayAdvanceMs = 1000L

  /** `perElementTimerDetector` on a deterministic replay (`rate-micro-batch`:
    * batch k holds rows [k*n, (k+1)*n), all stamped start + k s, then
    * skewed) against [[TimerModel]], a plain-Scala model of the
    * reference's order.
    */
  private def checkTimerReplay(spark: SparkSession, o: Opts,
                               shape: Shape): (Long, Long, Seq[(String, Double, String)]) = {
    val startTs = 1700000000000L
    val ckpt = o.work.resolve("ckpt-replay")
    Main.deleteTree(ckpt)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", replayRows).option("numPartitions", o.cores)
      .option("startTimestamp", startTs).option("advanceMillisPerBatch", replayAdvanceMs).load()
    val out = new ConcurrentLinkedQueue[Emitted]()
    // one state partition: the answer cannot depend on partitioning, and
    // one RocksDB instance commits each replay batch fastest
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val q = shape.pipeline(transactions(src, o.seed, replayAccounts, shape.skewMs))
      .writeStream.foreachBatch(sink(out) _)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0L)).start()
    val deadline = System.currentTimeMillis() + 60000
    while (q.isActive && Option(q.lastProgress).forall(_.batchId < replayBatches - 1) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    q.stop()
    spark.conf.set("spark.sql.shuffle.partitions", o.cores.toString)
    Main.deleteTree(ckpt)
    val got = out.asScala.filter(_.batchId < replayBatches).flatMap(_.rows.map(key)).toSeq
    val ids = out.asScala.map(_.batchId).toSet
    val complete = (0L until replayBatches).forall(ids.contains)
    if (!complete || q.exception.isDefined) {
      System.err.println(s"[perfbench] timer replay did not complete: ${q.exception.map(_.getMessage)}")
      return (1L, 1L, Nil)
    }
    // the same rows in value order (range partitions are ordered)
    val input = transactions(spark.range(0, replayBatches.toLong * replayRows, 1, o.cores)
      .select(col("id").as("value"),
        timestamp_millis(lit(startTs) + (col("id") / replayRows).cast("long") * replayAdvanceMs)
          .as("timestamp")),
      o.seed, replayAccounts, shape.skewMs)
      .select(col("accountId"), col("amount"), unix_millis(col("ts")))
      .collect()
    val expected = TimerModel.run(input.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))),
      replayRows, windowMs = 5000, delayMs = 5000, threshold = 0.0)
    val g = mutable.Map.empty[Key, Int].withDefaultValue(0)
    got.foreach(k => g(k) += 1)
    val e = mutable.Map.empty[Key, Int].withDefaultValue(0)
    expected.foreach(k => e(k) += 1)
    val diff = (g.keySet ++ e.keySet).toSeq.map(k => math.abs(g(k) - e(k))).sum
    if (diff > 0) System.err.println(
      s"[perfbench] stream_timer replay: ${got.size} alerts, model ${expected.size}, $diff differ")
    ((got.size max expected.size).toLong, diff.toLong,
      Seq(("replay_alerts", got.size.toDouble, "count"),
        ("replay_model_alerts", expected.size.toDouble, "count")))
  }
}

/** Plain-Scala model of the reference FraudDetector's order on a replay:
  * at the start of each batch, every timer due at the watermark (the
  * largest event time of the earlier batches minus the delay) fires in
  * event-time order; each firing sums the buffered records in
  * [t - window, t), alerts over the threshold and clears the whole
  * buffer. Only then are the batch's own rows buffered, each arming a
  * timer at its event time plus the window.
  */
object TimerModel {
  def run(rows: Seq[(Long, Double, Long)], rowsPerBatch: Int, windowMs: Long,
          delayMs: Long, threshold: Double): Seq[StreamBench.Key] = {
    val pending = mutable.Map.empty[Long, mutable.SortedSet[Long]]
    val buffer = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
    val alerts = mutable.ArrayBuffer.empty[StreamBench.Key]
    var maxTs = Long.MinValue
    var wm = 0L
    rows.grouped(rowsPerBatch).foreach { batch =>
      pending.foreach { case (acct, timers) =>
        val due = timers.filter(_ <= wm).toList
        due.foreach { t =>
          val buf = buffer.getOrElse(acct, mutable.ArrayBuffer.empty)
          val inWin = buf.filter { case (ts, _) => ts >= t - windowMs && ts < t }
          // sum in cents: amounts are whole cents
          val cents = inWin.map(r => math.round(r._2 * 100)).sum
          buffer(acct) = mutable.ArrayBuffer.empty
          if (cents > math.round(threshold * 100))
            alerts += ((acct, t - windowMs, cents, inWin.size.toLong))
          timers -= t
        }
      }
      batch.foreach { case (acct, amount, ts) =>
        buffer.getOrElseUpdate(acct, mutable.ArrayBuffer.empty) += ((ts, amount))
        pending.getOrElseUpdate(acct, mutable.SortedSet.empty[Long]) += ts + windowMs
        maxTs = math.max(maxTs, ts)
      }
      wm = math.max(wm, maxTs - delayMs)
    }
    alerts.toSeq
  }
}

package graft

import graft.operators.{Fraud, Windows}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics of the reference jobs, driven synchronously
  * through MemoryStream batches (each addData + processAllAvailable
  * is one microbatch; the event-time watermark advances between
  * batches, which is what fires append-mode windows and event-time
  * timeouts).
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Base = 1704067200000L // 2024-01-01T00:00:00Z
  private def tx(acct: Long, amount: Double, offsetSec: Long) =
    Transaction(acct, amount, new java.sql.Timestamp(Base + offsetSec * 1000))

  private val RocksDBProvider = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Runs `body` with session confs set, restoring the previous values. */
  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Seeded feed for the detector specs: 6 keys, 8 batches of 25 rows
    * whose offsets drift forward 7 s a batch with ±2 s jitter (out of
    * order, never behind the 2 s watermark), then a closing row at
    * 200 s that makes every pending timer due.
    */
  private lazy val randomFeed: Seq[Seq[Transaction]] = {
    val rng = new scala.util.Random(20260815L)
    (0 until 8).map { b =>
      (0 until 25).map { _ =>
        tx(rng.nextInt(6).toLong, (rng.nextInt(12) * 10).toDouble,
          math.max(0, b * 7 + rng.nextInt(7) - 2).toLong)
      }
    } :+ Seq(tx(99, 1, 200))
  }

  /** Four data batches and the closing row: the restart specs rerun
    * the feed once per batch, and 10 s windows still span batches.
    */
  private lazy val shortFeed: Seq[Seq[Transaction]] =
    randomFeed.take(4) :+ randomFeed.last

  /** Alert rows as sorted (account, window start, cents, count). */
  private def alertKeys(alerts: DataFrame): Seq[FraudDetectorModel.Alert] =
    alerts.select("accountId", "windowStartMs", "total", "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100),
        r.getLong(3))).toSeq.sorted

  /** Restart equivalence on RocksDB with changelog checkpointing:
    * feeds `feed` through `query` into the parquet alert sink once
    * uninterrupted, then once per k stopped after batch k and restarted
    * from the same checkpoint, and asserts every run's `rows` equal the
    * uninterrupted run's (returned). The sink overwrites a replayed
    * batch, so equality means exactly-once state and offsets. A query
    * that needs another output mode writes through the sink's same
    * per-batch writer.
    */
  private def assertRestartEquivalent[T: Encoder, R](feed: Seq[Seq[T]],
      mode: OutputMode = OutputMode.Append)(
      query: Dataset[T] => DataFrame)(rows: DataFrame => R): R =
    withConf(RocksDBProvider ++ Seq(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "2")) {
      implicit val sqlCtx = spark.sqlContext
      def run(stopAfter: Int): R = {
        val dir = Stored.tempDir("graft_restart")
        val input = MemoryStream[T]
        val out = query(input.toDS())
        def start(): StreamingQuery =
          if (mode == OutputMode.Append)
            GraftStreams.parquetAlertSink(out, s"$dir/out", s"$dir/ckpt")
          else out.writeStream.outputMode(mode)
            .foreachBatch { (b: DataFrame, id: Long) =>
              GraftStreams.writeAlertBatch(b, id, s"$dir/out")
            }
            .option("checkpointLocation", s"$dir/ckpt").start()
        def runPart(batches: Seq[Seq[T]]): Unit = {
          val q = start()
          try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
          finally q.stop()
        }
        Seq(feed.take(stopAfter), feed.drop(stopAfter)).filter(_.nonEmpty)
          .foreach(runPart)
        rows(spark.read.parquet(s"$dir/out"))
      }
      val uninterrupted = run(feed.length)
      (1 until feed.length).foreach { k =>
        assert(run(k) === uninterrupted, s"restart after batch $k")
      }
      uninterrupted
    }

  private def runToSink(df: DataFrame, name: String, mode: String)(
      feed: (Int => Unit) => Unit): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try feed(_ => q.processAllAvailable())
    finally { q.processAllAvailable(); q.stop() }
    spark.table(name)
  }

  test("tumbling window alerts fire when the watermark passes window end") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = Fraud.windowAlerts(input.toDF().withWatermark("ts", "5 seconds"),
      "accountId", "ts", "amount", sizeSec = 10, threshold = 100.0)
    val sink = runToSink(alerts, "t_alerts", "append") { step =>
      input.addData(tx(1, 60, 1), tx(1, 70, 3), tx(2, 30, 2))
      step(0)
      input.addData(tx(9, 1, 30)) // watermark → 25s, closes [0,10)
      step(0)
      input.addData(tx(9, 1, 31))
      step(0)
    }
    val rows = sink.collect()
    assert(rows.map(_.getLong(0)).toSet === Set(1L)) // only acct 1 crossed
    val r = rows.head
    assert(r.getLong(1) === Base / 1000)
    assert(math.abs(r.getDouble(2) - 130.0) < 1e-9)
  }

  test("late data beyond the watermark is dropped (out-of-order handling)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val agg = Fraud.windowAlerts(input.toDF().withWatermark("ts", "5 seconds"),
      "accountId", "ts", "amount", sizeSec = 10, threshold = 0.0)
    val sink = runToSink(agg, "t_late", "append") { step =>
      input.addData(tx(1, 50, 1))
      step(0)
      input.addData(tx(2, 50, 100)) // watermark → 95s
      step(0)
      input.addData(tx(7, 999, 50)) // 45s late: dropped
      step(0)
      input.addData(tx(9, 1, 200), tx(9, 1, 201)) // close everything
      step(0)
    }
    assert(sink.filter(col("accountId") === 7).count() === 0)
    assert(sink.filter(col("accountId") === 1).count() === 1)
  }

  test("perturbed out-of-order source: end-to-end pipeline drops the " +
      "late batch, keeps the perturbed windows (reference " +
      "OutofOrderTumblingWindow semantics)") {
    implicit val sqlCtx = spark.sqlContext
    // the full reference pipeline: source → ±500 s hash perturbation →
    // 5 s watermark → tumbling sum. Because perturb() is a pure
    // projection, the EXPECTED output is the same operator in batch
    // mode over the same rows — the stream must agree exactly.
    val phase1 = Seq(tx(1, 60, 10), tx(1, 70, 400), tx(2, 30, 200))
    val phase3 = Seq(tx(7, 999, 20), tx(7, 5, 300))
    val sizeSec = 10L

    val input = MemoryStream[Transaction]
    val piped = Fraud.windowAlerts(
      TransactionGen.perturb(input.toDF()).withWatermark("ts", "5 seconds"),
      "accountId", "ts", "amount", sizeSec, threshold = 0.0)
    val sink = runToSink(piped, "t_ooo", "append") { step =>
      input.addData(phase1: _*)
      step(0)
      // closer: perturbed ts ≥ Base+1500 s pushes the watermark past
      // every phase-1/phase-3 window end (their perturbed ts ≤
      // Base+900 s), exactly like the reference's bounded strategy
      input.addData(tx(9, 1, 2000))
      step(0)
      input.addData(phase3: _*) // every row now beyond the watermark
      step(0)
      input.addData(tx(9, 1, 4000)) // close anything still open
      step(0)
    }

    val expected = Fraud.windowAlerts(TransactionGen.perturb(phase1.toDF()),
      "accountId", "ts", "amount", sizeSec, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val got = sink.filter(col("accountId").isin(1L, 2L, 7L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got === expected)
    // the late batch died at the watermark: account 7 never emits
    assert(!got.exists(_._1 == 7L))
    // and the perturbation actually moved event time off the source
    // second marks (offsets are not multiples of 1000 ms)
    val moved = TransactionGen.perturb(phase1.toDF())
      .filter(unix_millis(col("ts")) % 1000 =!= 0).count()
    assert(moved > 0)
  }

  test("timer detector buffers per account and alerts on event-time timeout") {
    // per-element order: acct 1 arms timers {6, 7}, acct 2 arms {6}.
    // The t=60 row moves the watermark to 58 s; timer@6 fires [1,6) =
    // {1:60, 2:70} → one alert (ws=1 s, 130, 2 records) and clears
    // the buffer, so timer@7 sees nothing; acct 2's 10 stays below 100.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = 100.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_timer", "append") { step =>
      input.addData(tx(1, 60, 1), tx(1, 70, 2)) // timer at t=6s
      input.addData(tx(2, 10, 1)) // below threshold, timer at 6s
      step(0)
      input.addData(tx(9, 1, 60)) // watermark → 58s, fires timers
      step(0)
      input.addData(tx(9, 1, 61))
      step(0)
    }
    val rows = sink.collect()
    assert(rows.map(_.getLong(0)).toSet === Set(1L))
    assert(math.abs(rows.head.getDouble(2) - 130.0) < 1e-9)
    assert(rows.head.getLong(3) === 2L)
  }

  test("timer detector runs on the RocksDB state store provider") {
    // acct 1's single row arms timer@6; watermark 58 s fires [1,6) =
    // 200 > 100 → exactly one alert
    withConf(RocksDBProvider) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Transaction]
      val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
        windowSec = 5, threshold = 100.0, watermarkDelay = "2 seconds")
      val sink = runToSink(alerts.toDF(), "t_timer_rocks", "append") { step =>
        input.addData(tx(1, 200, 1))
        step(0)
        input.addData(tx(9, 1, 60))
        step(0)
        input.addData(tx(9, 1, 61))
        step(0)
      }
      assert(sink.filter(col("accountId") === 1).count() === 1)
    }
  }

  test("hybrid trigger fires every maxCount and a final firing on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val partials = StreamingFraud.hybridTrigger(input.toDS(), maxCount = 5,
      timeoutSec = 10, watermarkDelay = "2 seconds")
    val sink = runToSink(partials.toDF(), "t_hybrid", "append") { step =>
      input.addData((1 to 12).map(i => tx(1, i.toDouble, i)): _*)
      step(0)
      input.addData(tx(9, 1, 100)) // watermark → 98s: final fire of the rest
      step(0)
      input.addData(tx(9, 1, 101))
      step(0)
    }
    val acct1 = sink.filter(col("accountId") === 1).collect()
      .map(r => (r.getLong(1), r.getBoolean(3))).sortBy(_.toString)
    // 12 elements, maxCount 5 → two early FIRE_AND_PURGE of 5, final 2
    assert(acct1.count(!_._2) === 2)
    assert(acct1.filter(!_._2).forall(_._1 === 5L))
    assert(acct1.filter(_._2).map(_._1).sum === 2L)
  }

  test("transaction generator produces bounded deterministic fields") {
    val df = TransactionGen.stream(spark, rowsPerSecond = 100)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq === Seq("accountId", "amount", "ts"))
  }

  test("alert sink appends batches to parquet") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Stored.tempDir("graft_sink")
    val input = MemoryStream[Transaction]
    val alerts = Fraud.windowAlerts(input.toDF().withWatermark("ts", "5 seconds"),
      "accountId", "ts", "amount", sizeSec = 10, threshold = 100.0)
    val q = GraftStreams.parquetAlertSink(alerts, s"$dir/out", s"$dir/ckpt")
    try {
      input.addData(tx(1, 200, 1))
      q.processAllAvailable()
      input.addData(tx(9, 1, 30))
      q.processAllAvailable()
      input.addData(tx(9, 1, 31))
      q.processAllAvailable()
    } finally q.stop()
    val written = spark.read.parquet(s"$dir/out")
    assert(written.filter(col("accountId") === 1).count() === 1)
  }

  test("alert sink is replay-idempotent: a retried batch does not duplicate") {
    val dir = Stored.tempDir("graft_sink_retry")
    val batch = spark.range(5).select(col("id").as("accountId"),
      (col("id") * 10.0).as("total"))
    GraftStreams.writeAlertBatch(batch, 0L, s"$dir/out")
    GraftStreams.writeAlertBatch(batch, 0L, s"$dir/out") // simulated retry
    GraftStreams.writeAlertBatch(batch, 1L, s"$dir/out") // a distinct batch
    val written = spark.read.parquet(s"$dir/out")
    assert(written.count() === 10) // 5 per batch, retry replaced batch 0
    assert(written.filter(col("batch_id") === 0).count() === 5)
  }

  test("sliding window means emit per-slide panes (reference pane slicing)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val means = Windows.slidingAgg(
      input.toDF().withWatermark("ts", "5 seconds"), "accountId", "ts",
      "amount", sizeSec = 10, slideSec = 5)
    val sink = runToSink(means, "t_slide", "append") { step =>
      input.addData(tx(1, 10, 6), tx(1, 30, 8)) // windows [0,10) [5,15)
      step(0)
      input.addData(tx(9, 1, 60))
      step(0)
      input.addData(tx(9, 1, 61))
      step(0)
    }
    val acct1 = sink.filter(col("accountId") === 1)
      .select("ws", "cnt", "sum_val", "mean_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    // both windows hold both rows: mean (10+30)/2 = 20.00
    assert(acct1 === Set(Base / 1000, Base / 1000 + 5).map((_, 2L, 40.0, 2000L)))
  }

  test("stream-static enrichment join attaches dimension attributes") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("accountId"), col("c_mktsegment"))
    val input = MemoryStream[Transaction]
    val enriched = input.toDF().join(broadcast(dim), Seq("accountId"))
      .groupBy(col("c_mktsegment")).agg(sum(col("amount")).as("total"))
    val q = enriched.writeStream.format("memory").queryName("t_enrich")
      .outputMode("complete").start()
    try {
      input.addData(tx(1, 100, 1), tx(2, 50, 2))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("t_enrich").collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(1)).sum - 150.0) < 1e-9)
  }

  test("metrics listener records throughput and latency per query") {
    implicit val sqlCtx = spark.sqlContext
    val metrics = Metrics.attach(spark)
    try {
      val input = MemoryStream[Transaction]
      val agg = Fraud.windowAlerts(input.toDF().withWatermark("ts", "5 seconds"),
        "accountId", "ts", "amount", sizeSec = 10, threshold = 0.0)
      val q = agg.writeStream.format("memory").queryName("t_metrics")
        .outputMode("append").start()
      try {
        input.addData(tx(1, 10, 1), tx(2, 20, 2))
        q.processAllAvailable()
        input.addData(tx(9, 1, 30))
        q.processAllAvailable()
      } finally q.stop()
      // listener events are delivered asynchronously
      var waited = 0
      while (!metrics.gauges.containsKey("t_metrics") && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      val (_, processed, duration) = metrics.gauges.get("t_metrics")
      assert(processed >= 0.0)
      assert(duration >= 0L)
      // a detector query: its three keys' timers (6, 7, 8 s) stay armed
      // under the 5 s delay, so every progress reports their state rows
      val txs = MemoryStream[Transaction]
      val detector = StreamingFraud.perElementTimerDetector(txs.toDS(),
        windowSec = 5, threshold = 0.0, watermarkDelay = "5 seconds")
      val qd = detector.writeStream.format("memory").queryName("t_metrics_state")
        .outputMode("append").start()
      try {
        txs.addData(tx(1, 10, 1), tx(2, 20, 2))
        qd.processAllAvailable()
        txs.addData(tx(3, 30, 3))
        qd.processAllAvailable()
      } finally qd.stop()
      waited = 0
      while (!metrics.stateGauges.containsKey("t_metrics_state") && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      val (stateRows, stateBytes) = metrics.stateGauges.get("t_metrics_state")
      assert(stateRows >= 2L)
      assert(stateBytes > 0L)
    } finally spark.streams.removeListener(metrics)
  }

  test("running totals accumulate across micro-batches (state merge)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val totals = StreamingFraud.runningTotals(input.toDS()).toDF()
      .select(col("_1").as("acct"), col("_2").as("total"), col("_3").as("cnt"))
    val q = totals.writeStream.format("memory").queryName("t_running")
      .outputMode("update").start()
    try {
      input.addData(tx(1, 100, 1), tx(1, 50, 2))
      q.processAllAvailable()
      input.addData(tx(1, 25, 3)) // next batch: state must carry 150
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("t_running").filter(col("acct") === 1)
      .orderBy(col("cnt").desc).head
    assert(math.abs(last.getDouble(1) - 175.0) < 1e-9)
    assert(last.getLong(2) === 3L)
  }

  test("in-order streams work with a zero-delay (ascending) watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val agg = Fraud.windowAlerts(input.toDF().withWatermark("ts", "0 seconds"),
      "accountId", "ts", "amount", sizeSec = 10, threshold = 0.0)
    val sink = runToSink(agg, "t_inorder", "append") { step =>
      input.addData(tx(1, 5, 1), tx(1, 5, 9))
      step(0)
      input.addData(tx(2, 1, 10)) // watermark reaches 10s exactly
      step(0)
      input.addData(tx(2, 1, 11))
      step(0)
    }
    assert(sink.filter(col("accountId") === 1).count() === 1)
  }

  test("pending timer fires before same-batch data, clearing the buffer") {
    // mirrors the reference: onTimer clears the buffer (FraudDetector
    // .java:114-118); a later transaction starts a fresh buffer.
    // Per-element order: acct 1 arms timers {6, 7}. Watermark 98 s
    // makes both due; they fire before acct 1's next row is buffered,
    // whether in Spark's no-data batch or at the start of the t=99
    // batch: timer@6 → [1,6) = 130 alerts (ws=1 s), timer@7 sees the
    // cleared buffer. The t=99 row (50) arms timer@104, which the
    // t=200 row fires over [99,104) = 50 < 100: no second alert.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = 100.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_timerclear", "append") { step =>
      input.addData(tx(1, 60, 1), tx(1, 70, 2)) // sum 130, timer at 6s
      step(0)
      input.addData(tx(9, 1, 100)) // watermark -> 98s (past the timer)
      step(0)
      // same key, same batch as the expired timer: the old buffer must
      // alert (130) and THEN this event starts a fresh buffer (50)
      input.addData(tx(1, 50, 99))
      step(0)
      input.addData(tx(9, 1, 200))
      step(0)
      input.addData(tx(9, 1, 201))
      step(0)
    }
    val acct1 = sink.filter(col("accountId") === 1).collect()
    assert(acct1.length === 1) // fresh 50-buffer stays below threshold
    assert(math.abs(acct1.head.getDouble(2) - 130.0) < 1e-9)
    assert(acct1.head.getLong(1) === Base + 1000)
  }

  test("per-element timers: a pending timer fires over records buffered after a clear") {
    // reference FraudDetector.java:83 arms a timer at EVERY element's
    // ts+5s and onTimer clears the buffer but not the other timers.
    // Distinguishing scenario: acct 1 tx at t=0(60) and t=3(70) arm
    // timers {5s, 8s}. Timer@5 fires window [0,5) → alert(ws=0, 130).
    // A tx at t=7(120) lands in the cleared buffer; the STILL-ARMED
    // timer@8 (from the t=3 element) fires window [3,8) → alert(ws=3,
    // 120). An earliest-only emulation would instead re-anchor at
    // 7+5=12 and emit ws=7 — this spec pins the reference behavior.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = 100.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_perelem", "append") { step =>
      input.addData(tx(1, 60, 0), tx(1, 70, 3)) // timers {5, 8}
      step(0)
      input.addData(tx(9, 1, 8)) // wm → 6 > 5: timer@5 fires [0,5) = 130
      step(0)
      input.addData(tx(1, 120, 7)) // buffered after the clear; timers {8, 12}
      step(0)
      input.addData(tx(9, 1, 11)) // wm → 9 > 8: timer@8 fires [3,8) = {7:120}
      step(0)
      input.addData(tx(9, 1, 20)) // wm → 18: timer@12 fires empty buffer
      step(0)
    }
    val acct1 = sink.filter(col("accountId") === 1).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
    assert(acct1.toSeq === Seq((Base, 130.0, 2L), (Base + 3000, 120.0, 1L)))
  }

  test("timer detector equals the plain-Scala reference-order model on " +
      "a randomized multi-batch feed") {
    // out-of-order rows inside the 2 s lateness allowance, watermark
    // jumps that expire SEVERAL timers at once, and post-clear arrivals
    // under still-armed timers — none hand-traced; the alert multisets
    // (sums in cents) must equal FraudDetectorModel's
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = 150.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_model", "append") { step =>
      randomFeed.foreach { rows => input.addData(rows: _*); step(0) }
    }
    val got = alertKeys(sink)
    val expected = FraudDetectorModel.run(randomFeed, windowMs = 5000,
      delayMs = 2000, threshold = 150.0).sorted
    assert(expected.nonEmpty, "feed should produce alerts")
    assert(got === expected)
  }

  test("timer detector equals the model under a negative threshold: " +
      "timers due after a clear emit zero-sum, zero-count alerts") {
    // below-zero threshold: every firing alerts, so the timers a
    // watermark jump drains after the first one (empty buffer) must
    // each emit (ws, 0.0, 0) exactly as the model does
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = -1.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_model_neg", "append") { step =>
      randomFeed.foreach { rows => input.addData(rows: _*); step(0) }
    }
    val got = alertKeys(sink)
    val expected = FraudDetectorModel.run(randomFeed, windowMs = 5000,
      delayMs = 2000, threshold = -1.0).sorted
    assert(expected.exists { case (_, _, cents, cnt) => cents == 0 && cnt == 0 },
      "feed should drain timers over a cleared buffer")
    assert(got === expected)
  }

  test("timer detector keeps its per-key state in one BinaryType column") {
    // the packed layout: nested collections in the state encoder would
    // bring back the per-batch MapObjects projection
    implicit val sqlCtx = spark.sqlContext
    val alerts = StreamingFraud.perElementTimerDetector(
      MemoryStream[Transaction].toDS(), windowSec = 5, threshold = 0.0)
    val schemas = alerts.queryExecution.analyzed.collect {
      case f: FlatMapGroupsWithState => f.stateEncoder.schema
    }
    assert(schemas.length === 1)
    assert(schemas.head.map(_.dataType) === Seq(BinaryType))
  }

  test("timer detector restarted from its checkpoint after any batch " +
      "emits the uninterrupted run's alerts (RocksDB, changelog)") {
    // the pending timers and buffers live in RocksDB state
    val uninterrupted = assertRestartEquivalent(randomFeed)(ds =>
      StreamingFraud.perElementTimerDetector(ds, windowSec = 5,
        threshold = 150.0, watermarkDelay = "2 seconds").toDF())(alertKeys)
    assert(uninterrupted.nonEmpty, "feed should produce alerts")
    assert(uninterrupted === FraudDetectorModel.run(randomFeed, windowMs = 5000,
      delayMs = 2000, threshold = 150.0).sorted)
  }

  test("streaming pane-sliced sliding agg matches batch sliding agg (2 state stores)") {
    // the reference's pane state layout (CustomSlidingWindow.java:
    // 25-127) run natively in Structured Streaming: tumbling pane
    // partials in state store 1, window re-agg of panes in store 2
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val data = Seq(tx(1, 10, 6), tx(1, 30, 8), tx(1, 5, 12), tx(2, 7, 3))
    val paned = Windows.paneSlidingAgg(
      input.toDF().withWatermark("ts", "5 seconds"), "accountId", "ts",
      "amount", sizeSec = 10, slideSec = 5)
    var planStr = ""
    val q = paned.writeStream.format("memory").queryName("t_panes")
      .outputMode("append").start()
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      input.addData(tx(9, 1, 60)) // watermark → 55s closes all windows
      q.processAllAvailable()
      input.addData(tx(9, 1, 61))
      q.processAllAvailable()
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { q.explain() }
      planStr = out.toString
    } finally q.stop()
    // pane layout evidence: exactly two stateful aggregations
    assert(planStr.linesIterator.count(_.contains("StateStoreSave")) === 2,
      planStr)

    val got = spark.table("t_panes")
      .filter(col("accountId") === 1)
      .select("accountId", "ws", "sum_val", "cnt", "mean_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4))).toSet
    val expected = Windows.slidingAgg(
      data.toDF(), "accountId", "ts", "amount", sizeSec = 10, slideSec = 5)
      .filter(col("accountId") === 1)
      .select("accountId", "ws", "sum_val", "cnt", "mean_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("pane-sliced sliding agg restarted from its checkpoint after any " +
      "batch emits the uninterrupted run's windows (RocksDB, changelog)") {
    // pane partials (store 1), sliding windows (store 2) and the
    // watermark both operators evict by all come back from the
    // checkpoint
    def windows(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.select("accountId", "ws", "sum_val", "cnt", "mean_cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100),
          r.getLong(3), r.getLong(4))).toSeq.sorted
    val uninterrupted = assertRestartEquivalent(shortFeed)(ds =>
      Windows.paneSlidingAgg(
        ds.toDF().withWatermark("ts", "2 seconds"), "accountId", "ts",
        "amount", sizeSec = 10, slideSec = 4))(windows)
    // the closing row's watermark has emitted every other window whole
    val batch = windows(Windows.slidingAgg(
      shortFeed.flatten.toDF(), "accountId", "ts", "amount",
      sizeSec = 10, slideSec = 4)).filter(_._1 != 99L)
    assert(batch.nonEmpty)
    assert(uninterrupted.filter(_._1 != 99L) === batch)
  }

  test("tumbling alerts restarted from their checkpoint after any batch " +
      "emit the uninterrupted run's windows (RocksDB, changelog)") {
    // open window sums live in RocksDB state; the closing row's
    // watermark (198 s) closes every window but its own
    def windows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("accountId", "ws", "sum_val", "cnt").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100),
          r.getLong(3))).toSeq.sorted
    val uninterrupted = assertRestartEquivalent(shortFeed)(ds =>
      Fraud.windowAlerts(ds.toDF().withWatermark("ts", "2 seconds"),
        "accountId", "ts", "amount", sizeSec = 10, threshold = 100.0))(windows)
    val batch = shortFeed.flatten.filter(_.accountId != 99L)
      .groupBy(t => (t.accountId, t.ts.getTime / 10000 * 10)).toSeq
      .map { case ((a, ws), rows) =>
        (a, ws, math.round(rows.map(_.amount).sum * 100), rows.size.toLong)
      }
      .filter(_._3 > 10000).sorted
    assert(batch.nonEmpty)
    assert(uninterrupted === batch)
  }

  test("hybrid trigger restarted from its checkpoint after any batch " +
      "emits the uninterrupted run's firings (RocksDB, changelog)") {
    // partial counts carry across batches in state; every key but the
    // closing row's times out under the 198 s watermark
    val maxCount = 5
    val uninterrupted = assertRestartEquivalent(shortFeed)(ds =>
      StreamingFraud.hybridTrigger(ds, maxCount, timeoutSec = 10,
        watermarkDelay = "2 seconds").toDF())(df =>
      df.select("accountId", "cnt", "mean", "finalFire").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100),
          r.getBoolean(3))).toSeq.sorted)
    val early = uninterrupted.filter(!_._4)
    assert(early.nonEmpty && early.forall(_._2 == maxCount))
    val counts = uninterrupted.groupMapReduce(_._1)(_._2)(_ + _)
    val rows = shortFeed.flatten.filter(_.accountId != 99L)
      .groupMapReduce(_.accountId)(_ => 1L)(_ + _)
    assert(counts === rows)
  }

  test("running totals restarted from their checkpoint after any batch " +
      "emit the uninterrupted run's totals (RocksDB, changelog, update mode)") {
    // mapGroupsWithState needs update mode: each batch re-emits the
    // total of every key it touched
    val uninterrupted = assertRestartEquivalent(shortFeed, OutputMode.Update)(
      ds => StreamingFraud.runningTotals(ds).toDF())(df =>
      df.select("_1", "_2", "_3").collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), r.getLong(2)))
        .toSeq.sorted)
    val last = uninterrupted.groupMapReduce(_._1)(identity)(
      (a, b) => if (a._3 >= b._3) a else b)
    val feed = shortFeed.flatten.groupBy(_.accountId).map { case (a, rows) =>
      a -> (a, math.round(rows.map(_.amount).sum * 100), rows.size.toLong)
    }
    assert(last === feed)
  }

  test("key receiving data every batch still flushes its expired window") {
    // Spark fires a key's event-time timeout only in batches where that
    // key receives no data, so a hot key that never goes quiet must
    // have its expired timers drained in the DATA path — otherwise the
    // timeout would be re-armed below the watermark and the query would
    // die with IllegalArgumentException (reference FraudDetector.java:83
    // fires per-element timers regardless of further traffic).
    // Per-element order: batch 1 arms {6, 7} over {1:60, 2:70}; batch 2
    // (wm still 0) buffers 50:5 and arms timer@55. Watermark 98 s then
    // makes 6, 7 and 55 due, all firing before the t=99 row: timer@6 →
    // [1,6) = 130 (the 5 at t=50 is outside the window) and clears the
    // WHOLE buffer, so timers 7 and 55 see nothing. The t=99 row (150)
    // arms timer@104, fired by watermark 198 s → [99,104) = 150.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    val batches = Seq(
      Seq(tx(1, 60, 1), tx(1, 70, 2)),
      Seq(tx(1, 5, 50), tx(9, 1, 100)), // key 1 keeps receiving
      Seq(tx(1, 150, 99)), // wm 98 s > timer 6 s, key 1 has data again
      Seq(tx(9, 1, 200)),
      Seq(tx(9, 1, 201)))
    val alerts = StreamingFraud.perElementTimerDetector(input.toDS(),
      windowSec = 5, threshold = 100.0, watermarkDelay = "2 seconds")
    val sink = runToSink(alerts.toDF(), "t_timerhot", "append") { step =>
      batches.foreach { rows => input.addData(rows: _*); step(0) }
    }
    val acct1 = sink.filter(col("accountId") === 1).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(acct1.toSeq === Seq((Base + 1000, 130.0), (Base + 99000, 150.0)))
    assert(FraudDetectorModel.run(batches, windowMs = 5000, delayMs = 2000,
      threshold = 100.0).filter(_._1 == 1L).map(a => (a._2, a._3)).sorted ===
      Seq((Base + 1000, 13000L), (Base + 99000, 15000L)))
  }

  test("alert sink recovers from its checkpoint: stop/restart is exactly-once") {
    // the RocksDB/HDFS state + offset log in the checkpoint dir must
    // carry a stopped query across a restart with no re-emitted and no
    // lost alerts (reference: RocksDB-backed state surviving restarts)
    implicit val sqlCtx = spark.sqlContext
    val dir = Stored.tempDir("graft_recover")
    val input = MemoryStream[Transaction]
    val alerts = Fraud.windowAlerts(input.toDF().withWatermark("ts", "5 seconds"),
      "accountId", "ts", "amount", sizeSec = 10, threshold = 100.0)
    val q1 = GraftStreams.parquetAlertSink(alerts, s"$dir/out", s"$dir/ckpt")
    try {
      input.addData(tx(1, 200, 1)) // acct 1 in window [0,10)
      q1.processAllAvailable()
      input.addData(tx(9, 1, 30)) // watermark 25s closes it → alert
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(s"$dir/out")
      .filter(col("accountId") === 1).count() === 1)

    // restart from the same checkpoint, stream continues
    input.addData(tx(2, 300, 41), tx(9, 1, 70)) // acct 2 in [40,50), closed
    val q2 = GraftStreams.parquetAlertSink(alerts, s"$dir/out", s"$dir/ckpt")
    try q2.processAllAvailable() finally q2.stop()

    val written = spark.read.parquet(s"$dir/out")
    assert(written.filter(col("accountId") === 1).count() === 1,
      "restart must not re-emit the pre-stop alert")
    assert(written.filter(col("accountId") === 2).count() === 1,
      "post-restart data must flow through recovered state")
  }

  test("streaming session windows close on gap timeout and merge " +
      "overlapping activity") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Transaction]
    // the batch sessionAgg run as a stream: a session emits when the
    // watermark passes its (last event + gap) end
    val sessions = Windows.sessionAgg(input.toDF().withWatermark("ts", "2 seconds"),
      "accountId", "ts", "amount", gapSec = 10)
      .select(col("accountId"), col("cnt"), col("sum_val"))
    val sink = runToSink(sessions, "t_sess", "append") { step =>
      // events 1s,5s,12s chain into ONE session (gaps < 10s) even
      // though 1→12 exceeds the gap; account 2 is a separate session
      input.addData(tx(1, 10, 1), tx(1, 20, 5), tx(1, 30, 12), tx(2, 7, 3))
      step(0)
      // watermark far past 12s+10s → both sessions close
      input.addData(tx(9, 1, 60))
      step(0)
      input.addData(tx(9, 1, 90)) // close account 9's session too
      step(0)
    }
    val rows = sink.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.contains((1L, 3L, 60.0)),
      s"chained events must merge into one session: $rows")
    assert(rows.contains((2L, 1L, 7.0)))
  }
}

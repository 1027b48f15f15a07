package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the reference's streaming
  * fraud jobs ({Inorder,OutofOrder}{Tumbling,Sliding} FraudDetectionJob).
  *
  * Mapping (SURVEY.md §4):
  *  - ascending / bounded-out-of-orderness watermarks →
  *    `withWatermark(ts, 0s / 5s)`; late rows beyond the watermark are
  *    dropped by Spark exactly like Flink discards late elements.
  *  - custom tumbling/sliding window assigner + event-time trigger →
  *    the batch operators on the watermarked stream in append mode
  *    (a window emits when the watermark passes its end — the
  *    FIRE_AND_PURGE of CustomTumblingTrigger.java:33-89): tumbling
  *    alerts are `Fraud.windowAlerts`, sliding means
  *    `Windows.slidingAgg` / `Windows.paneSlidingAgg`. This object
  *    keeps only the operators that need keyed state beyond a window
  *    aggregation.
  *  - ValueState/ListState + event-time timers (FraudDetector.java) →
  *    `flatMapGroupsWithState` with `EventTimeTimeout` GroupState.
  *  - RocksDB state backend → RocksDBStateStoreProvider (see
  *    [[GraftStreams]]).
  */
object StreamingFraud {

  /** Per-element timer emulation state: every element's pending fire
    * time plus the record buffer as parallel (tsMs, amount) arrays in
    * arrival order (reference FraudDetector.java keeps ListState<Tuple2>
    * + per-element registered timers). Held in GroupState packed by
    * [[PerElementState.encode]].
    */
  final class PerElementState(val pending: Array[Long], val tsMs: Array[Long],
                              val amounts: Array[Double])

  object PerElementState {
    val Empty = new PerElementState(Array.emptyLongArray, Array.emptyLongArray,
      Array.emptyDoubleArray)

    /** Int pending count, the pending longs, int buffer count, then one
      * (tsMs long, amount double) pair per buffered record.
      */
    def encode(s: PerElementState): Array[Byte] = {
      val n = s.tsMs.length
      val bb = ByteBuffer.allocate(8 + 8 * s.pending.length + 16 * n)
      bb.putInt(s.pending.length)
      s.pending.foreach(bb.putLong)
      bb.putInt(n)
      var i = 0
      while (i < n) { bb.putLong(s.tsMs(i)); bb.putDouble(s.amounts(i)); i += 1 }
      bb.array()
    }

    def decode(bytes: Array[Byte]): PerElementState = {
      val bb = ByteBuffer.wrap(bytes)
      val pending = Array.fill(bb.getInt())(bb.getLong())
      val n = bb.getInt()
      val tsMs = new Array[Long](n)
      val amounts = new Array[Double](n)
      var i = 0
      while (i < n) { tsMs(i) = bb.getLong(); amounts(i) = bb.getDouble(); i += 1 }
      new PerElementState(pending, tsMs, amounts)
    }
  }

  /** The fraud detector: the reference FraudDetector with its
    * per-element timers. The reference (FraudDetector.java:83)
    * registers an event-time timer at EVERY element's
    * `ts + windowSec`; `onTimer(t)` sums buffered records in
    * `[t - windowSec, t)`, alerts over threshold, and clears the
    * buffer — but the OTHER registered timers stay armed, so a pending
    * timer from an old element can later fire over records buffered
    * after the clear. A single earliest-timer state would diverge
    * there (it would re-anchor on the next element); this detector
    * keeps the full pending-timer list in state, arms Spark's
    * single GroupState timeout at the earliest pending fire time, and
    * drains every expired timer in event-time order on each firing or
    * data batch (expired timers after the first see the cleared
    * buffer, exactly like Flink's timer service draining a watermark
    * jump).
    */
  def perElementTimerDetector(tx: Dataset[Transaction], windowSec: Long,
                              threshold: Double,
                              watermarkDelay: String = "5 seconds"): Dataset[Alert] = {
    implicit val alertEnc: Encoder[Alert] = Encoders.product[Alert]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    // the state is one BinaryType column packed by PerElementState.
    // A product encoder of collections would decode through
    // MapObjects, whose lambda names change every micro-batch, so
    // Spark would compile a new state projection per batch. A binary
    // column has no MapObjects: its projection compiles once, and the
    // timeout scan over every key is a byte copy.
    implicit val stEnc: Encoder[Array[Byte]] = Encoders.BINARY
    val windowMs = windowSec * 1000

    // drain timers <= wm in event-time order: each sums the buffer
    // over [t-window, t) in arrival order then clears it (reference
    // onTimer), later expired timers therefore see an empty buffer
    def drain(accountId: Long, wm: Long,
              st: PerElementState): (List[Alert], PerElementState) = {
      val (expired, remaining) = st.pending.sorted.partition(_ <= wm)
      var tsMs = st.tsMs
      var amounts = st.amounts
      val alerts = expired.iterator.flatMap { t =>
        var sum = 0d
        var cnt = 0L
        var i = 0
        while (i < tsMs.length) {
          if (tsMs(i) >= t - windowMs && tsMs(i) < t) { sum += amounts(i); cnt += 1 }
          i += 1
        }
        // reference clears the whole buffer on every firing
        tsMs = Array.emptyLongArray
        amounts = Array.emptyDoubleArray
        if (sum > threshold) Some(Alert(accountId, t - windowMs, sum, cnt))
        else None
      }.toList
      (alerts, new PerElementState(remaining, tsMs, amounts))
    }

    tx.withWatermark("ts", watermarkDelay)
      .groupByKey(_.accountId)
      .flatMapGroupsWithState[Array[Byte], Alert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (accountId: Long, events: Iterator[Transaction],
         state: GroupState[Array[Byte]]) =>
          val wm = state.getCurrentWatermarkMs()
          val st0 = state.getOption.map(PerElementState.decode)
            .getOrElse(PerElementState.Empty)
          val (alerts, drained) = drain(accountId, wm, st0)
          // fold the batch's rows at once: one append to each buffer
          // column and one distinct over (old ++ new) timers keep
          // arrival order and Flink's per-key timer dedup
          val newTs = scala.collection.mutable.ArrayBuilder.make[Long]
          val newAmounts = scala.collection.mutable.ArrayBuilder.make[Double]
          events.foreach { t =>
            newTs += t.ts.getTime
            newAmounts += t.amount
          }
          val addedTs = newTs.result()
          val pending = (drained.pending ++ addedTs.map(_ + windowMs)).distinct
          if (pending.isEmpty) state.remove()
          else {
            state.update(PerElementState.encode(new PerElementState(pending,
              drained.tsMs ++ addedTs, drained.amounts ++ newAmounts.result())))
            state.setTimeoutTimestamp(math.max(pending.min, wm + 1))
          }
          alerts.iterator
      }
  }

  /** Per-account running totals across the whole stream — the
    * reference's RocksDB merge of successive window sums under the
    * same account key (FraudDetectionJob.java:128-160) as a
    * mapGroupsWithState accumulator: state survives across
    * micro-batches, each batch folds its transactions into the total.
    */
  def runningTotals(tx: Dataset[Transaction]): Dataset[(Long, Double, Long)] = {
    implicit val outEnc: Encoder[(Long, Double, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stEnc: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    tx.groupByKey(_.accountId)
      .mapGroupsWithState[(Double, Long), (Long, Double, Long)](
        GroupStateTimeout.NoTimeout) {
        (accountId: Long, events: Iterator[Transaction],
         state: GroupState[(Double, Long)]) =>
          var (sum, cnt) = state.getOption.getOrElse((0d, 0L))
          events.foreach { t => sum += t.amount; cnt += 1 }
          state.update((sum, cnt))
          (accountId, sum, cnt)
      }
  }

  /** Incremental per-key (count, sum) partials for the hybrid trigger. */
  case class TriggerState(cnt: Long, sum: Double)

  /** Partial aggregate emitted on each early firing. */
  case class Partial(accountId: Long, cnt: Long, mean: Double, finalFire: Boolean)

  /** Count-or-time hybrid trigger — the reference CustomTrigger
    * (CustomTrigger.java:35-55): incremental sum/count in keyed state,
    * FIRE_AND_PURGE every `maxCount` elements, and a final firing on
    * the event-time timeout (window end analog).
    */
  def hybridTrigger(tx: Dataset[Transaction], maxCount: Int,
                    timeoutSec: Long,
                    watermarkDelay: String = "5 seconds"): Dataset[Partial] = {
    implicit val pEnc: Encoder[Partial] = Encoders.product[Partial]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stEnc: Encoder[TriggerState] = Encoders.product[TriggerState]

    tx.withWatermark("ts", watermarkDelay)
      .groupByKey(_.accountId)
      .flatMapGroupsWithState[TriggerState, Partial](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (accountId: Long, events: Iterator[Transaction],
         state: GroupState[TriggerState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            if (st.cnt > 0)
              Iterator(Partial(accountId, st.cnt, st.sum / st.cnt, finalFire = true))
            else Iterator.empty
          } else {
            var st = state.getOption.getOrElse(TriggerState(0L, 0d))
            var maxTs = 0L
            val fired = Seq.newBuilder[Partial]
            events.foreach { t =>
              st = TriggerState(st.cnt + 1, st.sum + t.amount)
              maxTs = math.max(maxTs, t.ts.getTime)
              if (st.cnt >= maxCount) { // FIRE_AND_PURGE
                fired += Partial(accountId, st.cnt, st.sum / st.cnt, finalFire = false)
                st = TriggerState(0L, 0d)
              }
            }
            state.update(st)
            // safe: maxTs is from this batch's (non-late) rows, so it
            // is >= watermark
            state.setTimeoutTimestamp(maxTs + timeoutSec * 1000)
            fired.result().iterator
          }
      }
  }
}

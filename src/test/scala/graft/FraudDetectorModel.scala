package graft

import graft.streaming.Transaction

import scala.collection.mutable

/** Plain-Scala model of the reference FraudDetector's timer order
  * (FraudDetector.java:69-119), independent of Spark: the oracle the
  * streaming detector specs compare against.
  *
  * Micro-batch by micro-batch: first every timer due at the watermark
  * (the largest event time of the earlier batches minus the delay)
  * fires in event-time order; each firing sums the buffered records in
  * `[t - window, t)`, alerts over the threshold and clears the whole
  * buffer, leaving the key's other timers armed. Only then are the
  * batch's own rows buffered, each arming a timer at its event time
  * plus the window (one timer per distinct time, as Flink dedups a
  * key's timers). After the last batch the timers due at the final
  * watermark fire, as in the no-data batch Spark runs when the
  * watermark advances.
  */
object FraudDetectorModel {

  /** (account, window start ms, sum in cents, record count). */
  type Alert = (Long, Long, Long, Long)

  def run(batches: Seq[Seq[Transaction]], windowMs: Long, delayMs: Long,
          threshold: Double): Seq[Alert] = {
    val pending = mutable.Map.empty[Long, mutable.SortedSet[Long]]
    val buffer = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Double)]]
    val alerts = mutable.ArrayBuffer.empty[Alert]
    var maxTs = Long.MinValue
    var wm = 0L

    def fireDue(): Unit = pending.foreach { case (acct, timers) =>
      timers.filter(_ <= wm).toList.foreach { t =>
        val inWin = buffer.getOrElse(acct, Nil)
          .filter { case (ts, _) => ts >= t - windowMs && ts < t }
        val sum = inWin.map(_._2).sum
        buffer(acct) = mutable.ArrayBuffer.empty
        if (sum > threshold)
          alerts += ((acct, t - windowMs, math.round(sum * 100), inWin.size.toLong))
        timers -= t
      }
    }

    batches.foreach { batch =>
      fireDue()
      batch.foreach { t =>
        val ts = t.ts.getTime
        // Spark drops rows behind the watermark; the model does not
        require(ts > wm, s"row at $ts is behind the watermark $wm")
        buffer.getOrElseUpdate(t.accountId, mutable.ArrayBuffer.empty) +=
          ((ts, t.amount))
        pending.getOrElseUpdate(t.accountId, mutable.SortedSet.empty[Long]) +=
          ts + windowMs
        maxTs = math.max(maxTs, ts)
      }
      wm = math.max(wm, maxTs - delayMs)
    }
    fireDue()
    alerts.toSeq
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-time exact dedup — the streaming counterpart of
  * `Dedup.exact` / `Dedup.incremental`: drop any document whose text
  * was already seen within the watermark horizon, as the crawl
  * arrives, instead of re-scanning the corpus in batch.
  *
  * State discipline mirrors the reference's keyed-state-plus-timer
  * pattern (FraudDetector.java keeps per-key ValueState and clears it
  * on timer): `dropDuplicatesWithinWatermark` keeps ONE state row per
  * key and evicts it once the event-time watermark passes the key's
  * last-seen time plus the delay, so the store (RocksDB-backed via
  * `GraftStreams.withRocksDBState`) holds only the horizon's keys —
  * bounded regardless of stream lifetime.
  *
  * The dedup key is `(xxhash64(text), length)` — the same 16-byte key
  * as the batch operators, so state rows cost 16 bytes + overhead
  * rather than the document text, and the same residual-collision
  * tradeoff applies (see `Dedup.exact`).
  *
  * Semantics to be aware of (asserted in the spec): duplicates are
  * only suppressed within the horizon — a text re-arriving after its
  * state was evicted is emitted again. That is the honest contract of
  * bounded state; an unbounded-horizon exact guarantee requires the
  * batch anti-join (`Dedup.incremental`) over the accumulated corpus.
  *
  * This operator doubles as ALERT SUPPRESSION (alert-fatigue
  * control): feed it the alert stream with the account id as the
  * dedup key and the horizon as the mute window. Run it as its OWN
  * query stage over the alert topic/sink, not chained after an
  * append-mode window aggregate in one query: the second
  * `withWatermark` here would join the global min-watermark
  * computation, and until the aggregate's first emission that
  * stream has no rows, pinning the combined watermark at epoch so
  * the aggregate never fires — a deadlock by construction, found
  * when composing the two inline.
  */
object StreamingDedup {

  def exactDedupStream(docs: DataFrame, tsCol: String, textCol: String,
                       watermarkDelay: String): DataFrame =
    docs
      .withColumn("_h", xxhash64(col(textCol)))
      .withColumn("_len", length(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_h", "_len")
      .drop("_h", "_len")
}

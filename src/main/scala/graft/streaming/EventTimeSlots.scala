package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** The keyed event-time slot lifecycle shared by the streaming monitors
  * ([[StreamingAms]], [[StreamingAuc]], [[StreamingBootstrap]],
  * [[StreamingConformal]], [[StreamingCoverage]], [[StreamingCusum]],
  * [[StreamingEwma]], [[StreamingHdr]], [[StreamingHeavyHitters]],
  * [[StreamingHll]], [[StreamingKs]], [[StreamingMixDrift]],
  * [[StreamingResample]], [[StreamingSprt]]). Each monitor supplies only
  * its pure per-key `step`; this object runs it on Structured Streaming's
  * watermark and `flatMapGroupsWithState` (Append, EventTimeTimeout).
  *
  * Lifecycle contract:
  *  - '''Watermark.''' Ticks carry event time in `tsUs` (epoch µs); the
  *    watermark is set on `timestamp_micros(tsUs)` with the caller's
  *    delay, and Spark drops ticks strictly older than it.
  *  - '''Finalization.''' Slot `s` covers `[s·bucketUs, (s+1)·bucketUs)`.
  *    `step` receives the watermark in µs and emits a slot's rows once
  *    the watermark has passed the slot's end; every emitted row is final
  *    (append mode, exactly-once with a checkpointed sink).
  *  - '''Ceil-and-clamp re-arm.''' While a key has open slots, an
  *    event-time timer is armed at the end of its earliest open slot, so
  *    empty batches keep finalizing as the watermark advances even when
  *    the key receives no further ticks. Spark timers are whole
  *    milliseconds, a timer before the current watermark is rejected,
  *    and a timer fires once the watermark has moved past it. The µs
  *    slot end is therefore converted with a CEIL, so the timer never
  *    fires before the slot has ended, and clamped to watermark + 1 ms,
  *    so an arm is always made and always accepted. A floored conversion
  *    of a slot end that is not ms-aligned (`bucketUs` below 1000, or
  *    not a multiple of it) can land on the current watermark; an arm
  *    skipped there leaves the key with no timer, and its pending slots
  *    are stranded if no further ticks arrive for it.
  *  - '''Idle TTL, `dropIdleAfterUs = Some(ttl)`.''' A key with no open
  *    slots arms a timer `ttl` of watermark time ahead (at least 1 ms).
  *    If it fires with no new ticks and still no open slots, the key's
  *    state is removed. A retired key that revives starts from the
  *    initial state: its finalized frontier is forgotten, so a tick at
  *    the exact watermark boundary can re-open and re-emit an already
  *    finalized slot. That is the revival trade: Spark's late-row filter
  *    still drops anything strictly older than the watermark, so the
  *    exposure is the boundary instant, not history.
  *  - '''No TTL, `dropIdleAfterUs = None`.''' State is kept for every key
  *    ever seen, because the finalized frontier (and any carried value)
  *    is what keeps late-drop exactly-once for that key. State then grows
  *    with the lifetime key domain: bounding it is the caller's contract.
  *
  * Rows come out of `step` with a placeholder key; `rekey` stamps the
  * group key on each. */
private[streaming] object EventTimeSlots {

  def apply[T, S: Encoder, R: Encoder](
      ds: Dataset[T],
      keyOf: T => String,
      bucketUs: Long,
      watermarkDelay: String,
      dropIdleAfterUs: Option[Long],
      init: S,
      openSlots: S => Iterable[Long],
      step: (S, Seq[T], Long) => (Seq[R], S),
      rekey: (R, String) => R): Dataset[R] = {
    require(bucketUs > 0, s"bucketUs $bucketUs must be positive")
    require(dropIdleAfterUs.forall(_ > 0L),
      s"dropIdleAfterUs $dropIdleAfterUs must be positive when set")
    ds.withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[T](ds.encoder)
      .groupByKey(keyOf)(Encoders.STRING)
      .flatMapGroupsWithState[S, R](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, ticks, state) =>
          val old = state.getOption.getOrElse(init)
          val batch = ticks.toSeq
          val (rows, next) = step(old, batch, state.getCurrentWatermarkMs() * 1000L)
          val open = openSlots(next)
          if (open.nonEmpty) {
            state.update(next)
            val armAt = ((open.min + 1) * bucketUs + 999L) / 1000L
            state.setTimeoutTimestamp(
              math.max(armAt, state.getCurrentWatermarkMs() + 1L))
          } else dropIdleAfterUs match {
            case Some(_) if state.hasTimedOut && batch.isEmpty && openSlots(old).isEmpty =>
              state.remove()
            case Some(ttl) =>
              state.update(next)
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + math.max(ttl / 1000L, 1L))
            case None =>
              state.update(next)
          }
          rows.iterator.map(rekey(_, key))
      }
  }
}

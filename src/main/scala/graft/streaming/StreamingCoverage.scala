package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One raw observation for [[StreamingCoverage]] — only the stream key
  * and the event time matter; gap accounting ignores payloads. */
final case class CoverageTick(key: String, tsUs: Long)

/** Keyed state: the highest FINALIZED observed bucket (everything at or
  * below it is immutable history) plus the still-open observed buckets
  * above it. `pending` is bounded by (watermark lag / bucket) buckets —
  * per-key constant state once the lag is fixed. */
final case class CoverageState(lastFinal: Option[Long], pending: Set[Long])

/** One emitted gap run (append-mode, final — the watermark has passed
  * the bucket that CLOSED the gap, so no late tick can ever land inside
  * it again). */
final case class CoverageGapRow(
    key: String, gapStartSlot: Long, gapEndSlot: Long, nMissing: Long)

/** [[graft.operators.Resample.coverageGaps]] as a LIVE monitor — the
  * "stream went dark" alert emitted the moment it becomes FINAL: a gap
  * between consecutive observed buckets is provable only once the
  * watermark passes the closing bucket (a late tick inside the hole
  * could still arrive before that), so rows emit exactly then, and
  * every row is immutable (exactly-once with a checkpointed sink, the
  * [[EventTimeSlots]] lifecycle).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): after
  * the stream drains and the watermark passes every observed bucket,
  * the emitted rows equal `Resample.coverageGaps` over the same ticks —
  * same bucket arithmetic, same runs. Trailing silence emits nothing
  * (a gap needs a closing observation; "still dark NOW" is a liveness
  * question for the caller's timeout policy, not a finalized fact —
  * same boundary the batch ledger draws).
  *
  * State per key: one scalar + the open-bucket set (watermark-lag
  * bounded). No idle TTL: key population is caller-owned, bounded key
  * domains only (the [[EventTimeSlots]] `None` contract). */
object StreamingCoverage {

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open bucket set, then finalize every
    * bucket the watermark has passed, emitting the gap runs between
    * consecutive finalized observations. `wmUs` is the current
    * event-time watermark in micros. */
  def step(
      old: CoverageState,
      ticks: Seq[CoverageTick],
      bucketUs: Long,
      wmUs: Long): (Seq[CoverageGapRow], CoverageState) = {
    var pending = old.pending
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      // a tick at or below the finalized frontier is watermark-late;
      // history is immutable, so it cannot reopen a closed gap
      if (old.lastFinal.forall(slot > _)) pending += slot
    }
    // bucket s is final once its END is at or before the watermark:
    // (s+1)·bucket ≤ wm ⇔ s < floorDiv(wm, bucket)
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = pending.filter(_ < wSlot).toSeq.sorted
    if (closable.isEmpty)
      return (Seq.empty, CoverageState(old.lastFinal, pending))
    val walk: Seq[Long] = old.lastFinal.toSeq ++ closable
    val out = walk.sliding(2).collect {
      case Seq(p, c) if c > p + 1 =>
        CoverageGapRow("", p + 1, c - 1, c - p - 1)
    }.toSeq
    (out, CoverageState(Some(closable.last), pending -- closable))
  }

  def apply(
      ds: Dataset[CoverageTick],
      bucketUs: Long,
      watermarkDelay: String)(
      implicit se: Encoder[CoverageState],
      re: Encoder[CoverageGapRow]): Dataset[CoverageGapRow] =
    EventTimeSlots[CoverageTick, CoverageState, CoverageGapRow](
      ds, _.key, bucketUs, watermarkDelay, None,
      CoverageState(None, Set.empty), _.pending,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs),
      (r, key) => r.copy(key = key))
}

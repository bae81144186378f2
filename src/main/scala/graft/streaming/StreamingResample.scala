package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One raw tick for [[StreamingResample]]: `seq` is the caller's
  * within-timestamp tiebreaker (an event id), making the per-slot
  * last-non-null pick a total order — the batch operator's
  * `orderCols` contract. */
final case class ResampleTick(key: String, tsUs: Long, seq: Long, value: Option[Double])

/** Per-slot accumulator: tick count plus the last NON-NULL value seen
  * and the (tsUs, seq) order key that selected it. */
final case class SlotAcc(n: Long, v: Option[Double], ordT: Long, ordS: Long)

/** Keyed state: highest emitted slot, the LOCF carry, and the still-open
  * slots. `pending` is bounded by (watermark lag / step) slots — the
  * operator's state is per-key constant once the lag is fixed. */
final case class ResampleState(
    lastEmitted: Option[Long],
    lastV: Option[Double],
    pending: Map[Long, SlotAcc])

/** One emitted grid row (append-mode, final — the slot's watermark has
  * passed; it can never change). */
final case class ResampleRow(
    key: String, slot: Long, nObs: Long, value: Option[Double], filled: Boolean)

/** [[graft.operators.Resample.locfGrid]] as a LIVE streaming operator —
  * the gap-filled metric feed a monitor consumes as it happens: one
  * APPEND row per (key, slot) once the watermark passes the slot's end,
  * empty slots emitted with the last observation carried forward.
  * Event-time semantics throughout: out-of-order ticks within the
  * watermark land in their true slot; a slot only emits when it can no
  * longer change, so every row is final (exactly-once with a
  * checkpointed sink; the [[EventTimeSlots]] lifecycle).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): after
  * the stream drains and the watermark passes every observed slot, the
  * emitted rows equal `Resample.locfGrid` over the same ticks — same
  * grid span (each key's first..last observed slot; trailing silence
  * emits nothing until a later tick anchors it, exactly as the batch
  * grid ends at the last observation), same per-slot last-non-null
  * pick, same LOCF.
  *
  * State per key: two scalars + the open-slot map (bounded by
  * watermark-lag/step). No idle TTL: the key POPULATION is unbounded
  * state the caller owns (the [[EventTimeSlots]] `None` contract), and
  * keys are never evicted because the LOCF carry is what a silent key
  * resumes from — bounded key domains only.
  */
object StreamingResample {

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open slots, then close every slot the
    * watermark has passed — but never beyond the highest observed slot
    * (the batch-grid span rule). `wmUs` is the current event-time
    * watermark in micros. */
  def step(
      old: ResampleState,
      ticks: Seq[ResampleTick],
      stepUs: Long,
      wmUs: Long): (Seq[ResampleRow], ResampleState) = {
    var pending = old.pending
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, stepUs)
      val acc = pending.getOrElse(slot, SlotAcc(0L, None, Long.MinValue, Long.MinValue))
      val withN = acc.copy(n = acc.n + 1)
      val later = t.tsUs > withN.ordT || (t.tsUs == withN.ordT && t.seq > withN.ordS)
      val next = t.value match {
        case some @ Some(_) if later => SlotAcc(withN.n, some, t.tsUs, t.seq)
        case _ => withN
      }
      pending = pending.updated(slot, next)
    }
    if (pending.isEmpty)
      return (Seq.empty, old.copy(pending = pending))
    // slot s is closed once its END is at or before the watermark:
    // (s+1)*step <= wm  ⇔  s < floorDiv(wm, step)
    val wSlot = Math.floorDiv(wmUs, stepUs)
    val maxPending = pending.keys.max
    val start = old.lastEmitted.map(_ + 1).getOrElse(pending.keys.min)
    val end = math.min(wSlot - 1, maxPending)
    if (end < start)
      return (Seq.empty, old.copy(pending = pending))
    var lastV = old.lastV
    val out = (start to end).map { s =>
      val acc = pending.get(s)
      val obsV = acc.flatMap(_.v)
      val n = acc.map(_.n).getOrElse(0L)
      if (obsV.isDefined) lastV = obsV
      ResampleRow("", s, n, lastV, n == 0L)
    }
    ((start to end).foreach(s => pending = pending - s))
    (out, ResampleState(Some(end), lastV, pending))
  }

  def apply(
      ds: Dataset[ResampleTick],
      stepUs: Long,
      watermarkDelay: String)(
      implicit se: Encoder[ResampleState],
      re: Encoder[ResampleRow]): Dataset[ResampleRow] = {
    require(stepUs > 0, s"stepUs $stepUs must be positive")
    EventTimeSlots[ResampleTick, ResampleState, ResampleRow](
      ds, _.key, stepUs, watermarkDelay, None,
      ResampleState(None, None, Map.empty), _.pending.keys,
      (old, batch, wmUs) => step(old, batch, stepUs, wmUs),
      (r, key) => r.copy(key = key))
  }
}

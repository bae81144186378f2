package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One value observation for [[StreamingHdr]]: stream key, event time,
  * and the non-negative int64 value whose per-window distribution is
  * being sketched. */
final case class HdrTick(key: String, tsUs: Long, value: Long)

/** Keyed state: the highest FINALIZED window slot plus the still-open
  * slots' bucket-count maps (bucket lower bound → count; the upper
  * bound re-derives from the lo/geometry, so state carries one long per
  * occupied bucket). Open-slot count is watermark-lag bounded; buckets
  * per slot are GEOMETRY bounded (≤ 2^subBits per octave), never value-
  * volume bounded — the point of carrying the histogram instead of the
  * values. */
final case class HdrState(doneSlot: Option[Long], open: Map[Long, Map[Long, Long]])

/** One finalized per-(window, quantile) row — the column contract of
  * [[graft.operators.Sketches.hdrQuantiles]] plus the window slot. */
final case class HdrWindowRow(
    key: String, slot: Long, q_name: String, q: Double, n: Long,
    bucket_lo: Long, bucket_hi: Long)

/** [[graft.operators.Sketches.hdrQuantiles]] as a LIVE per-window
  * monitor — "what were key X's p50/p90/p99 in each window", emitted
  * the moment the window becomes FINAL (watermark past its end; every
  * row immutable — the [[EventTimeSlots]] lifecycle).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): the
  * drained stream's rows equal `Sketches.hdrQuantiles` grouped by
  * (key, slot) over the same ticks — the JVM bucketing here IS the
  * batch operator's integer bit arithmetic (bit smear for the octave
  * base, exact sub-bucket split), and the rank rule max(1, ceil(q·n))
  * matches literal for literal.
  *
  * State per key: one long per occupied bucket per open window —
  * geometry-bounded. Key POPULATION is unbounded by default (a quiet
  * key keeps its (doneSlot, empty) record so the exactly-once
  * late-drop contract holds); pass `dropIdleAfterUs = Some(ttl)` to
  * retire keys idle past `ttl` of watermark time, accepting the
  * boundary-instant duplicate-emission trade on revival — see
  * [[EventTimeSlots]] for the full contract. */
object StreamingHdr {

  /** HDR bucket lower/upper bounds of a non-negative value — the JVM
    * twin of [[graft.operators.Sketches.withHdrBounds]]'s integer bit
    * arithmetic (Long.highestOneBit IS the 6-step smear's (x≫1)+1). */
  def bounds(v: Long, subBits: Int): (Long, Long) = {
    require(v >= 0L, s"hdr: negative value $v - the layout has no sign octaves")
    val sub = 1L << subBits
    if (v < sub) (v, v)
    else {
      val p2 = java.lang.Long.highestOneBit(v)
      val unit = p2 >> subBits
      val subIdx = (v - p2) / unit
      (p2 + subIdx * unit, p2 + (subIdx + 1) * unit - 1)
    }
  }

  /** Finalize one slot's bucket counts into its per-quantile rows —
    * the batch readout's exact rank rule. */
  private def rowsOf(
      slot: Long,
      buckets: Map[Long, Long],
      qs: Seq[(String, Double)],
      subBits: Int): Seq[HdrWindowRow] = {
    val ordered = buckets.toSeq.sortBy(_._1)
    val n = ordered.iterator.map(_._2).sum
    qs.map { case (name, q) =>
      val k = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      val lo = ordered.find { case (_, c) => cum += c; cum >= k }.get._1
      val hi = bounds(lo, subBits)._2
      HdrWindowRow("", slot, name, q, n, lo, hi)
    }
  }

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open slots' bucket counts, then finalize
    * every slot the watermark has passed. Ticks at or below the
    * finalized frontier are watermark-late and drop — history is
    * immutable. */
  def step(
      old: HdrState,
      ticks: Seq[HdrTick],
      bucketUs: Long,
      subBits: Int,
      qs: Seq[(String, Double)],
      wmUs: Long): (Seq[HdrWindowRow], HdrState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val (lo, _) = bounds(t.value, subBits)
        val m = open.getOrElse(slot, Map.empty[Long, Long])
        open += slot -> (m + (lo -> (m.getOrElse(lo, 0L) + 1L)))
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.flatMap(s => rowsOf(s, open(s), qs, subBits))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, HdrState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[HdrTick],
      bucketUs: Long,
      watermarkDelay: String,
      qs: Seq[(String, Double)],
      subBits: Int = 5,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[HdrState],
      re: Encoder[HdrWindowRow]): Dataset[HdrWindowRow] = {
    require(subBits >= 1 && subBits <= 16, s"subBits $subBits outside [1, 16]")
    require(qs.nonEmpty && qs.forall { case (_, q) => q >= 0.0 && q <= 1.0 },
      s"quantiles must be in [0,1]: $qs")
    EventTimeSlots[HdrTick, HdrState, HdrWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      HdrState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, subBits, qs, wmUs),
      (r, key) => r.copy(key = key))
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One frequency observation for [[StreamingAms]]: stream key, event
  * time, and the member whose per-window second frequency moment is
  * being sketched. */
final case class AmsTick(key: String, tsUs: Long, member: String)

/** Keyed state: the highest FINALIZED window slot plus the still-open
  * slots' counter vectors (depth·reps = 24 signed longs each). Open-slot
  * count is bounded by (watermark lag / bucket) — per-key constant state
  * once the lag is fixed; counters are CONSTANT SIZE per slot regardless
  * of member volume (the point of carrying AMS instead of per-key
  * frequency counts). */
final case class AmsState(doneSlot: Option[Long], open: Map[Long, Seq[Long]])

/** One finalized per-window sketch row — the column contract of
  * [[graft.operators.Sketches.amsF2]] plus the window slot (s_med as
  * int64: z ≤ window tick count, so s_med ≤ reps·ticks² — int64-safe for
  * any window a live monitor holds open), so the drained stream is
  * row-for-row comparable with the batch sketch over the same ticks. */
final case class AmsWindowRow(
    key: String, slot: Long, depth: Long, reps: Long,
    s_med: Long, est_f2: Double)

/** [[graft.operators.Sketches.amsF2]] as a LIVE per-window monitor —
  * "how concentrated was key X's member traffic in each window" (F₂ =
  * Σf², the self-join size / skew read), emitted the moment the window
  * becomes FINAL (watermark past its end; every row immutable — the
  * [[EventTimeSlots]] lifecycle). Completes the streaming sketch tier:
  * cardinality (HLL), quantiles (HDR), and now frequency moments (AMS).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): the
  * drained stream's rows equal `Sketches.amsF2` over each (key, slot)
  * slice of the same ticks — same avalanche-parity signs
  * ([[graft.operators.Sampling.avalancheJvm]], bit-identical to the
  * Catalyst expression), same exact group sums, same explicit
  * (s2, grp)-ordered median pick, same exact-in-binary s_med/reps.
  * Counters merge by per-cell SUM, so per-micro-batch folding is
  * order-insensitive by construction.
  *
  * State per key: 24 longs per open window — constant in member volume.
  * Key population follows the [[EventTimeSlots]] `dropIdleAfterUs`
  * contract. */
object StreamingAms {

  /** Geometry — pinned to the batch sketch's defaults; the contract is
    * equality with `amsF2(depth = 3, reps = 8)`. */
  val Depth = 3
  val Reps = 8
  private val Cells = Depth * Reps

  /** The ±1 sign for one (member, cell) under the shared avalanche hash
    * — the JVM twin of the batch rule `1 − 2·(avalanche(key, salt#i)
    * mod 2)`. */
  def sign(member: String, salt: String, i: Int): Long =
    1L - 2L * (graft.operators.Sampling.avalancheJvm(member, s"$salt#$i") % 2L)

  /** Finalize one slot's counters into the emitted row — the batch
    * sketch's exact arithmetic: exact integer group sums of z², median
    * = (s2, grp)-ordered middle pick, est = s_med/reps (exact in binary
    * at the power-of-two reps). */
  private def rowOf(slot: Long, z: Seq[Long]): AmsWindowRow = {
    // int64-exactness guard: each group sum adds `Reps` squares in plain
    // Long, so it needs Reps·z² ≤ Long.MaxValue — |z| < 2^30 gives
    // 8·(2^30−1)² = 2^63 − 2^34 + 8 < 2^63 (a 2^31 bound would let the
    // sum wrap at 4·overflow). |z| ≤ window tick count, so this fires
    // only past ~10^9 ticks in ONE key's window; fail loud, never a
    // silently wrapped moment (and never a silent divergence from the
    // Decimal-exact batch Sketches.amsF2).
    require(z.forall(v => math.abs(v) < (1L << 30)),
      s"StreamingAms: window slot $slot counter magnitude exceeds the " +
        "int64-exact bound (2^30 ticks per key-window) — shrink bucketUs")
    val groupSums = (0 until Depth).map { g =>
      (g, (0 until Reps).map(r => { val v = z(g * Reps + r); v * v }).sum)
    }
    val sMed = groupSums.sortBy { case (g, s2) => (s2, g) }.apply(Depth / 2)._2
    AmsWindowRow("", slot, Depth.toLong, Reps.toLong, sMed,
      sMed.toDouble / Reps)
  }

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open slots' counters (sum-merge), then
    * finalize every slot the watermark has passed. Ticks at or below
    * the finalized frontier are watermark-late and drop — history is
    * immutable. */
  def step(
      old: AmsState,
      ticks: Seq[AmsTick],
      bucketUs: Long,
      salt: String,
      wmUs: Long): (Seq[AmsWindowRow], AmsState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val z = open.getOrElse(slot, Vector.fill(Cells)(0L)).toVector
        open += slot -> (0 until Cells).foldLeft(z) { (acc, i) =>
          acc.updated(i, acc(i) + sign(t.member, salt, i))
        }
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map(s => rowOf(s, open(s)))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, AmsState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[AmsTick],
      bucketUs: Long,
      watermarkDelay: String,
      salt: String = "",
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[AmsState],
      re: Encoder[AmsWindowRow]): Dataset[AmsWindowRow] =
    EventTimeSlots[AmsTick, AmsState, AmsWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      AmsState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, salt, wmUs),
      (r, key) => r.copy(key = key))
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One membership observation for [[StreamingHll]]: stream key, event
  * time, and the member whose per-window cardinality is being counted. */
final case class HllTick(key: String, tsUs: Long, member: String)

/** Keyed state: the highest FINALIZED window slot plus the still-open
  * slots' register vectors (64 small ints each). Open-slot count is
  * bounded by (watermark lag / bucket) — per-key constant state once
  * the lag is fixed; registers are CONSTANT SIZE per slot regardless of
  * member volume (the whole point of carrying HLL instead of a member
  * set). */
final case class HllState(doneSlot: Option[Long], open: Map[Long, Seq[Int]])

/** One finalized per-window sketch row — the exact column contract of
  * [[graft.operators.Sketches.hllDistinct]] plus the window slot, so the
  * drained stream is row-for-row comparable with the batch sketch. */
final case class HllWindowRow(
    key: String, slot: Long, m: Long, v_zero: Long,
    s_scaled: Long, est_hll: Double)

/** [[graft.operators.Sketches.hllDistinct]] as a LIVE per-window
  * monitor — "how many distinct users/tokens/documents did key X see in
  * each window", emitted the moment the window becomes FINAL (watermark
  * past its end; every row immutable — the [[EventTimeSlots]]
  * lifecycle).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): the
  * drained stream's rows equal `Sketches.hllDistinct` grouped by
  * (key, slot) over the same ticks — same avalanche hash
  * ([[graft.operators.Sampling.avalancheJvm]], bit-identical to the
  * Catalyst expression), same register rule, same scaled-exact-integer
  * harmonic sum, same rounded estimate. Registers merge by MAX, so
  * per-micro-batch folding is order-insensitive by construction.
  *
  * State per key: ~64 small ints per open window — constant in member
  * volume. Key POPULATION is unbounded by default (`dropIdleAfterUs =
  * None`: the caller-owned bounded-key-domain contract); `Some(ttl)`
  * retires keys idle past `ttl` of watermark time, with the revival
  * trade — both as the [[EventTimeSlots]] contract states them. */
object StreamingHll {

  /** Register count (m), bit budget, and α_64 — pinned to the batch
    * sketch's defaults; the contract is equality with
    * `hllDistinct(m = 64)`. */
  val M = 64
  private val Bits = 27
  private val Alpha = 0.709

  /** Register update for one member: (register index, ρ) under the
    * shared avalanche hash — the JVM twin of the batch rule. */
  def register(member: String, salt: String): (Int, Int) = {
    val h = graft.operators.Sampling.avalancheJvm(member, salt)
    val j = (h % M).toInt
    val w = h / M
    val rho = if (w == 0L) Bits else java.lang.Long.numberOfTrailingZeros(w) + 1
    (j, rho)
  }

  /** Finalize one slot's registers into the emitted row — the batch
    * sketch's exact arithmetic: scaled-integer harmonic sum, one double
    * division, HALF_UP round to 4. */
  private def rowOf(slot: Long, regs: Seq[Int]): HllWindowRow = {
    val sScaled = regs.iterator.map(r => 1L << (Bits - r)).sum
    val vZero = regs.count(_ == 0).toLong
    val est = BigDecimal(
      Alpha * M * M * (1L << Bits).toDouble / sScaled.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    HllWindowRow("", slot, M.toLong, vZero, sScaled, est)
  }

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open slots' registers (max-merge), then
    * finalize every slot the watermark has passed. Ticks at or below
    * the finalized frontier are watermark-late and drop — history is
    * immutable. */
  def step(
      old: HllState,
      ticks: Seq[HllTick],
      bucketUs: Long,
      salt: String,
      wmUs: Long): (Seq[HllWindowRow], HllState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val regs = open.getOrElse(slot, Vector.fill(M)(0))
        val (j, rho) = register(t.member, salt)
        open += slot -> (if (rho > regs(j)) regs.updated(j, rho) else regs)
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map(s => rowOf(s, open(s)))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, HllState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[HllTick],
      bucketUs: Long,
      watermarkDelay: String,
      salt: String = "",
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[HllState],
      re: Encoder[HllWindowRow]): Dataset[HllWindowRow] =
    EventTimeSlots[HllTick, HllState, HllWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      HllState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, salt, wmUs),
      (r, key) => r.copy(key = key))
}

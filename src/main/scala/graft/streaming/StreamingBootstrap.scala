package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingBootstrap]]: stream key, event time,
  * the row's stable id (the resampling unit — weights derive from it,
  * the [[graft.operators.Sampling.poissonBootstrapMean]] contract) and
  * the INTEGRAL metric value (micro-score convention, |x| ≤ 10⁶
  * fail-loud — the bound that keeps every accumulator int64/double
  * exact). */
final case class BootTick(key: String, tsUs: Long, id: String, x: Long)

/** Keyed state: highest FINALIZED slot + per open slot the bootstrap
  * sufficient statistic — (n, Σx, per-replicate Σw·x, per-replicate Σw):
  * 2·B + 2 longs per open window, CONSTANT in tick volume (the point of
  * the Poisson bootstrap: no per-row resample table, no global n needed
  * before drawing). */
final case class BootState(
    doneSlot: Option[Long], open: Map[Long, BootAcc])

final case class BootAcc(n: Long, sx: Long, swx: Seq[Long], sw: Seq[Long])

/** One finalized per-window bootstrap row — the column contract of
  * [[graft.operators.Sampling.poissonBootstrapMean]] plus key/slot. */
final case class BootWindowRow(
    key: String, slot: Long, n: Long, b_used: Long, mean: Double,
    boot_lo: Option[Double], boot_hi: Option[Double],
    se_boot: Option[Double])

/** [[graft.operators.Sampling.poissonBootstrapMean]] as a LIVE
  * per-window monitor — "the hourly mean moved: is the move bigger than
  * resampling noise?" with the CI emitted the moment the window is
  * watermark-FINAL (the [[EventTimeSlots]] lifecycle: append-mode
  * rows, immutable, exactly-once). The
  * inference member of the drift family: CUSUM flags a mean shift,
  * StreamingKs a distribution shift — THIS prices the window's own
  * sampling noise so a dashboard can tell signal from jitter.
  *
  * Batch equivalence is THE correctness contract (spec-asserted): each
  * drained row equals `Sampling.poissonBootstrapMean` over the same
  * (key, slot) tick slice — the same avalanche-derived Poisson(1)
  * weights (`avalancheJvm(id, salt‖zeroPad3(b))`, bit-identical to the
  * batch digit fold), the same exact integer sums, the same rounded
  * replicate means, order statistics and se chain. Accumulators merge
  * by component SUM, so micro-batch folding is order-insensitive.
  *
  * Guards (fail-loud): |x| ≤ 10⁶ per tick and n < 2³⁰ per window keep
  * Σw·x < 2⁵³ — exact in int64 AND in the double division (the
  * [[StreamingAms]] exactness discipline). Key population follows the
  * [[EventTimeSlots]] `dropIdleAfterUs` contract. */
object StreamingBootstrap {

  import graft.operators.Sampling

  /** Poisson(1) weight of (id, replicate) — the JVM twin of the batch
    * operator's staged digit fold (bit-identical by the polynomial
    * identity, the same [[Sampling.PoissonOneThresholds]] inversion). */
  private[streaming] def weight(id: String, salt: String, b: Int): Long = {
    val u = Sampling.avalancheJvm(id, salt + f"$b%03d")
    Sampling.PoissonOneThresholds.count(u >= _).toLong
  }

  private def r6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rowOf(
      slot: Long, acc: BootAcc, alphaPct: Int): Option[BootWindowRow] = {
    val mean = r6(acc.sx.toDouble / acc.n)
    val ms = acc.swx.indices.flatMap { b =>
      if (acc.sw(b) > 0L) Some((b.toLong, r6(acc.swx(b).toDouble / acc.sw(b))))
      else None
    }
    // All replicates zero-weight (probability ~e^{-n} each): batch
    // poissonBootstrapMean emits ZERO rows for such a slice (its lo/hi
    // assembly join goes empty), so the streaming twin suppresses the
    // window too — exact batch equivalence, no b_used=0 divergence.
    if (ms.isEmpty) None
    else {
      val sorted = ms.sortBy { case (b, m) => (m, b) }.map(_._2)
      val bUsed = ms.size
      val loRank = (bUsed * alphaPct + 199) / 200
      val s1 = ms.map(m => BigDecimal.valueOf(m._2)).sum.toDouble
      val s2 = ms.map(m => BigDecimal.valueOf(m._2 * m._2)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val se =
        if (bUsed < 2) None
        else Some(r6(math.sqrt(
          math.max((s2 - (s1 * s1) / bUsed) / (bUsed - 1), 0.0))))
      Some(BootWindowRow("", slot, acc.n, bUsed.toLong, mean,
        Some(sorted(loRank - 1)), Some(sorted(bUsed - loRank)), se))
    }
  }

  /** The pure per-key transition (extracted for property tests). */
  def step(
      old: BootState,
      ticks: Seq[BootTick],
      bucketUs: Long,
      wmUs: Long,
      replicates: Int,
      salt: String,
      alphaPct: Int): (Seq[BootWindowRow], BootState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        require(math.abs(t.x) <= 1000000L,
          s"StreamingBootstrap: |x|=${t.x} exceeds the micro-score bound " +
            "(10^6) — pre-quantize coarser (the int64/double-exact contract)")
        val acc = open.getOrElse(slot,
          BootAcc(0L, 0L, Seq.fill(replicates)(0L), Seq.fill(replicates)(0L)))
        require(acc.n < (1L << 30),
          s"StreamingBootstrap: window slot $slot exceeds 2^30 ticks per " +
            "key-window — shrink bucketUs")
        val ws = (0 until replicates).map(b => weight(t.id, salt, b))
        open += slot -> BootAcc(acc.n + 1L, acc.sx + t.x,
          acc.swx.zip(ws).map { case (s, w) => s + w * t.x },
          acc.sw.zip(ws).map { case (s, w) => s + w })
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.flatMap(s => rowOf(s, open(s), alphaPct))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, BootState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[BootTick],
      bucketUs: Long,
      watermarkDelay: String,
      replicates: Int = 64,
      salt: String = "boot",
      alphaPct: Int = 5,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[BootState],
      re: Encoder[BootWindowRow]): Dataset[BootWindowRow] = {
    require(replicates >= 8 && replicates <= 512,
      s"replicates $replicates outside [8, 512]")
    require(alphaPct >= 1 && alphaPct <= 20, s"alphaPct $alphaPct outside [1, 20]")
    require(salt.forall(_ < 0x80), s"non-ASCII salt '$salt' breaks the byte fold")
    EventTimeSlots[BootTick, BootState, BootWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      BootState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) =>
        step(old, batch, bucketUs, wmUs, replicates, salt, alphaPct),
      (r, key) => r.copy(key = key))
  }
}

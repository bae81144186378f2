package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingConformal]]: stream key, event time,
  * the INTEGRAL pre-quantized gate score (the
  * [[graft.operators.Quality.conformalGateThreshold]] contract) and
  * whether the row is a known-good one (the class the deployed τ
  * guarantees coverage on; label arrival can lag scoring — feed the
  * monitor from the labeled slice). */
final case class ConformalTick(key: String, tsUs: Long, score: Long, good: Boolean)

/** Keyed state: highest FINALIZED slot + per open slot the four exact
  * counters (goodTotal, goodPass, badTotal, badPass) — constant-size
  * per window, the smallest sufficient statistic a coverage audit
  * needs. */
final case class ConformalState(
    doneSlot: Option[Long], open: Map[Long, (Long, Long, Long, Long)])

/** One finalized per-window coverage row: exact counts, the empirical
  * coverage and false-accept rate, the Wilson UPPER bound on coverage,
  * and the breach flag. */
final case class ConformalWindowRow(
    key: String, slot: Long,
    n_good: Long, good_pass: Long, coverage: Option[Double],
    cov_hi: Option[Double],
    n_bad: Long, bad_pass: Long, false_accept_rate: Option[Double],
    breach: Option[Boolean])

/** Live per-window coverage monitoring for a DEPLOYED conformal gate —
  * the streaming completion of
  * [[graft.operators.Quality.conformalGateThreshold]]: the batch step
  * picks τ with the distribution-free guarantee
  * P(good row passes) ≥ 1 − α, but the guarantee rests on
  * EXCHANGEABILITY between calibration and future rows — the one
  * assumption production data violates the moment the corpus drifts.
  * This monitor watches each window's empirical coverage of good rows
  * against the guarantee and alarms when even the OPTIMISTIC read is
  * below it: breach ⇔ the Wilson 95% UPPER bound on coverage
  * (Wilson 1927, the [[graft.operators.Quality.wilsonHi]] arithmetic
  * verbatim, z = 1.96) sits below 1 − α. A breach is therefore not
  * "this window was unlucky" — binomial noise at this n cannot explain
  * it — it is "exchangeability broke; recalibrate τ": the
  * distribution-shift alarm tuned exactly to what the gate promised.
  * The false-accept rate on known-bad rows rides along as the
  * efficiency readout.
  *
  * Windows are emitted the moment they are watermark-FINAL (the
  * [[EventTimeSlots]] lifecycle — rows immutable, exactly-once); late
  * ticks for finalized slots drop.
  * Batch equivalence is spec-asserted: each drained row's counts are
  * exact integer sums over the (key, slot) tick slice, and
  * coverage/cov_hi/far reproduce the batch column arithmetic
  * bit-for-bit.
  *
  * Guards: per-window side counts beyond 2⁶² cannot occur (counters are
  * increments); rates NULL on empty sides (undefined, never 0); breach
  * NULL when no good rows arrived — an empty window is not evidence of
  * drift. Key population follows the [[EventTimeSlots]]
  * `dropIdleAfterUs` contract. */
object StreamingConformal {

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[graft.operators.Quality.wilsonHi]]'s double chain, verbatim
    * (z = 1.96, clamped into [0, 1]) — kept in lockstep so the
    * spec-asserted batch equivalence is an identity. */
  private def wilsonHi(k: Long, n: Long): Double = {
    val nn = n.toDouble
    val p = k.toDouble / nn
    val z = 1.96
    val z2 = z * z
    val center = p + z2 / (2.0 * nn)
    val spread = z * math.sqrt(p * (1.0 - p) / nn + z2 / (4.0 * nn * nn))
    math.max(0.0, math.min(1.0, (center + spread) / (1.0 + z2 / nn)))
  }

  private def rowOf(
      slot: Long, c: (Long, Long, Long, Long),
      alphaNum: Int, alphaDen: Int): ConformalWindowRow = {
    val (gt, gp, bt, bp) = c
    val guarantee = 1.0 - alphaNum.toDouble / alphaDen
    val (cov, hi, breach) =
      if (gt > 0) {
        val h = wilsonHi(gp, gt)
        (Some(r6(gp.toDouble / gt.toDouble)), Some(r6(h)), Some(h < guarantee))
      } else (None, None, None)
    val far = if (bt > 0) Some(r6(bp.toDouble / bt.toDouble)) else None
    ConformalWindowRow("", slot, gt, gp, cov, hi, bt, bp, far, breach)
  }

  /** The pure per-key transition (extracted for property tests). */
  def step(
      old: ConformalState,
      ticks: Seq[ConformalTick],
      tau: Long,
      bucketUs: Long,
      wmUs: Long,
      alphaNum: Int,
      alphaDen: Int): (Seq[ConformalWindowRow], ConformalState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val (gt, gp, bt, bp) = open.getOrElse(slot, (0L, 0L, 0L, 0L))
        val pass = if (t.score >= tau) 1L else 0L
        open += slot -> (if (t.good) (gt + 1L, gp + pass, bt, bp)
          else (gt, gp, bt + 1L, bp + pass))
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map(s => rowOf(s, open(s), alphaNum, alphaDen))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, ConformalState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[ConformalTick],
      tau: Long,
      bucketUs: Long,
      watermarkDelay: String,
      alphaNum: Int = 1,
      alphaDen: Int = 10,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[ConformalState],
      re: Encoder[ConformalWindowRow]): Dataset[ConformalWindowRow] = {
    require(alphaNum >= 1 && alphaNum < alphaDen,
      s"StreamingConformal: alpha $alphaNum/$alphaDen outside (0, 1)")
    EventTimeSlots[ConformalTick, ConformalState, ConformalWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      ConformalState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) =>
        step(old, batch, tau, bucketUs, wmUs, alphaNum, alphaDen),
      (r, key) => r.copy(key = key))
  }
}

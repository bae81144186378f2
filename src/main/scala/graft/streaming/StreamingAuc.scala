package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One scored prediction for [[StreamingAuc]]: stream key, event time,
  * the INTEGRAL micro-probability score (the
  * [[graft.operators.Quality.rocAuc]] quantization contract — callers
  * pre-quantize, which is also what bounds the per-window cells state),
  * and the boolean outcome. */
final case class AucTick(key: String, tsUs: Long, score: Long, label: Boolean)

/** Keyed state: highest FINALIZED window slot plus, per still-open slot,
  * the distinct-score CELLS frame (score → (n_pos, n_neg)) — the same
  * sufficient statistic the batch rocAuc/calibration pass reduces to, so
  * state is distinct-score-sized (bounded by the caller's quantization +
  * the hard `maxCells` guard), never tick-sized. */
final case class AucState(
    doneSlot: Option[Long], open: Map[Long, Map[Long, (Long, Long)]])

/** One finalized per-window eval row — the column contract of
  * [[graft.operators.Quality.rocAuc]] (n, n_pos, n_neg, u2, auc) plus
  * the window slot and the [[graft.operators.Quality.calibrationCurve]]
  * aggregate `ece`, so the drained stream is row-for-row comparable with
  * the batch operators over the same ticks. */
final case class AucWindowRow(
    key: String, slot: Long, n: Long, n_pos: Long, n_neg: Long,
    u2: Long, auc: Option[Double], ece: Option[Double])

/** [[graft.operators.Quality.rocAuc]] + ECE as a LIVE per-window monitor
  * — "what is the quality gate's AUC and calibration error THIS hour" —
  * emitted the moment a window becomes FINAL (watermark past its end,
  * every row immutable: the [[EventTimeSlots]] lifecycle). The
  * natural next member of the drift family: [[StreamingCusum]] watches a
  * mean, [[StreamingAms]] watches concentration, THIS watches a
  * classifier's ranking power and probability calibration against
  * arriving ground truth.
  *
  * Batch equivalence is THE correctness contract (spec-asserted): each
  * drained row equals `Quality.rocAuc` and the ECE of
  * `Quality.calibrationCurve` over the same (key, slot) tick slice —
  * same mid-rank U statistic off the same distinct-score cells frame,
  * same exact integer ECE numerator Σ_b|n_pos_b·10⁶ − sum_score_b|,
  * same single-division roundings. Cells merge by per-(score) component
  * SUM, so per-micro-batch folding is order-insensitive by construction.
  *
  * Guards (all fail-loud, the repo contract): scores outside [0, 10⁶]
  * raise (the batch microProbGuard); per-window distinct scores beyond
  * `maxCells` raise (re-quantize coarser — state must stay model-sized);
  * per-window tick counts beyond 2³⁰ raise before u2 = 2U could wrap
  * int64 (2·nPos·nNeg < 2⁶³ needs nPos, nNeg < 2³¹; the
  * [[StreamingAms]] exactness-bound discipline).
  *
  * Key population follows the [[EventTimeSlots]] `dropIdleAfterUs`
  * contract. */
object StreamingAuc {

  private val M = 1000000L
  val Bins = 10

  /** Finalize one slot's cells into the emitted row — the batch
    * operators' exact arithmetic. */
  private def rowOf(slot: Long, cells: Map[Long, (Long, Long)]): AucWindowRow = {
    val nPos = cells.valuesIterator.map(_._1).sum
    val nNeg = cells.valuesIterator.map(_._2).sum
    // int64-exactness guard: u2 accumulates nPos_s·(2·nLt_s + nNeg_s)
    // whose total is 2·nPos·nNeg + Σties ≤ 2·nPos·nNeg + nPos·nNeg —
    // < 2⁶³ for nPos, nNeg < 2³⁰ (fires only past ~10⁹ ticks in ONE
    // key's window; fail loud, never a silently wrapped statistic)
    require(nPos < (1L << 30) && nNeg < (1L << 30),
      s"StreamingAuc: window slot $slot class count exceeds the " +
        "int64-exact bound (2^30 ticks per key-window) — shrink bucketUs")
    var nLt = 0L
    var u2 = 0L
    cells.toSeq.sortBy(_._1).foreach { case (_, (p, nn)) =>
      u2 += p * (2L * nLt + nn)
      nLt += nn
    }
    val auc =
      if (nPos > 0 && nNeg > 0)
        Some(BigDecimal(u2.toDouble / (2.0 * nPos.toDouble * nNeg.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    // ECE numerator: Σ_b |n_pos_b·10⁶ − sum_score_b| — exact integers
    // off the cells (sum_score_b ≤ 2³⁰·10⁶ < 2⁶³ under the tick bound)
    val n = nPos + nNeg
    val ece =
      if (n > 0) {
        val byBin = cells.toSeq.groupBy { case (s, _) =>
          math.min(s * Bins / M, (Bins - 1).toLong)
        }
        val num = byBin.valuesIterator.map { cs =>
          val posB = cs.map(_._2._1).sum
          val sumScoreB = cs.map { case (s, (p, nn)) => s * (p + nn) }.sum
          math.abs(posB * M - sumScoreB)
        }.sum
        Some(BigDecimal(num.toDouble / (n.toDouble * M.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      } else None
    AucWindowRow("", slot, n, nPos, nNeg, u2, auc, ece)
  }

  /** The pure per-key transition (extracted for property tests): fold a
    * batch of ticks into the open slots' cells (component-sum merge),
    * then finalize every slot the watermark has passed. Ticks at or
    * below the finalized frontier are watermark-late and drop. */
  def step(
      old: AucState,
      ticks: Seq[AucTick],
      bucketUs: Long,
      wmUs: Long,
      maxCells: Int): (Seq[AucWindowRow], AucState) = {
    var open = old.open
    ticks.foreach { t =>
      require(t.score >= 0L && t.score <= M,
        s"StreamingAuc: score ${t.score} outside the micro-probability " +
          "range [0, 1e6] — quantize as round(p*1e6) and pre-clamp")
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val cells = open.getOrElse(slot, Map.empty[Long, (Long, Long)])
        val (p0, n0) = cells.getOrElse(t.score, (0L, 0L))
        val next = cells.updated(t.score,
          if (t.label) (p0 + 1L, n0) else (p0, n0 + 1L))
        require(next.size <= maxCells,
          s"StreamingAuc: window slot $slot exceeds maxCells=$maxCells " +
            "distinct scores — pre-quantize coarser (state must stay " +
            "model-sized, the rocAuc distinct-score contract)")
        open += slot -> next
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map(s => rowOf(s, open(s)))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, AucState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[AucTick],
      bucketUs: Long,
      watermarkDelay: String,
      maxCells: Int = 4096,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[AucState],
      re: Encoder[AucWindowRow]): Dataset[AucWindowRow] = {
    require(maxCells >= 1, s"maxCells $maxCells must be positive")
    EventTimeSlots[AucTick, AucState, AucWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      AucState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs, maxCells),
      (r, key) => r.copy(key = key))
  }
}

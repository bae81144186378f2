package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingKs]]: stream key, event time, the
  * INTEGRAL pre-quantized value (the [[graft.operators.Quality.ksTest]]
  * contract — quantization bounds the per-window cells state), and the
  * side of the two-sample split (e.g. treatment vs control, this source
  * vs the rest). */
final case class KsTick(key: String, tsUs: Long, value: Long, side: Boolean)

/** Keyed state: highest FINALIZED slot + per open slot the
  * distinct-value cells (value → (c1, c2)) — the same sufficient
  * statistic the batch KS pass reduces to; distinct-value-sized, never
  * tick-sized. */
final case class KsState(
    doneSlot: Option[Long], open: Map[Long, Map[Long, (Long, Long)]])

/** One finalized per-window KS row — the column contract of
  * [[graft.operators.Quality.ksTest]] plus the window slot. */
final case class KsWindowRow(
    key: String, slot: Long, n1: Long, n2: Long, d_num: Long,
    d: Option[Double], crit: Option[Double], drifted: Option[Boolean])

/** [[graft.operators.Quality.ksTest]] as a LIVE per-window monitor —
  * "did the score distribution of side A diverge from side B THIS
  * window" (the binless two-sample drift alarm: treatment-vs-control
  * health, new-source-vs-corpus admission) — emitted the moment the
  * window is watermark-FINAL (the [[EventTimeSlots]] lifecycle, rows
  * immutable, exactly-once).
  *
  * Batch equivalence is THE correctness contract (spec-asserted): each
  * drained row equals `Quality.ksTest` over the same (key, slot) tick
  * slice — the same exact-integer sup-distance max|C₁n₂ − C₂n₁|, the
  * same one-division d, the same α = 0.05 critical value and
  * unrounded-compare drifted flag. Cells merge by component SUM, so
  * micro-batch folding is order-insensitive.
  *
  * Guards (fail-loud): per-window distinct values beyond `maxCells`
  * raise (re-quantize coarser); per-window side counts beyond 2³⁰ raise
  * before C₁·n₂ could wrap int64 (the [[StreamingAms]] bound
  * discipline). Key population follows the [[EventTimeSlots]]
  * `dropIdleAfterUs` contract. */
object StreamingKs {

  private def rowOf(slot: Long, cells: Map[Long, (Long, Long)]): KsWindowRow = {
    val n1 = cells.valuesIterator.map(_._1).sum
    val n2 = cells.valuesIterator.map(_._2).sum
    require(n1 < (1L << 30) && n2 < (1L << 30),
      s"StreamingKs: window slot $slot side count exceeds the int64-exact " +
        "bound (2^30 ticks per key-window) — shrink bucketUs")
    var cc1 = 0L; var cc2 = 0L; var dNum = 0L
    cells.toSeq.sortBy(_._1).foreach { case (_, (a, b)) =>
      cc1 += a; cc2 += b
      val diff = math.abs(cc1 * n2 - cc2 * n1)
      if (diff > dNum) dNum = diff
    }
    if (n1 > 0 && n2 > 0) {
      val dRaw = dNum.toDouble / (n1.toDouble * n2.toDouble)
      val critRaw = 1.358 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2.toDouble))
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      KsWindowRow("", slot, n1, n2, dNum,
        Some(r6(dRaw)), Some(r6(critRaw)), Some(dRaw > critRaw))
    } else KsWindowRow("", slot, n1, n2, dNum, None, None, None)
  }

  /** The pure per-key transition (extracted for property tests). */
  def step(
      old: KsState,
      ticks: Seq[KsTick],
      bucketUs: Long,
      wmUs: Long,
      maxCells: Int): (Seq[KsWindowRow], KsState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val cells = open.getOrElse(slot, Map.empty[Long, (Long, Long)])
        val (a0, b0) = cells.getOrElse(t.value, (0L, 0L))
        val next = cells.updated(t.value,
          if (t.side) (a0 + 1L, b0) else (a0, b0 + 1L))
        require(next.size <= maxCells,
          s"StreamingKs: window slot $slot exceeds maxCells=$maxCells " +
            "distinct values — pre-quantize coarser (state must stay " +
            "model-sized, the ksTest distinct-cells contract)")
        open += slot -> next
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map(s => rowOf(s, open(s)))
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, KsState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[KsTick],
      bucketUs: Long,
      watermarkDelay: String,
      maxCells: Int = 4096,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[KsState],
      re: Encoder[KsWindowRow]): Dataset[KsWindowRow] = {
    require(maxCells >= 1, s"maxCells $maxCells must be positive")
    EventTimeSlots[KsTick, KsState, KsWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      KsState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs, maxCells),
      (r, key) => r.copy(key = key))
  }
}

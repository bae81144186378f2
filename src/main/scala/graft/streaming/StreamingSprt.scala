package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingSprt]]: stream key (the experiment
  * variant, or `gate|variant` for segmented monitors), event time, and
  * the Bernoulli outcome (conversion / pass / success). */
final case class SprtTick(key: String, tsUs: Long, conv: Boolean)

/** Keyed state: highest FINALIZED slot, per OPEN slot the exact (n, k)
  * pair, the cumulative (n, k) over finalized slots, and the latched
  * decision (state, slot, n_at, llr_at) — constant-size per open
  * window plus one latch, the SPRT's own sufficient statistic. */
final case class SprtState(
    doneSlot: Option[Long],
    open: Map[Long, (Long, Long)],
    cumN: Long,
    cumK: Long,
    decision: Option[(String, Long, Long, Double)])

/** One finalized per-slot SPRT reading: the cumulative exact counts,
  * the log-likelihood ratio, this slot's boundary state, and the
  * latched decision columns (NULL while the test runs — the batch
  * [[graft.operators.Experiment.sprt]] output contract). */
final case class SprtWindowRow(
    key: String, slot: Long,
    n: Long, k: Long, llr: Double,
    state: String,
    decision: Option[String], decision_slot: Option[Long],
    n_at_decision: Option[Long], llr_at_decision: Option[Double])

/** Live sequential experiment monitoring — the streaming twin of
  * [[graft.operators.Experiment.sprt]] (the L180 batch surface): Wald's
  * SPRT is BUILT to be read continuously, so its natural home is a
  * stream — per key, per watermark-FINAL time slot, emit the cumulative
  * (n, k), the LLR against the shared [[graft.operators.Experiment
  * .sprtConstants]] doubles (VERBATIM — the batch-equivalence identity),
  * the slot's boundary state, and the LATCHED decision: Wald's error
  * guarantee prices the FIRST boundary crossing, so once a boundary is
  * hit the decision columns freeze at that slot even if later data
  * re-crosses (exactly the batch operator's min-decision-day
  * semantics); monitoring rows keep flowing after the latch for drift
  * observation, but the inference is the latch.
  *
  * Windows finalize in slot order the moment the watermark passes them
  * (the [[EventTimeSlots]] lifecycle — rows immutable, late ticks for
  * finalized slots drop); slots with no ticks emit nothing (the batch
  * cells frame skips empty days too, so prefix equivalence is exact).
  *
  * Batch equivalence is spec-asserted: for every drained (key, slot)
  * row, running the batch operator over the tick prefix with
  * day ≤ slot reproduces n, k, llr_final, decision, decision_day,
  * n_at_decision and llr_at_decision field-for-field.
  *
  * Guards: counters are increments (no overflow path at stream rates);
  * the LLR is ONE fixed-order double chain per finalized slot off
  * exact longs — no accumulation of floats across slots.
  *
  * `dropIdleAfterUs` follows the [[EventTimeSlots]] key-population TTL
  * mechanically, with one SPRT-specific consequence stated loudly:
  * evicting an idle key forgets its cumulative counters AND its
  * decision latch — the test RESTARTS if that key ever ticks again.
  * Use it only where idle keys are finished experiments; leave unset
  * for a bounded variant population (the default). */
object StreamingSprt {

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The pure per-key transition (extracted for property tests).
    * `la`/`lb`/`ua`/`ub` are the [[graft.operators.Experiment
    * .sprtConstants]] doubles, passed through verbatim. */
  def step(
      old: SprtState,
      ticks: Seq[SprtTick],
      bucketUs: Long,
      wmUs: Long,
      la: Double, lb: Double, ua: Double, ub: Double)
      : (Seq[SprtWindowRow], SprtState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val (n, k) = open.getOrElse(slot, (0L, 0L))
        open += slot -> (n + 1L, k + (if (t.conv) 1L else 0L))
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    var cumN = old.cumN
    var cumK = old.cumK
    var dec = old.decision
    val rows = closable.map { s =>
      val (n, k) = open(s)
      cumN += n
      cumK += k
      // the batch cum llr chain: k·la + (n−k)·lb, one fixed order
      val llr = cumK.toDouble * la + (cumN - cumK).toDouble * lb
      val state =
        if (llr >= ua) "accept_h1"
        else if (llr <= ub) "accept_h0"
        else "continue"
      if (dec.isEmpty && state != "continue")
        dec = Some((state, s, cumN, llr))
      SprtWindowRow("", s, cumN, cumK, r6(llr), state,
        dec.map(_._1), dec.map(_._2), dec.map(_._3), dec.map(d => r6(d._4)))
    }
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, SprtState(nextDone, open -- closable, cumN, cumK, dec))
  }

  def apply(
      ds: Dataset[SprtTick],
      bucketUs: Long,
      watermarkDelay: String,
      p0: Double,
      p1: Double,
      alpha: Double = 0.05,
      beta: Double = 0.05,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[SprtState],
      re: Encoder[SprtWindowRow]): Dataset[SprtWindowRow] = {
    val (la, lb, ua, ub) =
      graft.operators.Experiment.sprtConstants(p0, p1, alpha, beta)
    EventTimeSlots[SprtTick, SprtState, SprtWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      SprtState(None, Map.empty, 0L, 0L, None), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs, la, lb, ua, ub),
      (r, key) => r.copy(key = key))
  }
}

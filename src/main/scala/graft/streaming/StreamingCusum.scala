package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One raw observation for [[StreamingCusum]]: stream key, event time,
  * and the tick's additive contribution to its bucket. */
final case class CusumTick(key: String, tsUs: Long, value: Double)

/** Keyed state. Before the reference freezes: the finalized (slot,
  * quantized value) buckets collected so far (≤ refSlots). After: the
  * frozen in-control (μ, σ) plus the two cusum statistics in EXACT
  * micro-units (int64 — z is 6-rounded, so every S value is a multiple
  * of 10⁻⁶). Constant-size per key once frozen. */
final case class CusumState(
    refBuckets: Vector[(Long, Long)],
    mu: Option[Double], sd: Option[Double],
    sp6: Long, sn6: Long,
    lastSlot: Option[Long],
    open: Map[Long, Double])

/** One emitted chart point (append-mode, final). */
final case class CusumAlertRow(
    key: String, slot: Long, x: Long, z: Double,
    sPos: Double, sNeg: Double, alarmPos: Boolean, alarmNeg: Boolean)

/** [[graft.operators.Trend.cusum]] as a LIVE monitor — the change-point
  * chart emitted bucket by bucket as each becomes final, instead of a
  * batch read over the closed series. The batch operator computes the
  * recursion via the reflection identity (two windows); the stream IS
  * sequential per key, so it runs the textbook recursion
  * S⁺ ← max(0, S⁺ + z − k) directly in exact micro-units — the identity
  * proof makes the two literally equal, and the spec asserts it
  * per-bucket against `Trend.cusum` on the same finalized series.
  *
  * Reference semantics, matching batch: the key's FIRST `refSlots`
  * finalized buckets form the in-control window; on freezing, those
  * reference buckets replay through the recursion (batch scores them
  * too), then each later bucket emits as it lands. A zero reference σ
  * makes the key permanently silent — batch drops it, the stream never
  * emits it. Gap buckets do not exist in either frame (the
  * [[StreamingEwma]] contract). State per key: ≤ refSlots pairs before
  * freezing, two longs + two doubles after — constant; no idle TTL, so
  * key population is caller-owned (the [[EventTimeSlots]] `None`
  * contract). */
object StreamingCusum {

  /** z in exact micro-units: round((xq − μ)/σ, 6) · 10⁶ — the batch
    * 6-rounding represented as an int64. */
  def z6(xq: Long, mu: Double, sd: Double): Long =
    (BigDecimal((xq - mu) / sd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000))
      .toLongExact

  /** Frozen reference from the first refSlots quantized buckets —
    * the batch operator's fixed-order combination, verbatim. */
  def refStats(xs: Seq[Long]): (Double, Double) = {
    val n = xs.size.toDouble
    val s = xs.map(BigInt(_)).sum.toDouble
    val sq = xs.map(x => BigInt(x) * BigInt(x)).sum.toDouble
    val mu = s / n
    val varr = (sq - s * s / n) / n
    (mu, math.sqrt(math.max(varr, 0.0)))
  }

  /** Pure per-key transition (extracted for the equivalence spec). */
  def step(
      old: CusumState,
      ticks: Seq[CusumTick],
      bucketUs: Long,
      wmUs: Long,
      refSlots: Int,
      slack: Double,
      threshold: Double,
      quantDecimals: Int): (Seq[CusumAlertRow], CusumState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.lastSlot.forall(slot > _)) // frontier-late: history immutable
        open = open.updated(slot, open.getOrElse(slot, 0.0) + t.value)
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    if (closable.isEmpty)
      return (Seq.empty, old.copy(open = open))
    val scale = math.pow(10.0, quantDecimals)
    val k6 = math.round(slack * 1e6)
    var st = old
    val out = Vector.newBuilder[CusumAlertRow]
    def emit(slot: Long, xq: Long): Unit = {
      val z = z6(xq, st.mu.get, st.sd.get)
      val sp = math.max(0L, st.sp6 + z - k6)
      val sn = math.max(0L, st.sn6 - z - k6)
      st = st.copy(sp6 = sp, sn6 = sn)
      out += CusumAlertRow("", slot, xq, z.toDouble / 1e6,
        sp.toDouble / 1e6, sn.toDouble / 1e6,
        sp.toDouble / 1e6 > threshold, sn.toDouble / 1e6 > threshold)
    }
    closable.foreach { slot =>
      val xq = math.round(open(slot) * scale)
      if (st.mu.isEmpty) {
        val refs = st.refBuckets :+ (slot, xq)
        st = st.copy(refBuckets = refs)
        if (refs.size == refSlots) {
          val (mu, sd) = refStats(refs.map(_._2))
          st = st.copy(mu = Some(mu), sd = Some(sd), refBuckets = Vector.empty)
          // batch scores the reference slots too: replay them in order
          // (a zero σ leaves the key permanently silent, matching the
          // batch drop)
          if (sd > 0) refs.foreach { case (s, x) => emit(s, x) }
        }
      } else if (st.sd.get > 0) emit(slot, xq)
      st = st.copy(lastSlot = Some(slot))
    }
    (out.result(), st.copy(open = open -- closable))
  }

  def apply(
      ds: Dataset[CusumTick],
      bucketUs: Long,
      watermarkDelay: String,
      refSlots: Int = 7,
      slack: Double = 0.5,
      threshold: Double = 4.0,
      quantDecimals: Int = 0)(
      implicit se: Encoder[CusumState],
      re: Encoder[CusumAlertRow]): Dataset[CusumAlertRow] = {
    require(refSlots >= 2, s"refSlots $refSlots must be >= 2")
    require(slack >= 0, s"slack $slack must be >= 0")
    EventTimeSlots[CusumTick, CusumState, CusumAlertRow](
      ds, _.key, bucketUs, watermarkDelay, None,
      CusumState(Vector.empty, None, None, 0L, 0L, None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs,
        refSlots, slack, threshold, quantDecimals),
      (r, key) => r.copy(key = key))
  }
}

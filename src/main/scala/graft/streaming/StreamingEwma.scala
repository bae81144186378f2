package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One raw observation for [[StreamingEwma]]: stream key, event time,
  * and the tick's additive contribution to its bucket (1.0 for count
  * monitors; a measured quantity for rate/volume monitors). */
final case class EwmaTick(key: String, tsUs: Long, value: Double)

/** Keyed state: the trailing `window` FINALIZED (slot, quantized value)
  * pairs — the chart's memory, constant-size by construction — plus the
  * still-open bucket sums above the finalized frontier (watermark-lag /
  * bucket bounded). */
final case class EwmaState(
    finalized: Vector[(Long, Long)], open: Map[Long, Double])

/** One emitted chart point (append-mode, final — the watermark passed
  * the bucket's end, its value can never change). Score fields are None
  * until the key has `minPriors` history, matching the batch NULLs. */
final case class EwmaAlertRow(
    key: String, slot: Long, nPrior: Int, xLast: Double,
    ewma: Option[Double], sdPrior: Option[Double], z: Option[Double],
    flagged: Option[Boolean])

/** [[graft.operators.Trend.ewmaChart]] as a LIVE monitor — the EWMA
  * control chart emitted bucket by bucket the moment each bucket becomes
  * FINAL (its end at or before the watermark; the [[EventTimeSlots]]
  * lifecycle), instead of a batch read of the last bucket only.
  *
  * Batch equivalence is THE correctness contract (spec-asserted): the
  * row emitted for bucket t carries exactly the numbers
  * `Trend.ewmaChart` reports when run over the key's present-bucket
  * series truncated at t — same λ=1/2 integer weights, same exact long
  * sufficient sums, same fixed-order double combination, same HALF_UP
  * rounding to 4. Gap buckets do not exist in either frame (the chart
  * scores the series PRESENT — zero-filling is [[StreamingResample]]'s
  * job when wanted).
  *
  * State per key: `window` (slot, long) pairs + the open-bucket map —
  * constant once the watermark lag is fixed. No idle TTL: key population
  * is caller-owned (the [[EventTimeSlots]] `None` contract). */
object StreamingEwma {

  /** The batch chart's scoring arithmetic on one key's trailing history
    * (newest-first priors), shared verbatim by [[step]] and the spec.
    * Mirrors Trend.ewmaChart: exact long sums, one double combination,
    * HALF_UP round to 4. */
  def score(
      priors: Seq[Long], xLast: Long, window: Int, limit: Double,
      minPriors: Int, quantScale: Double):
      (Option[Double], Option[Double], Option[Double], Option[Boolean]) = {
    val used = priors.take(window)
    val n = used.length
    if (n == 0) return (None, None, None, None)
    var sw = 0L; var sww = 0L; var swx = BigInt(0)
    var sx = BigInt(0); var sxx = BigInt(0)
    used.zipWithIndex.foreach { case (v, j) =>
      val w = 1L << (window - 1 - j) // newest prior carries 2^(window-1)
      sw += w; sww += w * w
      swx += BigInt(w) * BigInt(v)
      sx += BigInt(v); sxx += BigInt(v) * BigInt(v)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nd = n.toDouble
    val ewma = swx.toDouble / sw.toDouble
    val varS = (sxx.toDouble - sx.toDouble * sx.toDouble / nd) / (nd - 1.0)
    val ok = n >= minPriors && varS > 0.0
    val ewmaOut = Some(r4(ewma / quantScale))
    if (!ok) return (ewmaOut, None, None, None)
    val sd = math.sqrt(varS)
    val z = (xLast.toDouble - ewma) / (sd * math.sqrt(sww.toDouble) / sw.toDouble)
    (ewmaOut, Some(r4(sd / quantScale)), Some(r4(z)),
      Some(math.abs(z) > limit))
  }

  /** Pure per-key transition (extracted for property tests): fold ticks
    * into open bucket sums, then finalize every bucket whose end the
    * watermark has passed — in slot order — scoring each against the
    * trailing finalized window as it lands. */
  def step(
      old: EwmaState,
      ticks: Seq[EwmaTick],
      bucketUs: Long,
      wmUs: Long,
      window: Int,
      limit: Double,
      minPriors: Int,
      quantDecimals: Int): (Seq[EwmaAlertRow], EwmaState) = {
    val frontier = old.finalized.lastOption.map(_._1)
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      // at or below the finalized frontier = watermark-late: history is
      // immutable (the StreamingCoverage rule)
      if (frontier.forall(slot > _))
        open = open.updated(slot, open.getOrElse(slot, 0.0) + t.value)
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    if (closable.isEmpty) return (Seq.empty, EwmaState(old.finalized, open))
    val scale = math.pow(10.0, quantDecimals)
    var fin = old.finalized
    val out = closable.map { slot =>
      val vq = math.round(open(slot) * scale)
      val priors = fin.reverseIterator.map(_._2).toSeq
      val (e, sd, z, fl) =
        score(priors, vq, window, limit, minPriors, scale)
      fin = (fin :+ (slot, vq)).takeRight(window)
      EwmaAlertRow("", slot, math.min(priors.length, window), vq / scale,
        e, sd, z, fl)
    }
    (out, EwmaState(fin, open -- closable))
  }

  def apply(
      ds: Dataset[EwmaTick],
      bucketUs: Long,
      watermarkDelay: String,
      window: Int = 8,
      limit: Double = 3.0,
      minPriors: Int = 3,
      quantDecimals: Int = 2)(
      implicit se: Encoder[EwmaState],
      re: Encoder[EwmaAlertRow]): Dataset[EwmaAlertRow] = {
    require(window >= 2 && window <= 25,
      s"window $window outside [2, 25] (the Trend.ewmaChart bound)")
    require(minPriors >= 2, s"minPriors $minPriors must be >= 2")
    EventTimeSlots[EwmaTick, EwmaState, EwmaAlertRow](
      ds, _.key, bucketUs, watermarkDelay, None,
      EwmaState(Vector.empty, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs,
        window, limit, minPriors, quantDecimals),
      (r, key) => r.copy(key = key))
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingMixDrift]]: stream key, event time,
  * and the categorical value whose MIX is being watched (lang, source,
  * topic, license — a bounded vocabulary by contract). */
final case class MixTick(key: String, tsUs: Long, cat: String)

/** Keyed state: highest FINALIZED slot + per open slot the per-category
  * exact counts — bounded by the `maxCategories` contract. */
final case class MixState(
    doneSlot: Option[Long], open: Map[Long, Map[String, Long]])

/** One finalized per-window mix-drift row: the window size, the
  * chi-squared homogeneity test against the reference mix
  * (Wilson–Hilferty z, drifted flag) and the bounded Jensen–Shannon
  * readouts — the [[graft.operators.Quality.chiSquaredDrift]] /
  * [[graft.operators.Quality.jensenShannonDrift]] pair per window. */
final case class MixWindowRow(
    key: String, slot: Long, n: Long, categories: Long,
    chi2: Option[Double], z_wh: Option[Double], drifted: Option[Boolean],
    jsd: Option[Double], js_dist: Option[Double])

/** Live corpus-mix drift monitoring — the streaming twin of the
  * categorical drift pair (L179 chi-squared = the TEST, L185 JSD = the
  * bounded MEASURE): production data pipelines watch "did the
  * language/source/topic mix of what we're ingesting shift against the
  * reference snapshot" continuously, and the batch operators only
  * answer it per run. Per (key, watermark-final window): the 2×C
  * homogeneity test of the window's counts against a FIXED reference
  * mix (side 1 = window, side 2 = reference — the reference is typically
  * the training-corpus mix, passed as exact counts), plus JSD/√JSD for
  * the dashboards that threshold on a bounded distance.
  *
  * Arithmetic is the batch operators' VERBATIM (spec-asserted
  * equivalence field-for-field): exact long d = c1·n2 − c2·n1 per
  * category, per-category terms through the same fixed-order chains,
  * BigDecimal(12-dp) accumulation reproducing the Decimal(38,12)/(38,6)
  * column sums, Wilson–Hilferty z against the one-sided 95% literal,
  * JSD halves with the exact-zero convention and the ≥0 clamp.
  *
  * Alarm discipline (documented, the [[StreamingKs]] precedent): a
  * per-window test re-run every window inflates the marginal error
  * rate — route the drained z's through [[graft.operators.Quality
  * .bhFdr]] (the q246 discipline) or treat `drifted` as a monitoring
  * readout, not a stopping rule; the peek-safe member is the batch
  * conformal/mSPRT tier.
  *
  * Windows finalize in slot order (the [[EventTimeSlots]] lifecycle,
  * late ticks drop); categories are bounded by `maxCategories`
  * (fail-loud at ingest — the state bound IS the contract; an unbounded
  * categorical belongs in [[StreamingHeavyHitters]]). */
object StreamingMixDrift {

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dec6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
  private def dec12(x: Double) =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** The batch chi-squared + JSD chains over (window, reference) count
    * maps — [[graft.operators.Quality.chiSquaredDrift]] /
    * [[jensenShannonDrift]] arithmetic verbatim (kept in lockstep; the
    * spec asserts field-for-field equality against the columns). */
  def scoreOf(
      win: Map[String, Long],
      ref: Map[String, Long]): (Long, Long, Option[Double], Option[Double],
      Option[Boolean], Option[Double], Option[Double]) = {
    val cats = (win.keySet ++ ref.keySet).toSeq.sorted
    val n1 = win.values.sum
    val n2 = ref.values.sum
    val k = cats.size.toLong
    if (n1 > 0 && n2 > 0 && k > 1) {
      // chi2: per-category exact-long d, term chain, dec6 accumulation
      var tsum = BigDecimal(0)
      cats.foreach { c =>
        val c1 = win.getOrElse(c, 0L); val c2 = ref.getOrElse(c, 0L)
        val d = c1 * n2 - c2 * n1
        tsum += dec6(d.toDouble * d.toDouble / (c1 + c2).toDouble)
      }
      val chi2 = tsum.toDouble / (n1.toDouble * n2.toDouble)
      val kd = (k - 1L).toDouble
      val z = (math.cbrt(chi2 / kd) - (1.0 - 2.0 / (9.0 * kd))) /
        math.sqrt(2.0 / (9.0 * kd))
      // jsd: signed halves, exact zero convention, >= 0 clamp
      var js = BigDecimal(0)
      cats.foreach { c =>
        val c1 = win.getOrElse(c, 0L); val c2 = ref.getOrElse(c, 0L)
        val p = if (n1 > 0) c1.toDouble / n1 else 0.0
        val q = if (n2 > 0) c2.toDouble / n2 else 0.0
        val h1 = if (c1 > 0) 0.5 * p * math.log(2.0 * p / (p + q)) else 0.0
        val h2 = if (c2 > 0) 0.5 * q * math.log(2.0 * q / (p + q)) else 0.0
        js += dec12(h1 + h2)
      }
      val jsd = math.max(js.toDouble, 0.0)
      val ln2 = 0.6931471805599453
      (n1, k, Some(r6(chi2)), Some(r6(z)),
        Some(z > 1.6448536269514722),
        Some(r6(jsd)), Some(r6(math.sqrt(jsd / ln2))))
    } else (n1, k, None, None, None, None, None)
  }

  /** The pure per-key transition (extracted for property tests). */
  def step(
      old: MixState,
      ticks: Seq[MixTick],
      ref: Map[String, Long],
      maxCategories: Int,
      bucketUs: Long,
      wmUs: Long): (Seq[MixWindowRow], MixState) = {
    var open = old.open
    ticks.foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val m = open.getOrElse(slot, Map.empty[String, Long])
        val nm = m.updated(t.cat, m.getOrElse(t.cat, 0L) + 1L)
        require(nm.size <= maxCategories,
          s"StreamingMixDrift: window $slot exceeded $maxCategories " +
            "categories — an unbounded categorical belongs in " +
            "StreamingHeavyHitters, not a mix monitor")
        open += slot -> nm
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.map { s =>
      val (n1, k, chi2, z, dr, jsd, dist) = scoreOf(open(s), ref)
      MixWindowRow("", s, n1, k, chi2, z, dr, jsd, dist)
    }
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, MixState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[MixTick],
      reference: Map[String, Long],
      bucketUs: Long,
      watermarkDelay: String,
      maxCategories: Int = 4096,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[MixState],
      re: Encoder[MixWindowRow]): Dataset[MixWindowRow] = {
    require(reference.nonEmpty && reference.values.forall(_ > 0L),
      "StreamingMixDrift: the reference mix must be non-empty positive counts")
    require(reference.size <= maxCategories,
      s"StreamingMixDrift: reference carries ${reference.size} categories " +
        s"> maxCategories $maxCategories")
    require(maxCategories >= 2 && maxCategories <= 65536,
      s"maxCategories $maxCategories outside [2, 65536]")
    EventTimeSlots[MixTick, MixState, MixWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      MixState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) =>
        step(old, batch, reference, maxCategories, bucketUs, wmUs),
      (r, key) => r.copy(key = key))
  }

  /** Drive a BATCH tick frame through the live mix monitor and return
    * the DRAINED window frame ([[DrainFeed.replay]]) — the q280
    * drained-replay pattern on the second streaming twin: the result is
    * the per-window chi-squared/JSD scoring of EXACT window counts
    * against the fixed reference mix. Unlike the MG summary, the mix
    * state is exact counts, so the drained frame is a pure function of
    * the tick multiset at ANY capacity — the whole surface (windowing,
    * watermark finalization, state, scoreOf arithmetic) replays as batch
    * SQL: the registered q281 DuckDB gate. `maxDriveRows` caps the
    * driven prefix (first rows by (tsUs, key, cat)) exactly as in
    * [[StreamingHeavyHitters.drainedReplay]]. */
  def drainedReplay(
      ticks: org.apache.spark.sql.DataFrame,
      reference: Map[String, Long],
      bucketUs: Long,
      maxCategories: Int = 4096,
      maxDriveRows: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val sp = ticks.sparkSession
    import sp.implicits._
    val typed = ticks.select(
      col("key").cast("string").as("key"),
      col("tsUs").cast("long").as("tsUs"),
      col("cat").cast("string").as("cat")).as[MixTick]
    DrainFeed.replay[MixTick, MixWindowRow](typed, t => (t.tsUs, t.key, t.cat),
        (k, ts) => MixTick(k, ts, "x"), bucketUs, maxDriveRows,
        "mix_drain_")(
      ds => apply(ds, reference, bucketUs, watermarkDelay = "0 seconds",
        maxCategories = maxCategories))
  }
}
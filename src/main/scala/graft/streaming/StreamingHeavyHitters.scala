package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

/** One observation for [[StreamingHeavyHitters]]: stream key, event
  * time, and the item whose frequency is being watched (token, URL
  * host, user agent, source — any unbounded categorical). */
final case class HhTick(key: String, tsUs: Long, item: String)

/** Keyed state: highest FINALIZED slot + per open slot (n, counters,
  * decrements) — the Misra–Gries summary, ≤ capacity counters per
  * window by construction. */
final case class HhState(
    doneSlot: Option[Long],
    open: Map[Long, (Long, Map[String, Long], Long)])

/** One finalized heavy-hitter row: the summary estimate, the window's
  * decrement count (the per-item error bound: est ≤ true ≤ est + err),
  * and whether the window's summary is EXACT (zero decrements — the
  * distinct items fit the capacity). */
final case class HhWindowRow(
    key: String, slot: Long, rank: Long, item: String,
    est: Long, err_bound: Long, n_window: Long, exact: Boolean)

/** Live heavy-hitter monitoring over an UNBOUNDED categorical — the
  * Misra–Gries frequent-items summary (Misra & Gries 1982; the
  * mergeability analysis of Agarwal et al. 2013) per (key, window):
  * the sketch-family member the batch tier covers with exact groupBy
  * top-k (boilerplate n-grams, source mixes) but a stream cannot —
  * per-window item cardinality is unbounded, and a per-item state map
  * would grow without limit; MG keeps ≤ `capacity` counters and still
  * GUARANTEES (1) every item with true count > n/(capacity+1) is
  * present, and (2) est ≤ true ≤ est + decrements for every emitted
  * item — the deterministic error bar a drift/abuse alarm needs (a
  * CountMinSketch gives probabilistic bounds; MG's are worst-case).
  *
  * Determinism contract (stated precisely, not hand-waved): the step
  * sorts each micro-batch's ticks canonically by (tsUs, item), so the
  * transition is a pure function of the tick MULTISET per batch; the
  * summary may still depend on how the stream was cut into
  * micro-batches (inherent to any lossy mergeable summary), but the
  * two GUARANTEES above hold for ANY batch partitioning (MG's
  * invariants are merge-safe), and `exact = true` windows (zero
  * decrements) equal the batch groupBy counts exactly regardless of
  * batching — the spec-asserted contract.
  *
  * Windows finalize in slot order when watermark-FINAL (the
  * [[EventTimeSlots]] lifecycle; late ticks drop); emitted items order by (est desc, item) with ranks 1..m. */
object StreamingHeavyHitters {

  /** The pure per-key transition (extracted for property tests). */
  def step(
      old: HhState,
      ticks: Seq[HhTick],
      capacity: Int,
      bucketUs: Long,
      wmUs: Long): (Seq[HhWindowRow], HhState) = {
    var open = old.open
    // canonical order: the transition is a function of the multiset
    ticks.sortBy(t => (t.tsUs, t.item)).foreach { t =>
      val slot = Math.floorDiv(t.tsUs, bucketUs)
      if (old.doneSlot.forall(slot > _)) {
        val (n, m, dec) = open.getOrElse(slot, (0L, Map.empty[String, Long], 0L))
        val next =
          if (m.contains(t.item)) (n + 1L, m.updated(t.item, m(t.item) + 1L), dec)
          else if (m.size < capacity) (n + 1L, m.updated(t.item, 1L), dec)
          else {
            // the MG decrement: every counter down one, zeros evicted
            val dm = m.map { case (k, v) => k -> (v - 1L) }.filter(_._2 > 0L)
            (n + 1L, dm, dec + 1L)
          }
        open += slot -> next
      }
    }
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    val rows = closable.flatMap { s =>
      val (n, m, dec) = open(s)
      m.toSeq.sortBy { case (item, est) => (-est, item) }.zipWithIndex.map {
        case ((item, est), i) =>
          HhWindowRow("", s, i.toLong + 1L, item, est, dec, n, dec == 0L)
      }
    }
    val nextDone = if (closable.isEmpty) old.doneSlot else Some(closable.last)
    (rows, HhState(nextDone, open -- closable))
  }

  def apply(
      ds: Dataset[HhTick],
      capacity: Int,
      bucketUs: Long,
      watermarkDelay: String,
      dropIdleAfterUs: Option[Long] = None)(
      implicit se: Encoder[HhState],
      re: Encoder[HhWindowRow]): Dataset[HhWindowRow] = {
    require(capacity >= 1 && capacity <= 4096,
      s"capacity $capacity outside [1, 4096] — the summary IS the state bound")
    EventTimeSlots[HhTick, HhState, HhWindowRow](
      ds, _.key, bucketUs, watermarkDelay, dropIdleAfterUs,
      HhState(None, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, capacity, bucketUs, wmUs),
      (r, key) => r.copy(key = key))
  }

  /** Drive a BATCH tick frame through the live stream and return the
    * DRAINED window frame ([[DrainFeed.replay]]) — the q279-style
    * oracle-witness pattern applied to a streaming surface. With
    * `capacity` above the per-(key, slot) distinct-item count every
    * window drains with zero decrements — `exact = true` — and the MG
    * contract makes the result a pure function of the tick multiset,
    * replayable as batch GROUP-BY SQL: the registered q280 DuckDB gate.
    * The driver-side materialization is the MemoryStream feed contract
    * (a replay/test harness, not the production source path — that is
    * `readStream` into the same flatMapGroupsWithState); `maxDriveRows`
    * caps the driven prefix (first rows by (tsUs, key, item)) so the
    * replay stays driver-feasible at 100x fixture scale — a no-op at
    * gate scales (<= 100k events). */
  def drainedReplay(
      ticks: org.apache.spark.sql.DataFrame,
      capacity: Int,
      bucketUs: Long,
      maxDriveRows: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val sp = ticks.sparkSession
    import sp.implicits._
    val typed = ticks.select(
      col("key").cast("string").as("key"),
      col("tsUs").cast("long").as("tsUs"),
      col("item").cast("string").as("item")).as[HhTick]
    DrainFeed.replay[HhTick, HhWindowRow](typed, t => (t.tsUs, t.key, t.item),
        (k, ts) => HhTick(k, ts, "x"), bucketUs, maxDriveRows,
        "hh_drain_")(
      ds => apply(ds, capacity, bucketUs, watermarkDelay = "0 seconds"))
  }
}

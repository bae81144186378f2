package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

final case class LcTick(key: String, tsUs: Long)

/** Counting state: the key's cumulative tick count plus the open slots'
  * tick counts. `seen` survives slot finalization, so a row shows
  * whether the key's state was kept or started afresh. */
final case class LcState(seen: Long, open: Map[Long, Long])

final case class LcRow(key: String, slot: Long, n: Long, seen: Long)

/** A trivial counting `step` driven through [[EventTimeSlots]]. */
object LcCounting {

  def step(old: LcState, ticks: Seq[LcTick], bucketUs: Long, wmUs: Long)
      : (Seq[LcRow], LcState) = {
    var open = old.open
    ticks.foreach { t =>
      val s = Math.floorDiv(t.tsUs, bucketUs)
      open += s -> (open.getOrElse(s, 0L) + 1L)
    }
    val seen = old.seen + ticks.size
    val wSlot = Math.floorDiv(wmUs, bucketUs)
    val closable = open.keys.filter(_ < wSlot).toSeq.sorted
    (closable.map(s => LcRow("", s, open(s), seen)), LcState(seen, open -- closable))
  }

  def apply(ds: Dataset[LcTick], bucketUs: Long, dropIdleAfterUs: Option[Long])(
      implicit se: Encoder[LcState], re: Encoder[LcRow]): Dataset[LcRow] =
    EventTimeSlots[LcTick, LcState, LcRow](
      ds, _.key, bucketUs, "0 seconds", dropIdleAfterUs,
      LcState(0L, Map.empty), _.open.keys,
      (old, batch, wmUs) => step(old, batch, bucketUs, wmUs),
      (r, key) => r.copy(key = key))
}

/** [[EventTimeSlots]] — the slot lifecycle every streaming monitor runs
  * on: idle-TTL retirement and revival, state retention without a TTL,
  * and finalization on timers alone for sub-millisecond slots. */
class EventTimeSlotsSpec extends SparkSpecBase {

  private val Sec = 1000000L

  /** Key `a` ticks, goes quiet for less than the 20 s TTL, ticks again,
    * then goes quiet for longer than the TTL and revives. Key `m` only
    * moves the watermark. Returns a's rows as (slot, n, seen). */
  private def idleScript(name: String, ttl: Option[Long]): Seq[(Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[LcTick](s)
    val q = LcCounting(ms.toDS(), Sec, ttl)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      Seq(
        Seq(LcTick("a", 10L), LcTick("a", 20L)),  // slot 0
        Seq(LcTick("m", 10 * Sec)),               // slot 0 final; TTL armed at 30 s
        Seq(LcTick("a", 15 * Sec)),               // back within the TTL
        Seq(LcTick("m", 25 * Sec)),               // slot 15 final; TTL armed at 45 s
        Seq(LcTick("m", 40 * Sec)),
        Seq(LcTick("a", 41 * Sec)),               // idle 15 s < TTL: not retired
        Seq(LcTick("m", 50 * Sec)),               // slot 41 final; TTL armed at 70 s
        Seq(LcTick("m", 80 * Sec)),               // TTL fires: retired (with Some)
        Seq(LcTick("m", 90 * Sec)),
        Seq(LcTick("a", 95 * Sec)),               // revival
        Seq(LcTick("m", 110 * Sec)),
        Seq(LcTick("m", 120 * Sec))
      ).foreach { b => ms.addData(b); q.processAllAvailable() }
      s.table(name).where(col("key") === "a").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sortBy(_._1)
    } finally q.stop()
  }

  test("Some(ttl): a key is retired only after an idle TTL timeout; a revived key emits again") {
    assert(idleScript("lc_ttl", Some(20 * Sec)) ===
      Seq((0L, 2L, 2L), (15L, 1L, 3L), (41L, 1L, 4L), (95L, 1L, 1L)),
      "state kept while the key returns within the TTL, fresh after retirement")
  }

  test("None: state is kept for an idle key") {
    assert(idleScript("lc_keep", None) ===
      Seq((0L, 2L, 2L), (15L, 1L, 3L), (41L, 1L, 4L), (95L, 1L, 5L)))
  }

  test("sub-millisecond slots finalize through the ceil-and-clamp re-arm alone") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[LcTick](s)
    val q = LcCounting(ms.toDS(), 500L, None)
      .writeStream.outputMode("append").format("memory")
      .queryName("lc_subms").start()
    try {
      // watermark at 5 ms; a's slot 10 ends at 5.5 ms, between watermark ms
      ms.addData(LcTick("zz", 5000L)); q.processAllAvailable()
      ms.addData(LcTick("a", 5200L), LcTick("a", 6700L)); q.processAllAvailable()
      // a gets no further ticks: only zz moves the watermark
      (10 to 12).foreach { i =>
        ms.addData(LcTick("zz", i * Sec)); q.processAllAvailable()
      }
      val got = s.table("lc_subms").where(col("key") === "a").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      assert(got === Seq((10L, 1L), (13L, 1L)), "pending sub-ms slots must finalize on timers")
    } finally q.stop()
  }

  test("input checks: bucketUs and dropIdleAfterUs must be positive") {
    val s = spark
    import s.implicits._
    val ds = MemoryStream[LcTick](s).toDS()
    intercept[IllegalArgumentException](LcCounting(ds, 0L, None))
    intercept[IllegalArgumentException](LcCounting(ds, Sec, Some(0L)))
  }
}

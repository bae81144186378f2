package graft.streaming

import graft.SparkSpecBase

/** [[DrainFeed.replay]] — the drained-replay drive behind q280/q281:
  * the sentinel key never reaches the result, and a `maxDriveRows` cap
  * drives exactly the first rows in (tsUs, key, value) order. */
class DrainFeedSpec extends SparkSpecBase {

  private val Bucket = 1000000L

  private def ticks = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 400).map { _ =>
      (s"k${rnd.nextInt(5)}", rnd.nextInt(20).toLong * Bucket + rnd.nextInt(1000), s"i${rnd.nextInt(9)}")
    }.toDF("key", "tsUs", "item")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("uncapped replay drains every window and drops the sentinel key") {
    val got = rows(StreamingHeavyHitters.drainedReplay(ticks, capacity = 64, bucketUs = Bucket))
    assert(got.nonEmpty && got.forall(r => r.head.toString.startsWith("k")))
    val n = ticks.groupBy("key").count().collect().map(_.getLong(1)).sum
    // exact windows: the per-window n_window sums over (key, slot) to the tick count
    val perWindow = got.map(r => (r(0), r(1)) -> r(6).asInstanceOf[Long]).toMap
    assert(perWindow.values.sum === n)
  }

  test("maxDriveRows drives exactly the first rows in drive order") {
    val s = spark
    import s.implicits._
    val cap = 150
    val prefix = ticks.as[(String, Long, String)].collect()
      .sortBy { case (k, ts, item) => (ts, k, item) }.take(cap).toSeq
      .toDF("key", "tsUs", "item")
    val capped = StreamingHeavyHitters.drainedReplay(ticks, capacity = 64,
      bucketUs = Bucket, maxDriveRows = cap.toLong)
    val expected = StreamingHeavyHitters.drainedReplay(prefix, capacity = 64,
      bucketUs = Bucket)
    assert(rows(capped) === rows(expected))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Shared MemoryStream drive for the drained-replay oracles (q280/q281
  * — the q279 witness pattern applied to streaming surfaces): feed the
  * caller's rows PLUS the first (arming) sentinel as ONE micro-batch —
  * the first batch's watermark is −inf, so nothing can drop late, and
  * the arming sentinel only raises the NEXT batch's watermark (the
  * watermark a batch closes against is the PREVIOUS batch's maximum) —
  * then each remaining sentinel in its own batch: the second far-future
  * sentinel's batch closes against watermark = the arming sentinel's
  * timestamp, finalizing every real (key, slot) window at once (state
  * timeouts fire even for keys with no new rows). Blocks until the sink
  * drains and returns the accumulated memory table.
  *
  * r19 optimization round: this was previously a 3-batch drive (fed,
  * arm, apply). Folding the arming sentinel into the fed batch removes
  * one full micro-batch (plan + state-store open/commit on every state
  * partition + offset/commit log writes) with a BIT-IDENTICAL drained
  * frame: the per-key tick multiset per batch is unchanged for every
  * real key (the sentinel rides its own key), and the drained output of
  * both replay surfaces is a pure function of that multiset — emission
  * merely moves one batch earlier. Second lever: `distinctKeys` sizes
  * the streaming aggregation's state partitions to the DRIVEN key count
  * (+1 sentinel) instead of the session default — with K keys at most K
  * state partitions ever hold rows, and every extra partition pays
  * store-open/commit/delta-file I/O per batch for nothing. This is
  * data-derived (the caller counts keys in the fed rows), not a
  * local-mode constant: a production drive with thousands of keys keeps
  * the session's partitioning. The session conf is restored right after
  * `start()` — a streaming query clones the session state at start, so
  * the scoped setting cannot leak to the caller. */
private[streaming] object DrainFeed {

  /** One `addData` block's row bound (r19 verdict item 6): the drive
    * previously concatenated the WHOLE tick array into one call —
    * `fed ++ arm` copies it, and MemoryStream encodes it as one block —
    * an unbounded single driver copy at 100× scale. Chunking bounds the
    * per-call copy; the chunks are added BEFORE the query starts, so
    * they still land in the FIRST micro-batch (a MemoryStream batch
    * spans every offset available at batch-planning time — a started
    * query could instead cut a batch boundary between two chunks,
    * changing the watermark the replay's semantics pin). */
  private val FeedChunkRows = 65536

  /** The key the replay sentinels ride on; filtered out of the result. */
  private val SentinelKey = " drain"

  /** Replay a BATCH tick frame through a live monitor and return its
    * drained window frame: collect at most `maxDriveRows` ticks in one
    * scan (`limit(cap + 1)`; only when the cap is exceeded, a second job
    * takes the first `cap` rows in drive order), sort them on the driver
    * in drive order, and [[run]] them with two far-future sentinels at
    * `lastTs + 2·bucketUs` (arming) and `lastTs + 4·bucketUs` (applying)
    * on a key of their own, which is dropped from the result.
    *
    * `typed` has the columns `key`, `tsUs` and one value column;
    * `order` gives a tick's drive order `(tsUs, key, value)`, and
    * `sentinel(key, tsUs)` builds a sentinel tick. */
  def replay[T: Encoder, R: Encoder](
      typed: Dataset[T],
      order: T => (Long, String, String),
      sentinel: (String, Long) => T,
      bucketUs: Long,
      maxDriveRows: Long,
      sinkPrefix: String)(build: Dataset[T] => Dataset[R]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // clamp before toIntExact: an "effectively unbounded" cap degrades
    // to the largest representable limit instead of overflowing
    val capRows = math.toIntExact(math.min(maxDriveRows, Int.MaxValue - 1L))
    val firstPass = typed.limit(capRows + 1).collect()
    val collected =
      if (firstPass.length <= maxDriveRows) firstPass
      else typed.orderBy((Seq("tsUs", "key") ++
          typed.columns.filterNot(Set("tsUs", "key"))).map(col): _*)
        .limit(capRows).collect()
    val fed = collected.sortBy(order).toIndexedSeq
    val lastTs = if (fed.isEmpty) 0L else order(fed.last)._1
    run[T, R](typed.sparkSession, fed,
        Seq(sentinel(SentinelKey, lastTs + 2L * bucketUs),
          sentinel(SentinelKey, lastTs + 4L * bucketUs)),
        build, sinkPrefix,
        distinctKeys = fed.iterator.map(order(_)._2).toSet.size + 1)
      .filter(col("key") =!= SentinelKey)
  }

  private def run[T, R: Encoder](
      spark: SparkSession,
      fed: IndexedSeq[T],
      sentinels: Seq[T],
      build: Dataset[T] => Dataset[R],
      sinkPrefix: String,
      distinctKeys: Int)(implicit enc: Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[T](spark)
    val sink = sinkPrefix + java.util.UUID.randomUUID().toString.replace("-", "")
    // batch 1: fed rows + the arming sentinel (watermark −inf, nothing
    // closes, nothing drops) — everything added before start() is one
    // micro-batch; batches 2..: the applying sentinel(s), each closing
    // against the previous batch's maximum event time
    val (arm, rest) =
      if (fed.nonEmpty && sentinels.nonEmpty) (Seq(sentinels.head), sentinels.tail)
      else (Seq.empty[T], sentinels)
    fed.grouped(FeedChunkRows).foreach(c => ms.addData(c))
    if (arm.nonEmpty) ms.addData(arm)
    // The session-global conf mutation below is NOT concurrency-safe:
    // two concurrent drained replays (or any query build racing this
    // set/restore window) could observe the scoped value. Every caller
    // is a single-threaded query build (bench/verify/oracle drive one
    // query at a time) — the single-caller assumption is the contract.
    val confKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(confKey)
    val scopedParts =
      math.max(1, math.min(prevParts.toInt, math.max(distinctKeys, 1)))
    spark.conf.set(confKey, scopedParts.toString)
    val q =
      try build(ms.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      finally spark.conf.set(confKey, prevParts)
    try {
      if (fed.nonEmpty || arm.nonEmpty) q.processAllAvailable()
      rest.foreach { s => ms.addData(s); q.processAllAvailable() }
    } finally q.stop()
    // Materialize the drained frame (model-sized: one row per finalized
    // (key, window) emission — it already lives in driver memory inside
    // the memory sink) and DROP the sink view: without this every replay
    // leaks a UUID-named temp view holding its full result for the
    // session lifetime — catalog.clearCache() between bench queries does
    // not remove temp views, so a dev loop accumulates them.
    val drained = spark.table(sink)
    val rows = drained.collectAsList()
    val schema = drained.schema
    spark.catalog.dropTempView(sink)
    spark.createDataFrame(rows, schema)
  }
}

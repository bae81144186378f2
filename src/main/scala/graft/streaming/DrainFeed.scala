package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** The MemoryStream drive behind the drained-replay oracles (q280 and
  * q281, the q279 witness pattern applied to streaming surfaces). It
  * runs in exactly two micro-batches:
  *
  *  1. the caller's rows plus one arming sentinel at
  *     `lastTs + 2·bucketUs`, on a key of its own. The first batch's
  *     watermark is −inf, so nothing drops late and nothing closes; the
  *     sentinel only raises the watermark the next batch runs at (a
  *     batch closes against the previous batch's maximum event time).
  *  2. Spark's no-data batch at that watermark. Every real `(key, slot)`
  *     ends at or before `lastTs + bucketUs`, so each key's event-time
  *     timer fires and finalizes all of its windows at once, even for
  *     keys with no rows in the batch. `processAllAvailable` waits for
  *     this batch.
  *
  * The sentinel's own slot stays open, so no third batch runs. The
  * drained frame is a pure function of the per-key tick multiset.
  *
  * Four settings are scoped to the replay's query: set before `start()`,
  * restored right after (a started query clones the session conf, so
  * they never reach the caller):
  *  - `spark.sql.shuffle.partitions` is sized to the driven key count
  *    (+1 sentinel). With K keys at most K state partitions hold rows,
  *    and every extra one pays a state-store open, commit and delta file
  *    per batch for nothing. A drive with more keys than the session's
  *    partitions keeps the session's value.
  *  - `spark.sql.streaming.noDataMicroBatches.enabled=true`: batch 2 is
  *    a no-data batch, so a caller session that turned them off would
  *    strand every window.
  *  - `spark.sql.streaming.checkpointFileManagerClass` names
  *    [[LocalCheckpointFileManager]] for the offset log, the commit log
  *    and the state store: Spark's `FileSystem`-based manager over a
  *    local file system that sets permissions in-process. Spark's
  *    default goes through the local `FileContext`, and Hadoop's local
  *    file system sets every file's permissions, both of which fork
  *    `readlink` or `chmod` processes without the native Hadoop library.
  *    The replay checkpoints into Spark's temporary local directory,
  *    where a rename is atomic, and the checksummed local file system
  *    still writes the `.crc` files.
  *  - `spark.sql.artifact.isolation.enabled=false`: a started query runs
  *    on a clone of the session, and with isolation on every clone gets
  *    a fresh artifact id, so executors build it a classloader of its
  *    own. Generated code is cached per (classloader, source), so each
  *    replay would recompile its whole plan. Off, the clone shares the
  *    executors' default classloader and a repeated replay reuses the
  *    classes the previous one compiled. The replay runs only engine
  *    code, and the engine adds no artifacts to a session, so there is
  *    nothing to isolate.
  *
  * The set/restore window is not safe against a concurrent query build
  * on the same session: every caller builds one query at a time.
  * Production streams that take a caller's checkpoint (`ParquetSink`,
  * `StreamCombine`) keep Spark's default manager. */
private[streaming] object DrainFeed {

  /** One `addData` block's row bound: it bounds the driver copy that
    * MemoryStream encodes per call. Every chunk is added before the
    * query starts, so all of them still land in the first micro-batch
    * (a MemoryStream batch spans every offset available when the batch
    * is planned; a started query could cut a batch between two chunks
    * and change the watermark the replay pins). */
  private val FeedChunkRows = 65536

  /** The key the replay sentinel rides on; filtered out of the result. */
  private val SentinelKey = " drain"

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val CheckpointManager = "spark.sql.streaming.checkpointFileManagerClass"
  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Replay a BATCH tick frame through a live monitor and return its
    * drained window frame: collect at most `maxDriveRows` ticks in one
    * scan (`limit(cap + 1)`; only when the cap is exceeded, a second job
    * takes the first `cap` rows in drive order), sort them on the driver
    * in drive order, and [[run]] them with the arming sentinel at
    * `lastTs + 2·bucketUs` on a key of its own, which is dropped from
    * the result. The replay takes two micro-batches: the fed rows with
    * the sentinel, then Spark's no-data batch at the sentinel's
    * watermark, which finalizes every window.
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
    run[T, R](typed.sparkSession, fed, sentinel(SentinelKey, lastTs + 2L * bucketUs),
        build, sinkPrefix,
        distinctKeys = fed.iterator.map(order(_)._2).toSet.size + 1)
      .filter(col("key") =!= SentinelKey)
  }

  private def run[T, R: Encoder](
      spark: SparkSession,
      fed: IndexedSeq[T],
      arm: T,
      build: Dataset[T] => Dataset[R],
      sinkPrefix: String,
      distinctKeys: Int)(implicit enc: Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[T](spark)
    val sink = sinkPrefix + java.util.UUID.randomUUID().toString.replace("-", "")
    fed.grouped(FeedChunkRows).foreach(c => ms.addData(c))
    ms.addData(Seq(arm))
    val scopedParts = math.max(1,
      math.min(spark.conf.get(ShufflePartitions).toInt, distinctKeys))
    // the memory sink registers its temp view at start(); drop it however
    // the drive ends, or it keeps the (partial) rows for the session's life
    try {
      val q = withScopedConf(spark, Seq(
          ShufflePartitions -> scopedParts.toString,
          NoDataBatches -> "true",
          CheckpointManager -> classOf[LocalCheckpointFileManager].getName,
          ArtifactIsolation -> "false")) {
        build(ms.toDS()).writeStream.outputMode("append")
          .format("memory").queryName(sink).start()
      }
      try q.processAllAvailable() finally q.stop()
      // one row per finalized (key, window) emission: it already lives in
      // driver memory inside the memory sink
      val drained = spark.table(sink)
      spark.createDataFrame(drained.collectAsList(), drained.schema)
    } finally spark.catalog.dropTempView(sink)
  }

  /** Run `body` with `confs` set on the session, then restore each key as
    * it was: its previous value, or unset if the session did not set it
    * (`getAll` holds only the keys a session sets; `getOption` would read
    * a key's default back as if it were set). */
  private def withScopedConf[A](spark: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

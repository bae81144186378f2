package graft.streaming

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** [[DrainFeed.replay]] — the drained-replay drive behind q280/q281:
  * the sentinel key never reaches the result, a `maxDriveRows` cap
  * drives exactly the first rows in (tsUs, key, value) order, the drive
  * takes two micro-batches, its scoped settings never reach the caller's
  * session, its memory-sink view is dropped even when the stream fails, a
  * repeated replay reuses the generated classes of the first, and a
  * replay starts no process. */
class DrainFeedSpec extends SparkSpecBase {

  private val Bucket = 1000000L

  private val ScopedKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.artifact.isolation.enabled")

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

  private def drained = rows(StreamingHeavyHitters.drainedReplay(ticks, capacity = 64, bucketUs = Bucket))

  /** Progress events of the one query named `prefix*` that `body` runs,
    * counted once it has terminated (the listener bus delivers a query's
    * events in order, termination last). */
  private def progressEvents(prefix: String)(body: => Unit): Int = {
    val batches = new AtomicInteger
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) started.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (Option(e.progress.name).exists(_.startsWith(prefix))) batches.incrementAndGet()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (started.contains(e.id)) terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      body
      assert(terminated.await(60, TimeUnit.SECONDS), "the replay query never terminated")
      assert(started.size === 1)
    } finally spark.streams.removeListener(listener)
    batches.get
  }

  /** Each scoped key: whether the session sets it, and the value it reads. */
  private def scopedConf =
    ScopedKeys.map(k => (k, spark.conf.getAll.contains(k), spark.conf.getOption(k)))

  test("uncapped replay drains every window and drops the sentinel key") {
    val got = drained
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

  test("the replay drains in two micro-batches: the fed rows with the sentinel, then the no-data batch") {
    var got = Seq.empty[Seq[Any]]
    val batches = progressEvents("hh_drain_") { got = drained }
    assert(got.nonEmpty)
    assert(batches === 2)
  }

  test("the replay's settings are scoped to its query, whatever the caller's session sets") {
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val expected = drained
    val wasSet = spark.conf.getAll.get(noData)
    spark.conf.set(noData, "false")
    try {
      val before = scopedConf
      assert(rows(StreamingHeavyHitters.drainedReplay(ticks, capacity = 64,
        bucketUs = Bucket)) === expected)
      assert(scopedConf === before)
      assert(spark.conf.getOption(noData) === Some("false"))
      assert(!spark.conf.getAll.contains("spark.sql.streaming.checkpointFileManagerClass"))
      assert(!spark.conf.getAll.contains("spark.sql.artifact.isolation.enabled"))
    } finally wasSet match {
      case Some(v) => spark.conf.set(noData, v)
      case None => spark.conf.unset(noData)
    }
  }

  test("a failing stream drops its memory-sink view and restores the settings") {
    val s = spark
    import s.implicits._
    val typed = ticks.as[HhTick]
    val before = scopedConf
    intercept[Exception] {
      DrainFeed.replay[HhTick, HhWindowRow](typed, t => (t.tsUs, t.key, t.item),
          (k, ts) => HhTick(k, ts, "x"), Bucket, 1000000L, "hh_fail_") { ds =>
        StreamingHeavyHitters(
          ds.filter(t => if (t.key == "k3") sys.error("injected tick failure") else true),
          capacity = 64, bucketUs = Bucket, watermarkDelay = "0 seconds")
      }.collect()
    }
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("hh_fail_")))
    assert(scopedConf === before)
  }

  /** Commands of the processes this JVM starts while `body` runs, seen by
    * a JFR stream on `jdk.ProcessStart`. A marker process started after
    * `body` bounds the count: the stream delivers events in time order,
    * and every event committed before the marker's is flushed with it or
    * earlier. Starts on a `java.lang.ref.Cleaner` thread are left out: a
    * garbage-collected session's artifact manager deletes its directory
    * there (`rm -rf`), whenever the collector gets to it. */
  private def processStarts(body: => Unit): Seq[String] = {
    import jdk.jfr.consumer.RecordingStream
    val marker = "graft-drainfeed-spec-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        val thread = Option(e.getThread).map(_.getJavaName).getOrElse("")
        if (cmd.contains(marker)) markerSeen.countDown()
        else if (markerSeen.getCount > 0 && !thread.startsWith("Cleaner-")) seen.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", marker).start().waitFor()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the JFR stream never saw the marker process")
    } finally rs.close()
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("a replay starts no process: its checkpoint files get their permissions in-process") {
    drained // warm: one-time probes (Hadoop's shell utilities) stay out of the count
    // the counter sees a process `body` starts
    assert(processStarts(new ProcessBuilder("true").start().waitFor()).size === 1)
    var got = Seq.empty[Seq[Any]]
    val starts = processStarts { got = drained }
    assert(got.nonEmpty)
    assert(starts === Seq.empty)
  }

  test("a repeated replay reuses the generated classes of the first") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val first = drained
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(drained === first)
    // the 3 left are the state (de)serializers of HhState's maps: their
    // lambda variables get fresh ids in every query
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before <= 3)
  }

  test("the local checkpoint manager writes Spark's checkpoint files with Spark's permissions") {
    import java.nio.file.{Files, Path => JPath}
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val conf = spark.sparkContext.hadoopConfiguration
    /** Each file and directory under the root a manager writes a commit
      * log's worth of files into, with its permission string. */
    def tree(make: (Path, org.apache.hadoop.conf.Configuration) => CheckpointFileManager) = {
      val root = Files.createTempDirectory("graft_ckpt")
      val mgr = make(new Path(root.toUri), conf)
      mgr.mkdirs(new Path(root.toUri.toString + "/commits"))
      for (i <- 0 until 2) {
        val out = mgr.createAtomic(new Path(root.toUri.toString + s"/commits/$i"), overwriteIfPossible = false)
        out.write(s"v1\n{\"batch\":$i}".getBytes("UTF-8"))
        out.close()
      }
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_ != root).map { (p: JPath) =>
        root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
      finally walk.close()
    }
    val ours = tree(new LocalCheckpointFileManager(_, _))
    val sparks = tree(new FileSystemBasedCheckpointFileManager(_, _))
    assert(ours.keySet === Set("commits", "commits/0", "commits/.0.crc", "commits/1", "commits/.1.crc"))
    assert(ours === sparks)
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.core.GraftSession
import graft.queries.{QueryDef, Registry}
import graft.streaming.WindowStream

/** The repo benchmark's harness: sets up a session, runs one workload
  * (`facade` or `llm-ops`) through the engine's public entry
  * points, checks every output, and prints one JSON result line.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --expected FILE --work DIR [--record DIR]
  */
object PerfBench {

  /** Spark's local cores: half of the reference box's 4, so the JIT
    * compiler, GC and the harness's own threads do not take CPU from the
    * tasks; on that box this halved the run-to-run spread (README.md). */
  val Cores = 2

  /** LLM-data operator queries covering the job-count, builder-eager,
    * driver-gate, kernel and streaming-state hot spots. */
  val LlmOps: Seq[String] = Seq(
    "q78_bpe_train_merges", "q122_minhash_calibration", "q216_suffix_array_repeats",
    "q280_streaming_heavy_hitters_drained")

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expected: String, work: String, record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("expected"), req("work"), m.get("record"))
  }

  // ---------------------------------------------------------------- session

  def newSession(work: String, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = GraftSession.configure(b, cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def sinceStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  // ---------------------------------------------------------------- checks

  /** Row count and an order-insensitive digest: the sum of every row's
    * xxhash64 over all columns (maps hashed as key-sorted entry arrays). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).toArray.toSeq
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, rows, d) = l.split("\t"); n -> (rows.toLong, d) }.toMap

  // ---------------------------------------------------------------- stats

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  // ---------------------------------------------------------------- output

  final class Metrics {
    val entries = ArrayBuffer[(String, Double, String)]()
    def put(name: String, value: Double, unit: String): Unit =
      entries += ((name, if (value.isNaN || value.isInfinite) 0.0 else value, unit))
    def json: String = entries.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
  }

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a thread the engine leaves running must not keep the
    // process alive after the result line
    val code =
      try { runMain(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def runMain(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Seq("facade", "llm-ops").contains(a.workload),
      s"unknown workload ${a.workload}")
    Files.createDirectories(Paths.get(a.work))
    a.record match {
      case Some(out) => record(a, out)
      case None =>
        val r = a.workload match {
          case "facade" => FacadeWorkload.run(a)
          case _ => BatchWorkload.run(a)
        }
        println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
          s""""failed": ${r.failed}, "metrics": ${r.metrics.json}}""")
    }
  }

  final case class Result(attempted: Long, failed: Long, metrics: Metrics)

  /** Setup, repeated `SetupReps` times: the first from JVM start, the rest
    * on a fresh session in the same JVM. Each setup ends with `ready` (the
    * facade subscribes there). Returns the live session from the last setup
    * and every time. */
  def setUp[T](a: Args)(ready: SparkSession => T)(release: T => Unit)
      : (SparkSession, T, Seq[Double]) = {
    val times = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var live: T = null.asInstanceOf[T]
    for (i <- 0 until SetupReps) {
      if (spark != null) { release(live); stopSession(spark) }
      val t0 = System.nanoTime()
      spark = newSession(a.work, Cores)
      live = ready(spark)
      val took = (System.nanoTime() - t0) / 1e9
      times += (if (i == 0) sinceStartS() else took)
    }
    System.err.println(f"[perfbench] set-up done ${sinceStartS()}%.1f s after JVM start")
    (spark, live, times.toSeq)
  }

  val SetupReps = 9

  /** Write each query's output in the `graft.Verify` layout (one parquet
    * directory per query plus `oracle_sql.json`) and print the
    * expected-digest table for `expected.tsv`. */
  private def record(a: Args, out: String): Unit = {
    val spark = newSession(a.work, Cores)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val lines = LlmOps.map { n =>
      val df = byName(n).builder(spark, a.data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      val (rows, d) = digest(spark.read.parquet(s"$out/$n"))
      val (rows2, d2) = digest(df)
      require(rows == rows2 && d == d2, s"$n: digest of written output differs from the query's")
      spark.catalog.clearCache()
      s"$n\t$rows\t$d"
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => lines.exists(_.startsWith(k + "\t")) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracle.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",\n", "}"))
    lines.foreach(println)
    stopSession(spark)
  }

  def writeTrace(a: Args, records: Seq[String]): Unit = {
    val p: Path = Paths.get(a.work, "trace", s"${a.workload}-seed${a.seed}.jsonl")
    Files.createDirectories(p.getParent)
    Files.writeString(p, records.mkString("", "\n", "\n"))
  }
}

/** The llm-ops workload: registered queries, each built with
  * its `QueryDef.builder` and written to the `noop` sink. */
object BatchWorkload {
  import PerfBench._

  final case class Exec(name: String, wallS: Double, cpuS: Double, ok: Boolean)

  /** Untimed noop passes after the checked warm-up pass: the JIT is still
    * compiling the engine after that pass, and timed passes taken on that
    * slope spread from run to run (README.md). */
  val WarmPasses = 1
  val MinPasses = 4
  /** Wall of one timed pass on the reference box (README.md). The number
    * of timed passes is sized by it, `--seconds / PassSeconds`, so every
    * run measures the same passes; a slower engine takes longer for them. */
  val PassSeconds = 6.0

  /** Build and run one query. Caches and persisted RDDs the query left
    * behind are dropped afterwards, outside the timed region. */
  def execute(spark: SparkSession, q: QueryDef, data: String, tracer: Option[Tracer]): Exec = {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cache0 = cacheEntries(spark)
    val u = tracer.map(_.begin(q.name))
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    var tb = t0
    val ok =
      try {
        val df = q.builder(spark, data)
        tb = System.nanoTime()
        tracer.foreach(_.phase(Tracer.Action))
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          false
      }
    val t1 = System.nanoTime()
    val c1 = cpuNs()
    val leakedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0
    val leakedCache = cacheEntries(spark) - cache0
    tracer.foreach(_.end())
    u.foreach { acc =>
      acc.builderS += (tb - t0) / 1e9
      acc.wallS += (t1 - t0) / 1e9
      acc.leakedRdds += leakedRdds.size
      acc.leakedCacheEntries += math.max(leakedCache, 0)
    }
    spark.catalog.clearCache()
    leakedRdds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    System.err.println(f"[perfbench] ${q.name} wall ${(t1 - t0) / 1e9}%.3f s builder ${(tb - t0) / 1e9}%.3f s")
    Exec(q.name, (t1 - t0) / 1e9, (c1 - c0) / 1e9, ok)
  }

  /** `CacheManager` entries; the count is `private[sql]` in Scala but a
    * public JVM method, so it is read reflectively. */
  def cacheEntries(spark: SparkSession): Int = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      val cm = c.sharedState.cacheManager
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    case _ => 0
  }

  def run(a: Args): Result = {
    val expected = readExpected(a.expected)
    val byName = Registry.all.map(q => q.name -> q).toMap
    val order = new Random(a.seed)
    val queries = LlmOps.map(byName)
    val (spark, _, setups) = setUp(a)(_ => ())(_ => ())
    var attempted = 0L
    var failed = 0L

    // Warm-up pass: first-run costs (class loading, codegen, most JIT) land
    // here, and every output is checked against its recorded digest.
    order.shuffle(queries).foreach { q =>
      attempted += 1
      val good =
        try {
          val got = digest(q.builder(spark, a.data))
          val ok = expected.get(q.name).contains(got)
          if (!ok) System.err.println(s"[perfbench] ${q.name} output $got != recorded ${expected.get(q.name)}")
          ok
        } catch {
          case e: Exception => System.err.println(s"[perfbench] ${q.name} failed: $e"); false
        }
      if (!good) failed += 1
      spark.catalog.clearCache()
    }

    // Untimed warm passes, then the timed passes, each in its own seeded
    // order. A query's time is its median over the timed passes.
    def pass(tracer: Option[Tracer]): Seq[Exec] = {
      val xs = order.shuffle(queries).map(execute(spark, _, a.data, tracer))
      attempted += xs.size
      failed += xs.count(!_.ok)
      xs
    }
    for (_ <- 0 until WarmPasses) pass(None)
    System.err.println(f"[perfbench] timed passes start ${sinceStartS()}%.1f s after JVM start")
    val passes = ArrayBuffer[Seq[Exec]]()
    val timedPasses = math.max(MinPasses, (a.seconds / PassSeconds).round.toInt)
    while (passes.size < timedPasses) passes += pass(None)
    val perQuery = passes.toSeq.flatten.groupBy(_.name).values.toSeq
    val wall = perQuery.map(xs => median(xs.map(_.wallS))).sum
    val cpu = perQuery.map(xs => median(xs.map(_.cpuS))).sum
    val latencies = perQuery.map(xs => median(xs.map(_.wallS)) * 1e3)
    println(f"[perfbench] ${a.workload}: ${passes.size} timed passes of ${queries.size} queries, " +
      f"pass wall ${passes.map(p => f"${p.map(_.wallS).sum}%.2f").mkString("/")} s, " +
      f"${latencies.size} per-query latency samples (medians over passes)")

    val m = new Metrics
    if (!a.trace) {
      m.put("setup_s", median(setups), "s")
      m.put("wall_s", wall, "s")
      m.put("cpu_s", cpu, "s")
      m.put("msg_per_s", queries.size / wall, "1/s")
      m.put("latency_p50_ms", median(latencies), "ms")
      m.put("latency_p99_ms", quantile(latencies, 0.99), "ms")
    } else {
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = pass(Some(tracer))
      tracer.detach()
      // overhead against the untraced passes on both sides of the traced
      // one, so the JIT still warming up does not read as negative overhead
      val around = Seq(passes.last, pass(None)).map(_.map(_.wallS).sum)
      val kernels = Kernels.run(spark, a.data)
      val tracedWall = traced.map(_.wallS).sum
      val untracedWall = around.sum / 2
      Layers.report(m, tracer, setups.head, tracedWall, untracedWall, kernels, None, attempted, failed)
      writeTrace(a, Layers.traceRecords(tracer))
    }
    stopSession(spark)
    Result(attempted, failed, m)
  }
}

/** The reference's own workload: blocking `publish` from producer threads
  * into a `WindowStream[String]`, delivered in count-or-time batches. */
object FacadeWorkload {
  import PerfBench._

  val QueueSize = 16
  val Producers = 4
  val Consumers = 4
  val MaxBatch = 15
  val Window: FiniteDuration = 1.millis
  val WarmupSeconds = 20.0
  /** The timed items are published in consecutive drives of this many
    * items (at least 3 drives); rates and latency percentiles are medians
    * over the drives. */
  val DriveItems = 1333
  /** Items of the single-threaded baseline drive of a traced run. */
  val SingleItems = 2000
  /** Delivery rate the drives are sized by: about what the stream delivers
    * on the reference box (README.md), so a drive of `itemsFor(s)` items
    * takes about `s` seconds there, and longer on a slower stream. */
  val SizingMsgPerS = 450

  def itemsFor(seconds: Double): Int = math.max(1, (seconds * SizingMsgPerS).round.toInt)

  /** One facade stream; every `drive` publishes into it with fresh
    * bookkeeping, so warm-up and timed phases share the delivery query. */
  final class Facade(spark: SparkSession, producers: Int, consumers: Int) {
    @volatile private var current: Drive = _
    val stream = new WindowStream[String](spark, QueueSize, MaxBatch, Window, consumers)(Encoders.STRING)
    stream.subscribe((batch: Seq[String]) => current.onBatch(batch))

    def drive(items: Int, seed: Long): Drive = {
      val d = new Drive(producers, items, seed)
      current = d
      d.run(stream)
      d
    }
  }

  /** Publish → deliver bookkeeping of one drive of `items` items, split
    * evenly over the producers. */
  final class Drive(producers: Int, items: Int, seed: Long) {
    val counts: Array[Int] = Array.tabulate(producers)(p => items / producers + (if (p < items % producers) 1 else 0))
    // written by each producer thread, read after it is joined
    val published: Array[Array[Long]] = counts.map(new Array[Long](_))
    val blocked: Array[Array[Long]] = counts.map(new Array[Long](_))
    val delivered: Array[AtomicLongArray] = counts.map(new AtomicLongArray(_))
    val deliveredN = new AtomicLong()
    val duplicates = new AtomicLong()
    val badBatchItems = new AtomicLong()
    val consumerCalls = new AtomicLong()
    val consumerBusyNs = new AtomicLong()
    var firstPublishNs = 0L
    var lastDeliverNs = 0L
    var cpuS = 0.0
    var queueDepth = 0.0

    def onBatch(batch: Seq[String]): Unit = {
      val t = System.nanoTime()
      if (batch.isEmpty) badBatchItems.incrementAndGet()
      else if (batch.size > MaxBatch) badBatchItems.addAndGet(batch.size)
      batch.foreach { s =>
        val c1 = s.indexOf(':')
        val c2 = s.indexOf(':', c1 + 1)
        val p = s.substring(0, c1).toInt
        val i = s.substring(c1 + 1, c2).toInt
        if (!delivered(p).compareAndSet(i, 0L, t)) duplicates.incrementAndGet()
      }
      deliveredN.addAndGet(batch.size)
      consumerCalls.incrementAndGet()
      consumerBusyNs.addAndGet(System.nanoTime() - t)
    }

    /** Item `i` of producer `p`: a seeded random payload behind its id. */
    private def payload(rng: Random, p: Int, i: Int): String =
      s"$p:$i:" + rng.alphanumeric.take(8 + rng.nextInt(33)).mkString

    /** Publish every item (a closed loop: `publish` blocks), then wait until
      * every item is delivered or a minute passes. */
    def run(stream: WindowStream[String]): Unit = {
      val c0 = cpuNs()
      val threads = (0 until producers).map { p =>
        new Thread(() => {
          val rng = new Random(seed * 1000003L + p)
          for (i <- 0 until counts(p)) {
            val s = payload(rng, p, i)
            val a = System.nanoTime()
            stream.publish(s)
            published(p)(i) = a
            blocked(p)(i) = System.nanoTime() - a
          }
        }, s"perfbench-producer-$p")
      }
      var depthSum = 0L
      var depthN = 0L
      threads.foreach(_.start())
      while (threads.exists(_.isAlive)) {
        depthSum += stream.getQueueSize; depthN += 1
        Thread.sleep(2)
      }
      threads.foreach(_.join())
      val waitEnd = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (deliveredN.get() < total && System.nanoTime() < waitEnd) Thread.sleep(1)
      cpuS = (cpuNs() - c0) / 1e9
      queueDepth = if (depthN == 0) 0.0 else depthSum.toDouble / depthN
      firstPublishNs = (0 until producers).filter(counts(_) > 0).map(published(_)(0)).min
      lastDeliverNs = (for (p <- 0 until producers; i <- 0 until counts(p)) yield delivered(p).get(i)).max
    }

    def total: Long = items.toLong
    def lost: Long = (for (p <- 0 until producers; i <- 0 until counts(p) if delivered(p).get(i) == 0L) yield 1L).sum
    def failed: Long = lost + duplicates.get() + badBatchItems.get()
    def wallS: Double = (lastDeliverNs - firstPublishNs) / 1e9
    def msgPerS: Double = deliveredN.get() / wallS
    def latenciesMs: Seq[Double] =
      for (p <- 0 until producers; i <- 0 until counts(p) if delivered(p).get(i) != 0L)
        yield (delivered(p).get(i) - published(p)(i)) / 1e6
    def blockedMs: Seq[Double] = blocked.toSeq.flatMap(_.toSeq).map(_ / 1e6)
  }

  def run(a: Args): Result = {
    val (spark0, facade, setups) =
      setUp(a)(s => new Facade(s, Producers, Consumers))(_.stream.stop())
    var spark = spark0
    val m = new Metrics
    var attempted = 0L
    var failed = 0L
    def account(d: Drive): Unit = { attempted += d.total; failed += d.failed }
    val drives = math.max(3, itemsFor(a.seconds) / DriveItems)

    // warm-up on the stream subscribed during set-up (JIT, the streaming
    // engine's first batches), checked like the timed drives
    account(facade.drive(itemsFor(WarmupSeconds), a.seed - 1))
    System.err.println(f"[perfbench] timed drives start ${sinceStartS()}%.1f s after JVM start")
    val timed = (0 until drives).map { k =>
      val d = facade.drive(DriveItems, a.seed + k)
      account(d)
      val lat = d.latenciesMs
      println(f"[perfbench] facade drive $k: ${d.total} items in ${d.wallS}%.2f s, ${d.msgPerS}%.1f msg/s, " +
        f"${lat.size} latency samples, p50 ${median(lat)}%.1f ms, p99 ${quantile(lat, 0.99)}%.1f ms, " +
        f"lost ${d.lost}, duplicated ${d.duplicates.get()}")
      (d, lat)
    }
    if (!a.trace) {
      facade.stream.stop()
      m.put("setup_s", median(setups), "s")
      m.put("wall_s", timed.map(_._1.wallS).sum, "s")
      m.put("cpu_s", timed.map(_._1.cpuS).sum, "s")
      m.put("msg_per_s", median(timed.map(_._1.msgPerS)), "1/s")
      m.put("latency_p50_ms", median(timed.map(t => median(t._2))), "ms")
      m.put("latency_p99_ms", median(timed.map(t => quantile(t._2, 0.99))), "ms")
    } else {
      val tracer = new Tracer(spark)
      tracer.attach()
      val u = tracer.begin("facade")
      tracer.phase(Tracer.Action)
      val traced = facade.drive(DriveItems, a.seed)
      tracer.end()
      tracer.detach()
      u.wallS = traced.wallS
      account(traced)
      // overhead against untraced drives on both sides of the traced one
      val after = facade.drive(DriveItems, a.seed)
      account(after)
      facade.stream.stop()
      stopSession(spark)
      // single-threaded baseline: one producer, one consumer, local[1]
      spark = newSession(a.work, 1)
      val one = new Facade(spark, 1, 1)
      val single = one.drive(SingleItems, a.seed)
      one.stream.stop()
      account(single)
      Layers.report(m, tracer, setups.head, traced.wallS, (timed.last._1.wallS + after.wallS) / 2,
        Seq.empty, Some((traced, single.msgPerS)), attempted, failed)
      writeTrace(a, Layers.traceRecords(tracer))
    }
    stopSession(spark)
    Result(attempted, failed, m)
  }
}

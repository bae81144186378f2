package graft.streaming

import java.util.concurrent.{ExecutorService, Executors, LinkedBlockingQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, SparkSession}

/** The reference's pub/sub facade (SURVEY.md §2.1 S1–S7). API contract
  * mirrors WindowPublisher:
  *
  *  - `publish` blocks when the bounded ingest buffer is full — lossless,
  *    backpressured ingest (the reference spins on emitNext failure,
  *    WindowPublisher.java:31,80-82; we block on a bounded queue — same
  *    guarantee, no busy-wait).
  *  - `asyncPublish` try-offers and reports success per item
  *    (WindowPublisher.java:100-111; returns Seq of pairs, not the
  *    reference's Map, which threw on duplicate elements — SURVEY §2.1 S4).
  *  - `subscribe(consumer[, errorConsumer])` — at most one subscriber
  *    (unicast contract, WindowPublisher.java:68), batches delivered on a
  *    consumer pool of `consumerParallelism` threads, per-batch errors
  *    routed to `errorConsumer` (WindowPublisher.java:142-150).
  *  - queue introspection (WindowPublisher.java:116-125).
  *
  * Delivery is the reference's own design (WindowPublisher.java:69-72,
  * 155-169) on JDK concurrency: one batcher thread runs `bufferTimeout`
  * — a window opens on its first item and closes at `windowMaxBatchSize`
  * items or `windowDuration` after opening, so every batch has size ∈
  * [1, windowMaxBatchSize] — and hands each window to `consumerParallelism`
  * threads, blocking while all are busy; the queue then fills and
  * `publish` blocks (the reference's backpressure chain). In flight: the
  * queue + one open window + `consumerParallelism` windows.
  *
  * Not Structured Streaming: the facade is unicast, in-process and
  * driver-resident, so a micro-batch engine would distribute nothing and
  * only add its per-batch planning, WAL and offset commits (the D-Streams
  * latency floor, ~110–170 ms per batch). Keyed, event-time and
  * distributed windows go through [[CountOrTimeWindow]]. `spark` and the
  * `Encoder` only keep the constructor's signature.
  */
class WindowStream[T: Encoder](
    spark: SparkSession,
    queueCapacity: Int = WindowStream.DefaultQueueSize,
    windowMaxBatchSize: Int = 15,
    windowDuration: FiniteDuration = 100.millis,
    consumerParallelism: Int = Runtime.getRuntime.availableProcessors()) {

  require(queueCapacity > 0 && windowMaxBatchSize > 0 && consumerParallelism > 0)

  /** Capacity normalized up to the next power of two, like the reference's
    * Queues.ceilingNextPowerOfTwo (WindowPublisher.java:66). */
  private val capacity: Int =
    if (Integer.bitCount(queueCapacity) == 1) queueCapacity
    else Integer.highestOneBit(queueCapacity) * 2

  private val id = System.identityHashCode(this)
  private val queue = new LinkedBlockingQueue[T](capacity)
  private val subscribed = new AtomicBoolean(false)
  private val running = new AtomicBoolean(true)
  // set by subscribe() under the gate's read lock; final past stop()'s barrier
  @volatile private var batcher: Thread = _
  @volatile private var pool: ExecutorService = _
  @volatile private var deliver: Seq[T] => Unit = _
  // one per consumer, taken before each handoff: the batcher blocks while all are busy
  private val permits = new Semaphore(consumerParallelism)
  private val delivered = new AtomicLong(0L)
  // items the batcher took off the queue: pending = taken + queued − delivered
  private val taken = new AtomicLong(0L)
  private val windows = new AtomicLong(0L)
  private val progress = new java.util.ArrayDeque[WindowStream.Progress]()

  // ---- ingest (S1–S4) ----
  //
  // All ingest is gated on `running`: once stop() flips it, publish throws
  // and asyncPublish reports false, so the lossless contract has a sharp
  // boundary — every item ACCEPTED (gate passed) before stop() is
  // delivered ONCE A SUBSCRIBER EXISTS (see stop() for the unsubscribed
  // teardown contract); items offered after are rejected loudly, never
  // dropped silently. The gate is NOT a bare check-then-act: each ingest holds the
  // read side of `gate` across check+insert, and stop() acquires the write
  // side after flipping `running` — a barrier guaranteeing no gate-passing
  // publisher is still mid-insert when the final drain runs.

  private val gate = new java.util.concurrent.locks.ReentrantReadWriteLock()

  private def ensureOpen(): Unit =
    if (!running.get()) throw new IllegalStateException(
      "WindowStream is stopped: publish after stop() would be silently dropped")

  /** Blocking, lossless single-item ingest; throws once stopped. */
  def publish(item: T): Unit = {
    val rl = gate.readLock()
    rl.lock()
    try { ensureOpen(); queue.put(item) } finally rl.unlock()
  }

  /** Blocking batch ingest, iteration order preserved; throws once stopped. */
  def publish(items: Iterable[T]): Unit = items.foreach(publish(_))

  /** Non-blocking ingest: false when the buffer is full or the stream is
    * stopped (caller retries / gives up). */
  def asyncPublish(item: T): Boolean = {
    val rl = gate.readLock()
    rl.lock()
    try running.get() && queue.offer(item) finally rl.unlock()
  }

  /** Per-item non-blocking ingest results, in order (duplicate-safe). */
  def asyncPublish(items: Iterable[T]): Seq[(T, Boolean)] =
    items.map(i => i -> asyncPublish(i)).toSeq

  // ---- introspection (S7) ----

  def getQueueSize: Int = queue.size()
  def getQueueCapacity: Int = capacity

  /** Items handed to the consumer (or error consumer) so far — the
    * delivery-side counter pairing the ingest-side queue gauges. */
  def getDeliveredCount: Long = delivered.get()

  /** Progress of the most recently delivered window (SURVEY.md §2.1 S7
    * depth: rows/batch and timings surfaced through the facade, not just
    * queue gauges). None before the first delivery. */
  def lastProgress: Option[WindowStream.Progress] =
    progress.synchronized(Option(progress.peekLast()))

  /** Ring buffer of the last 100 delivered windows, oldest delivery first. */
  def recentProgress: Seq[WindowStream.Progress] =
    progress.synchronized(progress.asScala.toSeq)

  // ---- consumption (S5–S6) ----

  /** Subscribe with errors escalated to stderr (the no-error-consumer
    * overload; unlike the reference, failures are at least visible). */
  def subscribe(consumer: Seq[T] => Unit): Unit =
    subscribe(consumer, (batch, e) =>
      System.err.println(s"[WindowStream] batch of ${batch.size} failed: $e"))

  /** Subscribe with an error channel; at most one subscriber per stream.
    *
    * The whole setup (running check → unicast CAS → pool + batcher start)
    * holds the read side of `gate`, which stop() write-acquires after
    * flipping `running` — so either this call completes first and stop()
    * drains through the live batcher, or stop() wins and the running check
    * here throws; never delivery threads started on a stopped stream. */
  def subscribe(consumer: Seq[T] => Unit, errorConsumer: (Seq[T], Throwable) => Unit): Unit =
    subscribe(consumer, errorConsumer, maxRetries = 0)

  /** Subscribe with a retry budget — the facade's `Flux.retry(n)`
    * analogue (reference README.md:107 claimed vocabulary), scoped to
    * the failing BATCH rather than the whole subscription: a consumer
    * throw re-runs that batch up to `maxRetries` more times (transient
    * sink hiccups — a flapping connection, a 429 — recover in place)
    * before the batch routes to `errorConsumer` exactly once. Batches
    * that never throw are delivered exactly once regardless. A throwing
    * `errorConsumer` is reported on stderr and its batch still counts as
    * delivered: the stream keeps running. */
  def subscribe(
      consumer: Seq[T] => Unit,
      errorConsumer: (Seq[T], Throwable) => Unit,
      maxRetries: Int): Unit = {
    require(maxRetries >= 0, s"maxRetries $maxRetries must be >= 0")
    val rl = gate.readLock()
    rl.lock()
    try subscribeLocked(consumer, errorConsumer, maxRetries) finally rl.unlock()
  }

  private def subscribeLocked(
      consumer: Seq[T] => Unit,
      errorConsumer: (Seq[T], Throwable) => Unit,
      maxRetries: Int): Unit = {
    if (!running.get())
      throw new IllegalStateException(
        "WindowStream is stopped: subscribe() after stop() would start a " +
          "delivery no publisher can ever feed")
    if (!subscribed.compareAndSet(false, true))
      throw new IllegalStateException(
        "WindowStream is unicast: already subscribed (WindowPublisher.java:68 contract)")

    deliver = { batch =>
      var attempt = 0
      var done = false
      while (!done) {
        try { consumer(batch); done = true }
        catch {
          case _: Exception if attempt < maxRetries => attempt += 1
          case e: Exception =>
            try errorConsumer(batch, e)
            catch { case e2: Exception =>
              System.err.println(s"[WindowStream] errorConsumer failed on a batch of " +
                s"${batch.size} (batch error: $e): $e2")
            }
            done = true
        }
      }
    }
    pool = Executors.newFixedThreadPool(consumerParallelism, new java.util.concurrent.ThreadFactory {
      private val n = new AtomicInteger(0)
      override def newThread(r: Runnable): Thread =
        new Thread(r, s"graft-ws-consumer-$id-${n.incrementAndGet()}")
    })
    val b = new Thread(() => runBatcher(), s"window-stream-batcher-$id")
    b.setDaemon(true)
    b.start()
    batcher = b
  }

  /** The `bufferTimeout` loop: wait for a first item, which opens a
    * window; fill it until it holds `windowMaxBatchSize` items or
    * `windowDuration` has passed; hand it off. Once stop() has closed
    * ingest, windows close as soon as the queue is empty, and the thread
    * exits when it finds the queue empty. */
  private def runBatcher(): Unit = {
    var stopped = false
    while (!stopped) {
      val first = queue.poll(WindowStream.IdlePollMs, TimeUnit.MILLISECONDS)
      if (first == null) stopped = !running.get()
      else {
        val openedNs = System.nanoTime()
        val window = ArrayBuffer(first)
        var open = true
        while (open && window.size < windowMaxBatchSize) {
          val left = openedNs + windowDuration.toNanos - System.nanoTime()
          val next =
            if (!running.get()) queue.poll()
            else if (left > 0) queue.poll(left, TimeUnit.NANOSECONDS)
            else null.asInstanceOf[T]
          if (next == null) open = false else window += next
        }
        taken.addAndGet(window.size.toLong)
        handOff(window.toSeq, openedNs)
      }
    }
  }

  /** Hand one closed window to the consumer pool, blocking while every
    * consumer is busy; the consumer records the window's progress. */
  private def handOff(batch: Seq[T], openedNs: Long): Unit = {
    val closedNs = System.nanoTime()
    val batchId = windows.getAndIncrement()
    permits.acquire()
    pool.execute { () =>
      try {
        val t0 = System.nanoTime()
        deliver(batch)
        val t1 = System.nanoTime()
        val p = WindowStream.Progress(batchId, batch.size.toLong,
          inputRowsPerSecond = batch.size * 1e9 / math.max(closedNs - openedNs, 1L),
          processedRowsPerSecond = batch.size * 1e9 / math.max(t1 - t0, 1L),
          batchDurationMs = (t1 - openedNs) / 1000000L, stateRowsTotal = 0L)
        progress.synchronized {
          if (progress.size == WindowStream.ProgressRing) progress.removeFirst()
          progress.addLast(p)
        }
        delivered.addAndGet(batch.size.toLong)
      } finally permits.release()
    }
  }

  // ---- rate-controlled ingest (the reference's claimed Flux vocabulary:
  // sample / throttleLatest, README.md:45,107) ----

  /** Reactor `Flux.sample(period)` admission: a trailing-edge conflating
    * gate in front of the lossless facade — only the LATEST item offered
    * during each period survives to `publish`; overwritten items are
    * counted, never silently lost. This is the one backpressure mode the
    * blocking facade deliberately lacks: `publish` trades latency for
    * losslessness, a sampler trades completeness for a bounded rate
    * (gauge streams, progress tickers — any source where only the
    * freshest value matters). */
  def sample(period: FiniteDuration): WindowStream.ThrottleGate[T] =
    new WindowStream.ThrottleGate[T](this, period, leading = false)

  /** RxJava-style `throttleLatest(period)`: like [[sample]] but
    * leading-edge — the first item of an idle stream publishes
    * immediately, subsequent offers conflate to the latest and flush at
    * the period boundary. Same loss-accounting contract. */
  def throttleLatest(period: FiniteDuration): WindowStream.ThrottleGate[T] =
    new WindowStream.ThrottleGate[T](this, period, leading = true)

  /** `Flux.timeout(d)` analogue, surfaced as a WATCHDOG rather than a
    * stream error: fires `onStall(d)` whenever items are pending (queued
    * or taken by the batcher but undelivered) and delivery has made no
    * progress for `d` — a stuck consumer. Re-arms after each fire,
    * so a persistent stall reports once per period, and stays silent on
    * a merely idle stream (no pending items = nothing is late). The
    * returned daemon thread exits with [[stop]]. Reactor errors the
    * subscription on timeout; here delivery is lossless-by-contract, so
    * the facade alerts instead of dropping the pipeline — callers who
    * want Reactor's semantics call [[stop]] from the callback. */
  def deliveryTimeout(d: FiniteDuration)(onStall: FiniteDuration => Unit): Thread = {
    require(d.toMillis >= 1, s"timeout $d must be >= 1ms")
    val t = new Thread(() => {
      var lastCount = delivered.get()
      var lastChangeNs = System.nanoTime()
      try {
        while (running.get()) {
          Thread.sleep(math.max(d.toMillis / 4, 1L))
          val c = delivered.get()
          val pending = taken.get() + queue.size() > c
          val now = System.nanoTime()
          if (c != lastCount || !pending) { lastCount = c; lastChangeNs = now }
          else if (now - lastChangeNs >= d.toNanos) {
            onStall(d)
            lastChangeNs = now // re-arm: one report per stalled period
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-ws-timeout-$id")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Register a JVM shutdown hook that runs [[stop]]'s full lossless
    * drain on normal JVM termination. The reference lists exactly this as
    * its own open gap and remediation ("no savepoint; a crash loses the
    * buffer queue and consumer-pool data; remediation: add a Java Hook" —
    * README.md:100): here the hook rides the drain contract, so every
    * item accepted before shutdown is delivered before the JVM exits.
    * Returns the hook thread so callers can deregister
    * (`Runtime.getRuntime.removeShutdownHook`) when they stop the stream
    * themselves first. Kill -9 / power loss is still lossy — that is
    * inherent to an in-memory ingest buffer; durable ingest belongs to a
    * replayable source in front of the stream, not this facade. */
  def stopOnJvmShutdown(): Thread = {
    val hook = new Thread(
      () => try stop() catch { case _: InterruptedException => () },
      s"window-stream-shutdown-$id")
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }

  /** Close ingest, deliver every accepted item, then stop the threads.
    * After the barrier no publisher is mid-insert; the batcher drains the
    * queue, closes its last window and exits. The items the barrier itself
    * drained go out as windows on this thread; then the pool shuts down and
    * in-flight consumers are awaited, so every accepted item has been
    * delivered when stop() returns. Idempotent.
    *
    * UNSUBSCRIBED stop(): the unicast stream (WindowPublisher.java:68) has
    * nobody to hand batches to, so it DISCARDS any accepted items and says
    * so on stderr with the count (never silently); waiting for a
    * subscriber that will never come would turn teardown into a hang. */
  def stop(): Unit = synchronized {
    running.set(false) // new publishers now throw / get false
    // Items drained during the barrier are BUFFERED, not routed: a
    // subscribe() may still hold the read lock with `batcher` unassigned,
    // so routing happens once, after the barrier, against the FINAL
    // subscription state.
    val pending = new ArrayBuffer[T]()
    def drainRemainder(): Unit = {
      val rest = new java.util.ArrayList[T]()
      while (!queue.isEmpty) queue.drainTo(rest)
      rest.forEach(e => pending += e)
    }
    // Barrier: wait until every publisher that passed the running gate has
    // finished its insert, so the final drain cannot race a mid-flight
    // put(). A parked put (full queue) holds the read lock, so a plain
    // write-lock wait could deadlock — drain between tryLock attempts to
    // free capacity and let those publishers complete.
    val wl = gate.writeLock()
    while (!wl.tryLock(10, TimeUnit.MILLISECONDS)) drainRemainder()
    wl.unlock() // gate closed + no in-flight inserts; new calls fail on `running`
    try {
      drainRemainder() // past the barrier nothing is inserted any more
      if (batcher != null) {
        batcher.join() // it closed and handed off its last window
        pending.grouped(windowMaxBatchSize).foreach(w => handOff(w.toSeq, System.nanoTime()))
      } else if (pending.nonEmpty) System.err.println(
        s"[WindowStream] stop() before subscribe(): discarding ${pending.size} " +
          "accepted item(s) — the unicast stream has no consumer to deliver to")
    } finally {
      if (pool != null) {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
  }
}

object WindowStream {
  /** The reference's DEFAULT_QUEUE_SIZE = 1 << 4 (WindowPublisher.java:22). */
  val DefaultQueueSize: Int = 16

  /** Windows kept by `recentProgress`. */
  private val ProgressRing = 100

  /** How often the idle batcher rechecks whether the stream has stopped. */
  private val IdlePollMs = 10L

  /** One delivered window: its size, rows per second while it was open
    * and per second of consumer time (retries included), and the time
    * from its opening to the end of its delivery. `stateRowsTotal` is
    * always 0: the facade keeps no keyed state. */
  case class Progress(
      batchId: Long,
      numInputRows: Long,
      inputRowsPerSecond: Double,
      processedRowsPerSecond: Double,
      batchDurationMs: Long,
      stateRowsTotal: Long)

  /** Drop-eligible admission gate in front of a [[WindowStream]] —
    * `Flux.sample` (trailing) / `throttleLatest` (leading) semantics with
    * EXPLICIT loss accounting: every offered item is either published to
    * the stream or counted in [[droppedCount]], so
    * `publishedCount + droppedCount == offers` always holds (the
    * invariant the soak spec pins; the lossless facade's contract is the
    * same identity with zero drops).
    *
    * One daemon flusher thread per gate; the cell is a single reference,
    * so a gate adds O(1) state regardless of offer rate. [[close]]
    * flushes the pending item (the latest value is never lost, only
    * intermediate ones) and stops the flusher. */
  final class ThrottleGate[T] private[WindowStream] (
      stream: WindowStream[T],
      period: FiniteDuration,
      leading: Boolean) {
    require(period.toMillis >= 1, s"period $period must be >= 1ms")
    private val cell = new java.util.concurrent.atomic.AtomicReference[AnyRef](null)
    private val droppedN = new java.util.concurrent.atomic.AtomicLong(0L)
    private val publishedN = new java.util.concurrent.atomic.AtomicLong(0L)
    // seeded one period in the past so a leading-edge gate's FIRST offer
    // emits immediately (Long.MinValue would overflow the elapsed check)
    private val lastEmitNs = new java.util.concurrent.atomic.AtomicLong(
      System.nanoTime() - period.toNanos)
    private val open = new AtomicBoolean(true)

    private def emit(item: T): Unit = {
      stream.publish(item)
      publishedN.incrementAndGet()
      lastEmitNs.set(System.nanoTime())
    }

    // The flusher sleeps in short slices rather than whole periods so
    // close() can join it promptly WITHOUT interrupting: an interrupt
    // landing inside emit()'s blocking publish would lose the in-flight
    // item with neither counter incremented — breaking the accounting
    // identity the gate exists to keep.
    private val flusher = new Thread(() => {
      val slice = math.min(period.toMillis, 50L)
      var elapsed = 0L
      while (open.get()) {
        Thread.sleep(slice)
        elapsed += slice
        if (elapsed >= period.toMillis) {
          elapsed = 0L
          flushPending()
        }
      }
    }, s"graft-ws-throttle-${System.identityHashCode(this)}")
    flusher.setDaemon(true)
    flusher.start()

    private def flushPending(): Unit = this.synchronized {
      val v = cell.getAndSet(null)
      if (v != null) {
        // a stream stopped before the gate closed can no longer accept
        // the pending item: count it dropped so the accounting identity
        // (published + dropped == offers) survives out-of-order teardown
        try emit(v.asInstanceOf[T])
        catch { case _: IllegalStateException => droppedN.incrementAndGet(); () }
      }
    }

    /** Offer an item through the gate. Returns true when it was published
      * immediately (leading edge), false when it was conflated into the
      * cell — where it either flushes at the period boundary or is
      * dropped (and counted) by a newer offer. */
    def offer(item: T): Boolean = this.synchronized {
      if (!open.get()) throw new IllegalStateException(
        "ThrottleGate is closed: offer() would be silently dropped")
      if (leading && cell.get() == null &&
          System.nanoTime() - lastEmitNs.get() >= period.toNanos) {
        emit(item); true
      } else {
        val prev = cell.getAndSet(item.asInstanceOf[AnyRef])
        if (prev != null) droppedN.incrementAndGet()
        false
      }
    }

    /** Items conflated away (never published). */
    def droppedCount: Long = droppedN.get()

    /** Items this gate handed to the stream's lossless `publish`. */
    def publishedCount: Long = publishedN.get()

    /** Flush the pending item (if any) and stop the flusher. Idempotent.
      * Joins without interrupting (see the flusher comment) — worst-case
      * wait is one sleep slice plus an in-flight emit. */
    def close(): Unit = {
      if (open.compareAndSet(true, false)) {
        flusher.join()
        flushPending()
      }
    }
  }
}

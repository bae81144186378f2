package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpecBase

/** The reference's own test shape (WindowPublisherTest.java:20-47): multi-
  * threaded producers, bounded ingest queue, count-or-time windows, assert
  * zero loss and zero duplication under contention. */
class WindowStreamSpec extends SparkSpecBase {

  private def threadsNamed(prefix: String): Int =
    Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith(prefix))

  test("lossless multi-producer soak: no loss, no dup, batch bounds hold") {
    val s = spark
    import s.implicits._
    val nThreads = 10
    val perThread = 2000
    val total = nThreads * perThread
    val maxBatch = 15

    val ws = new WindowStream[Int](s, queueCapacity = 256,
      windowMaxBatchSize = maxBatch, windowDuration = 100.millis,
      consumerParallelism = 4)

    val received = new ConcurrentLinkedQueue[Int]()
    val oversize = new AtomicInteger(0)
    val empties = new AtomicInteger(0)
    ws.subscribe { batch =>
      if (batch.size > maxBatch) oversize.incrementAndGet()
      if (batch.isEmpty) empties.incrementAndGet()
      batch.foreach(received.add)
    }

    val threads = (0 until nThreads).map { t =>
      new Thread(() => (0 until perThread).foreach(i => ws.publish(t * perThread + i)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    ws.stop()

    val got = received.asScala.toSeq
    assert(got.size === total, "every published element delivered exactly once")
    assert(got.toSet.size === total, "no duplicates")
    assert(oversize.get() === 0, s"batches must respect maxBatchSize=$maxBatch")
    assert(empties.get() === 0, "empty windows are suppressed")
  }

  test("stop() immediately after publish loses nothing (pump in-flight race)") {
    val s = spark
    import s.implicits._
    // small capacity + long window: stop() very likely lands while the
    // batcher holds an open window and the queue is full — the batcher
    // must close that window and drain the queue before stop() returns
    for (round <- 1 to 5) {
      val ws = new WindowStream[Int](s, queueCapacity = 16,
        windowMaxBatchSize = 15, windowDuration = 300.millis, consumerParallelism = 2)
      val received = new ConcurrentLinkedQueue[Int]()
      ws.subscribe(batch => batch.foreach(received.add))
      val n = 200
      val t = new Thread(() => (0 until n).foreach(ws.publish))
      t.start()
      t.join(30000)
      ws.stop() // no settle wait: everything queued or in the batcher's hands
      assert(received.asScala.size === n, s"round $round: loss across stop()")
      assert(received.asScala.toSet.size === n, s"round $round: duplicates")
    }
  }

  test("ingest is gated after stop(): publish throws, asyncPublish reports false") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, windowDuration = 100.millis, consumerParallelism = 2)
    val received = new ConcurrentLinkedQueue[Int]()
    ws.subscribe(batch => batch.foreach(received.add))
    ws.publish(1 to 5)
    ws.stop()
    intercept[IllegalStateException](ws.publish(6))
    intercept[IllegalStateException](ws.publish(Seq(7, 8)))
    assert(!ws.asyncPublish(9), "asyncPublish after stop must report rejection")
    assert(ws.asyncPublish(Seq(10, 11)).forall(!_._2))
    assert(received.asScala.toSet === (1 to 5).toSet,
      "accepted-before-stop items delivered; gated items never slip in")
  }

  test("shutdown hook runs the lossless drain (the reference's own listed remediation)") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16,
      windowDuration = 200.millis, consumerParallelism = 2)
    val received = new ConcurrentLinkedQueue[Int]()
    ws.subscribe(batch => batch.foreach(received.add))
    val hook = ws.stopOnJvmShutdown()
    (1 to 50).foreach(ws.publish)
    // run the hook body directly (the thread is never start()ed, so it
    // stays deregisterable) — exactly what the JVM does at shutdown
    hook.run()
    assert(received.asScala.toSet === (1 to 50).toSet,
      "every item accepted before shutdown is delivered by the hook's drain")
    intercept[IllegalStateException](ws.publish(51))
    assert(Runtime.getRuntime.removeShutdownHook(hook),
      "hook must stay deregisterable for callers that stop first")
  }

  test("unsubscribed stop(): returns (no hang), discards loudly, gates ingest") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16,
      windowDuration = 100.millis, consumerParallelism = 2)
    ws.publish(1 to 5) // accepted, but no subscriber will ever exist
    assert(ws.getQueueSize === 5)
    ws.stop() // must neither hang waiting for a subscriber nor throw
    assert(ws.getQueueSize === 0, "teardown drains the orphaned items")
    intercept[IllegalStateException](ws.publish(6))
    assert(!ws.asyncPublish(7), "stream is gated after unsubscribed stop()")
    intercept[IllegalStateException](ws.subscribe(_ => ()))
  }

  test("stop() racing an in-flight subscribe() loses nothing") {
    // The hazardous window: subscribe() holds the gate read lock while it
    // starts the pool and the batcher, with `batcher` still null, while
    // stop()'s barrier loop drains the queue. Items accepted BEFORE stop()
    // whose subscriber successfully attaches must still be delivered — the
    // drain may not discard them just because it ran before the batcher
    // reference was assigned.
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 64,
      windowDuration = 50.millis, consumerParallelism = 2)
    ws.publish(1 to 20) // queued before any subscriber exists
    val received = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val subscriber = new Thread(() =>
      try ws.subscribe(batch => batch.foreach(received.add))
      catch { case _: IllegalStateException => () }) // stop() won the race
    subscriber.start()
    Thread.sleep(5) // land stop() near subscribe's setup
    ws.stop()
    subscriber.join()
    // invariant: the subscriber either never attached (stop reported the
    // discard) or attached and then EVERY pre-stop item arrived
    if (!received.isEmpty)
      assert(received.asScala.toSet === (1 to 20).toSet,
        "items drained mid-subscribe must be routed to the attached subscriber")
  }

  test("stop() shuts the consumer pool down (no thread leak per stream)") {
    val s = spark
    import s.implicits._
    def consumerThreads() = threadsNamed("graft-ws-consumer-")
    val before = consumerThreads()
    val batchersBefore = threadsNamed("window-stream-batcher-")
    val streams = (1 to 3).map { _ =>
      val ws = new WindowStream[Int](s, windowDuration = 100.millis, consumerParallelism = 4)
      ws.subscribe(_ => ())
      ws.publish(1 to 10)
      ws
    }
    streams.foreach(_.stop())
    // shutdown() lets in-flight tasks finish; give the pools a moment
    val deadline = System.currentTimeMillis() + 10000
    while (consumerThreads() > before && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(consumerThreads() <= before,
      "stopped streams must not leave consumer-pool threads behind")
    assert(threadsNamed("window-stream-batcher-") <= batchersBefore,
      "stop() joins the batcher: no batcher thread survives it")
  }

  test("error channel: a poisoned batch routes to errorConsumer, the stream continues") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 64,
      windowMaxBatchSize = 5, windowDuration = 100.millis, consumerParallelism = 2)
    val good = new ConcurrentLinkedQueue[Int]()
    val failed = new ConcurrentLinkedQueue[Int]()
    ws.subscribe(
      batch => {
        if (batch.contains(13)) throw new RuntimeException("poison")
        batch.foreach(good.add)
      },
      (batch, _) => batch.foreach(failed.add))
    ws.publish(1 to 100)
    ws.stop()
    assert(failed.asScala.toSet.contains(13), "poisoned batch reaches the error channel")
    assert(good.asScala.size + failed.asScala.size === 100,
      "every element lands in exactly one channel — delivery survives consumer failure")
    assert(!good.asScala.toSet.contains(13))
  }

  test("retry budget: a transiently failing batch recovers in place; a persistent one errors once") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 64,
      windowMaxBatchSize = 5, windowDuration = 100.millis, consumerParallelism = 2)
    val good = new ConcurrentLinkedQueue[Int]()
    val failed = new ConcurrentLinkedQueue[Seq[Int]]()
    val transientAttempts = new AtomicInteger(0)
    ws.subscribe(
      batch => {
        // the batch containing 3 fails twice, then succeeds (transient);
        // the one containing 13 always fails (persistent)
        if (batch.contains(3) && transientAttempts.incrementAndGet() <= 2)
          throw new RuntimeException("transient")
        if (batch.contains(13)) throw new RuntimeException("persistent")
        batch.foreach(good.add)
      },
      (batch, _) => failed.add(batch),
      maxRetries = 3)
    ws.publish(1 to 20)
    ws.stop()
    assert(good.asScala.toSet.contains(3),
      "transient failure inside the retry budget recovers — batch delivered")
    assert(transientAttempts.get() >= 3, "the transient batch was actually retried")
    val failedItems = failed.asScala.flatten.toSet
    assert(failedItems.contains(13), "budget-exhausted batch reaches the error channel")
    assert(failed.asScala.count(_.contains(13)) === 1,
      "errorConsumer fires exactly once per exhausted batch")
    assert(good.asScala.size + failed.asScala.flatten.size === 20,
      "every element lands in exactly one channel")
  }

  test("deliveryTimeout: fires on a stalled backlog, quiet on a merely idle stream") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16,
      windowMaxBatchSize = 15, windowDuration = 50.millis, consumerParallelism = 1)
    val stalls = new AtomicInteger(0)
    val block = new java.util.concurrent.CountDownLatch(1)
    ws.subscribe(_ => block.await())
    ws.deliveryTimeout(300.millis)(_ => stalls.incrementAndGet())
    // idle stream: nothing pending, watchdog must stay silent
    Thread.sleep(700)
    assert(stalls.get() === 0, "no pending items -> nothing is late")
    // stall: the consumer blocks while items are pending
    ws.publish(1 to 10)
    val deadline = System.currentTimeMillis() + 10000
    while (stalls.get() == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(stalls.get() >= 1, "stalled delivery with a backlog must fire the watchdog")
    block.countDown() // release so stop() can drain losslessly
    ws.stop()
  }

  test("unicast: second subscribe throws") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, windowDuration = 200.millis)
    ws.subscribe(_ => ())
    try {
      intercept[IllegalStateException] { ws.subscribe(_ => ()) }
    } finally ws.stop()
  }

  test("S7 depth: delivery progress (rows/batch, timings) surfaces through the facade") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 64,
      windowMaxBatchSize = 10, windowDuration = 100.millis, consumerParallelism = 2)
    ws.subscribe(_ => ())
    val n = 120
    ws.publish(1 to n)
    val deadline = System.currentTimeMillis() + 30000
    // wait for the per-window accounting to catch up with the publishes
    while ((ws.getDeliveredCount < n ||
        ws.recentProgress.map(_.numInputRows).sum < n) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(ws.getDeliveredCount === n.toLong, "delivered counter tracks every item")
    assert(ws.lastProgress.isDefined, "progress visible after the first delivery")
    val progress = ws.recentProgress
    assert(progress.map(_.numInputRows).sum === n.toLong,
      "window rows across recent progress account for all items")
    assert(progress.map(_.batchId).distinct.size === progress.size, "one sample per batch")
    assert(progress.forall(_.batchDurationMs >= 0))
    assert(progress.forall(_.stateRowsTotal === 0L), "delivery sink is stateless")
    ws.stop()
  }

  test("bounded buffer: asyncPublish reports rejection when full; capacity is pow2") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 20) // -> 32
    assert(ws.getQueueCapacity === 32)
    val results = ws.asyncPublish(1 to 40)
    assert(results.count(_._2) === 32, "exactly capacity items accepted")
    assert(results.drop(32).forall(!_._2), "overflow rejected, not dropped silently")
    assert(ws.getQueueSize === 32)
  }

  test("sample gate soak: bounded rate, exact loss accounting, latest value survives") {
    // The drop-eligible admission mode the lossless facade lacks
    // (reference Flux vocabulary: sample — README.md:45,107). Contract
    // under soak: published + dropped == offers (nothing vanishes
    // unaccounted), delivery is a small fraction of the offer rate, and
    // the FINAL value always lands (close() flushes the pending cell).
    val s = spark
    import s.implicits._
    val total = 5000
    val ws = new WindowStream[Int](s, queueCapacity = 256,
      windowMaxBatchSize = 15, windowDuration = 50.millis,
      consumerParallelism = 2)
    val received = new ConcurrentLinkedQueue[Int]()
    ws.subscribe(batch => batch.foreach(received.add))
    val gate = ws.sample(50.millis)
    (1 to total).foreach(gate.offer(_))
    gate.close()
    ws.stop()
    val got = received.asScala.toSeq
    assert(gate.publishedCount + gate.droppedCount === total.toLong,
      "every offer is either published or counted as dropped")
    assert(got.size.toLong === gate.publishedCount,
      "the stream delivers exactly what the gate admitted (lossless past the gate)")
    assert(gate.publishedCount < total / 10,
      s"a 50ms sampler must conflate a hot loop (published ${gate.publishedCount}/$total)")
    assert(got.nonEmpty && got.last === total, "latest value survives the close flush")
    assert(got == got.sorted, "conflation preserves arrival order")
  }

  test("throttleLatest gate: leading edge emits the first offer immediately") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 64,
      windowMaxBatchSize = 15, windowDuration = 50.millis,
      consumerParallelism = 2)
    val received = new ConcurrentLinkedQueue[Int]()
    ws.subscribe(batch => batch.foreach(received.add))
    val gate = ws.throttleLatest(10.minutes) // period longer than the test
    assert(gate.offer(1), "idle gate: first offer must publish on the leading edge")
    assert(!gate.offer(2), "second offer inside the period conflates")
    assert(!gate.offer(3), "third offer replaces the second (drop accounted)")
    gate.close()
    ws.stop()
    val got = received.asScala.toSeq
    assert(got === Seq(1, 3), "leading emit + close-flushed latest; 2 conflated away")
    assert(gate.publishedCount === 2L && gate.droppedCount === 1L)
    intercept[IllegalStateException](gate.offer(4))
  }

  test("reference contract: 10 throttled producers x 5,000 items delivered exactly once within 10 s") {
    // WindowPublisherTest.java:22-46 at its own settings: queue 16, batch
    // 15, 1 ms window, consumers = cores, a 1 ms sleep per published item,
    // 50,000 items received exactly once within 10 s (>= 5,000 msg/s)
    val s = spark
    import s.implicits._
    val nThreads = 10
    val perThread = 5000
    val total = nThreads * perThread
    val maxBatch = 15
    val budgetNs = 10L * 1000 * 1000 * 1000
    val ws = new WindowStream[Int](s, queueCapacity = 16, windowMaxBatchSize = maxBatch,
      windowDuration = 1.millis, consumerParallelism = Runtime.getRuntime.availableProcessors())
    val seen = new java.util.concurrent.atomic.AtomicIntegerArray(total)
    val received = new java.util.concurrent.atomic.AtomicInteger(0)
    val badBatches = new AtomicInteger(0)
    ws.subscribe { batch =>
      if (batch.isEmpty || batch.size > maxBatch) badBatches.incrementAndGet()
      batch.foreach(seen.incrementAndGet)
      received.addAndGet(batch.size)
    }
    @volatile var abort = false
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        var i = 0
        while (i < perThread && !abort) {
          ws.publish(t * perThread + i)
          Thread.sleep(1)
          i += 1
        }
      })
    }
    val start = System.nanoTime()
    threads.foreach(_.start())
    while (received.get() < total && System.nanoTime() - start < budgetNs) Thread.sleep(5)
    val elapsedMs = (System.nanoTime() - start) / 1000000
    val got = received.get()
    abort = true // a too-slow stream fails fast instead of running on
    threads.foreach(_.join())
    ws.stop()
    assert(got === total, s"only $got of $total items delivered within 10 s")
    assert(elapsedMs <= 10000L, s"took $elapsedMs ms")
    assert((0 until total).forall(seen.get(_) == 1), "every item delivered exactly once")
    assert(badBatches.get() === 0, s"every batch holds 1..$maxBatch items")
  }

  test("bufferTimeout: a full window closes on the count axis, long before its time axis") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16, windowMaxBatchSize = 15,
      windowDuration = 10.seconds, consumerParallelism = 2)
    val batches = new java.util.concurrent.LinkedBlockingQueue[Seq[Int]]()
    ws.subscribe(b => batches.put(b))
    // twice: the second round starts on a settled stream, mid-window of
    // any timer the delivery path might run
    for (round <- 0 until 2) {
      val items = (1 to 15).map(_ + 15 * round)
      ws.publish(items)
      val batch = batches.poll(1, java.util.concurrent.TimeUnit.SECONDS)
      assert(batch === items, s"round $round: 15 items on a 10 s window arrive as one batch within 1 s")
    }
    ws.stop()
    assert(batches.isEmpty, "no further (empty) window is delivered")
  }

  test("bufferTimeout: a lone item waits out its window, then is delivered") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16, windowMaxBatchSize = 15,
      windowDuration = 200.millis, consumerParallelism = 1)
    val at = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    ws.subscribe(_ => at.put(System.nanoTime()))
    Thread.sleep(50) // let the batcher settle into its idle wait
    // The window opens when the batcher takes the item, which can precede
    // publish() returning by the thread hand-over; measure the lower bound
    // from the call and the upper bound from the return.
    val called = System.nanoTime()
    ws.publish(42)
    val returned = System.nanoTime()
    val delivered = at.poll(5, java.util.concurrent.TimeUnit.SECONDS)
    ws.stop()
    assert(delivered != null, "the lone item is delivered")
    assert(delivered - called >= 200L * 1000 * 1000,
      s"delivered ${(delivered - called) / 1e6} ms after publish: before its window closed")
    assert(delivered - returned <= 2L * 1000 * 1000 * 1000,
      s"delivered ${(delivered - returned) / 1e6} ms after publish returned: over 2 s")
  }

  test("bufferTimeout soak: no delivered batch is empty or larger than windowMaxBatchSize") {
    val s = spark
    import s.implicits._
    val maxBatch = 7
    val producers = 4
    val perProducer = 5000
    val total = producers * perProducer
    val ws = new WindowStream[Int](s, queueCapacity = 16, windowMaxBatchSize = maxBatch,
      windowDuration = 2.millis, consumerParallelism = 3)
    val seen = new java.util.concurrent.atomic.AtomicIntegerArray(total)
    val sizes = new ConcurrentLinkedQueue[Int]()
    ws.subscribe { batch =>
      sizes.add(batch.size)
      batch.foreach(seen.incrementAndGet)
    }
    val threads = (0 until producers).map { p =>
      new Thread(() => (0 until perProducer).foreach { i =>
        ws.publish(p * perProducer + i)
        if (i % 500 == 499) Thread.sleep(5) // bursts and gaps: both axes close windows
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    ws.stop()
    val bySize = sizes.asScala.groupBy(identity).map { case (n, c) => n -> c.size }
    assert(bySize.keys.forall(n => n >= 1 && n <= maxBatch), s"batch sizes $bySize")
    assert(sizes.asScala.sum === total)
    assert((0 until total).forall(seen.get(_) == 1), "every item delivered exactly once")
  }

  test("a throwing errorConsumer does not wedge the stream") {
    val s = spark
    import s.implicits._
    val ws = new WindowStream[Int](s, queueCapacity = 16,
      windowMaxBatchSize = 5, windowDuration = 5.millis, consumerParallelism = 2)
    val good = new ConcurrentLinkedQueue[Int]()
    val poisoned = new ConcurrentLinkedQueue[Int]()
    val errorCalls = new AtomicInteger(0)
    ws.subscribe(
      batch => {
        if (batch.contains(13)) throw new RuntimeException("poison")
        batch.foreach(good.add)
      },
      (batch, _) => {
        errorCalls.incrementAndGet()
        batch.foreach(poisoned.add)
        throw new IllegalStateException("the error channel itself fails")
      })
    val n = 300 // far past the queue's 16 slots: publishers block if delivery stops
    val producer = new Thread(() => ws.publish(1 to n))
    producer.start()
    producer.join(30000)
    assert(!producer.isAlive, "publish must not block forever after the errorConsumer threw")
    val deadline = System.currentTimeMillis() + 30000
    while (ws.getDeliveredCount < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
    ws.stop() // returns normally
    assert(errorCalls.get() === 1, "the poisoned batch reaches the error channel once")
    assert(ws.getDeliveredCount === n.toLong, "the failed batch counts as delivered")
    assert(good.asScala.toSet === ((1 to n).toSet -- poisoned.asScala.toSet),
      "every item after the failure still arrives")
    assert(good.asScala.toSet.contains(n))
  }

  test("no batcher thread survives stop() before subscribe or stop() racing subscribe") {
    val s = spark
    import s.implicits._
    val before = threadsNamed("window-stream-batcher-")
    val early = new WindowStream[Int](s, queueCapacity = 16, consumerParallelism = 2)
    early.publish(1 to 5)
    early.stop()
    intercept[IllegalStateException](early.subscribe(_ => ()))
    assert(threadsNamed("window-stream-batcher-") <= before, "stop() before subscribe starts no batcher")
    for (round <- 1 to 20) {
      val ws = new WindowStream[Int](s, queueCapacity = 64,
        windowDuration = 20.millis, consumerParallelism = 2)
      ws.publish(1 to 20)
      val received = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val attached = new java.util.concurrent.atomic.AtomicBoolean(false)
      val subscriber = new Thread(() =>
        try { ws.subscribe(batch => batch.foreach(received.add)); attached.set(true) }
        catch { case _: IllegalStateException => () })
      subscriber.start()
      if (round % 2 == 0) Thread.sleep(1)
      ws.stop()
      subscriber.join()
      if (attached.get())
        assert(received.asScala.toSet === (1 to 20).toSet, s"round $round: loss across stop()")
      assert(threadsNamed("window-stream-batcher-") <= before,
        s"round $round: a batcher thread survived stop()")
    }
  }
}

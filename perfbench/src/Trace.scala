package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-unit counters filled by the listeners. A unit is one benchmark query
  * execution, or one facade run; the harness names it before running it. */
final class UnitAcc(val name: String) {
  var builderS = 0.0
  var wallS = 0.0
  var builderJobs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var leakedRdds = 0L
  var leakedCacheEntries = 0L
  /** (start, end) epoch-millis spans of every job, for the union wall. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  def jobWallS: Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def catalystS: Double = (analysisMs + optimizationMs + planningMs) / 1e3
}

/** One micro-batch of a streaming query, from `StreamingQueryListener`. */
final case class BatchRec(
    unit: String, runId: String, batchId: Long, rows: Long,
    durations: Map[String, Long], stateRows: Long, stateCommitMs: Long)

/** Spark-side observation of the workloads through public listener APIs:
  * a `SparkListener` (jobs, stages, task metrics), a `QueryExecutionListener`
  * (Catalyst phase times) and a `StreamingQueryListener` (every micro-batch).
  * Jobs are attributed to a unit through local properties set around each
  * call; a barrier job flushes the listener bus before a unit is closed. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val units = mutable.LinkedHashMap[String, UnitAcc]()
  val batches = mutable.ArrayBuffer[BatchRec]()
  @volatile private var current: UnitAcc = _
  private val jobUnit = new ConcurrentHashMap[Int, (UnitAcc, String, Long)]()
  private val stageUnit = new ConcurrentHashMap[Int, UnitAcc]()
  @volatile private var barrier: CountDownLatch = _
  private val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
  private val streamUnit = new ConcurrentHashMap[java.util.UUID, String]()
  private val streamsOpen = new ConcurrentHashMap[java.util.UUID, java.lang.Boolean]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseKey)).orNull
      if (phase == Tracer.Barrier) { barrierJobs.add(e.jobId); return }
      val u = Option(e.properties).map(_.getProperty(Tracer.UnitKey)).orNull match {
        case null => current
        case n => units.synchronized(units.getOrElse(n, current))
      }
      if (u != null) {
        jobUnit.put(e.jobId, (u, phase, e.time))
        e.stageIds.foreach(stageUnit.put(_, u))
        u.synchronized {
          u.jobs += 1
          if (phase == Tracer.Builder) u.builderJobs += 1
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val rec = jobUnit.remove(e.jobId)
      if (rec != null) rec._1.synchronized { rec._1.jobSpans += ((rec._3, e.time)) }
      else if (barrierJobs.remove(e.jobId)) { val b = barrier; if (b != null) b.countDown() }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val u = stageUnit.get(e.stageInfo.stageId)
      if (u != null) u.synchronized { u.stages += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val u = stageUnit.get(e.stageId)
      if (u == null) return
      u.synchronized {
        u.tasks += 1
        if (e.reason != Success) u.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          u.taskRunMs += m.executorRunTime
          u.taskCpuNs += m.executorCpuTime
          u.gcMs += m.jvmGCTime
          u.inputBytes += m.inputMetrics.bytesRead
          u.inputRecords += m.inputMetrics.recordsRead
          u.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          u.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          u.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          u.peakExecMem = math.max(u.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val u = current
      if (u == null) return
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      u.synchronized {
        u.analysisMs += ms("analysis")
        u.optimizationMs += ms("optimization")
        u.planningMs += ms("planning")
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val u = current
      streamUnit.put(e.runId, if (u == null) "" else u.name)
      streamsOpen.put(e.runId, true)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val rec = BatchRec(
        streamUnit.getOrDefault(p.runId, Option(current).map(_.name).getOrElse("")),
        p.runId.toString, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum)
      batches.synchronized { batches += rec }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsOpen.remove(e.runId)
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Open a unit: jobs started from this thread carry its name. */
  def begin(name: String): UnitAcc = {
    val u = units.synchronized(units.getOrElseUpdate(name, new UnitAcc(name)))
    current = u
    sc.setLocalProperty(Tracer.UnitKey, name)
    phase(Tracer.Builder)
    u
  }

  def phase(p: String): Unit = sc.setLocalProperty(Tracer.PhaseKey, p)

  /** Close the current unit once every event it caused has been delivered:
    * streaming queries it started have terminated, and a barrier job queued
    * behind its jobs has been seen by the listener. */
  def end(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!streamsOpen.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    val latch = new CountDownLatch(1)
    barrier = latch
    phase(Tracer.Barrier)
    sc.parallelize(Seq(1), 1).count()
    latch.await(10, TimeUnit.SECONDS)
    barrier = null
    current = null
    sc.setLocalProperty(Tracer.UnitKey, null)
    sc.setLocalProperty(Tracer.PhaseKey, null)
  }
}

object Tracer {
  val UnitKey = "perfbench.unit"
  val PhaseKey = "perfbench.phase"
  val Builder = "builder"
  val Action = "action"
  val Barrier = "barrier"
}

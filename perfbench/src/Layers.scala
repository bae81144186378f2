package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.core.Tables

/** Rows/s of every SQL function `graft.GraftExtensions` registers, each
  * called by name over a cached, fixed-size input. */
object Kernels {

  /** (function, input, SQL call): `docs` has `text`, `text2`, `bin`, `a`,
    * `b`; `vecs` has `embedding`. */
  val Calls: Seq[(String, String, String)] = Seq(
    ("float_dot", "vecs", "float_dot(embedding, embedding)"),
    ("hyperplane_bands", "vecs", "hyperplane_bands(embedding, 8, 8)"),
    ("minhash_sig", "docs", "minhash_sig(text, 3, 32)"),
    ("shingle_hashes", "docs", "shingle_hashes(text, 3)"),
    ("jaccard_shingles", "docs", "jaccard_shingles(text, text2, 3)"),
    ("explode_shingles", "docs", "explode_shingles(text, 3)"),
    ("simhash64", "docs", "simhash64(text)"),
    ("portable_simhash_bands", "docs", "portable_simhash_bands(text)"),
    ("cdc_chunks", "docs", "cdc_chunks(text, 64)"),
    ("jaro_winkler", "docs", "jaro_winkler(substring(text, 1, 48), substring(text2, 3, 48))"),
    ("deflate_size", "docs", "deflate_size(text)"),
    ("nibble_hist", "docs", "nibble_hist(bin)"),
    ("ascii_poly_hash", "docs", "ascii_poly_hash(text)"),
    ("sorted_long_intersect", "docs", "sorted_long_intersect(a, b)"))

  val MinSeconds = 0.5
  /** Input rows per kernel call pass: large enough that the kernel, not the
    * per-job floor, sets the time. */
  val Rows = 50000

  def run(spark: SparkSession, data: String): Seq[(String, Double)] = {
    def replicated(table: String, cols: String*) = {
      val df = Tables.load(spark, data, table)
      val copies = (Rows + df.count() - 1) / df.count()
      df.selectExpr(cols: _*).crossJoin(spark.range(copies).toDF("copy"))
        .limit(Rows).repartition(PerfBench.Cores).persist(StorageLevel.MEMORY_ONLY)
    }
    val docs = replicated("documents", "text", "concat(text, ' x') AS text2",
      "CAST(text AS BINARY) AS bin", "array_sort(shingle_hashes(text, 3)) AS a",
      "array_sort(shingle_hashes(concat(text, ' x'), 3)) AS b")
    val vecs = replicated("embeddings", "embedding")
    val rows = Map("docs" -> docs.count(), "vecs" -> vecs.count())
    val out = Calls.map { case (fn, input, call) =>
      val df = (if (input == "docs") docs else vecs).selectExpr(call)
      df.write.format("noop").mode("overwrite").save()
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || (System.nanoTime() - t0) / 1e9 < MinSeconds) {
        df.write.format("noop").mode("overwrite").save()
        reps += 1
      }
      fn -> rows(input) * reps / ((System.nanoTime() - t0) / 1e9)
    }
    docs.unpersist(true)
    vecs.unpersist(true)
    out
  }
}

/** Per-layer metrics of a traced run, in one fixed order for every workload
  * (a layer a workload does not exercise reads 0). */
object Layers {
  import PerfBench.{median, quantile, Metrics}

  val StreamPhases: Seq[(String, String)] = Seq(
    "trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "query_planning_ms" -> "queryPlanning", "latest_offset_ms" -> "latestOffset")

  /** @param coldSetupS   JVM start until the first session was ready
    * @param tracedS      wall of the traced pass (facade: of the traced drive)
    * @param untracedS    mean wall of the untraced passes (facade: drives)
    *                     just before and after it */
  def report(
      m: Metrics, t: Tracer, coldSetupS: Double, tracedS: Double, untracedS: Double,
      kernels: Seq[(String, Double)], facade: Option[(FacadeWorkload.Drive, Double)],
      attempted: Long, failed: Long): Unit = {
    val us = t.units.values.toSeq
    def sumL(f: UnitAcc => Long): Double = us.map(f).sum.toDouble
    def sumD(f: UnitAcc => Double): Double = us.map(f).sum
    m.put("core.session_s", coldSetupS, "s")
    m.put("sources.input_bytes", sumL(_.inputBytes), "B")
    m.put("sources.input_records", sumL(_.inputRecords), "count")
    m.put("queries.builder_s", sumD(_.builderS), "s")
    m.put("queries.builder_jobs", sumL(_.builderJobs), "count")
    m.put("queries.leaked_rdds", sumL(_.leakedRdds), "count")
    m.put("queries.leaked_cache_entries", sumL(_.leakedCacheEntries), "count")
    m.put("catalyst.analysis_s", sumL(_.analysisMs) / 1e3, "s")
    m.put("catalyst.optimization_s", sumL(_.optimizationMs) / 1e3, "s")
    m.put("catalyst.planning_s", sumL(_.planningMs) / 1e3, "s")
    val taskRunS = sumL(_.taskRunMs) / 1e3
    val taskCpuS = sumL(_.taskCpuNs) / 1e9
    m.put("exec.jobs", sumL(_.jobs), "count")
    m.put("exec.stages", sumL(_.stages), "count")
    m.put("exec.tasks", sumL(_.tasks), "count")
    m.put("exec.job_wall_s", sumD(_.jobWallS), "s")
    m.put("exec.task_run_s", taskRunS, "s")
    m.put("exec.task_cpu_s", taskCpuS, "s")
    m.put("exec.cpu_share", if (taskRunS > 0) taskCpuS / taskRunS else 0.0, "share")
    m.put("exec.gc_s", sumL(_.gcMs) / 1e3, "s")
    m.put("exec.shuffle_read_bytes", sumL(_.shuffleReadBytes), "B")
    m.put("exec.shuffle_write_bytes", sumL(_.shuffleWriteBytes), "B")
    m.put("exec.spill_bytes", sumL(_.spillBytes), "B")
    m.put("exec.peak_exec_mem_bytes", us.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble, "B")
    m.put("exec.task_failures", sumL(_.taskFailures), "count")
    m.put("driver.other_s",
      us.map(u => math.max(0.0, u.wallS - u.jobWallS - u.catalystS)).sum, "s")
    val k = kernels.toMap
    Kernels.Calls.foreach { case (fn, _, _) =>
      m.put(s"expressions.$fn.rows_per_s", k.getOrElse(fn, 0.0), "1/s")
    }
    val bs = t.batches.toSeq
    m.put("streaming.batches", bs.size.toDouble, "count")
    m.put("streaming.rows_per_batch", if (bs.isEmpty) 0.0 else bs.map(_.rows).sum.toDouble / bs.size, "count")
    StreamPhases.foreach { case (name, key) =>
      val xs = bs.flatMap(_.durations.get(key)).map(_.toDouble)
      m.put(s"streaming.$name.p50", median(xs), "ms")
      m.put(s"streaming.$name.p99", quantile(xs, 0.99), "ms")
    }
    m.put("streaming.state_rows",
      bs.groupBy(_.runId).values.map(_.maxBy(_.batchId).stateRows).sum.toDouble, "count")
    m.put("streaming.state_commit_ms", bs.map(_.stateCommitMs).sum.toDouble, "ms")
    val (blocked, depth, calls, fill, busy, samples) = facade match {
      case Some((r, _)) =>
        (r.blockedMs, r.queueDepth, r.consumerCalls.get().toDouble,
          if (r.consumerCalls.get() == 0) 0.0
          else r.deliveredN.get().toDouble / r.consumerCalls.get() / FacadeWorkload.MaxBatch,
          r.consumerBusyNs.get() / 1e9, r.latenciesMs.size.toDouble)
      case None => (Seq.empty[Double], 0.0, 0.0, 0.0, 0.0, 0.0)
    }
    m.put("facade.publish_block_ms.p50", median(blocked), "ms")
    m.put("facade.publish_block_ms.p99", quantile(blocked, 0.99), "ms")
    m.put("facade.queue_depth", depth, "count")
    m.put("facade.consumer_calls", calls, "count")
    m.put("facade.chunk_fill", fill, "share")
    m.put("facade.consumer_busy_s", busy, "s")
    m.put("facade.latency_samples", samples, "count")
    m.put("facade.single_thread_msg_per_s", facade.map(_._2).getOrElse(0.0), "1/s")
    m.put("trace.untraced_s", untracedS, "s")
    m.put("trace.traced_s", tracedS, "s")
    m.put("trace.overhead_share", tracedS / untracedS - 1.0, "share")
    m.put("check.failed_share", if (attempted == 0) 0.0 else failed.toDouble / attempted, "share")
  }

  /** One JSON record per traced unit (query or facade run) and one per
    * micro-batch; a batch's `id` is the unit that started its stream. */
  def traceRecords(t: Tracer): Seq[String] = {
    import PerfBench.{fmt, jstr}
    val units = t.units.values.toSeq.map { u =>
      val spans = u.jobSpans.sortBy(_._1).map { case (s, e) => s"[$s,$e]" }.mkString("[", ",", "]")
      s"""{"kind": "query", "id": ${jstr(u.name)}, "wall_s": ${fmt(u.wallS)}, """ +
        s""""builder_s": ${fmt(u.builderS)}, "jobs": ${u.jobs}, "builder_jobs": ${u.builderJobs}, """ +
        s""""stages": ${u.stages}, "tasks": ${u.tasks}, "task_run_ms": ${u.taskRunMs}, """ +
        s""""task_cpu_ms": ${u.taskCpuNs / 1000000}, "gc_ms": ${u.gcMs}, """ +
        s""""analysis_ms": ${u.analysisMs}, "optimization_ms": ${u.optimizationMs}, """ +
        s""""planning_ms": ${u.planningMs}, "input_bytes": ${u.inputBytes}, """ +
        s""""shuffle_read_bytes": ${u.shuffleReadBytes}, "shuffle_write_bytes": ${u.shuffleWriteBytes}, """ +
        s""""leaked_rdds": ${u.leakedRdds}, "leaked_cache_entries": ${u.leakedCacheEntries}, """ +
        s""""job_spans_ms": $spans}"""
    }
    val batches = t.batches.toSeq.map { b =>
      val d = b.durations.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
      s"""{"kind": "batch", "id": ${jstr(b.unit)}, "run_id": ${jstr(b.runId)}, """ +
        s""""batch_id": ${b.batchId}, "rows": ${b.rows}, "state_rows": ${b.stateRows}, """ +
        s""""state_commit_ms": ${b.stateCommitMs}, "duration_ms": $d}"""
    }
    units ++ batches
  }
}

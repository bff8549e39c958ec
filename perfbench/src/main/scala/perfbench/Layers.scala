package perfbench

/** Per-layer metrics shared by several workloads, derived from span
  * summaries. Times and counts are per call unless the name says
  * otherwise, so runs of different lengths compare.
  */
object Layers {

  /** Every per-layer metric, with its unit, in reporting order. */
  val All: Seq[(String, String)] = Seq(
    "embed.busy_s" -> "s", "embed.rows_per_s" -> "1/s",
    "embed.task_cpu_s" -> "s",
    "dedup.busy_s" -> "s", "dedup.pairs_out" -> "count",
    "dedup.precision" -> "ratio", "dedup.shuffle_bytes" -> "B",
    "dedup.spill_bytes" -> "B", "dedup.task_skew" -> "ratio",
    "pq.fit_s" -> "s", "pq.fit_jobs" -> "count", "pq.encode_s" -> "s",
    "ivf.build_s" -> "s", "ivf.build_jobs" -> "count",
    "ivf.build_bytes_written" -> "B", "ivf.build_files" -> "count",
    "autotune.grid_s" -> "s", "autotune.grid_input_records" -> "count",
    "ivf.search_s" -> "s", "ivf.rows_scanned" -> "count",
    "ivf.scan_bytes" -> "B", "ivf.scan_ratio" -> "ratio",
    "ivf.task_cpu_s" -> "s", "ivf.planning_ms" -> "ms",
    "ivf.planning_jobs" -> "count", "ivf.jobs_per_call" -> "count",
    "ivf.sched_wait_ms" -> "ms",
    "functions.distance_evals" -> "count",
    "functions.distance_bytes" -> "B",
    "functions.centroid_evals" -> "count",
    "http.service_ms" -> "ms", "http.job_ms" -> "ms",
    "http.driver_ms" -> "ms", "http.jobs_per_request" -> "count",
    "http.queue_ms" -> "ms",
    "stream.batches" -> "count", "stream.trigger_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms", "stream.backlog_files_max" -> "count",
    "stream.rows_per_batch" -> "count", "stream.files_per_cell" -> "ratio",
    "ivf.compact_s" -> "s", "ivf.compact_bytes_rewritten" -> "B",
    "spark.gc_s" -> "s", "spark.peak_exec_mem_mb" -> "MB",
    "spark.spill_bytes" -> "B")

  /** Probe-pruned search: `call` spans one search (plan + result
    * collect), `plan` the part before the result is requested.
    */
  def search(out: Outcome, call: Tracer#Summary,
      plan: Option[Tracer#Summary], corpus: Long, nprobe: Int, cells: Int,
      distanceEvals: Long, dim: Int): Unit = {
    val n = call.count.toDouble
    out.layers("ivf.search_s") = call.totalS / n
    out.layers("ivf.rows_scanned") = call.inputRecords / n
    out.layers("ivf.scan_bytes") = call.inputBytes / n
    out.layers("ivf.scan_ratio") =
      (call.inputRecords / n) / (corpus.toDouble * nprobe / cells)
    out.layers("ivf.task_cpu_s") = call.taskCpuS / n
    out.layers("ivf.planning_ms") = call.planningMsP50
    out.layers("ivf.planning_jobs") = plan.map(_.jobsPerCall)
      .getOrElse(call.planningJobsPerCall)
    out.layers("ivf.jobs_per_call") = call.jobsPerCall
    out.layers("ivf.sched_wait_ms") = call.schedWaitMsP50
    out.layers("functions.distance_evals") = distanceEvals / n
    out.layers("functions.distance_bytes") = distanceEvals / n * dim * 8
  }

  /** IVF build calls. `centroidEvals` is rows x cells x (k-means
    * iterations + the assignment pass), an upper bound when k-means
    * converges early.
    */
  def build(out: Outcome, s: Tracer#Summary, centroidEvals: Long,
      files: Int): Unit = {
    val n = s.count.toDouble
    out.layers("ivf.build_s") = s.totalS / n
    out.layers("ivf.build_jobs") = s.jobs / n
    out.layers("ivf.build_bytes_written") = s.outputBytes / n
    out.layers("ivf.build_files") = files
    out.layers("functions.centroid_evals") = centroidEvals.toDouble
  }

  /** Whole-run Spark memory counters. */
  def spark(out: Outcome, t: Tracer): Unit = {
    val (gc, peak, spill) = t.totals()
    out.layers("spark.gc_s") = gc
    out.layers("spark.peak_exec_mem_mb") = peak
    out.layers("spark.spill_bytes") = spill.toDouble
  }
}

package perfbench

/** Per-layer metrics of a traced window, per timed operation. Layers are
  * named by the program's modules; a layer a workload does not touch
  * reads 0. */
object Layers {
  private val units: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "jvm.live_heap_mib" -> "MiB",
    "etl.Sync.self_s" -> "s",
    "etl.Loader.raw_s" -> "s", "etl.Loader.normalized_s" -> "s", "etl.Loader.sync_log_s" -> "s",
    "etl.Loader.append_s" -> "s", "etl.Loader.rows" -> "count", "etl.Loader.files_written" -> "count",
    "etl.Loader.bytes_written" -> "bytes",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "serve.sql_s" -> "s", "serve.collect_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.job_busy_s" -> "s", "sched.driver_gap_s" -> "s",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "shuffle.reread_ratio" -> "ratio",
    "scan.files_read" -> "count", "scan.partitions_read" -> "count", "scan.metadata_ms" -> "ms",
    "scan.input_bytes" -> "bytes", "scan.rows_per_result" -> "ratio",
    "fs.create" -> "count", "fs.rename" -> "count", "fs.delete" -> "count", "fs.mkdirs" -> "count",
    "fs.list" -> "count", "fs.status" -> "count",
    "stream.triggers" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.rows_updated" -> "count", "state.memory_bytes" -> "bytes",
    "state.dup_dropped_frac" -> "ratio",
    "corpus.cached_bytes_peak" -> "bytes", "corpus.rows_out" -> "count", "corpus.output_files" -> "count",
    "trace.overhead_frac" -> "ratio")

  def unit(name: String): String = units.toMap.getOrElse(name, "count")

  /** `totals`: counter increments over the traced window, and peaks
    * (`peak:` names) within it. */
  def perOp(workload: String, totals: Map[String, Double], spans: Seq[Span], ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    def d(k: String): Double = totals.getOrElse(k, 0.0)
    def per(k: String): Double = d(k) / n
    val opSpans = spans.filter(s => s.parent == 0L && s.id == s.op)
    val byOp = spans.filter(_.parent != 0L).groupBy(_.op)
    def spanSecs(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e3 / n
    def meanOver(f: Span => Double): Double =
      if (opSpans.isEmpty) 0.0 else opSpans.map(f).sum / opSpans.size
    def jobs(op: Span) = byOp.getOrElse(op.id, Nil).filter(_.name == "job")
      .map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))
    val loaderNames = Set("loader.raw", "loader.normalized", "loader.sync_log", "loader.append")
    val shuffleWrite = d("shuffle.write_bytes")
    Map[String, Double](
      "etl.Sync.self_s" -> (if (workload != "sync") 0.0 else
        meanOver(op => Recorder.selfTime(op, byOp.getOrElse(op.id, Nil).filter(s => loaderNames(s.name))) / 1e3)),
      "etl.Loader.raw_s" -> spanSecs("loader.raw"),
      "etl.Loader.normalized_s" -> spanSecs("loader.normalized"),
      "etl.Loader.sync_log_s" -> spanSecs("loader.sync_log"),
      "etl.Loader.append_s" -> spanSecs("loader.append"),
      "etl.Loader.rows" -> per("loader.rows"),
      "etl.Loader.files_written" -> per("loader.files_written"),
      "etl.Loader.bytes_written" -> per("loader.bytes_written"),
      "plan.analysis_ms" -> per("plan.analysis_ms"),
      "plan.optimization_ms" -> per("plan.optimization_ms"),
      "plan.planning_ms" -> per("plan.planning_ms"),
      "serve.sql_s" -> spanSecs("serve.sql"),
      "serve.collect_s" -> spanSecs("serve.collect"),
      "sched.jobs" -> per("sched.jobs"),
      "sched.stages" -> per("sched.stages"),
      "sched.tasks" -> per("sched.tasks"),
      "sched.job_busy_s" -> meanOver(op => Recorder.union(jobs(op)) / 1e3),
      "sched.driver_gap_s" -> meanOver(op => (op.dur - Recorder.union(jobs(op))) / 1e3),
      "exec.run_s" -> per("exec.run_ms") / 1e3,
      "exec.cpu_s" -> per("exec.cpu_ns") / 1e9,
      "exec.gc_s" -> per("exec.gc_ms") / 1e3,
      "shuffle.write_bytes" -> per("shuffle.write_bytes"),
      "shuffle.read_bytes" -> per("shuffle.read_bytes"),
      "shuffle.spill_bytes" -> per("shuffle.spill_bytes"),
      "shuffle.reread_ratio" -> (if (shuffleWrite > 0) d("shuffle.read_bytes") / shuffleWrite else 0.0),
      "scan.files_read" -> per("scan.files_read"),
      "scan.partitions_read" -> per("scan.partitions_read"),
      "scan.metadata_ms" -> per("scan.metadata_ms"),
      "scan.input_bytes" -> per("scan.input_bytes"),
      "scan.rows_per_result" -> (if (d("serve.result_rows") > 0) d("scan.rows") / d("serve.result_rows") else 0.0),
      "stream.triggers" -> per("stream.triggers"),
      "stream.trigger_ms" -> per("stream.trigger_ms"),
      "stream.add_batch_ms" -> per("stream.add_batch_ms"),
      "stream.wal_commit_ms" -> per("stream.wal_commit_ms"),
      "stream.commit_offsets_ms" -> per("stream.commit_offsets_ms"),
      "stream.latest_offset_ms" -> per("stream.latest_offset_ms"),
      "stream.query_planning_ms" -> per("stream.query_planning_ms"),
      "state.commit_ms" -> per("state.commit_ms"),
      "state.rows_updated" -> per("state.rows_updated"),
      "state.memory_bytes" -> d("peak:state.memory_bytes"),
      "state.dup_dropped_frac" -> (if (d("stream.input_rows") > 0) d("state.dup_dropped") / d("stream.input_rows") else 0.0),
      "corpus.cached_bytes_peak" -> (if (workload == "corpus") d("peak:corpus.cached_bytes") else 0.0),
      "corpus.rows_out" -> per("corpus.rows_out"),
      "corpus.output_files" -> per("corpus.output_files")) ++
      FsCounts.names.map(k => s"fs.$k" -> per(s"fs.$k"))
  }
}

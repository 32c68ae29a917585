package perfbench

/** The metric names and units `BENCHMARK.json` lists; `run.py` refuses a
  * result whose names differ from the file's. Their definitions, per
  * workload, are in `perfbench/README.md`. */
object Metrics {

  /** Untraced run (`--trace 0`). Shared by every workload; each workload
    * defines its own operation, acknowledgement and batch phase. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "heap_live_mb" -> "MB",
    "op_p50_ms" -> "ms",
    "ack_p50_ms" -> "ms",
    "batch_s" -> "s")

  /** Traced run (`--trace 1`). A layer a workload does not enter reads 0.
    * `log.error_lines` is added by `run.py`, which sees the log. */
  val PerLayer: Seq[(String, String)] =
    Seq("append", "read_stream", "read_all").flatMap(op => Seq(
      s"store.$op.count" -> "count", s"store.$op.busy_ms" -> "ms", s"store.$op.p50_ms" -> "ms")) ++
    Seq(
      "store.conflict_ratio" -> "ratio",
      "store.failed" -> "count",
      "store.fs.bytes_written" -> "bytes",
      "store.fs.write_ops" -> "count",
      "store.fs.write_amp" -> "ratio",
      "store.disk.bytes_per_user_byte" -> "ratio",
      "store.disk.segments_written" -> "count",
      "store.disk.journal_files_written" -> "count",
      "spark.jobs" -> "count",
      "spark.stages" -> "count",
      "spark.tasks" -> "count",
      "spark.jobs_per_store_read" -> "ratio",
      "spark.idle_jobs_per_s" -> "1/s",
      "spark.plan_ms" -> "ms",
      "spark.exec_ms" -> "ms",
      "spark.task_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.task_skew" -> "ratio",
      "sub.reads" -> "count",
      "sub.useful_read_ratio" -> "ratio",
      "sub.poll_wait_ms" -> "ms",
      "sub.read_ms" -> "ms",
      "sub.dispatch_ms" -> "ms",
      "sub.lag_end_msgs" -> "count",
      "http.client.read_ms" -> "ms",
      "http.client.append_ms" -> "ms",
      "http.server.store_ms" -> "ms",
      "http.self_ms" -> "ms") ++
    Seq("quality", "exact_dedup", "near_dup", "decontam", "split_mixture", "packing", "shuffle")
      .map(s => s"ops.${s}_s" -> "s") ++
    Seq(
      "ops.near_dup.shuffle_bytes" -> "bytes",
      "ops.near_dup.task_skew" -> "ratio",
      "ops.pipeline.shuffle_bytes" -> "bytes",
      "stream.batches" -> "count") ++
    Seq("add_batch", "wal_commit", "commit_offsets", "query_planning", "get_batch", "trigger")
      .map(p => s"stream.${p}_ms" -> "ms") ++
    Seq(
      "stream.state_commit_ms" -> "ms",
      "stream.state_rows" -> "count",
      "stream.state_mem_bytes" -> "bytes",
      "stream.output_rows" -> "count",
      "gen.late_p99_ms" -> "ms",
      "gen.late_max_ms" -> "ms",
      "jvm.gc_ms" -> "ms")

  private def ms(xs: Seq[Double]): Metric = Metric(Stats.median(xs), "ms", xs.size.toLong)

  /** `<layer>.<op>.{count,busy_ms,p50_ms}` from that layer's spans. */
  def opSpans(o: Outcome, prefix: String, spans: Seq[Span]): Unit = {
    o.layer(s"$prefix.count") = Metric(spans.size.toDouble, "count", spans.size.toLong)
    o.layer(s"$prefix.busy_ms") = Metric(spans.map(_.ms).sum, "ms", spans.size.toLong)
    o.layer(s"$prefix.p50_ms") = ms(spans.map(_.ms))
  }

  /** The store layer: every call that reached the decorator over the store. */
  def storeLayer(o: Outcome, spans: Seq[Span], fs: FsStats): Unit = {
    val appends = spans.filter(_.name == "store.append")
    opSpans(o, "store.append", appends)
    opSpans(o, "store.read_stream", spans.filter(_.name == "store.read_stream"))
    opSpans(o, "store.read_all", spans.filter(_.name == "store.read_all"))
    val storeSpans = spans.filter(_.name.startsWith("store."))
    o.layer("store.conflict_ratio") = Metric(
      appends.count(_.outcome == "conflict").toDouble / math.max(1, appends.size), "ratio", appends.size.toLong)
    o.layer("store.failed") = Metric(storeSpans.count(_.outcome == "error").toDouble, "count", storeSpans.size.toLong)
    val userBytes = appends.filter(_.outcome == "ok").map(_.n).sum
    o.layer("store.fs.bytes_written") = Metric(fs.bytesWritten.toDouble, "bytes", 1)
    o.layer("store.fs.write_ops") = Metric(fs.writeOps.toDouble, "count", 1)
    o.layer("store.fs.write_amp") = Metric(fs.bytesWritten.toDouble / math.max(1L, userBytes), "ratio", 1)
  }

  /** Files the store created in the window (`before` = [[Harness.storeFiles]]
    * at its start) and the store's size per user byte in its `log`. */
  def diskLayer(o: Outcome, root: java.nio.file.Path, before: Set[String], log: Seq[graft.core.StreamMessage]): Unit = {
    val created = Harness.storeFiles(root) -- before
    o.layer("store.disk.segments_written") = Metric(created.count(_.endsWith(".parquet")).toDouble, "count", 1)
    o.layer("store.disk.journal_files_written") = Metric(created.count(_.startsWith("heads")).toDouble, "count", 1)
    val userBytes = log.map(m =>
      TracedStore.userBytes(Seq(graft.core.NewStreamMessage(m.messageId, m.`type`, m.jsonData, m.jsonMetadata)))).sum
    o.layer("store.disk.bytes_per_user_byte") =
      Metric(FsProbe.files(root).map(_._2).sum.toDouble / math.max(1L, userBytes), "ratio", 1)
  }

  /** The Spark engine, from the listeners. `reads` = store read calls. */
  def sparkLayer(o: Outcome, probe: SparkProbe, reads: Int): Unit = {
    val jobs = probe.jobs
    val stages = probe.stages
    o.layer("spark.jobs") = Metric(jobs.size.toDouble, "count", jobs.size.toLong)
    o.layer("spark.stages") = Metric(stages.size.toDouble, "count", stages.size.toLong)
    o.layer("spark.tasks") = Metric(stages.map(_.tasks).sum.toDouble, "count", stages.size.toLong)
    val readJobs = jobs.count(j => j.group == "store.read_all" || j.group == "store.read_stream")
    o.layer("spark.jobs_per_store_read") = Metric(readJobs.toDouble / math.max(1, reads), "ratio", reads.toLong)
    o.layer("spark.plan_ms") = ms(probe.planning.values)
    o.layer("spark.exec_ms") = ms(probe.execution.values)
    val taskMs = stages.flatMap(_.taskMs).map(_.toDouble)
    o.layer("spark.task_ms") = ms(taskMs)
    o.layer("spark.shuffle_write_bytes") = Metric(stages.map(_.shuffleWriteBytes).sum.toDouble, "bytes", stages.size.toLong)
    o.layer("spark.spill_bytes") = Metric(stages.map(_.spillBytes).sum.toDouble, "bytes", stages.size.toLong)
    o.layer("spark.task_skew") = Metric(if (stages.isEmpty) 0.0 else stages.map(_.skew).max, "ratio", stages.size.toLong)
  }

  /** Per HTTP client call (spans named `prefix`*): its time, the store
    * time the server spent on it (server spans whose parent is the
    * client span) and the rest, the HTTP layer's own time. */
  def httpCalls(spans: Seq[Span], prefix: String = "http.client."): Seq[(Double, Double, Double)] = {
    val server = spans.filter(_.name.startsWith("http.server.")).groupBy(_.parent)
    spans.filter(_.name.startsWith(prefix)).map { c =>
      val store = server.getOrElse(c.id, Nil).map(_.ms).sum
      (c.ms, store, c.ms - store)
    }
  }

  /** The HTTP layer: client calls, the store time under the server, the rest. */
  def httpLayer(o: Outcome, spans: Seq[Span]): Unit = {
    o.layer("http.client.read_ms") = ms(httpCalls(spans, "http.client.read_stream").map(_._1))
    o.layer("http.client.append_ms") = ms(httpCalls(spans, "http.client.append").map(_._1))
    val calls = httpCalls(spans)
    o.layer("http.server.store_ms") = ms(calls.map(_._2))
    o.layer("http.self_ms") = ms(calls.map(_._3))
  }

  def jvm(o: Outcome, gcMsAtStart: Double): Unit =
    o.layer("jvm.gc_ms") = Metric(Stats.gcMs() - gcMsAtStart, "ms", 1)
}

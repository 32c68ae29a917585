package perfbench

import graft.operators.{Dedup, Packing, Sampling, TextAnalysis, TextCorpus}
import graft.streaming.{LogEvent, StatefulOps}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** `analytics`: no store at all.
  *
  * Batch: the document pipeline of `graft.Bench.pipelineScenario` over a
  * 5,000-document corpus — `TextCorpus.qualityFlags` →
  * `Dedup.exactDedup` → `nearDupPairs`/`connectedComponents` →
  * `contamination` → `Sampling.deterministicSplit`/`mixturePlan` →
  * `Packing.binStats` → `TextCorpus.shardedShuffle` — run once per JVM,
  * as a batch job is. The corpus comes from a fixed seed, so its stage
  * row counts and output hashes are pinned in `perfbench/expected.json`.
  * Streaming: `StatefulOps.sessionizeWithState` replays 100,000 events
  * generated from `--seed` as 6 event-time-ordered micro-batches on the
  * HDFS state store, `Replays` times (each a fresh query and checkpoint),
  * checked against a sessionization done without Spark. A short replay
  * during set-up warms the JIT for it.
  *
  * End-to-end, over the `Replays` × 6 steps of the replays (a step = add
  * one micro-batch of data → `processAllAvailable` returns, which covers
  * the data batch and the no-data batch its watermark triggers):
  * `op_p50_ms` = a step's wall time, `ack_p50_ms` = what a step spends
  * making its progress durable (offset-log, commit-log and state-store
  * commits of its batches), both medians; `batch_s` = the pipeline. */
object AnalyticsWorkload {
  val Docs = 5000
  val Events = 100000
  val Users = 1500
  val Batches = 6
  val Replays = 3
  val WarmupEvents = 12000
  val SetUps = 5
  val GapMicros: Long = 12L * 3600L * 1000000L
  val CorpusSeed = 20240101L
  val StageNames = Seq("quality", "exact_dedup", "near_dup", "decontam", "split_mixture", "packing", "shuffle")

  /** How a pipeline run is cut into stages. Fused (the timed run)
    * materialises only the frames `graft.Bench` materialises; staged (the
    * traced twin) ends every stage in a materialised boundary, times it
    * and labels its Spark jobs `ops.<stage>`. */
  final class Stages(ctx: Ctx, staged: Boolean) {
    val secs = mutable.LinkedHashMap.empty[String, Double]
    def apply[A](name: String)(f: => A): A =
      if (!staged) f
      else {
        val sc = ctx.spark.sparkContext
        sc.setJobGroup(s"ops.$name", s"ops.$name", interruptOnCancel = false)
        val t0 = System.nanoTime()
        try f finally { secs(name) = Stats.sec(System.nanoTime() - t0); sc.clearJobGroup() }
      }
    def cut(df: DataFrame): DataFrame = if (staged) df.localCheckpoint() else df
  }

  final case class Frames(raw: DataFrame, kept: DataFrame, exact: DataFrame, deduped: DataFrame,
      clean: DataFrame, train: DataFrame)

  def pipeline(raw: DataFrame, st: Stages): Frames = {
    val kept = st("quality") {
      st.cut(raw.join(TextCorpus.qualityFlags(raw).filter(col("keep")).select("doc_id"), "doc_id"))
    }
    val exact = st("exact_dedup") { Dedup.exactDedup(kept, "text", "doc_id").localCheckpoint() }
    val deduped = st("near_dup") {
      val pairs = Dedup.nearDupPairs(exact, "text", "doc_id", threshold = 0.5)
      val groups = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      val drop = groups.filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
      exact.join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val clean = st("decontam") {
      val bench = raw.orderBy("doc_id").limit(5).select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val contaminated = Dedup.contamination(deduped, bench, "text", "doc_id", minOverlap = 150)
        .select(col("corpus_id").as("doc_id")).distinct()
      deduped.join(contaminated, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val train = st("split_mixture") {
      val split = clean.withColumn("split",
        Sampling.deterministicSplit(col("doc_id"), salt = "bench-v1", trainPct = 80, valPct = 10))
      val tr = st.cut(split.filter(col("split") === "train"))
      val weights = clean.select("source").distinct()
        .select(col("source"), (substring(col("source"), 4, 10).cast("int") % 4 + 1).as("weight"))
      Sampling.mixturePlan(tr, weights, budgetTokens = 10000L).write.format("noop").mode("overwrite").save()
      tr
    }
    st("packing") { packed(train).write.format("noop").mode("overwrite").save() }
    st("shuffle") { shuffled(train).write.format("noop").mode("overwrite").save() }
    Frames(raw, kept, exact, deduped, clean, train)
  }

  private def withCost(train: DataFrame) = train.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
  private def packed(train: DataFrame) =
    Packing.binStats(withCost(train), "doc_id", "n_tokens", budget = 512L, chunkSize = 1000L)
  private def shuffled(train: DataFrame) = TextCorpus.shardedShuffle(train, shards = 4, salt = "epoch-0")

  /** Order-independent hash of collected rows: the sum of their hashes. */
  private def hashOf(rows: Seq[org.apache.spark.sql.Row]): String =
    rows.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq) & 0xffffffffL).sum.toString

  /** Stage row counts and output hashes, checked against oracles that do
    * not use the operators under test; returned for pinning. */
  def checkPipeline(o: Outcome, prefix: String, f: Frames): ListMap[String, String] = {
    val kept = f.kept.select("text").collect().map(_.getString(0))
    val train = f.train.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val counts = ListMap("raw" -> f.raw.count(), "kept" -> kept.length.toLong, "exact" -> f.exact.count(),
      "deduped" -> f.deduped.count(), "clean" -> f.clean.count(), "train" -> train.length.toLong)
    o.check(s"$prefix.exact_dedup", counts("exact") == kept.toSet.size,
      s"exact dedup kept ${counts("exact")} docs, ${kept.toSet.size} distinct texts")
    o.check(s"$prefix.stages_shrink", counts.values.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true },
      s"a stage grew the corpus: $counts")
    o.check(s"$prefix.near_dup_found", counts("deduped") < counts("exact"), "no near-duplicates removed")
    val tokens = train.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
    val bins = packed(f.train).collect().toSeq
    val binDocs = bins.map(_.getAs[Long]("n_docs")).sum
    val binCost = bins.map(_.getAs[Long]("total_cost")).sum
    o.check(s"$prefix.packing_covers_train", binDocs == train.length && binCost == tokens,
      s"bins hold $binDocs docs / $binCost tokens; train has ${train.length} / $tokens")
    val sh = shuffled(f.train).collect().toSeq
    val dense = sh.groupBy(_.getAs[Long]("shard")).values.forall(rs =>
      rs.map(_.getAs[Long]("pos")).sorted == (1L to rs.size.toLong))
    o.check(s"$prefix.shuffle_is_permutation",
      dense && sh.map(_.getAs[Long]("doc_id")).sorted == train.map(_._1).toSeq.sorted,
      "shuffled output is not a dense per-shard permutation of train")
    counts.map { case (k, v) => k -> v.toString } ++
      ListMap("packed_hash" -> hashOf(bins), "shuffled_hash" -> hashOf(sh))
  }

  type Progress = org.apache.spark.sql.streaming.StreamingQueryProgress

  /** One step of a replay: its wall ms and the progress records of the
    * micro-batches it ran. */
  final case class Step(ms: Double, progress: Vector[Progress])

  /** Replay `events` as `Batches` steps; the steps and the total seconds. */
  def replay(spark: SparkSession, events: Vector[LogEvent], ckpt: Path): (Vector[Step], Double) = {
    import spark.implicits._
    val in = MemoryStream[LogEvent](spark)
    val q = StatefulOps.sessionizeWithState(in.toDS(), GapMicros)
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    val steps = mutable.ArrayBuffer.empty[(Double, Long)] // (wall ms, last batch id after the step)
    val t0 = System.nanoTime()
    try batchesOf(events).foreach { b =>
      val b0 = System.nanoTime()
      in.addData(b)
      q.processAllAvailable()
      steps += Stats.ms(System.nanoTime() - b0) -> Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    } finally q.stop()
    val secs = Stats.sec(System.nanoTime() - t0)
    val progress = q.recentProgress.toVector
    val firsts = -1L +: steps.map(_._2).toVector
    (steps.toVector.zipWithIndex.map { case ((ms, last), i) =>
      Step(ms, progress.filter(p => p.batchId > firsts(i) && p.batchId <= last))
    }, secs)
  }

  def batchesOf(events: Vector[LogEvent]): Seq[Vector[LogEvent]] =
    events.grouped(math.max(1, (events.size + Batches - 1) / Batches)).toSeq

  /** Sessions (per user, split where the gap exceeds GapMicros) computed
    * without Spark. Every session followed by a later one of its user is
    * emitted by the end (inline when the later event arrives, or by
    * timeout); a user's last session only by timeout, so it must be out
    * if the watermark before the last batch had passed its end + gap,
    * and cannot be out unless the final watermark had. */
  def checkReplay(o: Outcome, prefix: String, events: Vector[LogEvent], outputRows: Long): Unit = {
    val gapNs = GapMicros * 1000L
    val delayNs = 3600L * 1000000000L
    val perUser = events.groupBy(_.userId).values.map { es =>
      val ts = es.map(_.tsNanos).sorted
      val ends = ts.indices.filter(i => i == ts.size - 1 || ts(i + 1) - ts(i) > gapNs).map(ts(_))
      (ends.size - 1, ends.last)
    }.toVector
    val closedByLaterEvent = perUser.map(_._1.toLong).sum
    val lastEnds = perUser.map(_._2)
    val bs = batchesOf(events)
    val wBeforeLast = bs.init.flatten.map(_.tsNanos).max - delayNs
    val wFinal = events.map(_.tsNanos).max - delayNs
    val marginNs = 1000000000L
    val lower = closedByLaterEvent + lastEnds.count(e => e + gapNs < wBeforeLast - marginNs)
    val upper = closedByLaterEvent + lastEnds.count(e => e + gapNs <= wFinal + marginNs)
    o.check(s"$prefix.sessions_closed", outputRows >= lower && outputRows <= upper,
      s"replay emitted $outputRows sessions; between $lower and $upper expected")
  }

  private def outputRows(ps: Seq[Progress]): Long =
    ps.map(p => math.max(0L, p.sink.numOutputRows)).sum

  /** What a micro-batch spends making its progress durable: the offset
    * log write, the commit log write and the state stores' commits. */
  private def commitMs(p: Progress): Double = {
    val d = p.durationMs
    Seq("walCommit", "commitOffsets").map(k => Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)).sum +
      p.stateOperators.map(_.commitTimeMs.toDouble).sum
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val gc0 = Stats.gcMs()

    val docs = Data.documents(CorpusSeed, Docs)
    val events = Data.events(ctx.seed, Events, Users)
    Main.phase("inputs generated")
    val setups = (1 to SetUps).map { _ =>
      val t0 = System.nanoTime()
      val raw = docs.toDF().localCheckpoint()
      raw.count()
      (raw, Stats.sec(System.nanoTime() - t0))
    }
    val raw = setups.last._1
    o.e2e("setup_s") = Metric(Stats.median(setups.map(_._2)), "s", SetUps.toLong)
    o.report("setup_s") = o.e2e("setup_s")
    val (_, warmS) = replay(spark, events.take(WarmupEvents), ctx.work.resolve("ckpt-warmup"))
    o.report("replay_warmup_s") = Metric(warmS, "s", Batches.toLong)
    Main.phase("set-up done")

    // ---- timed: the pipeline, then the replay ----
    Trace.reset(); ctx.probe.foreach(_.reset())
    if (ctx.traced) spark.sparkContext.setJobGroup("ops.pipeline", "ops.pipeline", interruptOnCancel = false)
    val p0 = System.nanoTime()
    val frames = pipeline(raw, new Stages(ctx, staged = false))
    val pipelineS = Stats.sec(System.nanoTime() - p0)
    spark.sparkContext.clearJobGroup()
    o.e2e("batch_s") = Metric(pipelineS, "s", 1)
    o.report("pipeline_s") = o.e2e("batch_s")
    ctx.probe.foreach { p =>
      p.drain()
      Metrics.sparkLayer(o, p, reads = 0)
      o.layer("ops.pipeline.shuffle_bytes") =
        Metric(p.stages.map(_.shuffleWriteBytes).sum.toDouble, "bytes", p.stages.size.toLong)
      p.reset()
    }

    Main.phase("pipeline done")
    val replays = (1 to Replays).map(i => replay(spark, events, ctx.work.resolve(s"ckpt-$i")))
    Main.phase("replays done")
    o.e2e("heap_live_mb") = Metric(Stats.liveHeapMb(), "MB", 1)
    val steps = replays.flatMap(_._1)
    val stepMs = steps.map(_.ms)
    val commits = steps.map(_.progress.map(commitMs).sum)
    o.e2e("op_p50_ms") = Metric(Stats.median(stepMs), "ms", stepMs.size.toLong)
    o.e2e("ack_p50_ms") = Metric(Stats.median(commits), "ms", commits.size.toLong)
    val replayS = replays.map(_._2)
    o.report("replay_s") = Metric(Stats.median(replayS), "s", Replays.toLong)
    o.report("replay_step_p50_ms") = o.e2e("op_p50_ms")
    o.report("replay_step_max_ms") = Metric(stepMs.max, "ms", stepMs.size.toLong)
    o.report("replay_commit_p50_ms") = o.e2e("ack_p50_ms")
    o.report("heap_live_mb") = o.e2e("heap_live_mb")
    o.attempted = 1 + Replays
    val rows = replays.map { case (ss, _) => outputRows(ss.flatMap(_.progress)) }
    o.report("replay_output_rows") = Metric(rows.head.toDouble, "count", steps.size.toLong)
    replays.zipWithIndex.foreach { case ((ss, _), i) =>
      val data = ss.flatMap(_.progress).count(_.numInputRows > 0)
      o.check(s"replay$i.all_batches", ss.size == Batches && data == Batches, s"$data data batches of $Batches")
      o.check(s"replay$i.steps_matched", ss.forall(_.progress.nonEmpty), "a step ran no micro-batch")
      checkReplay(o, s"replay$i", events, rows(i))
    }
    o.check("replay.repeatable", rows.distinct.size == 1, s"replays of the same events emitted $rows rows")
    val runIds = steps.flatMap(_.progress.map(_.runId)).toSet
    ctx.probe.foreach { p => p.drain(); streamLayer(o, p.progress.filter(pr => runIds(pr.runId))) }

    // ---- output checks of the timed pipeline, and its pins ----
    val out = checkPipeline(o, "pipeline", frames)
    out.foreach { case (k, v) => if (!k.endsWith("hash")) o.report(s"rows.$k") = Metric(v.toDouble, "count", 1) }
    checkPins(o, out)
    Main.phase("checks done")

    if (ctx.traced) {
      // the staged twin: every stage materialised, timed and labelled
      ctx.probe.foreach(_.reset())
      val st = new Stages(ctx, staged = true)
      pipeline(raw, st)
      StageNames.foreach(s => o.layer(s"ops.${s}_s") = Metric(st.secs.getOrElse(s, 0.0), "s", 1))
      ctx.probe.foreach { p =>
        p.drain()
        val nd = p.stages.filter(_.group == "ops.near_dup")
        o.layer("ops.near_dup.shuffle_bytes") = Metric(nd.map(_.shuffleWriteBytes).sum.toDouble, "bytes", nd.size.toLong)
        o.layer("ops.near_dup.task_skew") = Metric(if (nd.isEmpty) 0.0 else nd.map(_.skew).max, "ratio", nd.size.toLong)
      }
      Metrics.jvm(o, gc0)
    }
    o
  }

  /** The streaming layer from the `StreamingQueryListener`'s progress. */
  private def streamLayer(o: Outcome, ps: Seq[Progress]): Unit = {
    def total(key: String) = ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum
    val n = ps.size.toLong
    o.layer("stream.batches") = Metric(n.toDouble, "count", n)
    Seq("add_batch" -> "addBatch", "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
      "query_planning" -> "queryPlanning", "get_batch" -> "getBatch", "trigger" -> "triggerExecution")
      .foreach { case (name, key) => o.layer(s"stream.${name}_ms") = Metric(total(key), "ms", n) }
    val ops = ps.flatMap(_.stateOperators.headOption)
    o.layer("stream.state_commit_ms") = Metric(ops.map(_.commitTimeMs.toDouble).sum, "ms", n)
    o.layer("stream.state_rows") = Metric(ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count", n)
    o.layer("stream.state_mem_bytes") = Metric(ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes", n)
    o.layer("stream.output_rows") = Metric(outputRows(ps).toDouble, "count", n)
  }

  /** Compare the corpus's stage row counts and output hashes with the
    * values pinned in `perfbench/expected.json`. */
  private def checkPins(o: Outcome, got: ListMap[String, String]): Unit = {
    val file = Paths.get(sys.props.getOrElse("perfbench.pins", "perfbench/expected.json"))
    o.report("pins") = Metric(got.size.toDouble, "count", got.size.toLong)
    if (!Files.exists(file)) { o.check("pins.file", ok = false, s"$file not found; measured: $got"); return }
    val node = new ObjectMapper().readTree(file.toFile).get("analytics_pipeline")
    got.foreach { case (k, v) =>
      val want = Option(node).flatMap(n => Option(n.get(k))).map(_.asText)
      o.check(s"pins.$k", want.contains(v), s"pinned ${want.getOrElse("nothing")}, measured $v")
    }
  }
}

package perfbench

import graft.core._
import graft.streaming.{Subscription, SubscriptionDroppedReason, Subscriptions}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `tail`: live appends followed by subscribers at the head.
  *
  * Open loop: one generator thread appends one message per call, to one
  * of 100 streams, on a fixed 10/s schedule. Two in-process
  * `subscribeToAll(Some(Position.End))` subscriptions follow with the
  * defaults (page size 10, 100 ms poll). Set-up leaves the group-commit
  * window part-full so a segment flush, and the every-64-appends journal
  * writes, land inside the timed window. A quiet window with no appends
  * follows, then a catch-up over the whole log (the batch phase).
  *
  * End-to-end: `op_p50_ms` = scheduled send → `onMessage` (delivery),
  * `ack_p50_ms` = the append call, `batch_s` = the catch-up (median of
  * three). The two latencies are medians of per-slice medians (the timed
  * window cut into `Slices` equal parts by scheduled send), so a host
  * stall over part of the window does not move them. Append latency from
  * the scheduled send is on the report line; under this CPU load the
  * generator's own wake-up delay dominates that sub-ms figure, so the
  * gate uses the call. */
object TailWorkload {
  val Streams = 100
  val PreloadPerStream = 20
  // About 40% of one subscriber's capacity (page size 10 per ~0.3 s read
  // on a 4-core host), so the backlog stays flat and delivery latency is
  // not a queue on the edge of saturation.
  val Rate = 10.0 // appends per second
  val Subscribers = 2
  val SetUps = 3
  val WarmupAppends = 20
  val QuietMs = 1000L
  val Slices = 4
  val CatchUps = 3
  val CatchUpPage = 1000
  val WindowRows = 4096 // SparkStreamStore's default group-commit window

  private final class Subscriber(val store: TracedStore) {
    val got = mutable.ArrayBuffer.empty[Harness.Delivered]
    @volatile var drop: Option[String] = None
    var sub: Subscription = _
    def count: Int = got.synchronized(got.size)
    def start(): Unit =
      sub = Subscriptions.subscribeToAll(store, Some(Position.End),
        onMessage = m => {
          val d = Harness.Delivered(m, System.nanoTime(), Trace.lastClosed)
          got.synchronized(got += d)
        },
        onDropped = (r, t) => if (r != SubscriptionDroppedReason.Disposed) drop = Some(s"$r ${t.getOrElse("")}"))
    def delivered: Vector[Harness.Delivered] = got.synchronized(got.toVector)
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val gc0 = Stats.gcMs()
    val rnd = new Random(ctx.seed)
    val streamIds = (0 until Streams).map(i => f"device-$i%03d")
    val timedAppends = math.round(Rate * ctx.seconds).toInt
    val preload = streamIds.map(id => id -> (0 until PreloadPerStream).map(v => Data.cartEvent(rnd, id, v)))
    // set-up ends with an empty window (loadStore flushes): fill it, one
    // message per append as live traffic does, so it overflows early in
    // the timed window. (While the window is nearly full, every subscriber
    // read snapshots ~4k memtable rows under the store's lock and appends
    // queue behind it; flushing early keeps that phase short, so the
    // append median is not balanced on the edge of it.)
    val fillerRows = WindowRows - WarmupAppends - timedAppends / 10
    val fill = Vector.tabulate(fillerRows) { k =>
      val id = streamIds(k % Streams)
      id -> Data.cartEvent(rnd, id, PreloadPerStream + k / Streams)
    }
    val plan = Vector.tabulate(WarmupAppends + timedAppends) { k =>
      val id = streamIds(rnd.nextInt(Streams))
      id -> Data.cartEvent(rnd, id, k)
    }

    val (store, root, setups) = Harness.setUp(SetUps, ctx.work, r => {
      val s = Harness.loadStore(spark, r, preload)
      fill.foreach { case (id, m) => s.appendToStream(id, ExpectedVersion.Any, Seq(m)) }
      s
    })
    o.e2e("setup_s") = Metric(Stats.median(setups), "s", setups.size.toLong)
    o.report("setup_s") = o.e2e("setup_s")

    val storeT = new TracedStore(store, "store", jobGroups = Some(spark.sparkContext))
    val subs = Vector.fill(Subscribers)(new Subscriber(new TracedStore(storeT, "sub")))
    val scheduled = new ConcurrentHashMap[String, java.lang.Long]()
    val acked = new ConcurrentHashMap[String, java.lang.Long]()
    val versions = new ConcurrentHashMap[(String, Int), String]()
    val lateMs = new Samples
    val appendMs = new Samples // scheduled send → append returned
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]() // (due, append call ms)
    var appendErrors = 0L

    /** Append plan(from until to) on schedule, one every 1/Rate s from now. */
    def generate(from: Int, to: Int, timed: Boolean): Unit = {
      val periodNs = (1e9 / Rate).toLong
      val t0 = System.nanoTime()
      (from until to).foreach { k =>
        val due = t0 + (k - from) * periodNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val (id, msg) = plan(k)
        scheduled.put(msg.messageId, due)
        try {
          val sent = System.nanoTime()
          val res = storeT.appendToStream(id, ExpectedVersion.Any, Seq(msg))
          val ack = System.nanoTime()
          versions.put((id, res.currentVersion), msg.messageId)
          acked.put(msg.messageId, ack)
          if (timed) {
            appendMs.add(Stats.ms(ack - due)); calls.add(due -> Stats.ms(ack - sent)); lateMs.add(Stats.ms(now - due))
          }
        } catch {
          case e: Exception =>
            if (timed) appendErrors += 1
            o.problems += s"append failed: $e"
        }
      }
    }

    def waitDelivered(n: Int, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (subs.exists(_.count < n) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      subs.forall(_.count >= n)
    }

    try {
      Main.phase("set-up done")
      subs.foreach(_.start())
      Thread.sleep(500) // let both resolve Position.End before the first append
      generate(0, WarmupAppends, timed = false)
      waitDelivered(WarmupAppends, 30000)
      storeT.readAllForwards(Position.Start, CatchUpPage) // warm the catch-up's page query

      // ---- timed window ----
      Main.phase("warm-up done")
      Trace.reset(); ctx.probe.foreach(_.reset())
      val files0 = Harness.storeFiles(root)
      val fs0 = FsProbe.snapshot()
      val timedStartNs = System.nanoTime()
      generate(WarmupAppends, plan.size, timed = true)
      val fs = FsProbe.snapshot() - fs0
      val headAtEnd = store.readHeadPosition()
      val lagEnd = subs.map(s => headAtEnd - s.sub.lastProcessed).max
      val allIn = waitDelivered(plan.size, 60000)
      o.check("tail.delivered_in_time", allIn, "subscribers did not receive every message within 60 s")
      val timedSpans = Trace.all

      // ---- quiet window: no appends ----
      Main.phase("timed window done")
      val quiet0 = System.currentTimeMillis(); val quietNs0 = System.nanoTime()
      Thread.sleep(QuietMs)
      val quiet1 = System.currentTimeMillis(); val quietNs1 = System.nanoTime()
      // measured with the subscriptions stopped, so no read is in flight
      subs.foreach(_.sub.close())
      o.e2e("heap_live_mb") = Metric(Stats.liveHeapMb(), "MB", 1)
      ctx.probe.foreach(_.drain())

      val delivered = subs.map(_.delivered)
      val timedDelivered = delivered.flatten.filter(d => Option(scheduled.get(d.m.messageId)).exists(_ >= timedStartNs))
      val deliveries = timedDelivered.map { d =>
        val due: Long = scheduled.get(d.m.messageId)
        due -> Stats.ms(d.atNs - due)
      }
      val deliverMs = deliveries.map(_._2)
      val app = appendMs.values
      val call = calls.asScala.toVector
      val sliceNs = math.max(1L, ctx.seconds * 1000000000L / Slices)
      def sliceMedian(xs: Seq[(Long, Double)]): Double =
        Stats.median(xs.groupBy { case (due, _) => (due - timedStartNs) / sliceNs }.values
          .map(v => Stats.median(v.map(_._2))).toSeq)
      o.attempted = timedAppends
      o.failed = appendErrors
      o.e2e("op_p50_ms") = Metric(sliceMedian(deliveries), "ms", deliverMs.size.toLong)
      o.e2e("ack_p50_ms") = Metric(sliceMedian(call), "ms", call.size.toLong)
      o.report("append_call_p50_ms") = o.e2e("ack_p50_ms")
      o.report("append_p50_ms") = Metric(Stats.median(app), "ms", app.size.toLong)
      o.report("append_p99_ms") = Metric(Stats.percentile(app, 99), "ms", app.size.toLong)
      o.report("deliver_p50_ms") = Metric(Stats.median(deliverMs), "ms", deliverMs.size.toLong)
      o.report("deliver_p90_ms") = Metric(Stats.percentile(deliverMs, 90), "ms", deliverMs.size.toLong)
      o.report("deliver_p99_ms") = Metric(Stats.percentile(deliverMs, 99), "ms", deliverMs.size.toLong)
      o.report("gen_late_p50_ms") = Metric(lateMs.pct(50), "ms", lateMs.count.toLong)
      o.report("gen_late_max_ms") = Metric(lateMs.values.maxOption.getOrElse(0.0), "ms", lateMs.count.toLong)
      o.report("heap_live_mb") = o.e2e("heap_live_mb")

      if (ctx.traced) {
        Metrics.storeLayer(o, timedSpans, fs)
        val reads = timedSpans.count(s => s.name == "store.read_stream" || s.name == "store.read_all")
        ctx.probe.foreach { p =>
          Metrics.sparkLayer(o, p, reads)
          val idle = p.jobs.count(j => j.startMs >= quiet0 && j.startMs < quiet1)
          val secs = (quiet1 - quiet0) / 1000.0
          o.layer("spark.idle_jobs_per_s") = Metric(idle / secs, "1/s", idle.toLong)
          o.report("quiet_window_jobs") = Metric(idle.toDouble, "count", 1)
        }
        val quietReads = Trace.named("sub.read_all").count(s => s.startNs >= quietNs0 && s.startNs < quietNs1)
        o.report("quiet_window_sub_reads") = Metric(quietReads.toDouble, "count", 1)
        Harness.subLayer(o, timedSpans.filter(_.name == "sub.read_all"), timedDelivered,
          id => Option(acked.get(id)).map(_.longValue))
        o.layer("sub.lag_end_msgs") = Metric(lagEnd.toDouble, "count", 1)
        o.layer("gen.late_p99_ms") = Metric(lateMs.pct(99), "ms", lateMs.count.toLong)
        o.layer("gen.late_max_ms") = Metric(lateMs.values.maxOption.getOrElse(0.0), "ms", lateMs.count.toLong)
        checkDeliverBreakdown(o, timedDelivered, acked)
      }

      // ---- output checks: every acknowledged message exactly once, in order ----
      val ackedIds = acked.keySet.asScala.toSet
      delivered.zipWithIndex.foreach { case (ds, i) =>
        val pos = ds.map(_.m.position)
        o.check(s"sub$i.position_order", pos.indices.drop(1).forall(k => pos(k) > pos(k - 1)),
          "positions not strictly increasing")
        val ids = ds.map(_.m.messageId)
        o.check(s"sub$i.exactly_once", ids.size == ids.distinct.size && ids.toSet == ackedIds,
          s"${ids.size} deliveries, ${ids.distinct.size} distinct, ${ackedIds.size} acknowledged")
        o.check(s"sub$i.not_dropped", subs(i).drop.isEmpty, subs(i).drop.getOrElse(""))
      }
      o.check("tail.all_acked", ackedIds.size == plan.size, s"${ackedIds.size} of ${plan.size} appends acknowledged")

      // ---- batch phase: a new projection catches up over the whole log ----
      Main.phase("quiet window done")
      val head = store.readHeadPosition()
      val catchUps = (1 to CatchUps).map { i =>
        val (log, secs, drop) = Harness.catchUp(new TracedStore(storeT, "sub"), CatchUpPage)
        o.check(s"catchup$i.not_dropped", drop.isEmpty, drop.getOrElse(""))
        Harness.checkLog(o, s"catchup$i", log.map(_.m), head, versions.asScala)
        (log, secs)
      }
      val log = catchUps.last._1
      o.e2e("batch_s") = Metric(Stats.median(catchUps.map(_._2)), "s", CatchUps.toLong)
      o.report("catchup_s") = o.e2e("batch_s")
      if (ctx.traced) {
        Metrics.diskLayer(o, root, files0, log.map(_.m))
        Metrics.jvm(o, gc0)
      }
    } finally {
      subs.foreach(s => if (s.sub != null) s.sub.close())
      store.close()
    }
    o
  }

  /** Delivery = append (scheduled → ack) + poll wait (ack → start of the
    * read that returned it) + that read + dispatch (read end → `onMessage`).
    * Every delivery must be matched to a read that returned messages and
    * ended before it, and the reported medians — `append_p50_ms` and the
    * `sub.*` metrics, each taken over its own samples — must add up to
    * `deliver_p50_ms` within `Tolerance`. */
  val Tolerance = 0.15

  private def checkDeliverBreakdown(o: Outcome, ds: Seq[Harness.Delivered],
      acked: ConcurrentHashMap[String, java.lang.Long]): Unit = {
    val matched = ds.count(d => d.read.exists(r => r.n > 0 && d.atNs >= r.endNs) && acked.containsKey(d.m.messageId))
    o.check("trace.deliver_reads_found", matched == ds.size,
      s"$matched of ${ds.size} deliveries matched to a non-empty read that ended before them")
    val total = o.report("deliver_p50_ms").value
    val parts = o.report("append_p50_ms").value +:
      Seq("sub.poll_wait_ms", "sub.read_ms", "sub.dispatch_ms").map(o.layer(_).value)
    o.check("trace.deliver_accounted", math.abs(parts.sum - total) <= Tolerance * total,
      f"deliver_p50_ms $total%.3f; append_p50_ms + sub.{poll_wait,read,dispatch}_ms = ${parts.sum}%.3f")
    o.report("trace.deliver_parts_sum_ms") = Metric(parts.sum, "ms", ds.size.toLong)
  }
}

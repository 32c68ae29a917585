package perfbench

import graft.core._
import graft.http.{HttpStreamStore, StreamStoreHttpServer}
import graft.store.StreamStore

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** `command`: event-sourced command handling over a pre-loaded store.
  *
  * Closed loop, three clients: two in-process and one going
  * `HttpStreamStore` → `StreamStoreHttpServer` → the same store. A
  * command reads its whole aggregate (`readStreamForwards`) on a
  * half-normal choice of stream, then appends one event with
  * `expectedVersion = lastStreamVersion`, retrying on
  * `WrongExpectedVersionException`. After the timed window a
  * `subscribeToAll` from `Position.Start` rebuilds a projection over the
  * whole log (the batch phase), `CatchUps` times.
  *
  * End-to-end: `op_p50_ms` = in-process command latency, `ack_p50_ms` = the
  * in-process `appendToStream` call, `batch_s` = the catch-up (median). */
object CommandWorkload {
  val Streams = 1000
  val PerStream = 20
  val Sigma = 50.0 // half-normal spread of the stream choice, in streams
  val SetUps = 5
  val WarmupMs = 2000L
  val CatchUpPage = 1000
  val CatchUps = 3

  final case class Acked(streamId: String, version: Int, messageId: String)

  /** One client's loop and what it saw. */
  final class Client(val id: Int, store: StreamStore, seed: Long, streamIds: IndexedSeq[String]) {
    private val rnd = new Random(seed * 1009L + id)
    val commandMs = new Samples
    val appendMs = new Samples
    val acked = mutable.ArrayBuffer.empty[Acked]
    var commands = 0L
    var conflicts = 0L
    var errors = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    def loop(untilNs: Long, timed: Boolean): Unit =
      while (System.nanoTime() < untilNs) {
        val sid = streamIds(Data.skewed(rnd, streamIds.size, Sigma))
        val msg = Data.cartEvent(rnd, sid, acked.size)
        val t0 = System.nanoTime()
        try {
          var done = false
          while (!done) {
            val page = store.readStreamForwards(sid, StreamVersion.Start, 1000, prefetchJsonData = true)
            if (page.messages.size != page.lastStreamVersion + 1 || !page.isEnd)
              problems += s"$sid: read ${page.messages.size} messages up to version ${page.lastStreamVersion}"
            val a0 = System.nanoTime()
            try {
              val res = store.appendToStream(sid, page.lastStreamVersion, Seq(msg))
              if (timed) appendMs.add(Stats.ms(System.nanoTime() - a0))
              acked += Acked(sid, res.currentVersion, msg.messageId)
              done = true
            } catch {
              case _: WrongExpectedVersionException => if (timed) conflicts += 1
            }
          }
          if (timed) { commandMs.add(Stats.ms(System.nanoTime() - t0)); commands += 1 }
        } catch {
          case NonFatal(e) =>
            if (timed) { commands += 1; errors += 1 }
            if (problems.size < 5) problems += s"$sid: $e"
        }
      }
  }

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    val gc0 = Stats.gcMs()

    val rnd = new Random(ctx.seed)
    val streamIds = (0 until Streams).map(i => f"cart-$i%05d")
    val preload = streamIds.map(id => id -> (0 until PerStream).map(v => Data.cartEvent(rnd, id, v)))

    val (store, root, setups) = Harness.setUp(SetUps, ctx.work, Harness.loadStore(spark, _, preload))
    o.e2e("setup_s") = Metric(Stats.median(setups), "s", setups.size.toLong)
    o.report("setup_s") = o.e2e("setup_s")

    val storeT = new TracedStore(store, "store", jobGroups = Some(spark.sparkContext))
    val link = new SpanLink
    val server = new StreamStoreHttpServer(new TracedStore(storeT, "http.server", parentFrom = Some(link)))
    val remote = new TracedStore(new HttpStreamStore(server.baseUrl), "http.client", publish = Some(link))
    val clients = Seq(
      new Client(0, storeT, ctx.seed, streamIds),
      new Client(1, storeT, ctx.seed, streamIds),
      new Client(2, remote, ctx.seed, streamIds))
    val pool = Executors.newFixedThreadPool(clients.size)
    def phase(ms: Long, timed: Boolean): Unit = {
      val until = System.nanoTime() + ms * 1000000L
      val fs = clients.map(c => pool.submit(new Runnable { def run(): Unit = c.loop(until, timed) }))
      fs.foreach(_.get(ms + 120000L, TimeUnit.MILLISECONDS))
    }

    try {
      Main.phase("set-up done")
      phase(WarmupMs, timed = false)
      storeT.readAllForwards(Position.Start, CatchUpPage) // warm the catch-up's page query
      // ---- timed window ----
      Trace.reset(); ctx.probe.foreach(_.reset())
      val files0 = Harness.storeFiles(root)
      val fs0 = FsProbe.snapshot()
      phase(ctx.seconds * 1000L, timed = true)
      val fs = FsProbe.snapshot() - fs0
      Main.phase("timed window done")
      o.e2e("heap_live_mb") = Metric(Stats.liveHeapMb(), "MB", 1)
      Main.phase("heap measured")
      val timedSpans = Trace.all
      ctx.probe.foreach(_.drain())

      val local = clients.take(2)
      val cmd = local.flatMap(_.commandMs.values)
      val app = local.flatMap(_.appendMs.values)
      val http = clients(2).commandMs.values
      val n = clients.map(_.commands).sum
      o.attempted = n
      o.failed = clients.map(_.errors).sum
      o.e2e("op_p50_ms") = Metric(Stats.median(cmd), "ms", cmd.size.toLong)
      o.e2e("ack_p50_ms") = Metric(Stats.median(app), "ms", app.size.toLong)
      o.report("command_p50_ms") = o.e2e("op_p50_ms")
      o.report("command_p90_ms") = Metric(Stats.percentile(cmd, 90), "ms", cmd.size.toLong)
      o.report("commands_per_s") = Metric(n / ctx.seconds.toDouble, "1/s", n)
      o.report("http_command_p50_ms") = Metric(Stats.median(http), "ms", http.size.toLong)
      o.report("append_in_process_p50_ms") = o.e2e("ack_p50_ms")
      o.report("conflict_retries") = Metric(clients.map(_.conflicts).sum.toDouble, "count", n)
      o.report("heap_live_mb") = o.e2e("heap_live_mb")
      clients.foreach(c => c.problems.take(3).foreach(p => o.problems += s"client ${c.id}: $p"))

      if (ctx.traced) {
        Metrics.storeLayer(o, timedSpans, fs)
        val reads = timedSpans.count(s => s.name == "store.read_stream" || s.name == "store.read_all")
        ctx.probe.foreach(p => Metrics.sparkLayer(o, p, reads))
        Metrics.httpLayer(o, timedSpans)
        checkHttpBreakdown(o, timedSpans)
      }

      // ---- batch phase: rebuild a projection over the whole log ----
      val head = store.readHeadPosition()
      val acked = clients.flatMap(_.acked)
      val expected = mutable.HashMap.empty[(String, Int), String]
      preload.foreach { case (id, ms) => ms.zipWithIndex.foreach { case (m, v) => expected((id, v)) = m.messageId } }
      acked.foreach(a => expected((a.streamId, a.version)) = a.messageId)
      val catchUps = (1 to CatchUps).map { i =>
        val startNs = System.nanoTime()
        val (log, secs, drop) = Harness.catchUp(new TracedStore(storeT, "sub"), CatchUpPage)
        o.check(s"catchup$i.not_dropped", drop.isEmpty, drop.getOrElse(""))
        if (drop.nonEmpty) o.failed += 1
        Harness.checkLog(o, s"catchup$i", log.map(_.m), head, expected)
        (log, secs, startNs)
      }
      val delivered = catchUps.last._1
      val secs = Stats.median(catchUps.map(_._2))
      o.e2e("batch_s") = Metric(secs, "s", CatchUps.toLong)
      o.report("catchup_s") = o.e2e("batch_s")
      o.report("catchup_msgs_per_s") = Metric(delivered.size / secs, "1/s", delivered.size.toLong)

      // ---- output checks ----
      Main.phase("catch-up done")
      o.check("log.size", head + 1 == Streams.toLong * PerStream + acked.size,
        s"head position $head after ${acked.size} acknowledged appends")
      checkStreams(o, storeT, acked, delivered.map(_.m))
      Main.phase("checks done")

      if (ctx.traced) {
        val subReads = Trace.named("sub.read_all").filter(_.startNs >= catchUps.last._3)
        Harness.subLayer(o, subReads, delivered, _ => None)
        o.layer("sub.lag_end_msgs") = Metric((head - delivered.lastOption.map(_.m.position).getOrElse(-1L)).toDouble, "count", 1)
        Metrics.diskLayer(o, root, files0, delivered.map(_.m))
        Metrics.jvm(o, gc0)
      }
    } finally {
      pool.shutdownNow()
      remote.close(); server.close(); store.close()
    }
    o
  }

  /** Read back every stream the clients touched, through the store's own
    * `readStreamForwards`: versions dense from 0 and every message id
    * equal to what the catch-up delivered at that version. */
  private def checkStreams(o: Outcome, store: StreamStore, acked: Seq[Acked], log: Seq[StreamMessage]): Unit = {
    val byStream = log.groupBy(_.streamId)
    val touched = acked.map(_.streamId).distinct
    val pool = Executors.newFixedThreadPool(4)
    try {
      val bad = touched.map { sid =>
        pool.submit(() => {
          val page = store.readStreamForwards(sid, StreamVersion.Start, 1000, prefetchJsonData = true)
          val want = byStream.getOrElse(sid, Nil).map(_.messageId)
          page.isEnd && page.messages.map(_.streamVersion) == want.indices && page.messages.map(_.messageId) == want
        })
      }.count(f => !f.get(120, TimeUnit.SECONDS))
      o.check("read_stream.touched", bad == 0, s"$bad of ${touched.size} touched streams read back wrong")
      o.report("streams_touched") = Metric(touched.size.toDouble, "count", touched.size.toLong)
    } finally pool.shutdownNow()
  }

  /** The server's store spans must lie inside the client span they
    * belong to, and every client call must have some. Per kind of call
    * (read, append), the median HTTP-layer time plus the median store time
    * under the server, each taken over its own samples, must account for
    * the median client time within `HttpTolerance`. (All calls together
    * are bimodal, reads ~5x appends, so their medians do not add.) */
  val HttpTolerance = 0.15

  private def checkHttpBreakdown(o: Outcome, spans: Seq[Span]): Unit = {
    val client = spans.filter(_.name.startsWith("http.client."))
    val server = spans.filter(_.name.startsWith("http.server.")).groupBy(_.parent)
    val nested = client.forall(c => server.getOrElse(c.id, Nil).forall(s => s.startNs >= c.startNs && s.endNs <= c.endNs))
    val served = client.count(c => server.contains(c.id))
    o.check("trace.http_nesting", nested && served == client.size,
      s"$served of ${client.size} client calls have server spans; nested=$nested")
    Seq("read_stream", "append").foreach { kind =>
      val calls = Metrics.httpCalls(spans, s"http.client.$kind")
      val total = Stats.median(calls.map(_._1))
      val parts = Stats.median(calls.map(_._2)) + Stats.median(calls.map(_._3))
      o.check(s"trace.http_$kind.accounted", calls.nonEmpty && math.abs(parts - total) <= HttpTolerance * total,
        f"${calls.size} calls: client p50 $total%.3f ms; store p50 + http self p50 = $parts%.3f ms")
      o.report(s"http.$kind.client_p50_ms") = Metric(total, "ms", calls.size.toLong)
      o.report(s"http.$kind.store_plus_self_p50_ms") = Metric(parts, "ms", calls.size.toLong)
    }
  }
}

package perfbench

import graft.core._
import graft.store.{SparkStreamStore, StreamStore}
import graft.streaming.{SubscriptionDroppedReason, Subscriptions}

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Pieces the two store workloads share. */
object Harness {

  /** One store set-up: open a fresh store, append `preload` (one append
    * per stream) and flush it to segments. */
  def loadStore(spark: SparkSession, root: Path, preload: Seq[(String, Seq[NewStreamMessage])]): SparkStreamStore = {
    val s = new SparkStreamStore(spark, root.toString)
    preload.foreach { case (id, msgs) => s.appendToStream(id, ExpectedVersion.NoStream, msgs) }
    s.flush()
    s
  }

  /** Set the store up `times` times, each in a fresh root, and keep the
    * last. Returns the store, its root and each set-up's seconds. */
  def setUp(times: Int, work: Path, open: Path => SparkStreamStore): (SparkStreamStore, Path, Seq[Double]) = {
    var store: SparkStreamStore = null
    var root: Path = null
    val secs = (1 to times).map { i =>
      if (store != null) { store.close(); FsProbe.deleteRecursively(root) }
      root = work.resolve(s"store-$i")
      val t0 = System.nanoTime()
      store = open(root)
      Stats.sec(System.nanoTime() - t0)
    }
    (store, root, secs)
  }

  /** Segment and heads-journal files in a store root. */
  def storeFiles(root: Path): Set[String] =
    FsProbe.files(root, f => (f.startsWith("messages") && f.endsWith(".parquet")) ||
      (f.startsWith("heads") && !f.endsWith(".crc"))).map(_._1).toSet

  /** A delivered message and, in traced runs, the read that returned it. */
  final case class Delivered(m: StreamMessage, atNs: Long, read: Option[Span])

  /** Catch up from Position.Start to the current head with one
    * subscription (pages of `pageSize`), as a projection rebuild does.
    * Returns what was delivered, the seconds it took, and how the
    * subscription dropped if it did so before catching up. */
  def catchUp(store: StreamStore, pageSize: Int): (Vector[Delivered], Double, Option[String]) = {
    val head = store.readHeadPosition()
    val got = mutable.ArrayBuffer.empty[Delivered]
    val done = new CountDownLatch(1)
    @volatile var drop: Option[String] = None
    val t0 = System.nanoTime()
    val sub = Subscriptions.subscribeToAll(store, None,
      onMessage = m => {
        got += Delivered(m, System.nanoTime(), Trace.lastClosed)
        if (m.position >= head) done.countDown()
      },
      onDropped = (r, t) => if (r != SubscriptionDroppedReason.Disposed) {
        drop = Some(s"$r ${t.getOrElse("")}"); done.countDown()
      },
      pageSize = pageSize)
    if (head < 0) done.countDown()
    val caughtUp = done.await(150, TimeUnit.SECONDS)
    val secs = Stats.sec(System.nanoTime() - t0)
    sub.close()
    val delivered = got.synchronized(got.toVector)
    (delivered, secs, if (caughtUp) drop else Some("catch-up timed out"))
  }

  /** The store's log as delivered must be exactly positions 0..head, each
    * stream's versions dense from 0 in position order, with the expected
    * message id at every (stream, version) in `expected`. */
  def checkLog(o: Outcome, prefix: String, delivered: Seq[StreamMessage], head: Long,
      expected: collection.Map[(String, Int), String]): Unit = {
    val positions = delivered.map(_.position)
    o.check(s"$prefix.count", delivered.size.toLong == head + 1,
      s"delivered ${delivered.size} messages, head position is $head")
    o.check(s"$prefix.order", positions.indices.forall(i => positions(i) == i.toLong),
      "positions are not exactly 0..head in increasing order")
    val byStream = delivered.groupBy(_.streamId)
    o.check(s"$prefix.dense_versions",
      byStream.forall { case (_, ms) => ms.indices.forall(i => ms(i).streamVersion == i) },
      "a stream's versions are not dense from 0 in position order")
    val found = delivered.iterator.map(m => (m.streamId, m.streamVersion) -> m.messageId).toMap
    val wrong = expected.count { case (k, id) => !found.get(k).contains(id) }
    o.check(s"$prefix.acked_present", wrong == 0, s"$wrong acknowledged messages missing or different")
  }

  /** The subscription layer, from the deliveries of traced subscriptions:
    * reads, useful reads, and per delivered message the read that
    * returned it and the dispatch after it. `ackNs` gives, where known,
    * when the message's append was acknowledged. */
  def subLayer(o: Outcome, reads: Seq[Span], delivered: Seq[Delivered], ackNs: String => Option[Long]): Unit = {
    o.layer("sub.reads") = Metric(reads.size.toDouble, "count", reads.size.toLong)
    o.layer("sub.useful_read_ratio") =
      Metric(reads.count(_.n > 0).toDouble / math.max(1, reads.size), "ratio", reads.size.toLong)
    val withRead = delivered.flatMap(d => d.read.map(r => (d, r)))
    def ms(xs: Seq[Double]) = Metric(Stats.median(xs), "ms", xs.size.toLong)
    o.layer("sub.read_ms") = ms(withRead.map(_._2.ms))
    o.layer("sub.dispatch_ms") = ms(withRead.map { case (d, r) => (d.atNs - r.endNs) / 1e6 })
    o.layer("sub.poll_wait_ms") = ms(withRead.flatMap { case (d, r) =>
      ackNs(d.m.messageId).map(a => (r.startNs - a) / 1e6) })
  }
}

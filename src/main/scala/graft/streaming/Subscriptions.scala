package graft.streaming

import graft.core._
import graft.store.{SparkStreamStore, StreamStore}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.util.concurrent.atomic.AtomicBoolean

/** Subscription drop protocol
  * (ref: `src/SqlStreamStore/Subscriptions/SubscriptionDroppedReason.cs`). */
sealed trait SubscriptionDroppedReason
object SubscriptionDroppedReason {
  case object Disposed extends SubscriptionDroppedReason
  case object SubscriberError extends SubscriptionDroppedReason
  case object StreamStoreError extends SubscriptionDroppedReason
}

/** Handle on a running catch-up subscription. */
trait Subscription extends AutoCloseable {
  /** Last processed position (all-stream) or version (stream). */
  def lastProcessed: Long
  def isRunning: Boolean
}

/** Catch-up subscriptions over the store: ordered at-least-once replay that
  * transitions to tail-follow, exactly the reference's model — a pull loop
  * of paged reads plus a head-position poller
  * (ref: `Subscriptions/AllStreamSubscription.cs:33-232`,
  * `StreamSubscription.cs:36-120`, `PollingStreamStoreNotifier.cs:51-82`).
  *
  * The push side is strictly sequential per subscription
  * (`AllStreamSubscription.cs:207-232`): messages are delivered one at a
  * time, in position order, on the subscription's own thread. A subscriber
  * exception drops the subscription with `SubscriberError`, exactly once
  * (`AllStreamSubscription.cs:234-251`).
  *
  * For the Spark-native streaming surface (micro-batch DataFrames instead
  * of per-message callbacks) see [[graft.store.SparkStreamStore.allMessagesStream]]:
  * a Structured Streaming source over the append-only log whose
  * checkpointed offset is the continuation position itself.
  */
object Subscriptions {

  val DefaultPageSize = 10 // ref: AllStreamSubscription.cs:18

  /** Subscribe to the all-stream.
    *
    * @param continueAfterPosition None ⇒ replay from Position.Start;
    *        Some(Position.End) ⇒ only new messages (init-from-head,
    *        ref: AllStreamSubscription.cs:148-177); Some(p) ⇒ from p+1.
    */
  def subscribeToAll(
      store: StreamStore,
      continueAfterPosition: Option[Long],
      onMessage: StreamMessage => Unit,
      onCaughtUp: Boolean => Unit = _ => (),
      onDropped: (SubscriptionDroppedReason, Option[Throwable]) => Unit = (_, _) => (),
      pageSize: Int = DefaultPageSize,
      pollIntervalMs: Long = 100L): Subscription =
    new PollingSubscription(pollIntervalMs) {
      private var next: Long = continueAfterPosition match {
        case None => Position.Start
        case Some(Position.End) => store.readHeadPosition() + 1
        case Some(p) => p + 1
      }
      protected def pullPush(): Boolean = {
        val page = store.readAllForwards(next, pageSize)
        page.messages.foreach { m =>
          deliver(onMessage, m)
          next = m.position + 1 // ref: AllStreamSubscription.cs:207-232
          _lastProcessed = m.position
        }
        if (page.isEnd) next = math.max(next, page.nextPosition)
        page.isEnd
      }
      protected def caughtUp(b: Boolean): Unit = onCaughtUp(b)
      protected def dropped(r: SubscriptionDroppedReason, t: Option[Throwable]): Unit = onDropped(r, t)
    }.started()

  /** Subscribe to a single stream (versions instead of positions).
    * Ref: `Subscriptions/StreamSubscription.cs`. */
  def subscribeToStream(
      store: StreamStore,
      streamId: String,
      continueAfterVersion: Option[Int],
      onMessage: StreamMessage => Unit,
      onCaughtUp: Boolean => Unit = _ => (),
      onDropped: (SubscriptionDroppedReason, Option[Throwable]) => Unit = (_, _) => (),
      pageSize: Int = DefaultPageSize,
      pollIntervalMs: Long = 100L): Subscription =
    new PollingSubscription(pollIntervalMs) {
      private var next: Int = continueAfterVersion match {
        case None => StreamVersion.Start
        case Some(StreamVersion.End) => store.readStreamHeadVersion(streamId) + 1
        case Some(v) => v + 1
      }
      protected def pullPush(): Boolean = {
        val page = store.readStreamForwards(streamId, next, pageSize)
        if (page.status == PageReadStatus.StreamNotFound) return true // not yet created: caught up, keep polling
        page.messages.foreach { m =>
          deliver(onMessage, m)
          next = m.streamVersion + 1
          _lastProcessed = m.streamVersion.toLong
        }
        if (page.isEnd) next = math.max(next, page.nextStreamVersion)
        page.isEnd
      }
      protected def caughtUp(b: Boolean): Unit = onCaughtUp(b)
      protected def dropped(r: SubscriptionDroppedReason, t: Option[Throwable]): Unit = onDropped(r, t)
    }.started()

  /** Structured Streaming variant of SubscribeToAll: a streaming query
    * over the append-only log ([[graft.store.SparkStreamStore.allMessagesStream]]
    * — each micro-batch is the flushed position range after the last one,
    * and the checkpointed offset is the continuation position). Messages
    * are delivered in position order, within and across micro-batches, on
    * the driver, mirroring the reference's strictly-sequential push
    * (`AllStreamSubscription.cs:207-232`).
    *
    * This surface reads the PHYSICAL log: it is the append-only firehose
    * (logically-deleted rows still appear). For exact reference semantics
    * including tombstone-filtered reads, use [[subscribeToAll]].
    */
  def structuredSubscribeToAll(
      store: SparkStreamStore,
      fromPositionExclusive: Option[Long],
      onMessage: StreamMessage => Unit,
      checkpointDir: Option[String] = None,
      triggerMs: Long = 200L): StreamingQuery = {
    val base = store.allMessagesStream
    val filtered = fromPositionExclusive.fold(base)(p => base.filter(col("position") > p))
    var writer = filtered.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.orderBy("position").collect().foreach { r: Row =>
          onMessage(StreamMessage(
            streamId = r.getString(0), messageId = r.getString(1),
            streamVersion = r.getInt(2), position = r.getLong(3),
            createdUtc = r.getTimestamp(4), `type` = r.getString(5),
            jsonData = r.getString(6), jsonMetadata = r.getString(7)))
        }
      }
    checkpointDir.foreach(d => writer = writer.option("checkpointLocation", d))
    writer.start()
  }

  /** The pull-loop skeleton: page until IsEnd, signal caught-up on
    * transitions, poll for new appends, notify drop exactly once. */
  private abstract class PollingSubscription(pollIntervalMs: Long) extends Subscription {
    @volatile protected var _lastProcessed: Long = -1L
    private val droppedOnce = new AtomicBoolean(false)
    @volatile private var running = true
    @volatile private var wasCaughtUp = false

    private final class SubscriberException(cause: Throwable) extends RuntimeException(cause)

    /** Process one page; returns true when at end of store. */
    protected def pullPush(): Boolean
    protected def caughtUp(b: Boolean): Unit
    protected def dropped(r: SubscriptionDroppedReason, t: Option[Throwable]): Unit

    protected def deliver(f: StreamMessage => Unit, m: StreamMessage): Unit =
      try f(m) catch { case t: Throwable => throw new SubscriberException(t) }

    /** Start the pull loop AFTER subclass construction: the loop calls
      * the virtual `pullPush()`, which reads subclass state (the `next`
      * cursor, itself resolved via a store read for from-End
      * subscriptions) — starting the thread from this constructor let it
      * observe `next` before initialization, replaying from 0. In-process
      * stores won that race by nanoseconds; the HTTP fixture lost it
      * every time (the head read is a network round trip). Factories
      * call `.started()` on the fully-built instance. */
    def started(): this.type = { thread.start(); this }

    private val thread = new Thread(() => {
      try {
        while (running) {
          val atEnd = pullPush()
          // caught-up is (re)raised on state transitions
          // (ref: AllStreamSubscription.cs:123-132)
          if (atEnd != wasCaughtUp) { wasCaughtUp = atEnd; caughtUp(atEnd) }
          if (atEnd) Thread.sleep(pollIntervalMs) // ref notifier polls, :27 (1000ms)
        }
        notifyDropped(SubscriptionDroppedReason.Disposed, None)
      } catch {
        case e: SubscriberException =>
          // a handler aborted by close()'s interrupt is co-operative
          // cancellation, not a subscriber fault (ref: dispose during
          // handling drops Disposed, AcceptanceTests.Subscriptions.cs:516-541)
          if (!running) notifyDropped(SubscriptionDroppedReason.Disposed, None)
          else notifyDropped(SubscriptionDroppedReason.SubscriberError, Option(e.getCause))
        case _: InterruptedException =>
          notifyDropped(SubscriptionDroppedReason.Disposed, None)
        case t: Throwable =>
          if (!running) notifyDropped(SubscriptionDroppedReason.Disposed, None)
          else notifyDropped(SubscriptionDroppedReason.StreamStoreError, Some(t))
      }
    }, "graft-subscription")
    thread.setDaemon(true)

    private def notifyDropped(r: SubscriptionDroppedReason, t: Option[Throwable]): Unit =
      if (droppedOnce.compareAndSet(false, true)) dropped(r, t)

    def lastProcessed: Long = _lastProcessed
    def isRunning: Boolean = running && thread.isAlive

    override def close(): Unit = {
      running = false
      thread.interrupt()
      thread.join(5000)
    }
  }
}

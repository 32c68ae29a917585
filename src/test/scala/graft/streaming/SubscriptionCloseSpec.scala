package graft.streaming

import graft.SparkTestSession
import graft.core._
import graft.store.SparkStreamStore
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Closing caught-up subscriptions is quiet: each drops `Disposed` and no
  * ERROR-level log event is raised (a close used to interrupt a Spark job
  * mid-broadcast and log `ERROR TorrentBroadcast`). */
class SubscriptionCloseSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  /** Captures every ERROR-or-worse event logged while installed. */
  private final class ErrorCapture extends AbstractAppender(
      "graft-error-capture", null, null, true, Property.EMPTY_ARRAY) {
    val events = new ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR))
        events.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
  }

  private def withErrorCapture[T](f: ErrorCapture => T): T = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val configs = (ctx.getConfiguration.getLoggers.values.asScala.toSeq :+
      ctx.getConfiguration.getRootLogger).distinct
    val capture = new ErrorCapture
    capture.start()
    configs.foreach(_.addAppender(capture, Level.ERROR, null))
    ctx.updateLoggers()
    try f(capture)
    finally {
      configs.foreach(_.removeAppender(capture.getName))
      ctx.updateLoggers()
      capture.stop()
    }
  }

  test("closing 4 caught-up subscribeToAll subscriptions drops each Disposed with no ERROR log") {
    val store = new SparkStreamStore(spark, SparkTestSession.tempDir("graft-sub-close"), flushEveryRows = 8)
    try {
      (0 until 4).foreach { s =>
        store.appendToStream(s"s$s", ExpectedVersion.NoStream,
          (0 until 5).map(v => NewStreamMessage(f"00000000-0000-0000-0000-${s * 5 + v}%012d", "t", "{}")))
      }
      // a tombstone: a Spark-served read would broadcast the delete state,
      // the step a close's interrupt used to break
      store.deleteMessage("s0", "00000000-0000-0000-0000-000000000001")
      withErrorCapture { capture =>
        // three rounds: a close lands at a random point of the poll loop
        (0 until 3).foreach { round =>
          val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
          val caughtUp = new CountDownLatch(4)
          val subs = (0 until 4).map { _ =>
            Subscriptions.subscribeToAll(store, None, _ => (),
              onCaughtUp = b => if (b) caughtUp.countDown(),
              onDropped = (r, _) => drops.add(r))
          }
          assert(caughtUp.await(30, TimeUnit.SECONDS), s"round $round: subscriptions did not catch up")
          Thread.sleep(300) // let them poll at the head a few times
          subs.foreach(_.close())
          assert(drops.asScala.toSeq === Seq.fill(4)(SubscriptionDroppedReason.Disposed), s"round $round")
        }
        assert(capture.events.asScala.toSeq === Nil)
      }
    } finally store.close()
  }
}

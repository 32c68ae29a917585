package perfbench

import graft.core._
import graft.store.StreamStore

import org.apache.spark.SparkContext

/** A [[StreamStore]] decorator that times every call crossing one layer
  * boundary as a span named `<layer>.<op>` (ops: append, read_all,
  * read_stream). It sits directly over the store ("store"), under the
  * subscriptions ("sub"), under the HTTP server ("http.server") and over
  * the HTTP client ("http.client").
  *
  * With `jobGroups` set (the decorator directly over the Spark store),
  * each traced read also labels the calling thread's Spark jobs with the
  * job group `<layer>.<op>`, so a listener attributes every job to the
  * store call that raised it — subscription threads included.
  *
  * A client-side decorator can `publish` its open span to a [[SpanLink]];
  * a server-side decorator reading the same link makes that span the
  * parent of the calls it times on its handler threads. */
final class TracedStore(
    underlying: StreamStore,
    layer: String,
    jobGroups: Option[SparkContext] = None,
    publish: Option[SpanLink] = None,
    parentFrom: Option[SpanLink] = None) extends StreamStore {

  private def traced[A](op: String)(n: A => Long)(f: => A): A =
    Trace.span(s"$layer.$op", parentFrom.flatMap(_.span))(n) {
      publish.foreach(_.span = Trace.current)
      try withGroup(op)(f) finally publish.foreach(_.span = None)
    }

  private def withGroup[A](op: String)(f: => A): A =
    jobGroups match {
      case Some(sc) if Trace.enabled =>
        sc.setJobGroup(s"$layer.$op", s"$layer.$op", interruptOnCancel = false)
        try f finally sc.clearJobGroup()
      case _ => f
    }

  override def appendToStream(streamId: String, expectedVersion: Int, messages: Seq[NewStreamMessage]): AppendResult =
    traced("append")((_: AppendResult) => TracedStore.userBytes(messages)) {
      underlying.appendToStream(streamId, expectedVersion, messages)
    }

  override def readAllForwards(fromPositionInclusive: Long, maxCount: Int, prefetchJsonData: Boolean): ReadAllPage =
    traced("read_all")((p: ReadAllPage) => p.messages.size.toLong) {
      underlying.readAllForwards(fromPositionInclusive, maxCount, prefetchJsonData)
    }

  override def readStreamForwards(streamId: String, fromVersionInclusive: Int, maxCount: Int, prefetchJsonData: Boolean): ReadStreamPage =
    traced("read_stream")((p: ReadStreamPage) => p.messages.size.toLong) {
      underlying.readStreamForwards(streamId, fromVersionInclusive, maxCount, prefetchJsonData)
    }

  // Untimed pass-throughs: no workload depends on their cost.
  override def deleteStream(streamId: String, expectedVersion: Int): Unit =
    underlying.deleteStream(streamId, expectedVersion)
  override def deleteMessage(streamId: String, messageId: String): Unit =
    underlying.deleteMessage(streamId, messageId)
  override def setStreamMetadata(streamId: String, expectedStreamMetadataVersion: Int, maxAge: Option[Int],
      maxCount: Option[Int], metadataJson: Option[String]): Unit =
    underlying.setStreamMetadata(streamId, expectedStreamMetadataVersion, maxAge, maxCount, metadataJson)
  override def readAllBackwards(fromPositionInclusive: Long, maxCount: Int, prefetchJsonData: Boolean): ReadAllPage =
    underlying.readAllBackwards(fromPositionInclusive, maxCount, prefetchJsonData)
  override def readStreamBackwards(streamId: String, fromVersionInclusive: Int, maxCount: Int, prefetchJsonData: Boolean): ReadStreamPage =
    underlying.readStreamBackwards(streamId, fromVersionInclusive, maxCount, prefetchJsonData)
  override def readHeadPosition(): Long = underlying.readHeadPosition()
  override def readStreamHeadPosition(streamId: String): Long = underlying.readStreamHeadPosition(streamId)
  override def readStreamHeadVersion(streamId: String): Int = underlying.readStreamHeadVersion(streamId)
  override def getStreamMetadata(streamId: String): StreamMetadataResult = underlying.getStreamMetadata(streamId)
  override def listStreams(pattern: Pattern, maxCount: Int, continuationToken: Option[String]): ListStreamsPage =
    underlying.listStreams(pattern, maxCount, continuationToken)
  override def readMessageData(streamId: String, streamVersion: Int): Option[String] =
    underlying.readMessageData(streamId, streamVersion)
  override def close(): Unit = underlying.close()
}

/** The open client span of the one in-flight remote call, if any. */
final class SpanLink {
  @volatile var span: Option[(Long, Long)] = None
}

object TracedStore {
  /** Bytes the user asked to store: ids, types and payloads, UTF-8. */
  def userBytes(messages: Seq[NewStreamMessage]): Long =
    messages.iterator.map { m =>
      utf8(m.messageId) + utf8(m.`type`) + utf8(m.jsonData) + utf8(m.jsonMetadata)
    }.sum

  private def utf8(s: String): Long =
    if (s == null) 0L else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
}

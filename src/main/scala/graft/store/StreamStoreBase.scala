package graft.store

import graft.core._

import java.util.UUID

/** The backend-independent half of every [[StreamStore]]: the rules the
  * reference writes once in `StreamStoreBase.cs` (id guards, the
  * empty-batch fast path `:44-67`, the `$` metadata guard `:115-118`) and
  * `ReadonlyStreamStoreBase.cs` (the page contract `:45-139`, the MaxAge
  * filter `:394-490`), plus the append state machine of
  * `InMemoryStream.cs:38-163` / `EnforceIdempotentAppend.sql:12-39`.
  *
  * Owned here: the append guards and expected-version dispatch, the three
  * idempotent-replay checks, MaxAge/MaxCount inherited by a new stream
  * from its `$$` metadata stream, the delete expected-version rule and the
  * `$deleted` tracking events, the metadata payload and its propagation
  * to the target's head, the `maxCount + 1` page contract (including
  * `StreamNotFound` and the empty backward page) and the MaxAge predicate
  * with `$` streams exempt.
  *
  * A backend supplies storage only, through the protected primitives
  * below: head lookup and creation, two idempotency lookups, the physical
  * append / retention update / scavenge / deletes, one "first n visible
  * rows" fetch per read kind, and a hook for expired rows. This class
  * takes no lock of its own: every write runs inside the backend's
  * [[writeSection]], and each fetch does its own locking.
  */
abstract class StreamStoreBase[H <: StreamStoreBase.StreamHead](clock: Clock, trackDeletes: Boolean)
  extends StreamStore {

  import StreamStoreBase._

  // ------------------------------------------------------------------
  // Backend primitives
  // ------------------------------------------------------------------

  /** Run one write operation atomically against other writes. Everything
    * below except the two fetches and [[onExpired]] is called inside it. */
  protected def writeSection[T](f: => T): T

  /** The stream's head, or None if the stream does not exist. */
  protected def headOf(streamId: String): Option[H]

  /** Create the head of a new, empty stream. */
  protected def createHead(streamId: String, maxAge: Option[Int], maxCount: Option[Int]): H

  /** Up to `limit` stored (version, messageId) pairs with version >=
    * `fromVersion`, in version order. */
  protected def idsFrom(streamId: String, head: H, fromVersion: Int, limit: Int): IndexedSeq[(Int, String)]

  /** messageId -> stored version, for those of `ids` the stream holds. */
  protected def storedVersions(streamId: String, head: H, ids: Seq[String]): Map[String, Int]

  /** Physical append at versions `head.version + 1 ..`; returns the new
    * head. An empty batch only makes a newly created stream durable. */
  protected def writeMessages(streamId: String, head: H, messages: Seq[NewStreamMessage]): H

  /** Store new retention settings on an existing head. */
  protected def writeRetention(streamId: String, head: H, maxAge: Option[Int], maxCount: Option[Int]): Unit

  /** Physical MaxCount scavenge: drop the stream's versions <= `ceiling`. */
  protected def scavenge(streamId: String, head: H, ceiling: Int): Unit

  /** Physical delete of whole streams with their messages. */
  protected def dropStreams(streams: Seq[(String, H)]): Unit

  /** Physical delete of one message; false if the stream does not hold it. */
  protected def dropMessage(streamId: String, head: H, messageId: String): Boolean

  /** The first `n` visible rows of the all-stream from position `from`
    * (inclusive) in `direction`. */
  protected def fetchAll(from: Long, n: Int, direction: ReadDirection, prefetch: Boolean): IndexedSeq[PageRow]

  /** The stream's head and its first `n` visible rows from version `from`
    * (inclusive) in `direction`, or None if the stream does not exist.
    * Backward from `Int.MaxValue` starts at the newest row. */
  protected def fetchStream(streamId: String, from: Int, n: Int, direction: ReadDirection,
      prefetch: Boolean): Option[StreamRows]

  /** Rows a page dropped as expired: the backend deletes them, inside a
    * [[writeSection]], and passes the ones it deleted to
    * [[trackMessagesDeleted]]. */
  protected def onExpired(expired: Seq[StreamMessage]): Unit

  // ------------------------------------------------------------------
  // Append (ref: AppendToStream.sql:1-177; InMemoryStream.cs:38-163)
  // ------------------------------------------------------------------

  override def appendToStream(
      streamId: String,
      expectedVersion: Int,
      messages: Seq[NewStreamMessage]): AppendResult = {
    StreamId.validate(streamId)
    require(!StreamId.isSystem(streamId), s"stream id must not start with '$$': $streamId")
    // rejected up front: a unique (stream, message_id) index would
    // otherwise surface a raw storage error
    require(messages.iterator.map(_.messageId).toSet.size == messages.length,
      s"duplicate message ids within one append batch: $streamId")
    writeSection(appendInternal(streamId, expectedVersion, messages))
  }

  private def appendInternal(
      streamId: String,
      expectedVersion: Int,
      messages: Seq[NewStreamMessage]): AppendResult = {
    // Empty batch with a concrete expected version: no-op at head
    // (ref: StreamStoreBase.cs:59-66).
    if (messages.isEmpty && expectedVersion >= 0)
      return AppendResult(expectedVersion, readHeadPosition())

    expectedVersion match {
      case ExpectedVersion.Any | ExpectedVersion.NoStream =>
        val head = headOf(streamId).getOrElse {
          // a new stream inherits MaxAge/MaxCount from a pre-existing
          // metadata stream (ref: AppendToStream.sql:27-37)
          val m = if (StreamId.isSystem(streamId)) None else latestMetadata(streamId)
          createHead(streamId, m.flatMap(_.maxAge), m.flatMap(_.maxCount))
        }
        if (expectedVersion == ExpectedVersion.NoStream) appendNoStream(streamId, head, messages)
        else appendAny(streamId, head, messages)
      case _ => // EmptyStream (-1) or exact version >= 0: stream must exist
        val head = headOf(streamId).getOrElse(throw WrongExpectedVersionException(streamId, expectedVersion))
        appendExpectedVersion(streamId, head, expectedVersion, messages)
    }
  }

  /** Ref: InMemoryStream.AppendToStreamExpectedVersionNoStream (:139-163). */
  private def appendNoStream(streamId: String, head: H, messages: Seq[NewStreamMessage]): AppendResult =
    if (head.version >= 0) {
      val existing = idsFrom(streamId, head, StreamVersion.Start, messages.length)
      if (messages.length > existing.length || messages.indices.exists(i => existing(i)._2 != messages(i).messageId))
        throw WrongExpectedVersionException(streamId, ExpectedVersion.NoStream)
      AppendResult(head.version, head.position) // full-prefix replay: idempotent no-op
    } else appendEvents(streamId, head, messages)

  /** Ref: InMemoryStream.AppendToStreamExpectedVersionAny (:105-137). */
  private def appendAny(streamId: String, head: H, messages: Seq[NewStreamMessage]): AppendResult = {
    if (messages.nonEmpty && head.version >= 0) {
      val stored = storedVersions(streamId, head, messages.map(_.messageId))
      stored.get(messages.head.messageId) match {
        case Some(v0) =>
          val run = idsFrom(streamId, head, v0, messages.length)
          if (run.length < messages.length || messages.indices.exists(i => run(i)._2 != messages(i).messageId))
            throw WrongExpectedVersionException(streamId, ExpectedVersion.Any)
          return AppendResult(head.version, head.position) // exact-suffix replay
        case None =>
          // SQL backends raise WrongExpectedVersion on partial overlap
          // (EnforceIdempotentAppend.sql:12-39)
          if (stored.nonEmpty) throw WrongExpectedVersionException(streamId, ExpectedVersion.Any)
      }
    }
    appendEvents(streamId, head, messages)
  }

  /** Ref: InMemoryStream.AppendToStreamExpectedVersion (:56-103), also the
    * EmptyStream (-1) case. */
  private def appendExpectedVersion(
      streamId: String, head: H, expectedVersion: Int, messages: Seq[NewStreamMessage]): AppendResult = {
    if (expectedVersion > head.version) throw WrongExpectedVersionException(streamId, expectedVersion)
    if (head.version >= 0 && expectedVersion < head.version) {
      // Idempotency: the batch must replay at exactly versions
      // expectedVersion+1 .. expectedVersion+len
      val byVersion = idsFrom(streamId, head, expectedVersion + 1, messages.length).toMap
      if (messages.indices.exists(i => !byVersion.get(expectedVersion + i + 1).contains(messages(i).messageId)))
        throw WrongExpectedVersionException(streamId, expectedVersion)
      AppendResult(head.version, head.position)
    } else {
      // expectedVersion == current version: plain append, but a reused id conflicts
      if (head.version >= 0 && messages.nonEmpty &&
          storedVersions(streamId, head, messages.map(_.messageId)).nonEmpty)
        throw WrongExpectedVersionException(streamId, expectedVersion)
      appendEvents(streamId, head, messages)
    }
  }

  private def appendEvents(streamId: String, head: H, messages: Seq[NewStreamMessage]): AppendResult = {
    val after = writeMessages(streamId, head, messages)
    if (messages.nonEmpty) {
      if (streamId.startsWith("$$")) applyMetadataToTarget(streamId.drop(2))
      enforceMaxCount(streamId, after)
    }
    AppendResult(after.version, after.position)
  }

  /** MaxCount retention: keep the newest `maxCount` versions (ref:
    * Scavenge.sql:23-30, run after each append,
    * PostgresStreamStore.Append.cs:69-77). */
  protected final def enforceMaxCount(streamId: String, head: H): Unit =
    head.maxCount.foreach { mc =>
      val ceiling = head.version - mc
      if (ceiling >= 0) scavenge(streamId, head, ceiling)
    }

  // ------------------------------------------------------------------
  // Deletes (ref: DeleteStream.sql:1-74, DeleteStreamMessages.sql:1-47)
  // ------------------------------------------------------------------

  override def deleteStream(streamId: String, expectedVersion: Int): Unit = {
    require(!StreamId.isSystem(streamId), s"stream id must not start with '$$': $streamId")
    writeSection {
      headOf(streamId) match {
        // missing stream: only a concrete expected version is a conflict
        // (ref: DeleteStream.sql expectedVersion >= 0 guard)
        case None => if (expectedVersion >= 0) throw WrongExpectedVersionException(streamId, expectedVersion)
        case Some(head) =>
          if (expectedVersion >= 0 && head.version != expectedVersion)
            throw WrongExpectedVersionException(streamId, expectedVersion)
          val metaId = MetadataStream.of(streamId)
          val dropped = (streamId -> head) +: headOf(metaId).map(metaId -> _).toSeq
          dropStreams(dropped)
          // one event per deleted stream, metadata stream included
          // (ref: InMemoryStreamStore.cs:262 appends a second one)
          if (trackDeletes)
            appendInternal(Deleted.DeletedStreamId, ExpectedVersion.Any, dropped.map { case (id, _) =>
              NewStreamMessage(UUID.randomUUID().toString, Deleted.StreamDeletedMessageType,
                Deleted.streamDeletedPayload(id))
            })
      }
    }
  }

  override def deleteMessage(streamId: String, messageId: String): Unit = writeSection {
    // a missing stream or message is a no-op (ref: DeleteStreamMessages.sql deletes 0 rows)
    headOf(streamId).foreach { head =>
      if (dropMessage(streamId, head, messageId)) trackMessagesDeleted(Seq(streamId -> messageId))
    }
  }

  /** Append one `$message-deleted` event per deleted (streamId,
    * messageId) of a non-`$` stream, when deletion tracking is on. Called
    * inside a [[writeSection]]. */
  protected final def trackMessagesDeleted(deleted: Seq[(String, String)]): Unit =
    if (trackDeletes) {
      val events = deleted.collect { case (streamId, messageId) if !StreamId.isSystem(streamId) =>
        NewStreamMessage(UUID.randomUUID().toString, Deleted.MessageDeletedMessageType,
          Deleted.messageDeletedPayload(streamId, messageId))
      }
      if (events.nonEmpty) appendInternal(Deleted.DeletedStreamId, ExpectedVersion.Any, events)
    }

  // ------------------------------------------------------------------
  // Metadata (ref: PostgresStreamStore.Metadata.cs:25-52, SetStreamMetadata.sql)
  // ------------------------------------------------------------------

  override def getStreamMetadata(streamId: String): StreamMetadataResult =
    latestMetadataMessage(streamId) match {
      case None => StreamMetadataResult(streamId, StreamVersion.End, None, None, null)
      case Some(msg) =>
        val m = MetadataJson.read(msg.jsonData)
        StreamMetadataResult(streamId, msg.streamVersion, m.maxAge, m.maxCount, m.metaJson.orNull)
    }

  override def setStreamMetadata(
      streamId: String,
      expectedStreamMetadataVersion: Int,
      maxAge: Option[Int],
      maxCount: Option[Int],
      metadataJson: Option[String]): Unit = {
    require(!StreamId.isSystem(streamId) || streamId == Deleted.DeletedStreamId,
      s"stream id must not start with '$$': $streamId") // ref: StreamStoreBase.cs:115-118
    val payload = MetadataJson.write(MetadataMessage(streamId, maxAge, maxCount, metadataJson))
    val msg = NewStreamMessage(
      DeterministicUuid.forMetadata(streamId, payload).toString,
      MetadataStream.MetadataMessageType, payload)
    writeSection {
      appendInternal(MetadataStream.of(streamId), expectedStreamMetadataVersion, Seq(msg))
      // the append propagated the settings to the target; scavenge it if
      // MaxCount shrank (ref: CheckStreamMaxCount after SetStreamMetadata)
      headOf(streamId).foreach(enforceMaxCount(streamId, _))
    }
  }

  /** Propagate the latest `$$s` metadata to stream `s`'s head retention
    * settings (ref: SetStreamMetadata.sql:20-37). */
  private def applyMetadataToTarget(targetStreamId: String): Unit =
    latestMetadata(targetStreamId).foreach { m =>
      headOf(targetStreamId).foreach(writeRetention(targetStreamId, _, m.maxAge, m.maxCount))
    }

  private def latestMetadata(streamId: String): Option[MetadataMessage] =
    latestMetadataMessage(streamId).map(m => MetadataJson.read(m.jsonData))

  private def latestMetadataMessage(streamId: String): Option[StreamMessage] =
    fetchStream(MetadataStream.of(streamId), Int.MaxValue, 1, ReadDirection.Backward, prefetch = true)
      .flatMap(_.rows.headOption).map(_.message)

  // ------------------------------------------------------------------
  // Reads (ref: ReadonlyStreamStoreBase.cs:45-139, ReadAll.sql, Read.sql)
  // ------------------------------------------------------------------

  override def readAllForwards(from: Long, maxCount: Int, prefetch: Boolean): ReadAllPage =
    allPage(from, maxCount, ReadDirection.Forward, prefetch)

  override def readAllBackwards(from: Long, maxCount: Int, prefetch: Boolean): ReadAllPage =
    allPage(from, maxCount, ReadDirection.Backward, prefetch)

  /** One all-stream page: fetch one row beyond the page to tell whether
    * it is the end. End => the largest position (ref:
    * PostgresStreamStore.ReadAll.cs:94 uses long.MaxValue). */
  private def allPage(from: Long, maxCount: Int, direction: ReadDirection, prefetch: Boolean): ReadAllPage = {
    require(maxCount > 0)
    val forward = direction == ReadDirection.Forward
    val fromPos = if (from == Position.End) Long.MaxValue else from
    val rows = fetchAll(fromPos, pageWant(maxCount), direction, prefetch)
    val isEnd = rows.length <= maxCount
    val kept = filterExpired(rows.take(maxCount))
    val nextPos =
      if (!isEnd) rows(maxCount).message.position
      else if (!forward) Position.Start // exhausted
      else if (rows.nonEmpty) rows.last.message.position + 1
      else fromPos
    // a backward page reports the RESOLVED start, its first message's
    // position (ref: ReadAll.cs:109-146)
    val reported = if (forward) from else kept.headOption.map(_.position).getOrElse(Position.Start)
    ReadAllPage(reported, nextPos, isEnd, direction, kept,
      () => allPage(nextPos, maxCount, direction, prefetch))
  }

  override def readStreamForwards(streamId: String, fromVersion: Int, maxCount: Int, prefetch: Boolean): ReadStreamPage =
    streamPage(streamId, fromVersion, math.max(fromVersion, StreamVersion.Start), maxCount,
      ReadDirection.Forward, prefetch)

  override def readStreamBackwards(streamId: String, fromVersion: Int, maxCount: Int, prefetch: Boolean): ReadStreamPage =
    streamPage(streamId, fromVersion, if (fromVersion == StreamVersion.End) Int.MaxValue else fromVersion,
      maxCount, ReadDirection.Backward, prefetch)

  private def streamPage(streamId: String, fromVersion: Int, from: Int, maxCount: Int,
      direction: ReadDirection, prefetch: Boolean): ReadStreamPage = {
    require(maxCount > 0)
    val forward = direction == ReadDirection.Forward
    def next(v: Int): () => ReadStreamPage =
      () => if (forward) readStreamForwards(streamId, v, maxCount, prefetch)
            else readStreamBackwards(streamId, v, maxCount, prefetch)
    fetchStream(streamId, from, pageWant(maxCount), direction, prefetch) match {
      case None =>
        ReadStreamPage(streamId, PageReadStatus.StreamNotFound, fromVersion, StreamVersion.End,
          StreamVersion.End, Position.End, direction, isEnd = true, Nil, next(fromVersion))
      case Some(s) =>
        val isEnd = s.rows.length <= maxCount
        val nextV =
          if (!isEnd) s.rows(maxCount).message.streamVersion
          else if (forward) s.version + 1
          else StreamVersion.End
        ReadStreamPage(streamId, PageReadStatus.Success, fromVersion, nextV, s.version, s.position,
          direction, isEnd, filterExpired(s.rows.take(maxCount)), next(nextV))
    }
  }

  override def readMessageData(streamId: String, streamVersion: Int): Option[String] =
    fetchStream(streamId, streamVersion, 1, ReadDirection.Forward, prefetch = true)
      .flatMap(_.rows.headOption).map(_.message)
      .filter(_.streamVersion == streamVersion).map(_.jsonData)

  /** MaxAge filter, applied to each page after the read like the
    * reference (`ReadonlyStreamStoreBase.cs:394-490`): expired messages
    * leave the page and go to the backend's purge; `$` streams are
    * exempt. */
  private def filterExpired(rows: Seq[PageRow]): Seq[StreamMessage] = {
    val now = clock.nowUtc
    val (keep, expired) = rows.partition { r =>
      StreamId.isSystem(r.message.streamId) ||
        r.maxAge.forall(a => r.message.createdUtc.toInstant.plusSeconds(a.toLong).isAfter(now))
    }
    if (expired.nonEmpty) onExpired(expired.map(_.message))
    keep.map(_.message)
  }
}

object StreamStoreBase {
  /** What the shared rules read from a backend's stream head. */
  private[store] trait StreamHead {
    def version: Int
    def position: Long
    def maxCount: Option[Int]
  }

  /** One fetched row with its stream's MaxAge at fetch time. */
  private[store] final case class PageRow(message: StreamMessage, maxAge: Option[Int])

  /** A stream's head version and position with the rows read against it. */
  private[store] final case class StreamRows(version: Int, position: Long, rows: IndexedSeq[PageRow])

  /** Rows a page fetches: one beyond the page tells whether it is the end. */
  private def pageWant(maxCount: Int): Int = if (maxCount == Int.MaxValue) maxCount else maxCount + 1
}

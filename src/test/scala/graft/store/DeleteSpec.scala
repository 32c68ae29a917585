package graft.store

import graft.SparkTestSession
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterEach

/** Deletes + tombstones, ported from `AcceptanceTests.DeleteStream.cs`,
  * `DeleteEvent.cs`, `DeletionTracking.cs`. */
trait DeleteBehaviors extends AnyFunSuite with BeforeAndAfterEach {
  protected def makeStore(name: String, trackDeletes: Boolean = true,
      clock: graft.core.Clock = graft.core.Clock.System): StreamStore
  protected var store: StreamStore = _

  override def beforeEach(): Unit = store = makeStore("graft-del")
  override def afterEach(): Unit = store.close()

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  test("delete stream removes messages and stream; tombstone appended to $deleted") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    store.appendToStream("b", ExpectedVersion.NoStream, msgs(3))
    store.deleteStream("a")
    assert(store.readStreamForwards("a").status === PageReadStatus.StreamNotFound)
    assert(store.readStreamForwards("b").messages.size === 1)
    val deleted = store.readStreamForwards(Deleted.DeletedStreamId)
    assert(deleted.messages.size === 1)
    assert(deleted.messages.head.`type` === Deleted.StreamDeletedMessageType)
    assert(deleted.messages.head.jsonData.contains("\"a\""))
  }

  test("delete nonexistent stream with Any is a no-op without tombstone") {
    store.deleteStream("nope")
    assert(store.readStreamForwards(Deleted.DeletedStreamId).status === PageReadStatus.StreamNotFound)
  }

  test("delete stream with matching expected version succeeds") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    store.deleteStream("a", expectedVersion = 1)
    assert(store.readStreamForwards("a").status === PageReadStatus.StreamNotFound)
  }

  test("delete stream with wrong expected version throws") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    intercept[WrongExpectedVersionException] { store.deleteStream("a", expectedVersion = 0) }
  }

  test("delete stream with expected version on missing stream throws") {
    intercept[WrongExpectedVersionException] { store.deleteStream("nope", expectedVersion = 0) }
  }

  test("delete stream also deletes its metadata stream") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
    store.setStreamMetadata("a", maxCount = Some(10))
    store.deleteStream("a")
    assert(store.getStreamMetadata("a").metadataStreamVersion === -1)
  }

  test("delete message removes a single message and appends $message-deleted") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    store.deleteMessage("a", mid(2))
    val left = store.readStreamForwards("a")
    assert(left.messages.map(_.messageId) === Seq(mid(1), mid(3)))
    assert(left.messages.map(_.streamVersion) === Seq(0, 2)) // versions not reassigned
    val deleted = store.readStreamForwards(Deleted.DeletedStreamId)
    assert(deleted.messages.head.`type` === Deleted.MessageDeletedMessageType)
  }

  test("delete nonexistent message is a no-op") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
    store.deleteMessage("a", mid(99))
    assert(store.readStreamForwards("a").messages.size === 1)
    assert(store.readStreamForwards(Deleted.DeletedStreamId).status === PageReadStatus.StreamNotFound)
  }

  test("deletion tracking can be disabled") {
    val s2 = makeStore("graft-del2", trackDeletes = false)
    try {
      s2.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
      s2.deleteStream("a")
      assert(s2.readStreamForwards(Deleted.DeletedStreamId).status === PageReadStatus.StreamNotFound)
    } finally s2.close()
  }

  test("positions of surviving messages are preserved after delete") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    store.appendToStream("b", ExpectedVersion.NoStream, msgs(3))
    store.deleteStream("a")
    val all = store.readAllForwards()
    // b keeps position 2; tombstone gets a fresh position
    assert(all.messages.map(m => (m.streamId, m.position)).contains(("b", 2L)))
  }
}

class DeleteSpec extends DeleteBehaviors with ParquetBackend
class JdbcDeleteSpec extends DeleteBehaviors with DerbyBackend
class HttpDeleteSpec extends DeleteBehaviors with HttpBackend

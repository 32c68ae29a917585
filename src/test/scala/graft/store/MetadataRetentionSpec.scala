package graft.store

import graft.SparkTestSession
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterEach
import java.time.Instant

/** Metadata + retention, ported from `AcceptanceTests.StreamMetadata.cs`
  * and `StreamLimits.cs` (MaxCount scavenge, MaxAge TTL with manual clock). */
trait MetadataRetentionBehaviors extends AnyFunSuite with BeforeAndAfterEach {
  protected def makeStore(name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System): StreamStore
  protected var clock: Clock.Manual = _
  protected var store: StreamStore = _

  override def beforeEach(): Unit = {
    clock = new Clock.Manual(Instant.parse("2026-01-01T00:00:00Z"))
    store = makeStore("graft-meta", clock = clock)
  }
  override def afterEach(): Unit = store.close()

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  test("get metadata of stream without metadata returns empty result") {
    val m = store.getStreamMetadata("a")
    assert(m.metadataStreamVersion === -1)
    assert(m.maxAge === None && m.maxCount === None && m.metadataJson === null)
  }

  test("set and get metadata round-trips") {
    store.setStreamMetadata("a", maxAge = Some(60), maxCount = Some(5),
      metadataJson = Some("""{"k":"v"}"""))
    val m = store.getStreamMetadata("a")
    assert(m.metadataStreamVersion === 0)
    assert(m.maxAge === Some(60))
    assert(m.maxCount === Some(5))
    assert(m.metadataJson === """{"k":"v"}""")
  }

  test("metadata updates bump the metadata stream version; latest wins") {
    store.setStreamMetadata("a", maxCount = Some(5))
    store.setStreamMetadata("a", expectedStreamMetadataVersion = 0, maxCount = Some(9))
    val m = store.getStreamMetadata("a")
    assert(m.metadataStreamVersion === 1)
    assert(m.maxCount === Some(9))
  }

  test("set metadata with wrong expected metadata version throws") {
    store.setStreamMetadata("a", maxCount = Some(5))
    intercept[WrongExpectedVersionException] {
      store.setStreamMetadata("a", expectedStreamMetadataVersion = 5, maxCount = Some(9))
    }
  }

  test("maxCount scavenges oldest messages past the limit") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    store.setStreamMetadata("a", maxCount = Some(2))
    // setting metadata scavenges immediately
    assert(store.readStreamForwards("a").messages.map(_.streamVersion) === Seq(1, 2))
    store.appendToStream("a", 2, msgs(4, 5))
    val left = store.readStreamForwards("a")
    assert(left.messages.map(_.streamVersion) === Seq(3, 4))
    assert(left.messages.map(_.messageId) === Seq(mid(4), mid(5)))
  }

  test("metadata set before stream creation is inherited at creation (maxCount)") {
    store.setStreamMetadata("a", maxCount = Some(2))
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3, 4))
    assert(store.readStreamForwards("a").messages.map(_.streamVersion) === Seq(2, 3))
  }

  test("maxAge filters expired messages from reads") {
    store.setStreamMetadata("a", maxAge = Some(60))
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    assert(store.readStreamForwards("a").messages.size === 2)
    clock.advanceSeconds(61)
    assert(store.readStreamForwards("a").messages.isEmpty)
    assert(store.readAllForwards().messages.filter(_.streamId == "a").isEmpty)
  }

  test("maxAge filter keeps unexpired messages") {
    store.setStreamMetadata("a", maxAge = Some(60))
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
    clock.advanceSeconds(30)
    store.appendToStream("a", 0, msgs(2))
    clock.advanceSeconds(40) // msg1 is 70s old (expired), msg2 is 40s old (live)
    val page = store.readStreamForwards("a")
    assert(page.messages.map(_.messageId) === Seq(mid(2)))
  }

  test("system streams are exempt from maxAge filtering") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
    store.deleteStream("a") // appends to $deleted
    clock.advanceSeconds(1000000)
    assert(store.readStreamForwards(Deleted.DeletedStreamId).messages.size === 1)
  }
}

class MetadataRetentionSpec extends MetadataRetentionBehaviors with ParquetBackend
class JdbcMetadataRetentionSpec extends MetadataRetentionBehaviors with DerbyBackend
class HttpMetadataRetentionSpec extends MetadataRetentionBehaviors with HttpBackend

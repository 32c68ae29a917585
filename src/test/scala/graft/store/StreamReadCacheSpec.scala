package graft.store

import graft.SparkTestSession
import graft.core._
import graft.streaming.Subscriptions
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The parquet store's row cache for stream reads: a warm read decodes
  * nothing and returns the same page; every delete hides its rows on the
  * next read and drops their positions from the cache; compaction and a
  * payload-less read change no page; range reads and catch-ups never fill
  * it; it never holds more than one group-commit window of rows or
  * `FlushEveryBytes` of them, and one read of a window's worth of rows
  * does not empty it. */
class StreamReadCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val FlushEvery = 64

  private def mid(n: Int) = f"00000000-0000-0000-0000-$n%012d"

  /** A store holding `streams` flushed streams of 20 messages each
    * (`s0`, `s1`, ...; message n has id `mid(n)`), under a manual clock. */
  private def withStore(streams: Int = 3)(f: (SparkStreamStore, Clock.Manual) => Unit): Unit = {
    val clock = new Clock.Manual(Instant.parse("2026-03-01T00:00:00Z"))
    val store = new SparkStreamStore(spark, SparkTestSession.tempDir("graft-row-cache"), clock,
      flushEveryRows = FlushEvery)
    try {
      (0 until streams).foreach { s =>
        store.appendToStream(s"s$s", ExpectedVersion.NoStream, (0 until 20).map { v =>
          val n = s * 20 + v
          NewStreamMessage(mid(n), "t", s"""{"n":$n}""", if (v % 3 == 0) null else s"""{"m":$n}""")
        })
      }
      store.flush()
      f(store, clock)
    } finally store.close()
  }

  private def page(store: StreamStore, id: String, prefetch: Boolean = true) =
    store.readStreamForwards(id, StreamVersion.Start, 1000, prefetch)

  private def positions(store: StreamStore, id: String): Set[Long] =
    page(store, id).messages.map(_.position).toSet

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("a second read of a flushed stream decodes no segment row and returns the same page") {
    withStore() { (store, _) =>
      val s0 = store.readStats
      val cold = page(store, "s1")
      val s1 = store.readStats
      assert(s1.misses - s0.misses === 1 && s1.rowsDecoded - s0.rowsDecoded === 20)
      val warm = page(store, "s1")
      val s2 = store.readStats
      assert(s2.rowsDecoded === s1.rowsDecoded)
      assert(s2.hits - s1.hits === 1 && s2.misses === s1.misses && s2.streamReads - s0.streamReads === 2)
      assert(warm.messages === cold.messages)
      assert(warm.messages.map(_.jsonData) === (20 until 40).map(n => s"""{"n":$n}"""))
      assert(store.readStreamBackwards("s1", StreamVersion.End, 5).messages.map(_.streamVersion) === (19 to 15 by -1))
      assert(store.readStats.rowsDecoded === s1.rowsDecoded)
      assert(store.cachedPositions === positions(store, "s1"))
    }
  }

  test("deleteMessage hides the message on the next read and drops its position") {
    withStore() { (store, _) =>
      val before = page(store, "s0").messages
      store.deleteMessage("s0", mid(4))
      val gone = before.find(_.messageId == mid(4)).get.position
      assert(!store.cachedPositions.contains(gone))
      assert(page(store, "s0").messages === before.filterNot(_.messageId == mid(4)))
    }
  }

  test("deleteStream hides the stream, drops its positions, and a re-created stream reads only its own rows") {
    withStore() { (store, _) =>
      val old = positions(store, "s2")
      store.deleteStream("s2")
      assert((store.cachedPositions intersect old).isEmpty)
      assert(page(store, "s2").status === PageReadStatus.StreamNotFound)
      store.appendToStream("s2", ExpectedVersion.NoStream, (0 until 5).map(v => NewStreamMessage(mid(900 + v), "t", "{}")))
      store.flush()
      val recreated = page(store, "s2").messages
      assert(recreated.map(_.messageId) === (900 until 905).map(mid))
      assert((recreated.map(_.position).toSet intersect old).isEmpty)
      assert(page(store, "s2").messages === recreated)
    }
  }

  test("a MaxCount scavenge hides the scavenged rows and drops their positions") {
    withStore() { (store, _) =>
      val all = page(store, "s1").messages
      store.setStreamMetadata("s1", maxCount = Some(5))
      val scavenged = all.take(15).map(_.position).toSet
      assert((store.cachedPositions intersect scavenged).isEmpty)
      assert(page(store, "s1").messages === all.drop(15))
    }
  }

  test("a MaxAge purge hides the expired rows and drops their positions") {
    withStore() { (store, clock) =>
      val old = positions(store, "s0")
      assert(old.subsetOf(store.cachedPositions))
      store.setStreamMetadata("s0", maxAge = Some(60))
      clock.advanceSeconds(120)
      assert(page(store, "s0").messages.isEmpty) // queues the background purge
      eventually("the purge did not drop the expired positions") {
        (store.cachedPositions intersect old).isEmpty
      }
      assert(page(store, "s0").messages.isEmpty)
    }
  }

  test("compact() in either clustering returns identical pages, warm and cold") {
    Seq("position", "stream").foreach { clustering =>
      withStore(streams = 5) { (store, _) =>
        store.appendToStream("s3", 19, Seq(NewStreamMessage(mid(500), "t", "{}"))) // one memtable row
        val ids = (0 until 5).map(i => s"s$i")
        val before = ids.map(page(store, _))
        store.compact(2, clustering)
        assert(store.cachedPositions.isEmpty, clustering)
        val cold = ids.map(page(store, _))
        val warm = ids.map(page(store, _))
        Seq(cold, warm).foreach { after =>
          assert(after.map(_.messages) === before.map(_.messages), clustering)
          assert(after.map(p => (p.lastStreamVersion, p.lastStreamPosition, p.isEnd)) ===
            before.map(p => (p.lastStreamVersion, p.lastStreamPosition, p.isEnd)), clustering)
        }
      }
    }
  }

  test("a read without jsonData caches nothing, and a later read with it returns jsonData") {
    withStore() { (store, _) =>
      val bare = page(store, "s1", prefetch = false).messages
      assert(bare.size === 20 && bare.forall(_.jsonData == null))
      assert(store.cachedPositions.isEmpty)
      val full = page(store, "s1").messages
      assert(full.map(_.jsonData) === (20 until 40).map(n => s"""{"n":$n}"""))
      assert(page(store, "s1", prefetch = false).messages === bare)
      assert(page(store, "s1").messages === full)
    }
  }

  test("range reads and a catch-up fill nothing; the cache never holds more than one window") {
    withStore(streams = 10) { (store, _) =>
      var from = Position.Start
      var done = false
      while (!done) {
        val p = store.readAllForwards(from, 7)
        from = p.nextPosition
        done = p.isEnd
      }
      assert(store.readAllBackwards(Position.End, 50).messages.size === 50)
      val caughtUp = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToAll(store, None, _ => (), onCaughtUp = b => if (b) caughtUp.countDown())
      try assert(caughtUp.await(30, TimeUnit.SECONDS), "the subscription did not catch up")
      finally sub.close()
      assert(store.cachedPositions.isEmpty)
      assert(store.readStats.rowsDecoded === 0)

      (0 until 10).foreach { s =>
        page(store, s"s$s")
        assert(store.readStats.cachedRows <= FlushEvery)
      }
      val stats = store.readStats
      assert(stats.cachedRows === FlushEvery && stats.evictions === 200 - FlushEvery)
      assert((0 until 10).map(s => page(store, s"s$s").messages.size) === Seq.fill(10)(20))
    }
  }

  test("a read of a window's worth of rows is not cached and evicts nothing") {
    withStore() { (store, _) =>
      val warm = positions(store, "s0")
      store.appendToStream("big", ExpectedVersion.NoStream,
        (0 until FlushEvery).map(v => NewStreamMessage(mid(1000 + v), "t", "{}")))
      store.flush()
      val s0 = store.readStats
      assert(page(store, "big").messages.map(_.messageId) === (1000 until 1000 + FlushEvery).map(mid))
      val s1 = store.readStats
      assert(s1.rowsDecoded - s0.rowsDecoded === FlushEvery && s1.evictions === s0.evictions)
      assert(store.cachedPositions === warm)
      assert(page(store, "s0").messages.size === 20 && store.readStats.rowsDecoded === s1.rowsDecoded)
    }
  }

  test("large payloads: the cache holds at most FlushEveryBytes of rows") {
    val payload = "\"" + "x" * (640 << 10) + "\"" // 60 rows of it are ~37.5 MiB
    withStore(streams = 0) { (store, _) =>
      (0 until 3).foreach { s =>
        store.appendToStream(s"big$s", ExpectedVersion.NoStream,
          (0 until 20).map(v => NewStreamMessage(mid(2000 + s * 20 + v), "t", payload)))
      }
      store.flush()
      (0 until 3).foreach { s =>
        assert(page(store, s"big$s").messages.map(_.jsonData) === Seq.fill(20)(payload))
        val stats = store.readStats
        assert(stats.cachedBytes > 0 && stats.cachedBytes <= SparkStreamStore.FlushEveryBytes)
      }
      // 60 rows are under the row bound: only the byte bound evicts
      val stats = store.readStats
      assert(stats.evictions > 0 && stats.cachedRows === 60 - stats.evictions)
      assert(positions(store, "big2").subsetOf(store.cachedPositions))
    }
  }
}

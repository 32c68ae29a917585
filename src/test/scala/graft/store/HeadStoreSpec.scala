package graft.store

import graft.SparkTestSession
import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded head store (round-4 verdict item 10): driver head memory
  * must stay flat in stream cardinality. The 1M-head test drives the
  * [[DerbyHeadStore]] directly (the store machinery would only add log
  * writes around the same calls); the integration tests prove the
  * parquet store behaves identically with a tiny hot cache, including
  * across reopen. */
class HeadStoreSpec extends AnyFunSuite {

  private def newStore(cap: Int): DerbyHeadStore =
    new DerbyHeadStore(SparkTestSession.tempDir("graft-headstore"), cap)

  test("1M heads with a 1k cache: lookups, deep keyset paging, flat resident set") {
    val n = 1000000
    val cap = 1000
    val hs = newStore(cap)
    try {
      (0 until n).foreach { i =>
        hs.putNew(f"s-$i%07d", new Head(i.toLong, i % 10, i.toLong * 2, None, None))
      }
      assert(hs.size === n.toLong)
      // the hot set never exceeded the cap while 1M heads streamed through
      assert(hs.cachedEntries <= cap)

      // point lookups anywhere in the keyspace (mostly cache misses)
      Seq(0, 1, 999, 123456, 500000, n - 1).foreach { i =>
        val h = hs.get(f"s-$i%07d").getOrElse(fail(s"missing head $i"))
        assert(h.idInternal === i.toLong)
        assert(h.version === i % 10)
        assert(h.position === i.toLong * 2)
      }
      assert(hs.get("nope") === None)
      assert(hs.cachedEntries <= cap)

      // deep keyset page: seek far into the index without a full walk
      val deep = hs.iteratorFrom(999989L).take(10).toSeq
      assert(deep.map(_._2) === (999990 until n).map(i => f"s-$i%07d"))

      // write-through persist is visible on a cold (post-eviction) read
      val h0 = hs.get("s-0000000").get
      h0.version = 42
      hs.persist("s-0000000", h0)
      (n until n + 2 * cap).foreach { i => // flood the cache to evict s-0000000
        hs.putNew(f"s-$i%07d", new Head(i.toLong, 0, 0L, None, None))
      }
      assert(hs.get("s-0000000").get.version === 42)

      // removal is definitive
      assert(hs.remove("s-0500000").isDefined)
      assert(hs.get("s-0500000") === None)
      assert(hs.remove("s-0500000") === None)
    } finally hs.close()
  }

  test("iterator streams every head exactly once") {
    val hs = newStore(4)
    try {
      (0 until 100).foreach(i => hs.putNew(s"s-$i", new Head(i.toLong, 0, i.toLong, Some(i), None)))
      val all = hs.iterator.toSeq
      assert(all.size === 100)
      assert(all.map(_._1).toSet === (0 until 100).map(i => s"s-$i").toSet)
      assert(all.forall { case (id, h) => id === s"s-${h.idInternal}" && h.maxAge === Some(h.idInternal.toInt) })
      assert(hs.cachedEntries <= 4)
    } finally hs.close()
  }

  test("auto-spill store migrates to Derby at the threshold with no visible seam") {
    val hs = new AutoSpillHeadStore(
      () => SparkTestSession.tempDir("graft-autospill"), spillThreshold = 10, cacheCapacity = 4)
    try {
      (0 until 9).foreach(i => hs.putNew(s"s-$i", new Head(i.toLong, i, i.toLong, None, Some(i))))
      assert(!hs.isSpilled)
      // in-place mutation before the spill must survive the migration
      // (pre-spill persist is a no-op; migration copies the live object)
      val h3 = hs.get("s-3").get
      h3.version = 77
      hs.persist("s-3", h3)

      hs.putNew("s-9", new Head(9L, 9, 9L, None, None)) // crosses the threshold
      assert(hs.isSpilled)
      assert(hs.size === 10L)
      (0 until 10).foreach(i => assert(hs.get(s"s-$i").isDefined, s"lost s-$i in migration"))
      assert(hs.get("s-3").get.version === 77)
      assert(hs.get("s-5").get.maxCount === Some(5))

      // post-spill behavior is the Derby store's: write-through + keyset seek
      val h7 = hs.get("s-7").get
      h7.position = 700L
      hs.persist("s-7", h7)
      assert(hs.get("s-7").get.position === 700L)
      assert(hs.iteratorFrom(7L).map(_._2).toSeq === Seq("s-8", "s-9"))
      assert(hs.iterator.size === 10)
      assert(hs.remove("s-0").isDefined && hs.size === 9L)
    } finally hs.close()
  }

  test("bounded store: full behavior round-trip with an 8-entry hot cache, surviving reopen") {
    val spark = SparkTestSession.spark
    val dir = SparkTestSession.tempDir("graft-bounded")
    def open() = new SparkStreamStore(spark, dir, autoSpillHeads = 8)
    val store = open()
    val msg = (n: Int) => Seq(NewStreamMessage(f"00000000-0000-0000-0000-$n%012d", "t", s"""{"n":$n}"""))
    try {
      // 100 streams >> 8 cached heads: every operation crosses the spill
      (0 until 100).foreach(i => store.appendToStream(f"s-$i%03d", ExpectedVersion.NoStream, msg(i)))
      (0 until 100).foreach(i => store.appendToStream(f"s-$i%03d", ExpectedVersion.Any, msg(1000 + i)))
      // idempotent replay against a long-evicted head
      val r = store.appendToStream("s-000", ExpectedVersion.NoStream, msg(0))
      assert(r.currentVersion === 1)
      // retention metadata applies through the spill
      store.setStreamMetadata("s-050", maxCount = Some(1))
      assert(store.readStreamForwards("s-050", 0, 10).messages.map(_.streamVersion) === Seq(1))
      // keyset listing pages over the Derby index
      val page1 = store.listStreams(Pattern.Anything, 40)
      val page2 = page1.readNext()
      val page3 = page2.readNext()
      val seen = page1.streamIds ++ page2.streamIds ++ page3.streamIds
      assert(seen.filter(_.startsWith("s-")).size === 100)
      // deletes drop from the index
      store.deleteStream("s-099")
      assert(!store.listStreams(Pattern.StartsWith("s-099"), 5).streamIds.contains("s-099"))
    } finally store.close()

    // reopen rebuilds the spilled store from the journal
    val reopened = open()
    try {
      assert(reopened.readStreamHeadVersion("s-000") === 1)
      assert(reopened.readStreamHeadVersion("s-098") === 1)
      assert(reopened.readStreamHeadVersion("s-099") === StreamVersion.End)
      val r = reopened.appendToStream("s-001", ExpectedVersion.Any, msg(1)) // replay of v0
      assert(r.currentVersion === 1)
      assert(reopened.listStreams(Pattern.StartsWith("s-0"), 200).streamIds.count(_.startsWith("s-0")) === 99)
    } finally reopened.close()
  }
}

package graft.store

import graft.SparkTestSession
import graft.core._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 store behaviors: tombstone deletes (no log rewrite on the
  * append/scavenge path), journal-backed recovery that never regresses
  * heads, crash-safe compaction swap, and reads running concurrently with
  * appends. */
class DurabilityConcurrencySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  private def fs(dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** The live messages generation dir (compact flips the CURRENT pointer). */
  private def messagesDirOf(dir: String): String = {
    val f = fs(dir)
    val cur = new HPath(dir + "/CURRENT")
    val g =
      if (!f.exists(cur)) 0L
      else {
        val in = f.open(cur)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong finally in.close()
      }
    if (g == 0L) dir + "/messages" else dir + s"/messages-g$g"
  }

  private def logFiles(dir: String): Seq[String] = {
    val p = new HPath(messagesDirOf(dir))
    val f = fs(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq.sorted
  }

  test("maxCount scavenge does not rewrite the log (flushed segments are preserved)") {
    val dir = SparkTestSession.tempDir("graft-norewrite")
    // flushEveryRows=1: every append flushes its own segment, so file
    // counts observe the scavenge behavior directly
    val store = new SparkStreamStore(spark, dir, flushEveryRows = 1)
    try {
      store.setStreamMetadata("a", maxCount = Some(2))
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val before = logFiles(dir)
      // each append to a full stream scavenges; the log must only GROW
      store.appendToStream("a", 2, msgs(4))
      store.appendToStream("a", 3, msgs(5))
      val after = logFiles(dir)
      assert(after.size === before.size + 2, "scavenge must not rewrite or remove append files")
      assert(before.forall(after.contains), "existing append files must be untouched")
      assert(store.readStreamForwards("a").messages.map(_.streamVersion) === Seq(3, 4))
    } finally store.close()
  }

  test("deleteMessage of the stream head does not regress the head across restart") {
    val dir = SparkTestSession.tempDir("graft-noregress")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    s1.deleteMessage("a", mid(3)) // delete the newest message
    assert(s1.readStreamHeadVersion("a") === 2) // head unchanged (ref streams table)
    s1.close()

    val s2 = new SparkStreamStore(spark, dir)
    try {
      assert(s2.readStreamHeadVersion("a") === 2)
      assert(s2.readStreamForwards("a").messages.map(_.streamVersion) === Seq(0, 1))
      // versions/positions are never reused: the next append continues past the hole
      val r = s2.appendToStream("a", 2, msgs(4))
      assert(r.currentVersion === 3)
    } finally s2.close()
  }

  test("empty-stream creation survives restart") {
    val dir = SparkTestSession.tempDir("graft-emptystream")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("s1", ExpectedVersion.NoStream, Nil)
    s1.close()
    val s2 = new SparkStreamStore(spark, dir)
    try {
      assert(s2.readStreamForwards("s1").status === PageReadStatus.Success)
      val r = s2.appendToStream("s1", ExpectedVersion.EmptyStream, msgs(1, 2))
      assert(r === AppendResult(1, 1))
    } finally s2.close()
  }

  test("recovery tolerates a torn journal tail line but fails loudly on interior corruption") {
    val dir = SparkTestSession.tempDir("graft-tornjournal")
    val s1 = new SparkStreamStore(spark, dir)
    (1 to 5).foreach(i => s1.appendToStream(s"s$i", ExpectedVersion.NoStream, msgs(i)))
    s1.deleteStream("s5") // journals immediately: multi-line journal state
    s1.close()

    val heads = new java.io.File(dir, "heads")
    val latest = heads.listFiles().sortBy(_.getName).last

    // a torn TAIL line (crash mid-write) is dropped; everything else recovers
    val lines = java.nio.file.Files.readAllLines(latest.toPath)
    java.nio.file.Files.writeString(latest.toPath,
      (lines.toArray.toSeq :+ """{"seq":999,"streamId":"torn""").mkString("\n"))
    val s2 = new SparkStreamStore(spark, dir)
    try assert(s2.readStreamForwards("s1").messages.size === 1)
    finally s2.close()

    // an INTERIOR corrupt line is real state loss → recovery must throw,
    // not silently skip (s2.close() rewrote dirty heads, so re-read)
    val latest2 = heads.listFiles().sortBy(_.getName).last
    val lines2 = java.nio.file.Files.readAllLines(latest2.toPath).toArray.toSeq
    if (lines2.size >= 2) {
      java.nio.file.Files.writeString(latest2.toPath,
        ("{corrupt" +: lines2.tail :+ "").mkString("\n"))
      val e = intercept[java.io.IOException](new SparkStreamStore(spark, dir))
      assert(e.getMessage.contains("corrupt interior line"))
    }
  }

  test("an unparseable journal line that ends in a newline is corruption, not a torn tail") {
    val dir = SparkTestSession.tempDir("graft-newlinejournal")
    val s1 = new SparkStreamStore(spark, dir)
    (1 to 3).foreach(i => s1.appendToStream(s"s$i", ExpectedVersion.NoStream, msgs(i)))
    s1.close()

    // every writer ends each line with '\n', so a crash mid-write leaves
    // a last line WITHOUT one; a complete line that does not parse is loss
    val latest = new java.io.File(dir, "heads").listFiles().sortBy(_.getName).last
    java.nio.file.Files.writeString(latest.toPath, "{\"seq\":999,\"streamId\":\"torn\"\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[java.io.IOException](new SparkStreamStore(spark, dir))
    assert(e.getMessage.contains("corrupt interior line"))
  }

  test("deleted stream stays deleted across restart; id can be recreated") {
    val dir = SparkTestSession.tempDir("graft-delrestart")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    s1.appendToStream("b", ExpectedVersion.NoStream, msgs(3))
    s1.deleteStream("a")
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(4)) // recreate
    s1.close()
    val s2 = new SparkStreamStore(spark, dir)
    try {
      // recreated stream has only the new message, at a fresh version 0
      assert(s2.readStreamForwards("a").messages.map(_.messageId) === Seq(mid(4)))
      assert(s2.readStreamForwards("a").messages.map(_.streamVersion) === Seq(0))
      assert(s2.readStreamForwards("b").messages.size === 1)
    } finally s2.close()
  }

  test("deleteStream of a stream with metadata appends tombstones for both") {
    val dir = SparkTestSession.tempDir("graft-tombboth")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
      store.setStreamMetadata("a", maxAge = Some(3600))
      store.deleteStream("a")
      val deleted = store.readStreamForwards(Deleted.DeletedStreamId)
      assert(deleted.messages.map(_.`type`) ===
        Seq(Deleted.StreamDeletedMessageType, Deleted.StreamDeletedMessageType))
      assert(deleted.messages.exists(_.jsonData.contains("\"$$a\"")))
    } finally store.close()
  }

  test("deleteStream with EmptyStream sentinel on a missing stream is a no-op") {
    val dir = SparkTestSession.tempDir("graft-delmissing")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.deleteStream("nope", ExpectedVersion.EmptyStream) // must not throw
      assert(store.readStreamForwards(Deleted.DeletedStreamId).status === PageReadStatus.StreamNotFound)
    } finally store.close()
  }

  test("a crash during compaction (orphan next generation) is recovered on reopen") {
    val dir = SparkTestSession.tempDir("graft-crashgen")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    s1.close()
    // simulate: compact wrote part of messages-g1, crashed BEFORE flipping
    // CURRENT (no _SUCCESS marker, no pointer) — g1 is an orphan
    val f = fs(dir)
    val orphan = new HPath(dir + "/messages-g1")
    org.apache.hadoop.fs.FileUtil.copy(f, new HPath(dir + "/messages"), f, orphan, false,
      spark.sparkContext.hadoopConfiguration)
    val s2 = new SparkStreamStore(spark, dir)
    try {
      assert(s2.readStreamForwards("a").messages.size === 3)
      assert(!f.exists(orphan), "orphan generation must be cleaned at recovery")
    } finally s2.close()
  }

  test("a crash after the compaction pointer flip (stale old generation) is recovered on reopen") {
    val dir = SparkTestSession.tempDir("graft-staleGen")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    s1.compact() // flips to messages-g1; messages/ stays as the grace copy
    s1.appendToStream("a", 2, msgs(4)) // post-compact append lands in g1
    s1.close()
    val f = fs(dir)
    assert(f.exists(new HPath(dir + "/messages")), "grace copy of the old generation is retained")
    val s2 = new SparkStreamStore(spark, dir)
    try {
      assert(s2.readStreamForwards("a").messages.map(_.streamVersion) === Seq(0, 1, 2, 3))
      assert(!f.exists(new HPath(dir + "/messages")), "stale generation must be cleaned at recovery")
    } finally s2.close()
  }

  test("a lazy allMessages DataFrame keeps working across a concurrent compact") {
    val dir = SparkTestSession.tempDir("graft-lazycompact")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1 to 10: _*))
      store.flush()
      val lazyDf = store.allMessages // plan captured against the current generation
      store.compact() // flips generation; old dir must survive one cycle
      assert(lazyDf.count() === 10L, "pre-compact plan must still scan valid files")
      assert(store.allMessages.count() === 10L)
    } finally store.close()
  }

  test("a lazy allMessages DataFrame keeps its rows across a flush, appends and a compact") {
    val dir = SparkTestSession.tempDir("graft-lazysnapshot")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1 to 10: _*))
      store.flush()
      store.appendToStream("a", 9, msgs(11 to 15: _*)) // in the memtable
      val lazyDf = store.allMessages
      def positions = lazyDf.select("position").collect().map(_.getLong(0)).sorted.toSeq
      store.flush() // the memtable rows now also sit in a segment
      store.appendToStream("a", 14, msgs(16 to 18: _*))
      assert(positions === (0L until 15L))
      store.compact() // one new generation holds every row
      assert(positions === (0L until 15L))
      assert(store.allMessages.count() === 18L)
    } finally store.close()
  }

  test("reads run concurrently with appends and see consistent pages") {
    val dir = SparkTestSession.tempDir("graft-concurrent")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1 to 20: _*))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val readers = (1 to 4).map { _ =>
        val t = new Thread(() => {
          while (!stop.get()) {
            try {
              val page = store.readAllForwards(Position.Start, maxCount = 1000)
              // a page is a consistent snapshot: positions strictly increasing
              val ps = page.messages.map(_.position)
              require(ps == ps.sorted && ps.distinct == ps, s"inconsistent page: $ps")
              reads.incrementAndGet()
            } catch { case t: Throwable => errors.add(t); stop.set(true) }
          }
        })
        t.setDaemon(true); t.start(); t
      }
      (21 to 60).foreach { n =>
        store.appendToStream("a", ExpectedVersion.Any, msgs(n))
      }
      stop.set(true)
      readers.foreach(_.join(10000))
      assert(errors.isEmpty, s"concurrent read failed: ${Option(errors.peek()).map(_.toString)}")
      assert(reads.get() > 0, "readers made no progress during appends")
      assert(store.readAllForwards(maxCount = 1000).messages.size === 60)
    } finally store.close()
  }

  test("auto-compaction bounds log file count in the background") {
    val dir = SparkTestSession.tempDir("graft-autocompact")
    val store = new SparkStreamStore(spark, dir, autoCompactEvery = 8, flushEveryRows = 1)
    try {
      (1 to 24).foreach(n => store.appendToStream("a", ExpectedVersion.Any, msgs(n)))
      val deadline = System.currentTimeMillis() + 60000
      var compacted = false
      while (!compacted && System.currentTimeMillis() < deadline) {
        compacted = logFiles(dir).size < 24
        if (!compacted) Thread.sleep(200)
      }
      assert(compacted, s"expected background compaction; ${logFiles(dir).size} files remain")
      // data survives compaction intact
      val page = store.readStreamForwards("a", 0, 100)
      assert(page.messages.map(_.streamVersion) === (0 until 24))
    } finally store.close()
  }

  test("ttl purge is batched and tombstones expired rows") {
    val dir = SparkTestSession.tempDir("graft-ttlbatch")
    val clock = new Clock.Manual(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val store = new SparkStreamStore(spark, dir, clock)
    try {
      store.setStreamMetadata("a", maxAge = Some(60))
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      clock.advanceSeconds(120)
      assert(store.readStreamForwards("a").messages.isEmpty) // filtered + queued for purge
      // wait for the background purge to tombstone them
      val deadline = System.currentTimeMillis() + 30000
      var purged = false
      while (!purged && System.currentTimeMillis() < deadline) {
        val tracked = store.readStreamForwards(Deleted.DeletedStreamId)
        purged = tracked.status == PageReadStatus.Success && tracked.messages.size == 3
        if (!purged) Thread.sleep(200)
      }
      assert(purged, "expected 3 $message-deleted tombstone events from one batched purge")
    } finally store.close()
  }
}

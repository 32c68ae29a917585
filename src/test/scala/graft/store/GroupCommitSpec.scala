package graft.store

import graft.SparkTestSession
import graft.core._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets

/** Round-3 group-commit write path: appends are durable in the WAL and
  * readable from the memtable before any parquet segment exists; the
  * memtable flushes to one segment per window; recovery replays the WAL
  * (deduping rows already flushed) and re-derives MaxCount cutoffs. */
class GroupCommitSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  private def fs(dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(dir: String): Seq[String] = {
    val p = new HPath(dir + "/messages")
    val f = fs(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq.sorted
  }

  test("appends are readable before any segment is flushed, and the WAL holds them") {
    val dir = SparkTestSession.tempDir("graft-gc-buffered")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      store.appendToStream("b", ExpectedVersion.NoStream, msgs(4))
      assert(parquetFiles(dir).isEmpty, "small appends must not create parquet files")
      assert(fs(dir).exists(new HPath(dir + "/wal")), "appends must be durable in the WAL")
      // every read surface sees the buffered rows
      assert(store.readAllForwards(Position.Start, 100).messages.map(_.position) === Seq(0L, 1L, 2L, 3L))
      assert(store.readStreamForwards("a").messages.map(_.streamVersion) === Seq(0, 1, 2))
      assert(store.readStreamBackwards("b").messages.map(_.messageId) === Seq(mid(4)))
      assert(store.allMessages.count() === 4L)
      assert(store.readMessageData("a", 1) === Some("""{"data":2}"""))
    } finally store.close()
  }

  test("the flush window writes one segment for many appends and retires the WAL") {
    val dir = SparkTestSession.tempDir("graft-gc-window")
    val store = new SparkStreamStore(spark, dir, flushEveryRows = 10)
    try {
      (1 to 9).foreach(n => store.appendToStream("a", ExpectedVersion.Any, msgs(n)))
      assert(parquetFiles(dir).isEmpty)
      store.appendToStream("a", ExpectedVersion.Any, msgs(10)) // crosses the window
      assert(parquetFiles(dir).size === 1, "one segment per window, not per append")
      assert(!fs(dir).exists(new HPath(dir + "/wal")), "flushed WAL must be retired")
      store.appendToStream("a", ExpectedVersion.Any, msgs(11))
      assert(parquetFiles(dir).size === 1, "a new window re-opens the WAL, no new segment yet")
      assert(store.readStreamForwards("a", 0, 100).messages.size === 11)
    } finally store.close()
  }

  test("close flushes the open window; reopen reads it back without a WAL") {
    val dir = SparkTestSession.tempDir("graft-gc-close")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    s1.close()
    assert(parquetFiles(dir).size === 1)
    assert(!fs(dir).exists(new HPath(dir + "/wal")))
    val s2 = new SparkStreamStore(spark, dir)
    try assert(s2.readStreamForwards("a").messages.map(_.messageId) === Seq(mid(1), mid(2)))
    finally s2.close()
  }

  test("a crash before any flush recovers every append from the WAL") {
    val dir = SparkTestSession.tempDir("graft-gc-crash")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    s1.appendToStream("b", ExpectedVersion.NoStream, msgs(4))
    // crash: no close() — reopen the same directory cold. The lock is
    // still held (heartbeat fresh), so the restart opts into takeover
    // explicitly, the documented crash-restart path
    val s2 = new SparkStreamStore(spark, dir, leaseTimeoutMs = 0L)
    try {
      assert(s2.readAllForwards(Position.Start, 100).messages.map(_.position) === Seq(0L, 1L, 2L, 3L))
      assert(s2.readStreamHeadVersion("a") === 2)
      // positions continue densely after recovery
      assert(s2.appendToStream("b", 0, msgs(5)).currentPosition === 4L)
    } finally s2.close()
  }

  test("WAL rows already covered by a flushed segment are deduped at recovery") {
    val dir = SparkTestSession.tempDir("graft-gc-dedupe")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    s1.close() // flushed segment holds positions 0..1
    // simulate the crash window between segment write and WAL retire:
    // hand-write a WAL duplicating position 1 and adding position 2
    val walLines = Seq(
      s"""{"streamId":"a","messageId":"${mid(2)}","streamVersion":1,"position":1,"createdMicros":1,"type":"type","jsonData":"{\\"data\\":2}"}""",
      s"""{"streamId":"a","messageId":"${mid(3)}","streamVersion":2,"position":2,"createdMicros":1,"type":"type","jsonData":"{\\"data\\":3}"}""")
    val f = fs(dir)
    val out = f.create(new HPath(dir + "/wal/wal-00000000000000000001.jsonl"), true)
    try out.write((walLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)) finally out.close()
    val s2 = new SparkStreamStore(spark, dir)
    try {
      val all = s2.readAllForwards(Position.Start, 100).messages
      assert(all.map(_.position) === Seq(0L, 1L, 2L), "no duplicates, new row recovered")
      assert(all.map(_.messageId) === Seq(mid(1), mid(2), mid(3)))
    } finally s2.close()
  }

  test("a stream tombstone written just before a crash keeps the stream's unjournaled rows from recreating it") {
    val dir = SparkTestSession.tempDir("graft-gc-tombcrash")
    val s1 = new SparkStreamStore(spark, dir)
    s1.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    s1.appendToStream("b", ExpectedVersion.NoStream, msgs(3))
    // crash inside deleteStream("a"): its tombstone is written, but not
    // the journal's removal marker, and no journal holds "a" at all
    val f = fs(dir)
    val out = f.create(new HPath(dir + "/tombstones/tomb-00000000000000000000.json"), true)
    try out.write("""{"seq":0,"kind":"stream","streamId":"a","asOf":1}""".getBytes(StandardCharsets.UTF_8) ++ Array('\n'.toByte))
    finally out.close()
    val s2 = new SparkStreamStore(spark, dir, leaseTimeoutMs = 0L)
    try {
      assert(s2.readStreamHeadVersion("a") === StreamVersion.End, "the tombstoned rows must not recreate the stream")
      assert(s2.readStreamHeadVersion("b") === 0)
      assert(s2.appendToStream("c", ExpectedVersion.NoStream, msgs(4)).currentPosition === 3L,
        "positions of the deleted rows are not reused")
    } finally s2.close()
  }

  test("scavenged messages stay scavenged after a crash (cutoffs re-derived from heads)") {
    val dir = SparkTestSession.tempDir("graft-gc-cutoff")
    val s1 = new SparkStreamStore(spark, dir)
    s1.setStreamMetadata("capped", maxCount = Some(2))
    s1.appendToStream("capped", ExpectedVersion.Any, msgs(1, 2, 3, 4, 5))
    assert(s1.readStreamForwards("capped").messages.map(_.streamVersion) === Seq(3, 4))
    // crash: the cutoff tombstone may not have been persisted yet; the
    // lock is still held, so the restart opts into takeover explicitly
    val s2 = new SparkStreamStore(spark, dir, leaseTimeoutMs = 0L)
    try {
      assert(s2.readStreamForwards("capped").messages.map(_.streamVersion) === Seq(3, 4),
        "scavenged prefix must not resurrect after a crash")
    } finally s2.close()
  }

  test("deletes and metadata of buffered rows are honored before the flush") {
    val dir = SparkTestSession.tempDir("graft-gc-delbuf")
    val store = new SparkStreamStore(spark, dir)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      store.deleteMessage("a", mid(2)) // row only exists in the memtable/WAL
      assert(store.readStreamForwards("a").messages.map(_.messageId) === Seq(mid(1), mid(3)))
      store.deleteStream("a")
      assert(store.readStreamForwards("a").status === PageReadStatus.StreamNotFound)
      assert(store.readAllForwards(Position.Start, 100).messages
        .filterNot(m => StreamId.isSystem(m.streamId)).isEmpty)
    } finally store.close()
  }

  test("compacting a store with zero live heads stays appendable and keeps the watermark") {
    // A squash with no rows must not leave an empty journal file whose
    // name collides with the next journal write, and positions must not
    // regress to reuse after the (skipped) prune.
    val dir = SparkTestSession.tempDir("graft-gc-empty-squash")
    val store = new SparkStreamStore(spark, dir, trackDeletes = false)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      store.deleteStream("a")
      store.compact() // zero live heads
      val r = store.appendToStream("b", ExpectedVersion.NoStream, msgs(4))
      assert(r.currentPosition >= 3L, "positions must not be reused after the empty squash")
    } finally store.close()
    val reopened = new SparkStreamStore(spark, dir, trackDeletes = false)
    try {
      assert(reopened.readStreamForwards("b").messages.map(_.messageId) === Seq(mid(4)))
      assert(reopened.readStreamForwards("a").status === PageReadStatus.StreamNotFound)
    } finally reopened.close()
  }

  test("a batch with duplicate message ids is rejected up front") {
    val dir = SparkTestSession.tempDir("graft-gc-dupbatch")
    val store = new SparkStreamStore(spark, dir)
    try {
      intercept[IllegalArgumentException] {
        store.appendToStream("a", ExpectedVersion.Any, msgs(1, 1))
      }
      // nothing was appended
      assert(store.readStreamForwards("a").status === PageReadStatus.StreamNotFound)
    } finally store.close()
  }
}

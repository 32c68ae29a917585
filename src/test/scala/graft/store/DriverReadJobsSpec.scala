package graft.store

import graft.SparkTestSession
import graft.core._
import graft.http.{HttpStreamStore, StreamStoreHttpServer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** The parquet store runs no Spark job on its own path: on a warm store
  * (flushed segments plus memtable rows, id chains cached by the appends)
  * the five read methods and `getStreamMetadata` start zero jobs, in
  * process and through the HTTP server, and so do a reopen (after a clean
  * close, after a crash, and of a bulk-imported log with no journal), a
  * cold stream's first read, its first append and a `deleteMessage`. */
class DriverReadJobsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val Marker = "driver-read-jobs-marker"

  /** Counts jobs started outside any job group (store reads run on the
    * caller's or the HTTP server's threads, which set none; streaming
    * queries of other suites run in their own groups). */
  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger
    @volatile var markers = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
        case Some(Marker) => markers += 1
        case None => jobs.incrementAndGet()
        case Some(_) => ()
      }
  }

  /** Jobs started by `f`: a marker job after it drains the listener bus
    * (events arrive in order), so every job `f` started is counted. */
  private def jobsDuring(counter: JobCounter)(f: => Unit): Int = {
    def drain(): Unit = {
      val seen = counter.markers
      spark.sparkContext.setJobGroup(Marker, Marker)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (counter.markers == seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(counter.markers > seen, "listener bus did not drain")
    }
    drain()
    val before = counter.jobs.get()
    f
    drain()
    counter.jobs.get() - before
  }

  private def mid(n: Int) = f"00000000-0000-0000-0000-$n%012d"

  private def readEverything(store: StreamStore): Unit = {
    val fwd = store.readStreamForwards("s1", StreamVersion.Start, 100)
    assert(fwd.messages.map(_.streamVersion) === (0 to 19))
    assert(store.readStreamBackwards("s1", StreamVersion.End, 5).messages.map(_.streamVersion) === (19 to 15 by -1))
    val all = store.readAllForwards(Position.Start, 1000)
    assert(all.messages.size === 61 && all.isEnd) // 60 messages + one `$$s2` metadata message
    assert(store.readAllBackwards(Position.End, 7).messages.map(_.position) === (60L to 54L by -1))
    assert(store.readAllForwards(20, 15, prefetchJsonData = false).messages.forall(_.jsonData == null))
    assert(store.readMessageData("s2", 3) === Some("""{"n":43}"""))
    assert(store.getStreamMetadata("s2").maxCount === Some(100))
  }

  test("warm reads start no Spark job, in process and over HTTP; a cold stream loads its chain once") {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    val dir = SparkTestSession.tempDir("graft-jobs")
    var store = new SparkStreamStore(spark, dir, flushEveryRows = 16)
    try {
      (0 until 3).foreach { s =>
        store.appendToStream(s"s$s", ExpectedVersion.NoStream,
          (0 until 20).map(v => NewStreamMessage(mid(s * 20 + v), "t", s"""{"n":${s * 20 + v}}""")))
      }
      store.setStreamMetadata("s2", maxCount = Some(100))
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "messages")).toArray
      assert(files.exists(_.toString.endsWith(".parquet")), "no flushed segment")
      assert(store.readHeadPosition() === 60L)

      assert(jobsDuring(counter)(readEverything(store)) === 0)

      val server = new StreamStoreHttpServer(store)
      val client = new HttpStreamStore(server.baseUrl)
      try assert(jobsDuring(counter)(readEverything(client)) === 0)
      finally { client.close(); server.close() }

      // reopen: the chains are cold; new rows land in the memtable
      store.close()
      store = new SparkStreamStore(spark, dir, flushEveryRows = 16)
      store.appendToStream("fresh", ExpectedVersion.NoStream, Seq(NewStreamMessage(mid(99), "t", "{}")))
      assert(jobsDuring(counter)(assert(store.readStreamForwards("s1", StreamVersion.Start, 100).messages.size === 20)) === 0)
      assert(jobsDuring(counter)(assert(store.readStreamForwards("s1", StreamVersion.Start, 100).messages.size === 20)) === 0)
      assert(jobsDuring(counter)(assert(store.readAllForwards(Position.Start, 100).messages.size === 62)) === 0)
    } finally {
      store.close()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  /** Runs `f` with a job counter on the listener bus. */
  private def counting(f: JobCounter => Unit): Unit = {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try f(counter) finally spark.sparkContext.removeSparkListener(counter)
  }

  test("a reopen, a cold first append and a cold deleteMessage start no Spark job") {
    counting { counter =>
      val dir = SparkTestSession.tempDir("graft-jobs-reopen")
      val crashed = new SparkStreamStore(spark, dir, flushEveryRows = 16)
      (0 until 3).foreach { s =>
        crashed.appendToStream(s"s$s", ExpectedVersion.NoStream,
          (0 until 20).map(v => NewStreamMessage(mid(s * 20 + v), "t", s"""{"n":${s * 20 + v}}""")))
      }
      crashed.setStreamMetadata("s2", maxCount = Some(100))
      crashed.deleteStream("s0")
      crashed.appendToStream("s0", ExpectedVersion.NoStream, Seq(NewStreamMessage(mid(70), "t", "{}")))
      crashed.appendToStream("s3", ExpectedVersion.NoStream, (0 until 5).map(v => NewStreamMessage(mid(80 + v), "t", "{}")))
      val head = crashed.readHeadPosition()

      // a crash (no close): recovery folds the journal-less tail, which
      // holds the re-created s0 and the new s3
      var store: SparkStreamStore = null
      assert(jobsDuring(counter) { store = new SparkStreamStore(spark, dir, flushEveryRows = 16, leaseTimeoutMs = 0L) } === 0)
      try {
        assert(store.readHeadPosition() === head)
        assert(store.readStreamHeadVersion("s0") === 0)
        assert(store.readStreamHeadVersion("s3") === 4)
        store.close()

        assert(jobsDuring(counter) { store = new SparkStreamStore(spark, dir, flushEveryRows = 16) } === 0)
        var appended: AppendResult = null
        assert(jobsDuring(counter) {
          appended = store.appendToStream("s1", ExpectedVersion.Any, Seq(NewStreamMessage(mid(90), "t", "{}")))
        } === 0)
        assert(appended.currentVersion === 20)
        assert(jobsDuring(counter)(store.deleteMessage("s2", mid(45))) === 0)
        assert(store.readStreamForwards("s2", StreamVersion.Start, 100).messages.map(_.messageId) ===
          (40 until 60).filterNot(_ == 45).map(mid))
        assert(store.getStreamMetadata("s2").maxCount === Some(100))
      } finally store.close()
    }
  }

  test("reopening a bulk-imported log folds it into the heads without a Spark job") {
    import spark.implicits._
    counting { counter =>
      val root = SparkTestSession.tempDir("graft-jobs-bulk")
      val rows = (0 until 300).map(i => (s"s${i % 7}", mid(i), "t", s"""{"i":$i}""", i.toLong))
      BulkImport.importMessages(spark, rows.toDF("sid", "mid", "typ", "data", "ord"), root,
        orderCol = "ord", streamIdCol = "sid", messageIdCol = "mid", typeCol = "typ", dataCol = "data",
        targetSegments = 3)
      var store: SparkStreamStore = null
      assert(jobsDuring(counter) { store = new SparkStreamStore(spark, root) } === 0)
      try {
        assert(store.readHeadPosition() === 299L)
        assert(store.readStreamHeadVersion("s3") === 42)
        assert(jobsDuring(counter)(assert(store.readStreamForwards("s3", StreamVersion.Start, 100)
          .messages.map(_.messageId) === (3 until 300 by 7).map(mid))) === 0)
      } finally store.close()
    }
  }
}

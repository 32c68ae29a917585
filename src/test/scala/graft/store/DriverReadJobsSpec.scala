package graft.store

import graft.SparkTestSession
import graft.core._
import graft.http.{HttpStreamStore, StreamStoreHttpServer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** The parquet store's paged reads run no Spark job: on a warm store
  * (flushed segments plus memtable rows, id chains cached by the appends)
  * the five read methods and `getStreamMetadata` start zero jobs, in
  * process and through the HTTP server. A cold stream pays at most its one
  * id-chain load, and nothing on the next read. */
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
      assert(jobsDuring(counter)(assert(store.readStreamForwards("s1", StreamVersion.Start, 100).messages.size === 20)) <= 1)
      assert(jobsDuring(counter)(assert(store.readStreamForwards("s1", StreamVersion.Start, 100).messages.size === 20)) === 0)
      assert(jobsDuring(counter)(assert(store.readAllForwards(Position.Start, 100).messages.size === 62)) === 0)
    } finally {
      store.close()
      spark.sparkContext.removeSparkListener(counter)
    }
  }
}

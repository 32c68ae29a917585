package graft.store

import graft.SparkTestSession
import graft.core._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant
import scala.collection.mutable
import scala.util.Random

/** Differential test of the parquet store's driver-served paged reads
  * against a Spark oracle: the physical log (`LogSegmentSource` plus the
  * memtable) with the store's delete state applied as broadcast joins —
  * a formulation of the delete rule of its own, since `allMessages`
  * applies the store's rule — with the filter / order / limit each read
  * used to run as a Spark job, then the same TTL drop. Seeded random op sequences (appends with every
  * expected-version kind including idempotent replays, message and stream
  * deletes with re-creation, MaxCount / MaxAge metadata under a manual
  * clock, flushes, both compaction layouts (one to three stream-clustered
  * files), close/reopen) are interleaved
  * with random forward/backward, all-stream/per-stream reads; a small
  * group-commit window makes pages straddle the memtable/segment boundary.
  *
  * A read can queue a background TTL purge that changes the log (message
  * tombstones, `$deleted` events). A mismatch is therefore retried while
  * the oracle itself keeps moving; a mismatch against a settled oracle
  * fails the test. */
class DriverReadDifferentialSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val FlushEvery = 7
  private val Streams = (0 until 5).map(i => s"s$i")

  /** A page as compared: messages plus the paging fields. */
  private final case class AllView(messages: Seq[StreamMessage], isEnd: Boolean, next: Long, from: Long)
  private final case class StreamPageView(status: PageReadStatus, messages: Seq[StreamMessage], isEnd: Boolean,
      next: Int, lastVersion: Int, lastPosition: Long)

  private final class Run(seed: Long) {
    val rnd = new Random(seed)
    val dir: String = SparkTestSession.tempDir("graft-diff")
    val clock = new Clock.Manual(Instant.parse("2026-03-01T00:00:00Z"))
    var store: SparkStreamStore = open()
    var nextId = 0
    val ids = mutable.Map.empty[String, Vector[String]].withDefaultValue(Vector.empty)
    val lastBatch = mutable.Map.empty[String, (Int, Seq[NewStreamMessage])]
    // MaxAge as the store's heads carry it: the last value set, cleared
    // when an existing stream is deleted (its `$$` stream goes with it)
    val maxAge = mutable.Map.empty[String, Int]
    var compared = 0
    var straddled = 0

    def open(): SparkStreamStore = new SparkStreamStore(spark, dir, clock, flushEveryRows = FlushEvery)

    def freshMessages(n: Int): Seq[NewStreamMessage] = (0 until n).map { _ =>
      nextId += 1
      NewStreamMessage(f"00000000-0000-0000-0000-$nextId%012d", "t",
        if (rnd.nextInt(5) == 0) null else s"""{"n":$nextId}""",
        if (rnd.nextBoolean()) s"""{"m":$nextId}""" else null)
    }

    def step(): Unit = rnd.nextInt(20) match {
      case 0 | 1 | 2 | 3 | 4 | 5 | 6 =>
        val sid = Streams(rnd.nextInt(Streams.size))
        val head = store.readStreamHeadVersion(sid)
        val (expected, msgs) = rnd.nextInt(6) match {
          case 0 if lastBatch.contains(sid) => lastBatch(sid) // idempotent replay
          case 1 => (ExpectedVersion.NoStream, freshMessages(1 + rnd.nextInt(3)))
          case 2 | 3 => (head, freshMessages(1 + rnd.nextInt(4)))
          case 4 => (head - 1, freshMessages(1)) // stale: conflict or replay check
          case _ => (ExpectedVersion.Any, freshMessages(1 + rnd.nextInt(4)))
        }
        try {
          store.appendToStream(sid, expected, msgs)
          lastBatch(sid) = (expected, msgs)
          ids(sid) = ids(sid) ++ msgs.map(_.messageId)
        } catch { case _: WrongExpectedVersionException => () }
      case 7 =>
        val sid = Streams(rnd.nextInt(Streams.size))
        if (ids(sid).nonEmpty) store.deleteMessage(sid, ids(sid)(rnd.nextInt(ids(sid).size)))
      case 8 =>
        val sid = Streams(rnd.nextInt(Streams.size))
        if (store.readStreamHeadVersion(sid) != StreamVersion.End) maxAge -= sid
        store.deleteStream(sid)
        lastBatch -= sid
      case 9 =>
        val sid = Streams(rnd.nextInt(Streams.size))
        val mc = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(5)) else None
        val ma = if (rnd.nextInt(3) == 0) Some(30 + rnd.nextInt(200)) else None
        store.setStreamMetadata(sid, maxAge = ma, maxCount = mc)
        ma match {
          case Some(a) => maxAge(sid) = a
          case None => maxAge -= sid
        }
      case 10 => clock.advanceSeconds(rnd.nextInt(120).toLong)
      case 11 => store.flush()
      case 12 =>
        // 1..3 stream-clustered files: with one, a window can fall in a
        // single file whose rows are not in position order
        if (rnd.nextInt(4) == 0) { if (rnd.nextBoolean()) store.compact() else store.compact(1 + rnd.nextInt(3), "stream") }
      case 13 => if (rnd.nextInt(3) == 0) { store.close(); store = open() }
      case _ => compareRandomRead()
    }

    def expired(m: StreamMessage): Boolean =
      !StreamId.isSystem(m.streamId) && maxAge.get(m.streamId).exists(a =>
        !m.createdUtc.toInstant.plusSeconds(a.toLong).isAfter(clock.nowUtc))

    /** The logical log: the segments below the memtable, the memtable,
      * and the store's tombstones applied as filters (broadcast joins over
      * the small delete state). */
    def oracleMessages: DataFrame = {
      val (memtable, deletes) = store.memtableAndDeletes
      val memStart = memtable.headOption.map(_.position).getOrElse(Long.MaxValue)
      val memRows = new java.util.ArrayList[Row]()
      memtable.foreach { r =>
        val ts = new java.sql.Timestamp(Math.floorDiv(r.createdMicros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(r.createdMicros, 1000000L) * 1000L).toInt)
        memRows.add(Row(r.streamId, r.messageId, r.streamVersion, r.position, ts, r.`type`, r.jsonData, r.jsonMetadata))
      }
      var df = spark.read.format("graft.sources.LogSegmentSource").option("path", dir).load()
        .filter(col("position") < memStart)
        .union(spark.createDataFrame(memRows, SparkStreamStore.MessageSchema))
      val streamTombs = deletes.streamTombs
      val cutoffs = deletes.cutoffs
      val msgTombs = deletes.msgTombs
      if (streamTombs.nonEmpty) {
        val st = streamTombs.toSeq.toDF("streamId", "_tombPos")
        df = df.join(broadcast(st), Seq("streamId"), "left_outer")
          .filter(col("_tombPos").isNull || col("position") > col("_tombPos"))
          .drop("_tombPos")
      }
      if (cutoffs.nonEmpty) {
        val cf = cutoffs.toSeq.map { case (s, (c, a)) => (s, c, a) }.toDF("streamId", "_ceil", "_asOf")
        df = df.join(broadcast(cf), Seq("streamId"), "left_outer")
          .filter(col("_ceil").isNull || col("streamVersion") > col("_ceil") || col("position") > col("_asOf"))
          .drop("_ceil", "_asOf")
      }
      if (msgTombs.nonEmpty) df = df.filter(!col("position").isin(msgTombs.toSeq: _*))
      df
    }

    def toMessage(r: org.apache.spark.sql.Row, prefetch: Boolean): StreamMessage =
      StreamMessage(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getTimestamp(4),
        r.getString(5), if (prefetch) r.getString(6) else null, r.getString(7))

    def oracleAllForwards(from: Long, n: Int, prefetch: Boolean): AllView = {
      val fromPos = if (from == Position.End) Long.MaxValue else from
      val rows = oracleMessages.filter(col("position") >= fromPos).orderBy(col("position"))
        .limit(n + 1).collect().map(toMessage(_, prefetch))
      val isEnd = rows.length <= n
      val page = rows.take(n).toSeq
      val next = if (!isEnd) rows(n).position else if (page.nonEmpty) page.last.position + 1 else fromPos
      AllView(page.filterNot(expired), isEnd, next, from)
    }

    def oracleAllBackwards(from: Long, n: Int, prefetch: Boolean): AllView = {
      val fromPos = if (from == Position.End) Long.MaxValue else from
      val rows = oracleMessages.filter(col("position") <= fromPos).orderBy(col("position").desc)
        .limit(n + 1).collect().map(toMessage(_, prefetch))
      if (rows.isEmpty) AllView(Nil, isEnd = true, Position.Start, Position.Start)
      else {
        val isEnd = rows.length <= n
        val kept = rows.take(n).toSeq.filterNot(expired)
        AllView(kept, isEnd, if (!isEnd) rows(n).position else Position.Start,
          kept.headOption.map(_.position).getOrElse(0L))
      }
    }

    def oracleStream(sid: String, from: Int, n: Int, forward: Boolean, prefetch: Boolean): StreamPageView = {
      val headV = store.readStreamHeadVersion(sid)
      val headP = store.readStreamHeadPosition(sid)
      if (headV == StreamVersion.End)
        StreamPageView(PageReadStatus.StreamNotFound, Nil, isEnd = true, StreamVersion.End, StreamVersion.End, Position.End)
      else {
        val v = col("streamVersion")
        val inStream = oracleMessages.filter(col("streamId") === sid)
        val rows = (if (forward) inStream.filter(v >= math.max(from, 0)).orderBy(v)
          else inStream.filter(v <= (if (from == StreamVersion.End) Int.MaxValue else from)).orderBy(v.desc))
          .limit(n + 1).collect().map(toMessage(_, prefetch))
        val isEnd = rows.length <= n
        val next = if (!isEnd) rows(n).streamVersion else if (forward) headV + 1 else StreamVersion.End
        StreamPageView(PageReadStatus.Success, rows.take(n).toSeq.filterNot(expired), isEnd, next, headV, headP)
      }
    }

    def viewOf(p: ReadAllPage) = AllView(p.messages, p.isEnd, p.nextPosition, p.fromPosition)
    def viewOf(p: ReadStreamPage) =
      StreamPageView(p.status, p.messages, p.isEnd, p.nextStreamVersion, p.lastStreamVersion, p.lastStreamPosition)

    /** The first position held in the memtable: one past the flushed log. */
    def memStart: Long = {
      val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("messages")).map(_.getPath)
      val flushed = dirs.flatMap(d => DirectParquet.listSegments(spark.sparkContext.hadoopConfiguration, d))
      flushed.filter(_.rows > 0).map(_.maxPos).maxOption.getOrElse(-1L) + 1
    }

    def settle[T](what: String, oracle: () => T, read: () => T): T = {
      var prev: Option[T] = None
      var attempt = 0
      while (true) {
        val o = oracle()
        val got = read()
        if (got == o) return got
        if (prev.contains(o) || attempt >= 30) assert(got === o, s"seed $seed: $what")
        prev = Some(o)
        attempt += 1
        Thread.sleep(100)
      }
      throw new IllegalStateException
    }

    def compareRandomRead(): Unit = {
      val prefetch = rnd.nextBoolean()
      val n = 1 + rnd.nextInt(12)
      val head = store.readHeadPosition()
      compared += 1
      rnd.nextInt(5) match {
        case 0 | 1 =>
          val from = rnd.nextInt(4) match {
            case 0 => Position.End
            case 1 => rnd.nextInt(3).toLong
            case _ => math.max(0L, head - rnd.nextInt(16))
          }
          val forward = rnd.nextBoolean()
          val what = s"readAll${if (forward) "Forwards" else "Backwards"}($from, $n, $prefetch)"
          val page =
            if (forward) settle(what, () => oracleAllForwards(from, n, prefetch),
              () => viewOf(store.readAllForwards(from, n, prefetch)))
            else settle(what, () => oracleAllBackwards(from, n, prefetch),
              () => viewOf(store.readAllBackwards(from, n, prefetch)))
          val boundary = memStart
          if (page.messages.exists(_.position < boundary) && page.messages.exists(_.position >= boundary))
            straddled += 1
        case 2 =>
          val sid = Streams(rnd.nextInt(Streams.size))
          val v = rnd.nextInt(math.max(1, store.readStreamHeadVersion(sid) + 2))
          settle(s"readMessageData($sid, $v)",
            () => oracleMessages.filter(col("streamId") === sid && col("streamVersion") === v)
              .select("jsonData").collect().headOption.map(_.getString(0)),
            () => store.readMessageData(sid, v))
        case _ =>
          val sid = Streams(rnd.nextInt(Streams.size))
          val forward = rnd.nextBoolean()
          val headV = store.readStreamHeadVersion(sid)
          val from = rnd.nextInt(3) match {
            case 0 => if (forward) StreamVersion.Start else StreamVersion.End
            case _ => rnd.nextInt(math.max(1, headV + 3)) - 1
          }
          settle(s"readStream${if (forward) "Forwards" else "Backwards"}($sid, $from, $n, $prefetch)",
            () => oracleStream(sid, from, n, forward, prefetch),
            () => viewOf(if (forward) store.readStreamForwards(sid, from, n, prefetch)
              else store.readStreamBackwards(sid, from, n, prefetch)))
      }
    }
  }

  test("a single stream-clustered file pages in position order") {
    val dir = SparkTestSession.tempDir("graft-diff-clustered")
    val store = new SparkStreamStore(spark, dir, flushEveryRows = FlushEvery)
    try {
      // streams a and b interleave: a holds the even positions, b the odd
      (0 until 12).foreach { i =>
        store.appendToStream(if (i % 2 == 0) "a" else "b", ExpectedVersion.Any,
          Seq(NewStreamMessage(f"00000000-0000-0000-0001-$i%012d", "t", s"""{"i":$i}""")))
      }
      store.compact(1, "stream")
      val expected = (0L until 12L).toVector

      var forward = Vector.empty[Long]
      var from = Position.Start
      var end = false
      while (!end) {
        val page = store.readAllForwards(from, 5, prefetch = true)
        forward ++= page.messages.map(_.position)
        from = page.nextPosition
        end = page.isEnd
      }
      assert(forward === expected)

      var backward = Vector.empty[Long]
      from = Position.End
      end = false
      while (!end) {
        val page = store.readAllBackwards(from, 5, prefetch = true)
        backward ++= page.messages.map(_.position)
        from = page.nextPosition
        end = page.isEnd
      }
      assert(backward === expected.reverse)
    } finally store.close()
  }

  Seq(11L, 29L).foreach { seed =>
    test(s"driver pages equal the Spark oracle over a random op sequence (seed $seed)") {
      val run = new Run(seed)
      try {
        (0 until 160).foreach(_ => run.step())
        assert(run.compared > 20)
        assert(run.straddled > 0, "no all-stream page straddled the memtable/segment boundary")
      } finally run.store.close()
    }
  }
}

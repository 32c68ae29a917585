package graft.sources

import graft.SparkTestSession
import graft.core.{ExpectedVersion, NewStreamMessage}
import graft.store.SparkStreamStore
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The log table as a micro-batch stream: log positions as offsets, over
  * an empty store, across compactions and across a restart. */
class LogSegmentStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(f"00000000-0000-0000-0000-$n%012d", "t", s"""{"n":$n}"""))

  /** Start `stream`, collecting each non-empty batch's positions. */
  private def collectBatches(stream: DataFrame, checkpoint: Option[String] = None) = {
    val batches = new ConcurrentLinkedQueue[Seq[Long]]()
    val writer = stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val ps = b.select("position").collect().map(_.getLong(0)).toSeq
      if (ps.nonEmpty) batches.add(ps)
      ()
    }
    val q = checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
    (q, batches)
  }

  private def flattened(batches: ConcurrentLinkedQueue[Seq[Long]]): Seq[Long] =
    batches.asScala.toSeq.flatMap(_.sorted)

  test("a stream on an empty store starts, then delivers appends once flushed") {
    val store = new SparkStreamStore(spark, SparkTestSession.tempDir("logstream-empty"))
    try {
      val (q, batches) = collectBatches(store.allMessagesStream)
      try {
        q.processAllAvailable()
        assert(batches.isEmpty)
        store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
        q.processAllAvailable()
        assert(batches.isEmpty, "memtable rows are not in the log table yet")
        store.flush()
        q.processAllAvailable()
        assert(flattened(batches) === Seq(0L, 1L))
      } finally q.stop()
    } finally store.close()
  }

  test("allMessagesStream keeps delivering across two compactions, each position once, in order") {
    val store = new SparkStreamStore(spark, SparkTestSession.tempDir("logstream-compact"))
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(0, 1, 2))
      val (q, batches) = collectBatches(store.allMessagesStream)
      try {
        q.processAllAvailable()
        assert(flattened(batches) === Seq(0L, 1L, 2L))
        // compact flushes 6 and 7 itself, then flips the generation
        store.appendToStream("a", 2, msgs(3, 4, 5))
        store.flush()
        store.appendToStream("b", ExpectedVersion.NoStream, msgs(6, 7))
        store.compact(1)
        q.processAllAvailable()
        assert(flattened(batches) === (0L to 7L))
        // the second compaction deletes the first generation directory
        store.appendToStream("b", 1, msgs(8, 9))
        store.compact(1)
        store.appendToStream("b", 3, msgs(10))
        store.flush()
        q.processAllAvailable()
        assert(flattened(batches) === (0L to 10L))
        val ranges = batches.asScala.toSeq.map(b => (b.min, b.max))
        assert(ranges.zip(ranges.drop(1)).forall { case (a, b) => a._2 < b._1 },
          s"batches out of position order: $ranges")
      } finally q.stop()
    } finally store.close()
  }

  test("the compaction of a fully deleted log does not stall the stream") {
    val store = new SparkStreamStore(spark, SparkTestSession.tempDir("logstream-empty-gen"), trackDeletes = false)
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(0, 1))
      val (q, batches) = collectBatches(store.allMessagesStream)
      try {
        q.processAllAvailable()
        store.deleteStream("a")
        store.compact(1) // the live generation holds one file with no rows
        store.appendToStream("b", ExpectedVersion.NoStream, msgs(2))
        store.flush()
        q.processAllAvailable()
        assert(flattened(batches) === Seq(0L, 1L, 2L))
      } finally q.stop()
    } finally store.close()
  }

  test("a stream addressed by path resumes after its committed position on restart, across a compaction") {
    val dir = SparkTestSession.tempDir("logstream-restart")
    val checkpoint = SparkTestSession.tempDir("logstream-restart-ckpt")
    val store = new SparkStreamStore(spark, dir)
    def run(): Seq[Long] = {
      val stream = spark.readStream.format("graft.sources.LogSegmentSource").option("path", dir).load()
      val (q, batches) = collectBatches(stream, Some(checkpoint))
      try { q.processAllAvailable(); flattened(batches) } finally q.stop()
    }
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(0, 1, 2))
      store.flush()
      assert(run() === Seq(0L, 1L, 2L))
      store.appendToStream("a", 2, msgs(3, 4))
      store.compact(1) // one file holds 0..4, straddling the committed offset 2
      assert(run() === Seq(3L, 4L))
      // the offset JSON is the bare position, as for JdbcLogSource
      val offsets = new java.io.File(checkpoint, "offsets").listFiles().filter(_.getName.forall(_.isDigit))
      val latest = offsets.maxBy(_.getName.toLong)
      assert(java.nio.file.Files.readAllLines(latest.toPath).asScala.last === "4")
    } finally store.close()
  }
}

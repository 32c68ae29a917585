package graft.sources

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** The micro-batch stream of both store logs ([[JdbcLogSource]],
  * [[LogSegmentSource]]): offsets are log positions (the store-wide dense
  * sequence), and a batch is the position range `(start, end]`. A range is
  * replayable, so re-running a committed batch re-reads the same rows —
  * the replayable, offset-based source of Structured Streaming. A backend
  * supplies its head, the partitions of a range and its reader factory.
  *
  * `fromPosition` is the exclusive start of the first batch. */
private[sources] abstract class PositionLogStream(fromPosition: Long) extends MicroBatchStream {

  /** The highest position a batch can read now; -1 for an empty log. */
  protected def head(): Long

  /** Partitions that read exactly the positions in `(lo, hi]`, `lo < hi`. */
  protected def partitions(lo: Long, hi: Long): Array[InputPartition]

  final override def initialOffset(): Offset = PositionOffset(fromPosition)

  final override def latestOffset(): Offset = PositionOffset(math.max(fromPosition, head()))

  final override def deserializeOffset(json: String): Offset =
    PositionOffset(json.trim.toLongOption.getOrElse(throw new IllegalStateException(
      s"offset $json is not a log position: the checkpoint was written by another source")))

  final override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[PositionOffset].position
    val hi = end.asInstanceOf[PositionOffset].position
    if (hi <= lo) Array.empty else partitions(lo, hi)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = highest position included so far (exclusive start of the
  * next batch); its JSON is the bare position. */
private[sources] case class PositionOffset(position: Long) extends Offset {
  override def json(): String = position.toString
}

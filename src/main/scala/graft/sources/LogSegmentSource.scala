package graft.sources

import graft.store.{DirectParquet, MessageRow}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util.{Map => JMap, OptionalLong}
import scala.jdk.CollectionConverters._

/** DataSource V2 over a [[graft.store.SparkStreamStore]] segment log —
  * the store's PHYSICAL message log (the append-only firehose) as a
  * first-class Spark table. It streams (`spark.readStream`, the store's
  * `allMessagesStream`) as a micro-batch source with log positions as
  * offsets, [[PositionLogStream]], the same core as [[JdbcLogSource]].
  * It reads in batch with the pushdowns a 100 TB log needs:
  *
  *   - '''planning-time segment pruning''': every segment is position-
  *     sorted (`SparkStreamStore.flushMemtable` writes each group-commit
  *     window at `part-<startPosition>-*`; `SparkStreamStore.compact`
  *     range-partitions its generation on position by default), so one
  *     footer-stats read per file at plan time yields an exact
  *     `[minPos, maxPos]` zone map and position-range predicates drop
  *     whole segments before any task is scheduled. A tail read of a
  *     year-long log plans O(tail) partitions, not O(log) — the DSv2 twin
  *     of the keyset page reads (SURVEY §2.1 #1-4, ref
  *     `ReadAll.sql:35-40`).
  *   - '''column pruning''' pushed into the parquet record reader
  *     (`jsonData` payloads never leave the file for metadata-only scans —
  *     the DSv2 twin of `prefetchJsonData=false`, SURVEY §2.1 #5, ref
  *     `Read.sql:36-38`).
  *   - '''limit pushdown''': each reader stops after `limit` rows, so
  *     `LIMIT n` probes touch at most one row group per planned segment.
  *   - '''statistics''' (bytes + exact row count from the same footers)
  *     so Catalyst can size joins against the log correctly.
  *
  * Position filters are used for pruning but re-evaluated by Spark after
  * the scan (they are reported as unhandled residuals): row-level filtering
  * stays in codegen while file skipping happens here — the same contract
  * parquet zone maps give the built-in reader, lifted to whole segments.
  *
  * Deletes are logical in this store (tombstones applied by the read
  * API and by `allMessages`, which reads this table and filters it); both
  * the batch table and the stream expose the append-only physical log.
  *
  * The stream's head is the highest position among the live generation's
  * segments, re-resolved at every trigger, so a compaction's generation
  * flip never strands it; a trigger reads only the footers of new
  * segments. A batch `(start, end]` reads the segments that overlap it,
  * and one that straddles a bound (a compacted file, say) is filtered to
  * the range, so each position arrives exactly once. Rows enter the
  * stream when their segment is flushed: the store's memtable lives only
  * in its driver.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.LogSegmentSource")
  *   .option("path", storeRootDir)       // the store's root directory
  *   .load()
  *   .filter($"position" >= tailStart)   // prunes segments at plan time
  *   .select("streamId", "position")     // never decodes jsonData
  *
  * spark.readStream.format("graft.sources.LogSegmentSource")
  *   .option("path", storeRootDir)       // every flushed position, in order
  *   .load()
  * }}}
  */
class LogSegmentSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.store.SparkStreamStore.MessageSchema
  override def getTable(schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new LogSegmentTable(properties.asScala.toMap)
}

object LogSegmentSource {
  val Schema: StructType = graft.store.SparkStreamStore.MessageSchema

  /** The inclusive position interval implied by the pushable filters. */
  private[sources] def positionBounds(filters: Seq[Filter]): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    filters.foreach {
      case EqualTo("position", v: Long)            => lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThan("position", v: Long)        => if (v < Long.MaxValue) lo = math.max(lo, v + 1)
      case GreaterThanOrEqual("position", v: Long) => lo = math.max(lo, v)
      case LessThan("position", v: Long)           => if (v > Long.MinValue) hi = math.min(hi, v - 1)
      case LessThanOrEqual("position", v: Long)    => hi = math.min(hi, v)
      case _                                       => ()
    }
    (lo, hi)
  }

  private[sources] def isPositionRangeFilter(f: Filter): Boolean = f match {
    case EqualTo("position", _: Long) | GreaterThan("position", _: Long) |
        GreaterThanOrEqual("position", _: Long) | LessThan("position", _: Long) |
        LessThanOrEqual("position", _: Long) => true
    case _ => false
  }

  /** The output schema of an aggregation answerable from footer stats
    * alone: ungrouped max/min(position) and count(*), in any mix. None
    * when any aggregate (or a grouping) needs real rows. */
  private[sources] def footerAggSchema(agg: Aggregation): Option[StructType] = {
    if (agg.groupByExpressions.nonEmpty) return None
    def isPosition(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case n: NamedReference => n.fieldNames.sameElements(Array("position"))
      case _ => false
    }
    val fields = agg.aggregateExpressions.map {
      case m: Max if isPosition(m.column) => StructField("max(position)", LongType)
      case m: Min if isPosition(m.column) => StructField("min(position)", LongType)
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case _ => return None
    }
    Some(StructType(fields.toIndexedSeq))
  }
}

private class LogSegmentTable(props: Map[String, String]) extends Table with SupportsRead {
  private val root = props.getOrElse("path",
    throw new IllegalArgumentException("graft.sources.LogSegmentSource requires option 'path' (store root)"))

  override def name(): String = s"graft-log($root)"
  override def schema(): StructType = LogSegmentSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogSegmentScanBuilder(root)
}

private class LogSegmentScanBuilder(root: String)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private var required: StructType = LogSegmentSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggSchema: Option[StructType] = None

  // one metadata pass per query planning, shared with the scan; its
  // readers get the same configuration, the one `spark.read.parquet`
  // would use (the context's, plus the session's SQL settings)
  private lazy val conf: Configuration = SparkSession.active.sessionState.newHadoopConf()
  private lazy val allSegments: Seq[DirectParquet.Segment] = {
    val fs = new HPath(root).getFileSystem(conf)
    DirectParquet.listSegments(conf, DirectParquet.generationDir(root, DirectParquet.liveGeneration(fs, root)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(LogSegmentSource.isPositionRangeFilter)
    // every filter (including the pushed range ones) stays a residual:
    // pruning here is file-granular; row-level evaluation remains in
    // Spark's codegen — the zone-map contract
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = l; false } // partial: per-reader cap only

  /** max/min(position) and count(*) answered ENTIRELY from the segment
    * footers already read for the zone map — the head-of-log probe
    * (`ReadHeadPosition`, SURVEY §2.4 #22, ref `ReadHeadPosition.sql`)
    * becomes a metadata-only plan: no task ever opens a row group.
    * Complete pushdown only, ungrouped only, and only when every
    * segment carried real position stats; Spark offers aggregates here
    * only when no residual filters exist, which matches: the footer
    * totals describe the whole (physical) log. */
  private def canPushAgg(agg: Aggregation): Boolean =
    LogSegmentSource.footerAggSchema(agg).isDefined && pushed.isEmpty &&
      allSegments.forall(_.minPos != Long.MinValue) // every footer had real stats

  override def supportCompletePushDown(agg: Aggregation): Boolean = canPushAgg(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPushAgg(agg)) return false
    aggSchema = LogSegmentSource.footerAggSchema(agg)
    true
  }

  override def build(): Scan =
    new LogSegmentScan(root, conf, allSegments, required, pushed, limit, aggSchema)
}

private class LogSegmentScan(
    root: String,
    conf: Configuration,
    allSegments: => Seq[DirectParquet.Segment],
    required: StructType,
    pushed: Array[Filter],
    limit: Int,
    aggSchema: Option[StructType])
  extends Scan with Batch with SupportsReportStatistics {

  private lazy val segments: Seq[DirectParquet.Segment] = {
    val (lo, hi) = LogSegmentSource.positionBounds(pushed.toSeq)
    allSegments.filter(s => s.maxPos >= lo && s.minPos <= hi)
  }

  override def readSchema(): StructType = aggSchema.getOrElse(required)
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogSegmentStream(root, conf, required.fieldNames)

  override def description(): String = {
    val cols = readSchema().fieldNames.mkString(",")
    val fs = pushed.map(_.toString).mkString(", ")
    s"graft-log root=$root ReadSchema=[$cols] PushedFilters=[$fs]" +
      (if (limit >= 0) s" PushedLimit=$limit" else "") +
      (if (aggSchema.isDefined) " PushedAggregates=footer-stats" else "")
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(segments.map(_.bytes).sum)
    override def numRows(): OptionalLong = OptionalLong.of(segments.map(_.rows).sum)
  }

  override def planInputPartitions(): Array[InputPartition] = aggSchema match {
    case Some(s) =>
      // one synthetic partition carrying the footer-derived answer
      // (canPushAgg already refused degenerate-stats segments); an empty
      // log yields one (null, null, 0) row — Spark's ungrouped-
      // aggregate-on-empty semantics
      val rows = segments.map(_.rows).sum
      val minPos: java.lang.Long =
        if (segments.isEmpty) null else java.lang.Long.valueOf(segments.map(_.minPos).min)
      val maxPos: java.lang.Long =
        if (segments.isEmpty) null else java.lang.Long.valueOf(segments.map(_.maxPos).max)
      Array(LogFooterAggPartition(s.fieldNames, minPos, maxPos, rows))
    case None =>
      segments.map(s => LogSegmentPartition(s.path, s.bytes, required.fieldNames, limit, None): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = LogSegmentReaderFactory(conf)
}

/** The table's micro-batch stream (see the class doc of [[LogSegmentSource]]). */
private class LogSegmentStream(root: String, conf: Configuration, columns: Array[String])
  extends PositionLogStream(-1L) {
  private var footers = Map.empty[String, DirectParquet.Segment]

  /** The live generation's non-empty segments (an empty one, such as the
    * compaction of a fully deleted log, has no position range). */
  private def live(): Seq[DirectParquet.Segment] = synchronized {
    val fs = new HPath(root).getFileSystem(conf)
    val segments = DirectParquet.listSegments(conf,
      DirectParquet.generationDir(root, DirectParquet.liveGeneration(fs, root)), footers)
    footers = segments.map(s => s.path -> s).toMap
    segments.filter(_.rows > 0)
  }

  override protected def head(): Long = live().map(_.maxPos).maxOption.getOrElse(-1L)

  override protected def partitions(lo: Long, hi: Long): Array[InputPartition] =
    live().filter(s => s.maxPos > lo && s.minPos <= hi).map { s =>
      val range = if (s.minPos > lo && s.maxPos <= hi) None else Some((lo + 1, hi))
      LogSegmentPartition(s.path, s.bytes, columns, -1, range): InputPartition
    }.toArray

  // one broadcast for the stream's life, not one per trigger
  private lazy val readerFactory = LogSegmentReaderFactory(conf)
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** One segment to read: `columns`, at most `limit` rows when >= 0, and
  * only the positions in the inclusive range `positions` when set. */
private case class LogSegmentPartition(path: String, bytes: Long, columns: Array[String], limit: Int,
    positions: Option[(Long, Long)])
  extends InputPartition

/** The footer-derived answer to a fully-pushed aggregation: one row,
  * no file opened at execution time. */
private case class LogFooterAggPartition(
    fields: Array[String], minPos: java.lang.Long, maxPos: java.lang.Long, rows: Long)
  extends InputPartition

private object LogSegmentReaderFactory {
  // broadcast, as Spark's own file scans do: a broadcast value is
  // deserialized once per executor, the task binary by every task (~10 ms
  // for the ~1,100 keys of a default configuration)
  def apply(conf: Configuration): LogSegmentReaderFactory =
    new LogSegmentReaderFactory(SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf)))
}

private class LogSegmentReaderFactory(conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case a: LogFooterAggPartition => new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = InternalRow.fromSeq(
        a.fields.toIndexedSeq.map {
          case "max(position)" => if (a.maxPos == null) null else a.maxPos.longValue()
          case "min(position)" => if (a.minPos == null) null else a.minPos.longValue()
          case "count(*)"      => a.rows
        })
      override def close(): Unit = ()
    }
    case p: LogSegmentPartition => createRowReader(p)
  }

  /** Rows through the store's own segment decoder
    * ([[graft.store.DirectParquet.read]]), converted to the pruned
    * columns. */
  private def createRowReader(p: LogSegmentPartition): PartitionReader[InternalRow] = {
    val path = new HPath(p.path)
    val hconf = conf.value.value
    val rows = DirectParquet.read(hconf,
      DirectParquet.inputFile(path.getFileSystem(hconf), path, p.bytes), p.columns.toSeq,
      p.positions.map { case (lo, hi) => DirectParquet.positionRange(lo, hi) })

    new PartitionReader[InternalRow] {
      private var current: MessageRow = _
      private var emitted = 0L

      override def next(): Boolean = {
        if (p.limit >= 0 && emitted >= p.limit || !rows.hasNext) return false
        current = rows.next()
        emitted += 1
        true
      }

      override def get(): InternalRow = {
        val r = current
        InternalRow.fromSeq(p.columns.toIndexedSeq.map {
          case "streamId" => UTF8String.fromString(r.streamId)
          case "messageId" => UTF8String.fromString(r.messageId)
          case "streamVersion" => r.streamVersion
          case "position" => r.position
          case "createdUtc" => r.createdMicros
          case "type" => UTF8String.fromString(r.`type`)
          case "jsonData" => UTF8String.fromString(r.jsonData)
          case "jsonMetadata" => UTF8String.fromString(r.jsonMetadata)
        })
      }

      override def close(): Unit = rows.close()
    }
  }
}

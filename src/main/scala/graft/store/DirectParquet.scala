package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile, HadoopStreams}
import org.apache.parquet.io.{InputFile, SeekableInputStream}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import scala.jdk.CollectionConverters._

/** One message-log row as the store holds it on the driver (memtable, WAL,
  * segment reads). `createdMicros` is microseconds since the epoch, UTC. */
private[graft] final case class MessageRow(
    streamId: String, messageId: String, streamVersion: Int, position: Long,
    createdMicros: Long, `type`: String, jsonData: String, jsonMetadata: String)

/** Driver-local parquet I/O for log segments, without a Spark job.
  *
  * [[write]] turns one group-commit window into one sorted segment
  * (appends are driver-serialized anyway; a job per flush would pay
  * ~100 ms of scheduling for ~1 ms of IO). The physical schema matches
  * what Spark's parquet reader maps to `SparkStreamStore.MessageSchema`
  * (INT64 TIMESTAMP(MICROS, UTC) for createdUtc).
  *
  * [[listSegments]] reads the footers into a position zone map and
  * [[read]] is the one segment decoder: the store's paged reads, its
  * cold id-chain loads and recovery, and the `LogSegmentSource` DSv2
  * reader all go through it. It reads any generation — flushed segments
  * and Spark-written compacted files (optional fields, INT96 timestamps
  * from before the store pinned TIMESTAMP_MICROS) — skips row groups and
  * pages whose statistics miss the filter (a position range or set, or
  * one stream id), decodes column by column, and builds strings and rows
  * only for the rows that match. */
private[graft] object DirectParquet {
  import org.apache.parquet.schema.Types.{buildMessage => newSchema}

  val Schema: MessageType = newSchema()
    .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("streamId")
    .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("messageId")
    .required(PrimitiveTypeName.INT32).named("streamVersion")
    .required(PrimitiveTypeName.INT64).named("position")
    .required(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)).named("createdUtc")
    .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("type")
    .optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("jsonData")
    .optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("jsonMetadata")
    .named("graft_messages")

  val AllColumns: Seq[String] = Schema.getFields.asScala.map(_.getName).toSeq

  /** Rows per data page: the page index then lets a point or short-range
    * read decode a few pages per column instead of the whole segment. */
  private val PageRows = 256

  def write(conf: Configuration, path: HPath, rows: Seq[MessageRow]): Unit = {
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withPageRowCountLimit(PageRows)
      .build()
    val factory = new SimpleGroupFactory(Schema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.append("streamId", r.streamId)
      g.append("messageId", r.messageId)
      g.append("streamVersion", r.streamVersion)
      g.append("position", r.position)
      g.append("createdUtc", r.createdMicros)
      g.append("type", r.`type`)
      if (r.jsonData != null) g.append("jsonData", r.jsonData)
      if (r.jsonMetadata != null) g.append("jsonMetadata", r.jsonMetadata)
      writer.write(g)
    } finally writer.close()
  }

  /** The messages directory of generation `g` under a store root. */
  def generationDir(root: String, g: Long): String =
    if (g == 0L) root + "/messages" else root + s"/messages-g$g"

  /** Every messages generation directory under `root`: (generation, path). */
  def generationDirs(fs: FileSystem, root: String): Seq[(Long, String)] = {
    val rootPath = new HPath(root)
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n == "messages") Some(0L -> st.getPath.toString)
      else if (n.startsWith("messages-g"))
        n.drop("messages-g".length).toLongOption.map(_ -> st.getPath.toString)
      else None
    }
  }

  /** The live messages generation of a store root: `CURRENT` names it; if
    * absent or corrupt (a crash inside its truncating overwrite can leave
    * it empty), the highest COMPLETE generation (Spark leaves a `_SUCCESS`
    * marker; compact never flips the pointer before the write finishes),
    * else the plain `messages/` dir. The store and `LogSegmentSource` both
    * resolve it here. */
  def liveGeneration(fs: FileSystem, root: String): Long = {
    val current = new HPath(root + "/CURRENT")
    val named =
      if (!fs.exists(current)) None
      else {
        val in = fs.open(current)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(current).getLen.toInt)
          in.readFully(0, bytes)
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
        } finally in.close()
      }
    named.getOrElse {
      generationDirs(fs, root).filter { case (g, p) => g == 0L || fs.exists(new HPath(p, "_SUCCESS")) }
        .map(_._1).maxOption.getOrElse(0L)
    }
  }

  /** One log segment with its footer-derived zone map. */
  final case class Segment(path: String, bytes: Long, rows: Long, minPos: Long, maxPos: Long)

  /** List the segments of one messages generation and read each footer
    * ONCE for exact position min/max + row count. Driver-side metadata
    * pass, one footer IO per segment not in `known` (segments by path; a
    * published segment never changes): the store's zone map and
    * `LogSegmentSource`'s planning-time pruning both come from it. */
  def listSegments(conf: Configuration, dir: String,
      known: Map[String, Segment] = Map.empty): Seq[Segment] = {
    val fs = new HPath(dir).getFileSystem(conf)
    if (!fs.exists(new HPath(dir))) return Seq.empty
    fs.listStatus(new HPath(dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map(st => known.getOrElse(st.getPath.toString, {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val footer = reader.getFooter
          var rows = 0L
          var minPos = Long.MaxValue
          var maxPos = Long.MinValue
          val posIdx = footer.getFileMetaData.getSchema.getFieldIndex("position")
          footer.getBlocks.asScala.foreach { block =>
            rows += block.getRowCount
            val stats: org.apache.parquet.column.statistics.Statistics[_] =
              block.getColumns.get(posIdx).getStatistics
            if (stats != null && stats.hasNonNullValue) {
              minPos = math.min(minPos, stats.genericGetMin.asInstanceOf[java.lang.Long])
              maxPos = math.max(maxPos, stats.genericGetMax.asInstanceOf[java.lang.Long])
            }
          }
          // a segment with no stats (shouldn't happen: position is required)
          // gets an infinite range so it is never wrongly pruned
          if (minPos > maxPos) { minPos = Long.MinValue; maxPos = Long.MaxValue }
          Segment(st.getPath.toString, st.getLen, rows, minPos, maxPos)
        } finally reader.close()
      }))
  }

  /** A segment file opened through an existing FileSystem instance, with
    * its length known from the zone map — no per-open filesystem lookup
    * or status call. */
  def inputFile(fs: FileSystem, path: HPath, length: Long): InputFile = new InputFile {
    override def getLength: Long = length
    override def newStream(): SeekableInputStream = HadoopStreams.wrap(fs.open(path))
  }

  private val Position = FilterApi.longColumn("position")
  private val StreamIdColumn = FilterApi.binaryColumn("streamId")

  /** A row filter on one column: parquet skips the row groups and pages
    * whose statistics (or dictionary) miss `predicate`, and [[read]]
    * decodes `column` first and keeps a remaining row when its value
    * matches. */
  sealed abstract class RowFilter private[DirectParquet] (val predicate: FilterPredicate, val column: String)

  /** Rows whose position `keep` accepts. */
  final class PositionFilter private[DirectParquet] (predicate: FilterPredicate, val keep: Long => Boolean)
    extends RowFilter(predicate, "position")

  /** Rows of one stream. */
  final class StreamFilter private[DirectParquet] (val streamId: String, val bytes: Binary)
    extends RowFilter(FilterApi.eq[Binary, Operators.BinaryColumn](StreamIdColumn, bytes), "streamId")

  def streamIs(streamId: String): StreamFilter = new StreamFilter(streamId, Binary.fromString(streamId))

  /** Rows with `lo <= position <= hi`. */
  def positionRange(lo: Long, hi: Long): PositionFilter =
    new PositionFilter(
      FilterApi.and(
        FilterApi.gtEq[java.lang.Long, Operators.LongColumn](Position, java.lang.Long.valueOf(lo)),
        FilterApi.ltEq[java.lang.Long, Operators.LongColumn](Position, java.lang.Long.valueOf(hi))),
      p => p >= lo && p <= hi)

  /** Rows whose position is one of `positions`. */
  def positionIn(positions: Iterable[Long]): PositionFilter = {
    val sorted = positions.toArray.sorted
    new PositionFilter(
      FilterApi.in[java.lang.Long, Operators.LongColumn](Position, sorted.iterator.map(java.lang.Long.valueOf).toSet.asJava),
      p => java.util.Arrays.binarySearch(sorted, p) >= 0)
  }

  /** A decoded segment: rows in file order, closed by the caller. */
  trait Rows extends Iterator[MessageRow] with AutoCloseable

  /** Decode the `columns` of one segment (columns absent from the file
    * and unprojected ones come back null / 0; a filtered read also
    * decodes the filter's column), keeping rows that match `filter`.
    * `conf` is the caller's long-lived configuration: the read options
    * are derived from it per open (they own a codec factory that closing
    * the reader releases), never from a freshly loaded Hadoop
    * configuration, which re-parses its resource files. */
  def read(conf: Configuration, file: InputFile, columns: Seq[String],
      filter: Option[RowFilter]): Rows = {
    val compat = filter.map(f => FilterCompat.get(f.predicate)).getOrElse(FilterCompat.NOOP)
    val options = HadoopReadOptions.builder(conf).withRecordFilter(compat).build()
    val reader = ParquetFileReader.open(file, options)
    try {
      val meta = reader.getFooter.getFileMetaData
      val fileSchema = meta.getSchema
      val wanted = (columns ++ filter.map(_.column)).distinct
      val projection = projectionOf(fileSchema, wanted.filter(fileSchema.containsField))
      reader.setRequestedSchema(projection)
      val rowFilter = filter // `filter` is Iterator's inside Rows
      new Rows {
        private var group: RowGroup = _
        private var batch = Array.empty[MessageRow]
        private var i = 0
        private var done = false

        override def hasNext: Boolean = {
          while (i == batch.length && !done) {
            if (group != null && group.left > 0) {
              batch = group.nextBatch()
              i = 0
            } else {
              val pages = reader.readNextFilteredRowGroup()
              if (pages == null) done = true
              else group = new RowGroup(pages, projection, meta.getCreatedBy, rowFilter)
            }
          }
          i < batch.length
        }

        override def next(): MessageRow = {
          if (!hasNext) throw new NoSuchElementException
          i += 1
          batch(i - 1)
        }

        override def close(): Unit = reader.close()
      }
    } catch { case t: Throwable => reader.close(); throw t }
  }

  /** Parquet projection for `columns`, built from the FILE's own schema so
    * field repetition matches exactly (the direct writer marks required
    * fields `required`; Spark-written compacted generations may mark the
    * same fields `optional` — parquet's projection check demands the
    * requested repetition agree). */
  private def projectionOf(fileSchema: MessageType, columns: Seq[String]): MessageType =
    new MessageType(fileSchema.getName,
      columns.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)

  /** Input rows one decode step reads per column: bounds the rows held
    * at once for a whole-file scan. */
  private val BatchRows = 1024

  /** One row group read column by column: the filter's column first,
    * which decides the kept rows, then every other column, skipping the
    * values of dropped rows undecoded — only kept rows get strings and a
    * [[MessageRow]]. Every column is a flat required or optional field,
    * so each row holds exactly one value (or null) per column. */
  private final class RowGroup(pages: PageReadStore, projection: MessageType, createdBy: String,
      filter: Option[RowFilter]) {
    private val store = new ColumnReadStoreImpl(pages, IgnoreValues, projection, createdBy)
    private def column(name: String): ColumnReader =
      if (projection.containsField(name)) store.getColumnReader(projection.getColumnDescription(Array(name)))
      else null
    private val streamId = column("streamId")
    private val messageId = column("messageId")
    private val version = column("streamVersion")
    private val position = column("position")
    private val created = column("createdUtc")
    private val tpe = column("type")
    private val jsonData = column("jsonData")
    private val jsonMetadata = column("jsonMetadata")
    private val int96 = created != null &&
      created.getDescriptor.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT96

    /** Rows of the group not yet read. */
    var left: Long = pages.getRowCount

    def nextBatch(): Array[MessageRow] = {
      val n = math.min(left, BatchRows.toLong).toInt
      left -= n
      def positions(keep: Array[Boolean]): Array[Long] = {
        val out = new Array[Long](if (keep == null) n else keep.count(identity))
        scan(position, keep, n)(k => out(k) = position.getLong)
        out
      }
      val (keep, pos) = filter match {
        case Some(f: StreamFilter) =>
          val keep = new Array[Boolean](n)
          scan(streamId, null, n)(k => keep(k) = streamId.getBinary == f.bytes)
          (keep, positions(keep))
        case Some(f: PositionFilter) =>
          val all = positions(null)
          val keep = all.map(f.keep)
          (keep, all.indices.iterator.filter(i => keep(i)).map(i => all(i)).toArray)
        case None => (null, positions(null))
      }
      val kept = pos.length
      def strings(r: ColumnReader): Array[String] = {
        val out = new Array[String](kept)
        scan(r, keep, n)(k => out(k) = r.getBinary.toStringUsingUTF8)
        out
      }
      val versions = new Array[Int](kept)
      scan(version, keep, n)(k => versions(k) = version.getInteger)
      val micros = new Array[Long](kept)
      scan(created, keep, n)(k => micros(k) = if (int96) int96Micros(created.getBinary) else created.getLong)
      val sids = filter match {
        case Some(f: StreamFilter) => Array.fill(kept)(f.streamId) // its column is read
        case _ => strings(streamId)
      }
      val mids = strings(messageId)
      val types = strings(tpe)
      val data = strings(jsonData)
      val meta = strings(jsonMetadata)
      Array.tabulate(kept)(k => MessageRow(sids(k), mids(k), versions(k), pos(k), micros(k), types(k), data(k), meta(k)))
    }

    /** Advance `r` (absent: nothing to read) over the next `n` rows, calling
      * `take(k)` with the reader on the k-th kept row's non-null value;
      * every other value is skipped undecoded. `keep == null` keeps all. */
    private def scan(r: ColumnReader, keep: Array[Boolean], n: Int)(take: Int => Unit): Unit =
      if (r != null) {
        val maxDef = r.getDescriptor.getMaxDefinitionLevel
        var i = 0
        var k = 0
        while (i < n) {
          val present = r.getCurrentDefinitionLevel == maxDef
          if (keep == null || keep(i)) {
            if (present) take(k)
            k += 1
          } else if (present) r.skip()
          r.consume()
          i += 1
        }
      }
  }

  /** Generations Spark compacted under its default INT96 encoding carry a
    * 12-byte julian-day value: 8B nanos-of-day, 4B day (little-endian). */
  private def int96Micros(v: Binary): Long = {
    val buf = v.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400L * 1000000L + nanosOfDay / 1000L
  }

  /** The converter tree `ColumnReadStoreImpl` asks for: values are read
    * from the column readers directly, never pushed to a converter. */
  private object IgnoreValues extends GroupConverter {
    private val ignore = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = ignore
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}

package graft.store

import graft.SparkTestSession
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The column-wise segment decoder against Spark's own parquet reader:
  * for random position sets and ranges (and no filter), with and without
  * `jsonData`, [[DirectParquet.read]] returns exactly the rows
  * `spark.read.parquet` returns, over directly flushed segments,
  * Spark-written generations in both clusterings (optional fields,
  * several row groups and pages), a legacy INT96 generation, and rows
  * whose `jsonMetadata` (or `jsonData`) is null. */
class DirectParquetDecodeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val conf = spark.sparkContext.hadoopConfiguration
  private val Rows = 1500

  private val StreamReadColumns = Seq("position", "createdUtc", "type", "jsonMetadata")
  private val Projections = Seq(
    DirectParquet.AllColumns,
    DirectParquet.AllColumns.filterNot(_ == "jsonData"),
    StreamReadColumns,
    StreamReadColumns :+ "jsonData")

  /** `Rows` log rows at positions with a few gaps, 12 streams with dense
    * versions; a null `jsonData` in one row of five, a null
    * `jsonMetadata` in every other row and in all of the last 200. */
  private def logRows(seed: Long): IndexedSeq[MessageRow] = {
    val rnd = new Random(seed)
    val versions = Array.fill(12)(-1)
    var position = -1L
    (0 until Rows).map { i =>
      position += 1 + (if (rnd.nextInt(20) == 0) rnd.nextInt(3) else 0)
      val s = rnd.nextInt(12)
      versions(s) += 1
      MessageRow(s"stream-$s", f"00000000-0000-0000-0000-$i%012d", versions(s), position,
        1767225600000000L + rnd.nextInt(1 << 30) * 1000L + rnd.nextInt(1000),
        Seq("Added", "Removed", "Renamed")(rnd.nextInt(3)),
        if (rnd.nextInt(5) == 0) null else s"""{"n":$i,"note":"${rnd.alphanumeric.take(rnd.nextInt(80)).mkString}"}""",
        if (i >= Rows - 200 || rnd.nextBoolean()) null else s"""{"m":$i}""")
    }
  }

  private val NullableSchema = StructType(SparkStreamStore.MessageSchema.map(_.copy(nullable = true)))

  /** Write `rows` as Spark would compact them: range-partitioned and
    * sorted by position or by (streamId, streamVersion), into small row
    * groups and pages, with `createdUtc` as `timestampType`. */
  private def sparkWrite(dir: String, rows: Seq[MessageRow], clustering: String, timestampType: String): Unit = {
    val df = spark.createDataFrame(rows.map(r => Row(r.streamId, r.messageId, r.streamVersion, r.position,
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(r.createdMicros * 1000L)), r.`type`, r.jsonData, r.jsonMetadata)).asJava, NullableSchema)
    val clustered =
      if (clustering == "stream")
        df.repartitionByRange(3, col("streamId"), col("streamVersion")).sortWithinPartitions("streamId", "streamVersion")
      else df.repartitionByRange(3, col("position")).sortWithinPartitions("position")
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, timestampType)
    try clustered.write.mode("overwrite")
      .option("parquet.block.size", 16384).option("parquet.page.size", 2048)
      .parquet(dir)
    finally spark.conf.unset(key)
  }

  private def footer(s: DirectParquet.Segment): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(s.path), conf))
    try reader.getFooter finally reader.close()
  }

  private def field(s: DirectParquet.Segment, name: String): org.apache.parquet.schema.Type = {
    val schema = footer(s).getFileMetaData.getSchema
    schema.getType(schema.getFieldIndex(name))
  }

  /** Every row of `dir` as Spark reads it, in position order. */
  private def oracle(dir: String): IndexedSeq[MessageRow] =
    spark.read.schema(SparkStreamStore.MessageSchema).parquet(dir)
      .selectExpr("streamId", "messageId", "streamVersion", "position", "unix_micros(createdUtc)",
        "type", "jsonData", "jsonMetadata")
      .collect().toIndexedSeq
      .map(r => MessageRow(r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getString(5), r.getString(6), r.getString(7)))
      .sortBy(_.position)

  /** What a read of `columns` returns for `r`: unread columns null / 0. */
  private def projected(r: MessageRow, columns: Seq[String]): MessageRow = {
    def has(c: String) = columns.contains(c)
    MessageRow(if (has("streamId")) r.streamId else null, if (has("messageId")) r.messageId else null,
      if (has("streamVersion")) r.streamVersion else 0, if (has("position")) r.position else 0L,
      if (has("createdUtc")) r.createdMicros else 0L, if (has("type")) r.`type` else null,
      if (has("jsonData")) r.jsonData else null, if (has("jsonMetadata")) r.jsonMetadata else null)
  }

  private def decode(dir: String, columns: Seq[String],
      filter: Option[DirectParquet.PositionFilter]): IndexedSeq[MessageRow] = {
    val segments = DirectParquet.listSegments(conf, dir)
    assert(segments.nonEmpty)
    segments.flatMap { s =>
      val path = new HPath(s.path)
      val rows = DirectParquet.read(conf, DirectParquet.inputFile(path.getFileSystem(conf), path, s.bytes),
        columns, filter)
      try rows.toVector finally rows.close()
    }.toIndexedSeq
  }

  /** Random position sets (present and absent positions) and ranges, and
    * no filter, each under every projection, against the oracle. */
  private def checkAgainstSpark(dir: String, seed: Long): Unit = {
    val all = oracle(dir)
    assert(all.size === Rows)
    val rnd = new Random(seed)
    val top = all.last.position + 3
    def randomPos() = rnd.nextInt(top.toInt).toLong
    val filters: Seq[(String, Option[DirectParquet.PositionFilter], Long => Boolean)] =
      Seq(("no filter", None, (_: Long) => true)) ++
        (0 until 12).map { i =>
          val ps = Seq.fill(if (i == 0) 1 else 1 + rnd.nextInt(60))(randomPos()).toSet
          (s"positionIn(${ps.size} positions)", Some(DirectParquet.positionIn(ps)), ps.contains _)
        } ++
        (0 until 8).map { _ =>
          val a = randomPos()
          val b = math.min(top, a + rnd.nextInt(400))
          (s"positionRange($a, $b)", Some(DirectParquet.positionRange(a, b)), (p: Long) => p >= a && p <= b)
        }
    for ((what, filter, keep) <- filters; columns <- Projections) {
      val want = all.filter(r => keep(r.position)).map(projected(_, columns))
      val got = decode(dir, columns, filter)
      val ordered = if (columns.contains("position")) got.sortBy(_.position) else got
      assert(ordered === want, s"$dir: $what, columns ${columns.mkString(",")}")
    }
  }

  test("flushed segments decode like Spark reads them") {
    val dir = SparkTestSession.tempDir("graft-decode-flushed") + "/messages"
    val rows = logRows(1)
    rows.grouped(400).zipWithIndex.foreach { case (chunk, i) =>
      DirectParquet.write(conf, new HPath(dir, f"part-$i%05d.parquet"), chunk)
    }
    checkAgainstSpark(dir, seed = 11)
  }

  test("Spark-written generations in both clusterings decode like Spark reads them") {
    Seq("position" -> 2L, "stream" -> 3L).foreach { case (clustering, seed) =>
      val dir = SparkTestSession.tempDir(s"graft-decode-$clustering") + "/messages-g1"
      sparkWrite(dir, logRows(seed), clustering, "TIMESTAMP_MICROS")
      val segments = DirectParquet.listSegments(conf, dir)
      assert(segments.map(footer(_).getBlocks.size).sum > segments.size, s"$clustering: one row group per file")
      assert(segments.forall(s => field(s, "position").isRepetition(
        org.apache.parquet.schema.Type.Repetition.OPTIONAL)), s"$clustering: fields not optional")
      checkAgainstSpark(dir, seed = seed * 10)
    }
  }

  test("a legacy INT96 generation decodes like Spark reads it") {
    val dir = SparkTestSession.tempDir("graft-decode-int96") + "/messages-g1"
    sparkWrite(dir, logRows(4), "position", "INT96")
    val created = field(DirectParquet.listSegments(conf, dir).head, "createdUtc")
    assert(created.asPrimitiveType.getPrimitiveTypeName ===
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
    checkAgainstSpark(dir, seed = 40)
  }
}

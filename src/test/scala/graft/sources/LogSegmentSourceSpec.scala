package graft.sources

import graft.SparkTestSession
import graft.core.{ExpectedVersion, NewStreamMessage}
import graft.store.SparkStreamStore
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The batch DSv2 log table: correctness vs the store's own parquet
  * surface, planning-time segment pruning from position filters, column
  * pruning reaching the record reader, limit pushdown, and footer-exact
  * statistics. */
class LogSegmentSourceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def mid(n: Int) = f"00000000-0000-0000-0000-$n%012d"

  /** A store with `batches` flushed segments of `perBatch` messages each. */
  private def buildStore(dir: String, batches: Int, perBatch: Int): SparkStreamStore = {
    val store = new SparkStreamStore(spark, dir, flushEveryRows = perBatch)
    (0 until batches).foreach { b =>
      val msgs = (0 until perBatch).map { i =>
        val n = b * perBatch + i
        NewStreamMessage(mid(n), s"t${n % 3}", s"""{"n":$n}""")
      }
      store.appendToStream(s"s-${b % 4}", ExpectedVersion.Any, msgs)
      store.flush() // one parquet segment per batch
    }
    store
  }

  private def readLog(root: String) =
    spark.read.format("graft.sources.LogSegmentSource").option("path", root).load()

  /** The footers of the parquet files of the store's live generation. */
  private def liveFooters(dir: String): Seq[(java.io.File, ParquetMetadata)] = {
    val gen = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/CURRENT")).trim
    val files = new java.io.File(s"$dir/messages-g$gen").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.toSeq.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try f -> reader.getFooter finally reader.close()
    }
  }

  private def scanExec(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.getOrElse(
      fail(s"no BatchScanExec in plan:\n${df.queryExecution.executedPlan}"))

  test("full scan matches the store's physical parquet log exactly") {
    val dir = SparkTestSession.tempDir("logseg")
    val store = buildStore(dir, batches = 5, perBatch = 100)
    try {
      val viaSource = readLog(dir)
      val viaParquet = spark.read
        .schema(SparkStreamStore.MessageSchema).parquet(s"$dir/messages")
      assert(viaSource.count() === 500)
      assert(
        viaSource.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaSource).isEmpty,
        "DSv2 scan and parquet scan disagree")
    } finally store.close()
  }

  test("position range filters prune whole segments at plan time") {
    val dir = SparkTestSession.tempDir("logseg-prune")
    val store = buildStore(dir, batches = 5, perBatch = 100)
    try {
      // positions are dense 0..499, 100 per segment; [250, 349] spans
      // exactly two segments
      val tail = readLog(dir).filter(col("position") >= 250 && col("position") < 350)
      assert(tail.rdd.getNumPartitions === 2,
        "expected exactly the 2 overlapping segments to be planned")
      assert(tail.count() === 100)

      assert(readLog(dir).filter(col("type") === "t1").rdd.getNumPartitions === 5,
        "non-position filters must not prune segments")

      // rows, not just partitions: residual evaluation still applies
      val exact = readLog(dir).filter(col("position") === 123)
      assert(exact.rdd.getNumPartitions === 1)
      assert(exact.select("messageId").collect().map(_.getString(0)).toSeq === Seq(mid(123)))
    } finally store.close()
  }

  test("pruning covers compacted generations (Spark-written files)") {
    val dir = SparkTestSession.tempDir("logseg-compact")
    val store = buildStore(dir, batches = 4, perBatch = 100)
    try {
      val before = readLog(dir).select("position", "createdUtc", "jsonData")
        .orderBy("position").collect()
      store.compact(targetFiles = 4) // new generation, range-partitioned by position
      val df = readLog(dir).filter(col("position") >= 300)
      assert(df.count() === 100)
      assert(df.rdd.getNumPartitions < 4,
        "footer stats should prune range-partitioned compacted files too")
      // full row fidelity across the rewrite — createdUtc especially
      // (the compacted generation is Spark-written; the store pins
      // TIMESTAMP_MICROS so the physical layouts agree)
      val after = readLog(dir).select("position", "createdUtc", "jsonData")
        .orderBy("position").collect()
      assert(after.toSeq === before.toSeq)
    } finally store.close()
  }

  test("INT96 compacted generations (pre-pin logs) still read correctly") {
    val dir = SparkTestSession.tempDir("logseg-int96")
    val store = buildStore(dir, batches = 2, perBatch = 50)
    try {
      val before = readLog(dir).select("position", "createdUtc")
        .orderBy("position").collect()
      // simulate a generation compacted before the TIMESTAMP_MICROS pin;
      // the caller's other runtime settings (the codec) must still apply
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
      try {
        store.compact(targetFiles = 2)
        assert(spark.conf.get("spark.sql.parquet.outputTimestampType") === "INT96",
          "compact must leave the caller's session setting alone")
      } finally {
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
        spark.conf.unset("spark.sql.parquet.compression.codec")
      }
      // compact's own pin overrides the session value, so force a truly
      // INT96 generation by rewriting the current generation directly
      val gen = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/CURRENT")).trim
      val genDir = s"$dir/messages-g$gen"
      liveFooters(dir).foreach { case (f, footer) =>
        val schema = footer.getFileMetaData.getSchema
        val created = schema.getType(schema.getFieldIndex("createdUtc")).asPrimitiveType
        assert(created.getPrimitiveTypeName === PrimitiveTypeName.INT64, s"$f")
        assert(created.getLogicalTypeAnnotation ===
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS), s"$f")
        val codecs = footer.getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec).toSet
        assert(codecs === Set(CompressionCodecName.GZIP), s"$f")
      }
      val rows = spark.read.schema(SparkStreamStore.MessageSchema).parquet(genDir)
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      try rows.write.mode("overwrite").parquet(s"$dir/messages-int96-tmp")
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      // swap the generation for the INT96 copy
      import org.apache.hadoop.fs.{FileSystem, Path}
      val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(genDir), true)
      fs.rename(new Path(s"$dir/messages-int96-tmp"), new Path(genDir))

      val after = readLog(dir).select("position", "createdUtc")
        .orderBy("position").collect()
      assert(after.toSeq === before.toSeq, "INT96 createdUtc decoded wrong")
    } finally store.close()
  }

  test("the table plans and reads with the session's Hadoop configuration") {
    val dir = SparkTestSession.tempDir("logseg-conf")
    val store = buildStore(dir, batches = 2, perBatch = 50)
    // a filesystem scheme that only the session's configuration knows
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.markfs.impl", "fs.markfs.impl.disable.cache", MarkerFileSystem.Key)
    hc.set("fs.markfs.impl", classOf[MarkerFileSystem].getName)
    hc.set("fs.markfs.impl.disable.cache", "true")
    hc.set(MarkerFileSystem.Key, "session")
    MarkerFileSystem.seen.clear()
    try {
      // a filter keeps the scan from being answered by footers alone
      val positions = readLog("markfs://" + dir).filter(col("position") >= 0L).select("position")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(positions === (0L until 100L))
      val seen = MarkerFileSystem.seen.asScala.toSeq
      assert(seen.nonEmpty && seen.forall(_._2 == "session"), seen)
      assert(seen.exists(_._1.startsWith("Executor task launch worker")),
        s"no segment was opened by a task: $seen")
    } finally {
      keys.foreach(hc.unset)
      store.close()
    }
  }

  test("column pruning reaches the scan and jsonData is not decoded") {
    val dir = SparkTestSession.tempDir("logseg-prune-cols")
    val store = buildStore(dir, batches = 2, perBatch = 50)
    try {
      val slim = readLog(dir).select("streamId", "position")
      assert(scanExec(slim).scan.readSchema().fieldNames.toSeq === Seq("streamId", "position"))
      assert(slim.distinct().count() === 100)
      // values survive the projection round-trip
      assert(readLog(dir).select("jsonData").filter(col("jsonData") === """{"n":7}""")
        .count() === 1)
    } finally store.close()
  }

  test("limit pushdown caps each reader") {
    val dir = SparkTestSession.tempDir("logseg-limit")
    val store = buildStore(dir, batches = 4, perBatch = 100)
    try {
      val limited = readLog(dir).limit(5)
      assert(limited.count() === 5)
      assert(scanExec(limited).scan.description().contains("PushedLimit=5"))
    } finally store.close()
  }

  test("max/min(position) and count(*) are answered from footers alone") {
    val dir = SparkTestSession.tempDir("logseg-agg")
    val store = buildStore(dir, batches = 4, perBatch = 100)
    try {
      val agg = readLog(dir).agg(
        max(col("position")), min(col("position")), count(lit(1)))
      val plan = agg.queryExecution.executedPlan.toString()
      assert(plan.contains("PushedAggregates=footer-stats"),
        s"aggregate not pushed to footer stats:\n$plan")
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        === Seq((399L, 0L, 400L)))

      // a filtered aggregate must NOT push (residual filters need rows)
      val filtered = readLog(dir).filter(col("type") === "t1").agg(count(lit(1)))
      assert(!filtered.queryExecution.executedPlan.toString()
        .contains("PushedAggregates"))
      assert(filtered.collect().head.getLong(0) > 0)

      // a non-footer aggregate falls back to the row scan
      val other = readLog(dir).agg(max(col("streamVersion")))
      assert(!other.queryExecution.executedPlan.toString().contains("PushedAggregates"))
      assert(other.collect().head.getInt(0) === 99)
    } finally store.close()
  }

  test("the log registers as a SQL table (CREATE TABLE ... USING)") {
    val dir = SparkTestSession.tempDir("logseg-sql")
    val store = buildStore(dir, batches = 2, perBatch = 50)
    try {
      spark.sql(
        s"""CREATE TABLE graft_log_sql USING graft.sources.LogSegmentSource
           |OPTIONS (path '$dir')""".stripMargin)
      try {
        val head = spark.sql("SELECT max(position) AS head FROM graft_log_sql")
        assert(head.collect().head.getLong(0) === 99)
        assert(head.queryExecution.executedPlan.toString()
          .contains("PushedAggregates=footer-stats"))
        assert(spark.sql(
          "SELECT count(*) AS n FROM graft_log_sql WHERE position >= 50")
          .collect().head.getLong(0) === 50)
      } finally spark.sql("DROP TABLE graft_log_sql")
    } finally store.close()
  }

  test("statistics report footer-exact row counts") {
    val dir = SparkTestSession.tempDir("logseg-stats")
    val store = buildStore(dir, batches = 3, perBatch = 100)
    try {
      val scan = scanExec(readLog(dir)).scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      assert(scan.estimateStatistics().numRows().getAsLong === 300)
      assert(scan.estimateStatistics().sizeInBytes().getAsLong > 0)
    } finally store.close()
  }

  test("an empty CURRENT resolves to the generation the store falls back to") {
    val dir = SparkTestSession.tempDir("logseg-lost-current")
    buildStore(dir, batches = 2, perBatch = 5).close()
    val compacted = new SparkStreamStore(spark, dir)
    try compacted.compact(1) finally compacted.close()
    // a crash inside CURRENT's truncating overwrite leaves it empty
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/CURRENT"), Array.emptyByteArray)
    val reopened = new SparkStreamStore(spark, dir) // falls back to messages-g1, deletes messages/
    try {
      assert(reopened.allMessages.count() === 10)
      assert(readLog(dir).count() === 10)
    } finally reopened.close()
  }
}

/** The local filesystem under the `markfs` scheme, recording the thread
  * and the marker key's value of each configuration it is opened with. */
class MarkerFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "markfs"
  override def getUri: java.net.URI = java.net.URI.create("markfs:///")
  override def initialize(uri: java.net.URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    MarkerFileSystem.seen.add(Thread.currentThread.getName -> conf.get(MarkerFileSystem.Key))
  }
}

object MarkerFileSystem {
  val Key = "graft.test.marker"
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

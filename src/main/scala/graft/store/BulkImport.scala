package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed bulk load of an existing corpus into a store log — the
  * initial-migration path the reference leaves to row-at-a-time appends
  * (its stores only ingest through `AppendToStream`,
  * `PostgresStreamStore.Append.cs:19-90`; loading a 100 TB history that
  * way is a year of round trips). This writes the same physical layout
  * the store's own group-commit flush produces — position-sorted parquet
  * segments under `root/messages/` — with ONE cluster-parallel job, then
  * lets the store's normal journal-less recovery (`reconcileTail`) fold
  * the log into head state on the driver on first open.
  *
  * Plan shape (and why the import itself survives 100 TB):
  *   1. per-stream versions: `row_number() - 1` over (streamId, orderCol)
  *      — one hash shuffle on streamId;
  *   2. global positions: range-repartition on orderCol +
  *      `sortWithinPartitions` + RDD `zipWithIndex`. Dense cross-
  *      partition numbering is a prefix-sum over partition counts, which
  *      no Catalyst operator expresses short of a single-partition global
  *      sort; `zipWithIndex` is the two-pass primitive built for exactly
  *      this (one count job over the sorted partitions, one pass
  *      stamping offsets) and is this file's one deliberate drop to the
  *      RDD API. Everything downstream of the import — reads, pruning,
  *      compaction — stays declarative.
  *
  * The first open is not distributed: it folds every row on one driver
  * thread (time O(rows), memory O(streams)), and in an event-ordered log
  * a cold id chain decodes the `streamId` column of every segment. Both
  * were timed only up to 100,000 rows, where they beat a Spark group-by
  * (`local[4]`); `compact(n, clusterBy = "stream")` after the first open
  * lets cold chains skip other streams' row groups.
  *
  * The result is bit-identical in contract to a single-writer append
  * replay in `orderCol` order: dense 0-based positions, dense 0-based
  * per-stream versions, position order == orderCol order. Appends after
  * open continue at `max(position) + 1`.
  *
  * Import targets a FRESH store root (initial load, not merge): the
  * method refuses a root that already has a message log. */
object BulkImport {

  /** Write `df` as the message log of a new store at `rootDir`.
    *
    * @param df          input rows
    * @param rootDir     fresh store root (no `messages/` dir yet)
    * @param orderCol    strictly-unique ordering column defining the log
    *                    order (becomes the position order)
    * @param streamIdCol stream id column (string)
    * @param messageIdCol message id column (string, unique per stream)
    * @param typeCol     message type column (string)
    * @param dataCol     jsonData column (string, nullable)
    * @param createdCol  optional TIMESTAMP column for createdUtc;
    *                    defaults to epoch (bulk history loads usually
    *                    carry event time in the payload)
    * @param targetSegments segment-file count (≈ cluster parallelism)
    * @return rows imported
    */
  def importMessages(
      spark: SparkSession,
      df: DataFrame,
      rootDir: String,
      orderCol: String,
      streamIdCol: String,
      messageIdCol: String,
      typeCol: String,
      dataCol: String,
      createdCol: Option[String] = None,
      targetSegments: Int = 0): Long = {
    val root = rootDir.stripSuffix("/")
    val messagesDir = root + "/messages"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
    require(!fs.exists(new org.apache.hadoop.fs.Path(messagesDir)),
      s"bulk import targets a fresh store root, but $messagesDir exists")
    val segments = if (targetSegments > 0) targetSegments
      else spark.sparkContext.defaultParallelism

    val created = createdCol.map(col(_).cast("timestamp"))
      .getOrElse(lit(java.sql.Timestamp.from(java.time.Instant.EPOCH)))
    val vw = Window.partitionBy(streamIdCol).orderBy(orderCol)
    val shaped = df.select(
        col(streamIdCol).cast("string").as("streamId"),
        col(messageIdCol).cast("string").as("messageId"),
        (row_number().over(vw) - 1).as("streamVersion"),
        created.as("createdUtc"),
        col(typeCol).cast("string").as("type"),
        col(dataCol).cast("string").as("jsonData"),
        lit(null).cast("string").as("jsonMetadata"),
        col(orderCol).as("_ord"))
      .repartitionByRange(segments, col("_ord"))
      .sortWithinPartitions("_ord")

    // dense global positions: partition counts + offset stamp (2 passes);
    // the projection drops the ordering column and restores MessageSchema
    // field order (position sits between streamVersion and createdUtc)
    val stamped = shaped.rdd.zipWithIndex().map { case (r, pos) =>
      Row(r.get(0), r.get(1), r.get(2), pos, r.get(3), r.get(4), r.get(5), r.get(6))
    }
    // the store's own segment layout: INT64 TIMESTAMP(MICROS), not INT96
    SparkStreamStore.microsWriter(spark).createDataFrame(stamped, SparkStreamStore.MessageSchema)
      .write.mode("errorifexists").parquet(messagesDir)

    spark.read.schema(SparkStreamStore.MessageSchema).parquet(messagesDir).count()
  }
}

package graft.store

import graft.SparkTestSession
import graft.core._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A MaxCount cutoff recorded before `deleteStream` must not outlive the
  * stream: after a re-created stream sets a smaller MaxCount, a reopen
  * keeps the new cutoff and scavenged messages stay gone. */
class RecreatedStreamRetentionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def msgs(from: Int, n: Int): Seq[NewStreamMessage] =
    (from until from + n).map(i => NewStreamMessage(f"00000000-0000-0000-0000-$i%012d", "t", s"""{"n":$i}"""))

  private def versions(store: SparkStreamStore): (Seq[Int], Seq[Int], Seq[Int]) = (
    store.readStreamForwards("s").messages.map(_.streamVersion),
    store.readAllForwards().messages.filter(_.streamId == "s").map(_.streamVersion),
    store.allMessages.filter(col("streamId") === "s").orderBy("streamVersion")
      .select("streamVersion").collect().map(_.getInt(0)).toSeq)

  test("a re-created stream's smaller MaxCount survives reopen") {
    val dir = SparkTestSession.tempDir("recreated-maxcount")
    val first = new SparkStreamStore(spark, dir)
    try {
      first.appendToStream("s", ExpectedVersion.NoStream, msgs(0, 10))
      first.setStreamMetadata("s", maxCount = Some(3))
      first.deleteStream("s")
      first.appendToStream("s", ExpectedVersion.NoStream, msgs(10, 5))
      first.setStreamMetadata("s", maxCount = Some(2))
      assert(versions(first) === ((Seq(3, 4), Seq(3, 4), Seq(3, 4))))
    } finally first.close()

    val reopened = new SparkStreamStore(spark, dir)
    try assert(versions(reopened) === ((Seq(3, 4), Seq(3, 4), Seq(3, 4))))
    finally reopened.close()
  }
}

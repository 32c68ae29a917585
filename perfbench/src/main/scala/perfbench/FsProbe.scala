package perfbench

import org.apache.hadoop.fs.FileSystem

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Hadoop `FileSystem` write statistics (every scheme and implementation
  * the process has opened), snapshotted so a phase's I/O is a difference. */
final case class FsStats(bytesWritten: Long, writeOps: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesWritten - o.bytesWritten, writeOps - o.writeOps)
}

object FsProbe {
  @annotation.nowarn("cat=deprecation")
  def snapshot(): FsStats = {
    val all = FileSystem.getAllStatistics.asScala
    FsStats(all.map(_.getBytesWritten).sum, all.map(_.getWriteOps.toLong).sum)
  }

  /** Regular files under `dir` (recursively) whose relative path passes `keep`. */
  def files(dir: Path, keep: String => Boolean = _ => true): Vector[(String, Long)] =
    if (!Files.exists(dir)) Vector.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.size(p))
        .filter(f => keep(f._1)).toVector
      finally s.close()
    }

  /** Delete `dir` and everything under it. A background thread that is
    * shutting down (Spark's state-store maintenance) may still create a
    * file there, so a failed pass is retried; returns whether it is gone. */
  def deleteRecursively(dir: Path): Boolean =
    (1 to 5).exists { _ =>
      try {
        if (Files.exists(dir)) {
          val s = Files.walk(dir)
          try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists)
          finally s.close()
        }
        true
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => Thread.sleep(200); false
      }
    }
}

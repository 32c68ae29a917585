package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Everything a workload gets: the session, its seed, how long to
  * measure, whether this is the traced run, and a private scratch dir. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val work: Path,
    val probe: Option[SparkProbe]) {
  def traced: Boolean = probe.isDefined
}

/** What a workload returns: operation counts, output-check failures,
  * the end-to-end metrics (untraced meaning), the per-layer metrics
  * (traced run) and the workload's own named figures for the report line. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val report = mutable.LinkedHashMap.empty[String, Metric]
  val checks = mutable.LinkedHashMap.empty[String, Any]

  /** Record an output check; a false condition fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = ok
    if (!ok) problems += s"$name: $detail"
  }
}

object Main {

  private val t0 = System.nanoTime()

  /** Writes the report, result and span lines. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Log a phase boundary to stderr (kept in the run's log). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2f s: $name")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "command" -> CommandWorkload.run,
    "tail" -> TailWorkload.run,
    "analytics" -> AnalyticsWorkload.run)

  def main(argv: Array[String]): Unit = {
    phase(s"main entered, JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", sys.error("--workload is required"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload '$workload'"))
    val seed = args.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = args.getOrElse("seconds", sys.error("--seconds is required")).toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val out = Paths.get(args.getOrElse("out", ".bench_build/out")).toAbsolutePath
    val work = out.resolve(s"work-$workload-${ProcessHandle.current.pid}")
    Files.createDirectories(work)

    phase("building the session")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("spark session up")

    val outcome =
      try {
        Trace.enabled = traced
        val probe = if (traced) Some(new SparkProbe(spark)) else None
        val o = run(new Ctx(spark, seed, seconds, work, probe))
        if (traced) Trace.write(out.resolve(s"trace/$workload-seed$seed.spans.jsonl"))
        o
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          val o = new Outcome
          o.attempted = 1; o.failed = 1
          o.problems += s"run aborted: $t"
          o
      } finally {
        Trace.enabled = false
      }

    phase("workload done")
    val metrics = if (traced) outcome.layer else outcome.e2e
    val names = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    // A layer a workload never enters reads 0; every end-to-end metric
    // must have been measured.
    val missing = Metrics.EndToEnd.map(_._1).filterNot(outcome.e2e.contains)
    if (missing.nonEmpty) outcome.problems += s"metrics not measured: ${missing.mkString(", ")}"
    val nonFinite = metrics.collect { case (n, m) if m.value.isNaN || m.value.isInfinite => n }
    if (nonFinite.nonEmpty) outcome.problems += s"metrics not finite: ${nonFinite.mkString(", ")}"
    outcome.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED $p"))
    val correct = outcome.problems.isEmpty

    // Report line: the workload's own figures under their own names, with
    // units and sample counts, and every output check.
    println(json.writeValueAsString(scala.collection.immutable.ListMap(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "report" -> outcome.report.toMap,
      "e2e" -> outcome.e2e.map { case (n, m) => n -> m.value }.toMap,
      "metric_samples" -> names.map { case (n, _) =>
        n -> metrics.get(n).map(_.samples).getOrElse(0L) }.toMap,
      "checks" -> outcome.checks.toMap)))
    // Last line: the result record.
    println(json.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> correct,
      "attempted" -> math.max(1L, outcome.attempted),
      "failed" -> outcome.failed,
      "metrics" -> names.map { case (n, unit) =>
        val m = metrics.getOrElse(n, Metric(0.0, unit, 0))
        n -> scala.collection.immutable.ListMap("value" -> m.value, "unit" -> unit)
      }.toMap)))
    System.out.flush()
    try spark.stop()
    finally if (!FsProbe.deleteRecursively(work)) System.err.println(s"[perfbench] could not delete $work")
    phase("stopped")
    // run.py judges the result; end now rather than wait on idle
    // non-daemon threads (HTTP client and server pools).
    sys.exit(0)
  }
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** What a [[SparkProbe]] saw of one job: its job group and start time. */
final case class JobSeen(group: String, startMs: Long)

/** What a [[SparkProbe]] saw of one stage. */
final case class StageSeen(
    stageId: Int, group: String, tasks: Int, taskMs: Vector[Long],
    shuffleWriteBytes: Long, spillBytes: Long) {
  /** Slowest task over the median task; 1 for stages too small to skew. */
  def skew: Double =
    if (taskMs.length < 4) 1.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
}

/** Spark's public listeners, installed from the benchmark: a
  * `SparkListener` for jobs, stages and tasks (attributed to the job
  * group the caller set), a `QueryExecutionListener` for planning versus
  * execution time, and a `StreamingQueryListener` for each micro-batch's
  * progress. Only installed for traced runs. */
final class SparkProbe(spark: SparkSession) {

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val jobsQ = new ConcurrentLinkedQueue[JobSeen]()
  private val stagesQ = new ConcurrentLinkedQueue[StageSeen]()
  private val planMs = new Samples
  private val execMs = new Samples
  private val progressQ = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var fenceSeen = -1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobGroup.put(e.jobId, g)
      if (!g.startsWith(SparkProbe.FencePrefix)) jobsQ.add(JobSeen(g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
      if (g.startsWith(SparkProbe.FencePrefix)) fenceSeen = g.stripPrefix(SparkProbe.FencePrefix).toLong
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val g = Option(stageGroup.get(i.stageId)).getOrElse("")
      if (!g.startsWith(SparkProbe.FencePrefix)) {
        val m = i.taskMetrics
        val tasks = Option(stageTasks.remove(i.stageId)).map(_.asScala.map(_.longValue).toVector).getOrElse(Vector.empty)
        stagesQ.add(StageSeen(i.stageId, g, i.numTasks, tasks,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.add(qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
      execMs.add(durationNs / 1e6)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progressQ.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)
  spark.streams.addListener(sql)

  /** Wait until every listener event posted so far has been delivered:
    * run one tiny job under a unique fence group and wait for its end
    * (the listener bus delivers in order). The fence job is not counted. */
  def drain(): Unit = {
    val id = System.nanoTime()
    val sc = spark.sparkContext
    sc.setJobGroup(SparkProbe.FencePrefix + id, "listener fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (fenceSeen != id && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // the streaming listener bus is a separate queue: give it a moment
    Thread.sleep(50)
  }

  def jobs: Vector[JobSeen] = jobsQ.asScala.toVector
  def stages: Vector[StageSeen] = stagesQ.asScala.toVector
  def planning: Samples = planMs
  def execution: Samples = execMs
  def progress: Vector[StreamingQueryProgress] = progressQ.asScala.toVector

  def reset(): Unit = {
    jobsQ.clear(); stagesQ.clear(); progressQ.clear(); planMs.clear(); execMs.clear()
  }
}

object SparkProbe {
  val FencePrefix = "perfbench.fence."
}

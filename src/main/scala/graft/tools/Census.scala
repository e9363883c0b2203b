package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge

/** The one SparkListener the tools measure with. Counts jobs, stages
  * and tasks; sums task run, CPU, deserialize and GC time and shuffle
  * read/write bytes; tracks the longest single task (the straggler
  * signal of a skewed key); and keeps a per-job trace (description,
  * wall, tasks, task time). Listener events are delivered
  * asynchronously, so [[reset]] and [[measure]] drain the bus first:
  * a step is charged exactly the events its own body produced. */
final class Census private (sc: SparkContext) extends SparkListener {
  import Census._

  private val jobs, stages, tasks = new AtomicLong
  private val taskMs, cpuNs, deserMs, gcMs, maxTaskMs = new AtomicLong
  private val shuffleWrite, shuffleRead = new AtomicLong

  private final class JobRec(val desc: String, val t0: Long) {
    val tasks, taskMs = new AtomicLong
    @volatile var wallMs = -1L
  }
  private val trace = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Integer]()
  private val execDesc = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDesc.put(s.executionId.toString,
        s.description.linesIterator.nextOption().getOrElse("?"))
    case _ => ()
  }

  // jobs are named by their SQL execution, else their description,
  // else their call site
  override def onJobStart(s: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(s.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val desc = prop("spark.sql.execution.id")
      .flatMap(id => Option(execDesc.get(id)).map(d => s"[exec $id] $d"))
      .orElse(prop("spark.job.description"))
      .orElse(prop("callSite.short")).getOrElse("?")
    trace.put(s.jobId, new JobRec(desc, System.nanoTime()))
    s.stageIds.foreach(st => stageToJob.put(st, Int.box(s.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(trace.get(e.jobId)).foreach(j =>
      j.wallMs = (System.nanoTime() - j.t0) / 1000000L)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = s.stageInfo.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (t.taskInfo != null)
      maxTaskMs.accumulateAndGet(t.taskInfo.duration, (a, b) => math.max(a, b))
    val run = if (t.taskMetrics == null) 0L else t.taskMetrics.executorRunTime
    if (t.taskMetrics != null) {
      taskMs.addAndGet(run)
      cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
      deserMs.addAndGet(t.taskMetrics.executorDeserializeTime)
      gcMs.addAndGet(t.taskMetrics.jvmGCTime)
    }
    Option(stageToJob.get(t.stageId)).flatMap(j => Option(trace.get(j.intValue)))
      .foreach { j => j.tasks.incrementAndGet(); j.taskMs.addAndGet(run) }
  }

  /** Block until every event posted so far has reached this listener. */
  def drain(): Unit = Bridge.drainListenerBus(sc)

  /** Drain, then zero every counter and the job trace. */
  def reset(): Unit = {
    drain()
    Seq(jobs, stages, tasks, taskMs, cpuNs, deserMs, gcMs, maxTaskMs,
      shuffleWrite, shuffleRead).foreach(_.set(0L))
    trace.clear(); stageToJob.clear()
  }

  /** Run `body` on a reset census and return its result with the wall
    * time and every count the body's jobs produced. */
  def measure(label: String)(body: => Long): Sample = {
    reset()
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    val jobTrace = trace.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      Job(id, j.desc, j.wallMs, j.tasks.get, j.taskMs.get) }
    Sample(label, out, wall, jobs.get, stages.get, tasks.get,
      taskMs.get / 1e3, cpuNs.get / 1e9, deserMs.get / 1e3, gcMs.get / 1e3,
      maxTaskMs.get / 1e3, shuffleWrite.get / 1e6, shuffleRead.get / 1e6,
      jobTrace)
  }
}

object Census {
  /** The sf data directory a tool reads: its argument, else
    * `SPARK_GRAFT_SF_DIR` (the variable `graft.Bench` reads). */
  def sfDir(arg: Option[String]): String = arg
    .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
    .getOrElse(sys.error("pass an sf directory or set SPARK_GRAFT_SF_DIR"))

  /** A census registered on the session's SparkContext. */
  def apply(spark: SparkSession): Census = {
    val c = new Census(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }

  final case class Job(id: Int, desc: String, wallMs: Long, tasks: Long,
      taskMs: Long)

  /** One measured step; times in seconds, shuffle in MB. */
  final case class Sample(label: String, out: Long, wallS: Double,
      jobs: Long, stages: Long, tasks: Long, taskS: Double, cpuS: Double,
      deserS: Double, gcS: Double, maxTaskS: Double, shuffleWriteMB: Double,
      shuffleReadMB: Double, trace: Seq[Job]) {
    /** The fields the skew reproducers print: max_task is the
      * straggler signal of a hot key. */
    def skewFields: String =
      f"out=$out%13d wall=$wallS%8.2f s max_task=$maxTaskS%7.2f s"

    /** The wall/shuffle fields every scale step prints. */
    def scaleFields: String =
      f"wall=$wallS%8.2f s jobs=$jobs%4d tasks=$tasks%6d " +
        f"shuffle_write=$shuffleWriteMB%9.1f MB shuffle_read=$shuffleReadMB%9.1f MB"
  }
}

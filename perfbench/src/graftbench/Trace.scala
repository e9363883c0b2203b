package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** One timed interval. Spans of one run share `runId`; a call span's
  * parent is its pass (or query sequence) and its children are the
  * build / plan / exec phases. Times are nanoseconds from the run's
  * start. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one job group (= one span). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var scanTasks = 0L
  /** max ÷ median task run time over this group's stages of ≥ 2 tasks */
  var taskSkew = 0.0

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; deserMs += o.deserMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; scanTasks += o.scanTasks
    taskSkew = math.max(taskSkew, o.taskSkew)
  }
}

/** Listener that attributes jobs, tasks and task metrics to the job
  * group active when each job started. The benchmark sets one job
  * group per span, so this needs no hook inside the library. Events
  * arrive on the single listener-bus thread; readers call [[drain]]
  * first. */
final class Census(sc: SparkContext) extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(BenchBridge.JobGroupId))).getOrElse("")
    val w = work(g)
    w.jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.deserMs += m.executorDeserializeTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      if (m.inputMetrics.bytesRead > 0) w.scanTasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).filter(_.size >= 2).foreach { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      val skew = ts.max / math.max(med, 1.0)
      stageGroup.get(id).foreach(g => work(g).taskSkew = math.max(work(g).taskSkew, skew))
    }
  }

  def drain(): Unit = BenchBridge.drainListenerBus(sc)

  def of(group: String): Work = synchronized(byGroup.getOrElse(group, new Work))
}

/** Span recorder. Off, it only runs the body: end-to-end runs pay no
  * tracing cost. On, every span becomes a Spark job group, so the
  * [[Census]] can attribute the work the span caused. */
final class Tracer(val on: Boolean, val runId: String, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def group(id: Int): String = s"$runId/$id"

  def span[T](name: String, parent: Int)(body: Int => T): T =
    if (!on) body(-1)
    else {
      nextId += 1
      val id = nextId
      val prev = sc.getLocalProperty(BenchBridge.JobGroupId)
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val start = System.nanoTime() - t0
      try body(id)
      finally {
        spans += Span(id, parent, name, start, System.nanoTime() - t0)
        if (prev == null) sc.clearJobGroup()
        else sc.setJobGroup(prev, "", interruptOnCancel = false)
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
}

object Trace {

  /** Self time: the span's duration minus the part of it its children
    * cover (overlapping children are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    var covered = 0L
    var end = span.startNs
    children.sortBy(_.startNs).foreach { c =>
      val s = math.max(c.startNs, end)
      val e = math.min(c.endNs, span.endNs)
      if (e > s) { covered += e - s; end = e }
    }
    span.durNs - covered
  }
}

package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graftbench.Main.{jsonObject, CallRun, Pass}

/** Per-layer metrics of a traced run, derived from its spans and the
  * [[Census]] counts attributed to them. Every value is per pass (the
  * median over the traced passes); a layer the workload does not call
  * reads 0. */
object Layers {

  /** Layers are the first part of a call name: `<layer>.<function>`. */
  val layers: Seq[String] =
    Seq("petro", "hpxeos", "cipw", "export", "text", "pipeline", "ops", "streaming", "sim")

  /** Every per-layer metric with its unit, in output order. */
  val names: Seq[(String, String)] =
    layers.flatMap(l => Seq(s"$l.build_ms" -> "ms", s"$l.plan_ms" -> "ms",
      s"$l.exec_ms" -> "ms", s"$l.jobs" -> "count", s"$l.eager_jobs" -> "count",
      s"$l.task_cpu_s" -> "s")) ++ Seq(
      "petro.expr_nodes" -> "count", "hpxeos.expr_nodes" -> "count",
      "petro.core_util" -> "ratio", "ops.task_skew" -> "ratio",
      "text.shuffle_write_mb" -> "MB", "text.spill_mb" -> "MB",
      "pipeline.shuffle_write_mb" -> "MB", "pipeline.spill_mb" -> "MB",
      "sources.scan_tasks" -> "count", "sources.input_mb" -> "MB",
      "barriers.ledger_frames" -> "count", "barriers.cached_mb" -> "MB",
      "spark.tasks" -> "count", "spark.core_util" -> "ratio",
      "spark.gc_s" -> "s", "spark.deser_s" -> "s", "jvm.jit_s" -> "s",
      "trace.unattributed_ms" -> "ms", "trace.overhead_ms" -> "ms")

  private val MB = 1e6

  private final class View(t: Tracer, c: Census) {
    val byId: Map[Int, Span] = t.spans.map(s => s.id -> s).toMap
    def phaseMs(rs: Seq[CallRun], phase: String): Double =
      rs.flatMap(r => t.children(r.spanId)).filter(_.name == phase).map(_.durNs / 1e6).sum
    def work(rs: Seq[CallRun], phase: Option[String] = None): Work = {
      val w = new Work
      rs.foreach { r =>
        val kids = t.children(r.spanId).filter(s => phase.forall(_ == s.name)).map(_.id)
        (if (phase.isEmpty) r.spanId +: kids else kids).foreach(id => w.add(c.of(t.group(id))))
      }
      w
    }
    def callMs(rs: Seq[CallRun]): Double = rs.map(r => byId(r.spanId).durNs / 1e6).sum
    def unattributedMs(p: Pass): Double =
      Trace.selfNs(byId(p.spanId), t.children(p.spanId)) / 1e6
  }

  private def perPass(p: Pass, v: View, cores: Int): Map[String, Double] = {
    def of(l: String) = p.calls.filter(_.call.layer == l)
    val generic = layers.flatMap { l =>
      val rs = of(l)
      val w = v.work(rs)
      Seq(s"$l.build_ms" -> v.phaseMs(rs, "build"), s"$l.plan_ms" -> v.phaseMs(rs, "plan"),
        s"$l.exec_ms" -> v.phaseMs(rs, "exec"), s"$l.jobs" -> w.jobs.toDouble,
        s"$l.eager_jobs" -> v.work(rs, Some("build")).jobs.toDouble,
        s"$l.task_cpu_s" -> w.cpuNs / 1e9)
    }
    val all = v.work(p.calls)
    val petro = v.work(of("petro"))
    val text = v.work(of("text"))
    val pipe = v.work(of("pipeline"))
    val wallMs = p.wallNs / 1e6
    (generic ++ Seq(
      "petro.expr_nodes" -> of("petro").map(_.exprNodes).sum.toDouble,
      "hpxeos.expr_nodes" -> of("hpxeos").map(_.exprNodes).sum.toDouble,
      "petro.core_util" -> petro.runMs / math.max(1e-9, v.callMs(of("petro")) * cores),
      "ops.task_skew" -> v.work(of("ops")).taskSkew,
      "text.shuffle_write_mb" -> text.shuffleWriteBytes / MB,
      "text.spill_mb" -> text.spillBytes / MB,
      "pipeline.shuffle_write_mb" -> pipe.shuffleWriteBytes / MB,
      "pipeline.spill_mb" -> pipe.spillBytes / MB,
      "sources.scan_tasks" -> all.scanTasks.toDouble,
      "sources.input_mb" -> all.inputBytes / MB,
      "barriers.ledger_frames" -> p.calls.map(_.ledgerFrames).sum.toDouble,
      "barriers.cached_mb" -> p.calls.map(_.cachedBytes).sum / MB,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.core_util" -> all.runMs / (wallMs * cores),
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.deser_s" -> all.deserMs / 1e3,
      "jvm.jit_s" -> p.jitNs / 1e9,
      "trace.unattributed_ms" -> v.unattributedMs(p))).toMap
  }

  /** Medians over the traced passes of every metric in [[names]] except
    * `trace.overhead_ms`, which needs the untraced passes too. */
  def metrics(traced: Seq[Pass], t: Tracer, c: Census, cores: Int): Seq[(String, Double, String)] = {
    val v = new View(t, c)
    val per = traced.map(perPass(_, v, cores))
    names.filter(_._1 != "trace.overhead_ms").map { case (n, u) =>
      (n, Stats.median(per.map(_(n))), u)
    }
  }

  /** Writes every span with its attributed Spark work and self time. */
  def writeTrace(path: String, runId: String, t: Tracer, c: Census, traced: Seq[Pass],
      plain: Seq[Pass], props: Seq[(String, String)]): Unit = {
    val spans = t.spans.sortBy(_.id).map { s =>
      val w = c.of(t.group(s.id))
      jsonObject("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "self_ms" -> Trace.selfNs(s, t.children(s.id)) / 1e6,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_run_ms" -> w.runMs,
        "task_cpu_ms" -> w.cpuNs / 1e6, "gc_ms" -> w.gcMs, "deser_ms" -> w.deserMs,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes,
        "input_bytes" -> w.inputBytes, "scan_tasks" -> w.scanTasks, "task_skew" -> w.taskSkew)
    }
    val doc = jsonObject("run_id" -> runId, "inputs" -> jsonObject(props: _*),
      "untraced_pass_ms" -> plain.map(_.wallNs / 1e6).asJava,
      "traced_pass_ms" -> traced.map(_.wallNs / 1e6).asJava, "spans" -> spans.asJava)
    val f = new File(path)
    f.getParentFile.mkdirs()
    new ObjectMapper().writeValue(f, doc)
  }
}

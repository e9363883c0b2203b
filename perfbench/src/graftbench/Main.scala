package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark driver for one workload in one JVM on `local[cores]`, one
  * client. Usage:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --dir <scratch dir> [--expect <pass checksum>]
  * }}}
  *
  * A run starts a session and generates the inputs from the seed
  * [[Setups]] times, then runs the cold pass, whose checksums become the
  * reference, and untimed warm-up passes ([[WarmupSeconds]],
  * [[MinWarmupPasses]]). Then it measures whole passes ([[MinPasses]]
  * at least) for `--seconds`. With
  * `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * alternates untraced and traced passes and prints the per-layer metrics
  * and the tracing overhead. The last stdout line is the JSON result. */
object Main {

  val Setups = 3
  /** Warm-up passes, the cold pass included, run until they add up to
    * this many seconds, and at least [[MinWarmupPasses]] of them: a
    * cheap pass gets several, so JIT warming is mostly over before the
    * measured passes start. Only the cold pass counts towards `setup_s`. */
  val WarmupSeconds = 15
  /** A pass whose cold run alone takes [[WarmupSeconds]] still gets one
    * warm pass untimed: the first warm pass runs much JIT-cold code and
    * moves the median of three measured passes. */
  val MinWarmupPasses = 2

  /** End-to-end metrics (name, unit), printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "batch_s" -> "s",
    "rows_per_s" -> "1/s", "query_p50_ms" -> "ms", "query_p90_ms" -> "ms",
    "queries_per_s" -> "1/s", "cpu_s" -> "s", "peak_rss_mb" -> "MB")
  /** Measured passes per run at the least: the median of three is not
    * moved by the first measured pass, which still runs JIT-cold code. */
  val MinPasses = 3
  /** Traced (and interleaved untraced) passes of a traced run at the least. */
  val MinTracedPasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, dir: String, expect: Option[String])

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("dir"), m.get("expect"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder().master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = osBean.getProcessCpuTime

  /** Threads whose CPU time [[jitCpuNs]] counts: the JIT compilers and
    * the code-cache sweeper, by their (15-character) Linux thread names. */
  val JitThreads: Seq[String] = Seq("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

  /** CPU time of the JIT threads so far, from /proc/self/task/<tid>/stat
    * (utime + stime, in 1/100 s clock ticks). The JVM runs with
    * `-XX:-UseDynamicNumberOfCompilerThreads` (build.py), so these
    * threads live as long as the process and none of their time leaves
    * the count with an exited thread. */
  def jitCpuNs: Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val close = st.lastIndexOf(')')
        if (!JitThreads.contains(st.substring(st.indexOf('(') + 1, close))) 0L
        else {
          val f = st.substring(close + 2).split(" ") // from field 3 (state) on
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum

  /** JVM resident high-water mark (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  // ---- one call -----------------------------------------------------------

  /** Outcome of one timed call; `sum` is filled in after the pass. */
  final class CallRun(val call: Call, val spanId: Int) {
    var latencyNs = 0L
    var error: Option[Throwable] = None
    var sum: Option[Checksum.Sum] = None
    var verify: () => Checksum.Sum = () => sum.get
    /** The DataFrame the library returned, until the post-pass checks. */
    var built: DataFrame = null
    var exprNodes = 0L
    var ledgerFrames = 0L
    var cachedBytes = 0L
  }

  private def exprNodes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case x => x }.size.toLong).sum
    }.sum

  /** build -> plan -> exec, each its own span. `build` is the library
    * call alone. Aggregate calls fold the checksum into the plan that
    * runs, so planning happens once: their `plan` span wraps the result
    * in [[Checksum.frame]] and plans that. */
  private def runCall(spark: SparkSession, call: Call, t: Tracer, id: Int, r: CallRun): Unit = {
    def planned(df: => DataFrame): DataFrame =
      t.span("plan", id) { _ => val d = df; d.queryExecution.executedPlan; d }
    r.built = t.span("build", id)(_ => call.build())
    call.consume match {
      case Consume.Aggregate =>
        val df = planned(Checksum.frame(r.built))
        r.sum = Some(Checksum.read(t.span("exec", id)(_ => df.collect()(0))))
      case Consume.Collect =>
        val df = planned(r.built)
        val rows: Array[Row] = t.span("exec", id)(_ => df.collect())
        r.verify = () => Checksum.ofRows(rows)
      case Consume.WriteText(dir) =>
        // the write command plans its own query: no separate plan span
        t.span("exec", id)(_ => r.built.write.mode("overwrite").text(dir))
        r.verify = () => Checksum.ofFrame(spark.read.text(dir))
    }
  }

  // ---- one pass -----------------------------------------------------------

  /** One pass: wall time, process CPU time and the part of it the JIT
    * threads spent ([[jitCpuNs]]), and its calls. */
  final case class Pass(spanId: Int, wallNs: Long, cpuNs: Long, jitNs: Long,
      calls: Seq[CallRun]) {
    /** Process CPU time less JIT compilation, which `cpu_s` reports. */
    def workCpuNs: Long = cpuNs - jitNs
  }

  def runPass(spark: SparkSession, in: Inputs, t: Tracer, label: String): Pass = {
    val sc = spark.sparkContext
    val cpu0 = processCpuNs
    val jit0 = jitCpuNs
    val t0 = System.nanoTime()
    var passId = -1
    val runs = t.span(label, 0) { pid =>
      passId = pid
      in.pass.map { call =>
        val c0 = System.nanoTime()
        val r = t.span(call.name, pid) { id =>
          val r = new CallRun(call, id)
          try runCall(spark, call, t, id, r)
          catch { case NonFatal(e) => r.error = Some(e) }
          r
        }
        r.latencyNs = System.nanoTime() - c0
        if (t.on) {
          r.ledgerFrames = graft.util.Barriers.ledgerSize
          r.cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        }
        // a long-lived session releases each unit of work's barriers
        graft.util.Barriers.releaseAll()
        r
      }
    }
    val wall = System.nanoTime() - t0
    val cpu = processCpuNs - cpu0
    val jit = jitCpuNs - jit0
    // consumption checks and plan features run after the pass, untimed
    runs.filter(_.error.isEmpty).foreach { r =>
      try {
        r.sum = Some(r.verify())
        if (t.on) r.exprNodes = exprNodes(r.built)
      } catch { case NonFatal(e) => r.error = Some(e) }
    }
    runs.foreach(_.built = null)
    Pass(passId, wall, cpu, jit, runs)
  }

  def passSum(p: Pass): Option[Checksum.Sum] =
    if (p.calls.exists(_.sum.isEmpty)) None
    else Some(p.calls.zipWithIndex.map { case (r, i) =>
      Checksum.tagged(s"$i:${r.call.name}", r.sum.get)
    }.reduce(_ + _))

  private val json = new ObjectMapper()

  /** A JSON object with its fields in the given order, for Jackson. */
  def jsonObject(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, v, _) => require(!v.isNaN && !v.isInfinite, s"$n is $v") }
    json.writeValueAsString(jsonObject("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> jsonObject(metrics.map { case (n, v, u) =>
        n -> jsonObject("value" -> v, "unit" -> u) }: _*)))
  }

  // ---- the run ------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workload(a.workload)
    val runId = s"${a.workload}-s${a.seed}-${System.currentTimeMillis()}"
    var spark: SparkSession = null
    var inputs: Inputs = null
    val startS = mutable.ArrayBuffer.empty[Double]
    val notes = mutable.ArrayBuffer.empty[String]

    // Set-up: session start + input generation, three times (each on a
    // fresh session), then the cold pass, the JVM's first, which carries
    // JIT, codegen and any first-use work. setup_s is the median
    // start+inputs time plus the cold pass. The further warm-up passes
    // are not timed, so setup_s follows the cold-start cost alone.
    (1 to Setups).foreach { _ =>
      if (spark != null) { spark.stop(); graft.util.DistRank.clearKeyCountCache() }
      val t0 = System.nanoTime()
      spark = session(a)
      inputs = workload.generate(spark, a.seed, s"${a.dir}/data")
      startS += (System.nanoTime() - t0) / 1e9
    }
    def warmPass(label: String) =
      runPass(spark, inputs, new Tracer(false, runId, spark.sparkContext), label)
    val reference = warmPass("cold")
    val setupS = Stats.median(startS.toSeq) + reference.wallNs / 1e9
    val warmup = mutable.ArrayBuffer(reference)
    while (warmup.size < MinWarmupPasses || warmup.map(_.wallNs).sum < WarmupSeconds * 1e9)
      warmup += warmPass("warmup")
    reference.calls.foreach { r =>
      r.error.foreach(e => notes += s"warm-up: ${r.call.name} threw $e")
      r.sum.filter(s => !r.call.rowsOk(s.rows)).foreach(s =>
        notes += s"warm-up: ${r.call.name} returned ${s.rows} rows")
    }
    val refSum = passSum(reference)
    val expectOk = a.expect.forall(e => refSum.map(_.toString).contains(e))
    if (!expectOk) notes += s"pass checksum ${refSum.getOrElse("none")} != expected ${a.expect.get}"
    val warmOk = warmup.forall(p => passSum(p) == refSum)
    if (!warmOk) notes += "warm-up passes disagree: " + warmup.map(passSum).mkString(" ")

    val sc = spark.sparkContext
    // A traced run alternates untraced and traced passes, so JIT warming
    // over the run does not read as tracing overhead.
    val untraced = new Tracer(false, runId, sc)
    val census = new Census(sc)
    val tracer = new Tracer(true, runId, sc)
    val (plain, traced) = (mutable.ArrayBuffer.empty[Pass], mutable.ArrayBuffer.empty[Pass])
    val start = System.nanoTime()
    while ((if (a.trace) traced.size < MinTracedPasses else plain.size < MinPasses) ||
        System.nanoTime() - start < (a.seconds * 1e9).toLong) {
      plain += runPass(spark, inputs, untraced, s"pass${plain.size}")
      if (a.trace) {
        sc.addSparkListener(census)
        traced += runPass(spark, inputs, tracer, s"traced${traced.size}")
        census.drain()
        sc.removeSparkListener(census)
      }
    }
    val measured = (plain ++ traced).toSeq
    val runs = measured.flatMap(_.calls)
    val refCalls = reference.calls.map(_.sum)
    val failed = measured.map { p =>
      p.calls.zip(refCalls).count { case (r, ref) =>
        r.error.isDefined || r.sum.isEmpty || r.sum != ref || !r.call.rowsOk(r.sum.get.rows)
      }
    }.sum
    measured.flatMap(_.calls).flatMap(r => r.error.map(e => s"${r.call.name} threw $e"))
      .distinct.foreach(notes += _)
    val correct = failed == 0 && expectOk && warmOk &&
      reference.calls.forall(r => r.error.isEmpty && r.sum.exists(s => r.call.rowsOk(s.rows)))

    val lat = plain.flatMap(_.calls).map(_.latencyNs / 1e6)
    val p50 = Stats.percentile(lat, 50)
    val p90 = Stats.percentile(lat, 90)
    if (p90.beyond < 10) notes += s"query_p90_ms rests on ${p90.samples} samples, " +
      s"${p90.beyond} beyond it: fewer than 10"
    val batch = Stats.median(plain.map(_.wallNs / 1e9))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map("setup_s" -> setupS, "batch_s" -> batch,
          "rows_per_s" -> inputs.inputRows / batch,
          "query_p50_ms" -> p50.value, "query_p90_ms" -> p90.value,
          "queries_per_s" -> lat.size / plain.map(_.wallNs / 1e9).sum,
          "cpu_s" -> Stats.median(plain.map(_.workCpuNs / 1e9)), "peak_rss_mb" -> peakRssMb)
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      } else Layers.metrics(traced.toSeq, tracer, census, a.cores) :+
        (("trace.overhead_ms", (Stats.median(traced.map(_.wallNs / 1e6)) - batch * 1e3), "ms"))

    val props = inputs.properties ++ Seq("seed" -> a.seed.toString,
      "cores" -> a.cores.toString, "setup_s.start_and_inputs" -> startS.map(x => f"$x%.3f").mkString("|"),
      "setup_s.cold_pass" -> f"${reference.wallNs / 1e9}%.3f",
      "untimed_warmup_passes" -> warmup.tail.map(p => f"${p.wallNs / 1e9}%.3f").mkString("|"),
      "passes" -> plain.size.toString,
      "pass_s" -> plain.map(p => f"${p.wallNs / 1e9}%.3f").mkString("|"),
      "pass_cpu_s" -> plain.map(p => f"${p.cpuNs / 1e9}%.3f").mkString("|"),
      "pass_jit_s" -> plain.map(p => f"${p.jitNs / 1e9}%.3f").mkString("|"), "calls" -> lat.size.toString,
      "query_p90_ms.beyond" -> p90.beyond.toString,
      "failed_frac" -> (failed.toDouble / runs.size).toString,
      "pass_checksum" -> refSum.map(_.toString).getOrElse("none"))
    props.foreach { case (k, v) => println(s"# $k = $v") }
    plain.flatMap(_.calls).groupBy(_.call.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(f"# call $n%-28s n=${rs.size}%3d median_ms=${Stats.median(rs.map(_.latencyNs / 1e6))}%.1f")
    }
    notes.foreach(n => println(s"# note: $n"))
    if (a.trace) {
      val path = s"${a.dir}/trace/$runId.json"
      Layers.writeTrace(path, runId, tracer, census, traced.toSeq, plain.toSeq, props)
      println(s"# trace = $path")
    }
    spark.stop()
    println(resultLine(correct, runs.size, failed, metrics))
  }
}

/** Records expected pass checksums: for each seed in `from..to` it starts
  * a fresh session, generates that seed's inputs, runs one pass and
  * prints `expected <seed> <pass checksum>`. Usage:
  *
  * {{{
  * graftbench.Expected <workload> <from> <to> <cores> <scratch dir>
  * }}}
  *
  * `python3 perfbench/build.py expected` runs it for every workload and
  * writes expected_checksums.json. */
object Expected {
  def main(argv: Array[String]): Unit = {
    val Array(workload, from, to, cores, dir) = argv
    (from.toLong to to.toLong).foreach { seed =>
      val a = Main.Args(workload, seed, 0, trace = false, cores.toInt, dir, None)
      val spark = Main.session(a)
      try {
        val in = Workload(workload).generate(spark, seed, s"$dir/data")
        val p = Main.runPass(spark, in, new Tracer(false, "expected", spark.sparkContext), "pass")
        p.calls.foreach { r =>
          r.error.foreach(e => throw new IllegalStateException(s"seed $seed: ${r.call.name} threw", e))
          require(r.sum.exists(s => r.call.rowsOk(s.rows)),
            s"seed $seed: ${r.call.name} returned ${r.sum.map(_.rows)} rows")
        }
        println(s"expected $seed ${Main.passSum(p).get}")
      } finally {
        spark.stop()
        graft.util.DistRank.clearKeyCountCache()
      }
    }
  }
}

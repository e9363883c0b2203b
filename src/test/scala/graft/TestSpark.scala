package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    CodegenWatch.install()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with DistRank's heavy-key threshold
    * (`spark.graft.skew.heavyKeyRows`) set to `rows`, then restores the
    * default: 1 forces every key down the two-pass leg, a huge value
    * every key down the light hash fold. */
  def withHeavyKeyRows[T](rows: Long)(body: => T): T = {
    spark.conf.set("spark.graft.skew.heavyKeyRows", rows.toString)
    try body finally spark.conf.unset("spark.graft.skew.heavyKeyRows")
  }

  /** Java-serialized size of `o`: what shipping it inside a task costs. */
  def serializedBytes(o: AnyRef): Int = {
    val out = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(out)
    oos.writeObject(o)
    oos.close()
    out.size()
  }
}

/** Counts whole-stage-codegen compile failures logged by Spark's
  * CodeGenerator. A failed compile is NOT a test failure by itself —
  * Spark silently falls back to interpreted evaluation and results stay
  * correct — but it is exactly the expression-tree-size failure mode
  * PlanSizeSpec guards: a cascade too deep for the JIT runs 5-20x
  * slower at scale. Suites that aggregate over deep cascades assert
  * `errors` stayed zero so a reintroduced blowup fails loudly instead
  * of hiding in the log. */
object CodegenWatch {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  val errors = new java.util.concurrent.atomic.AtomicInteger(0)

  private lazy val installed: Unit = {
    val appender = new AbstractAppender(
      "graft-codegen-watch", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        val fromCodegen = event.getLoggerName != null &&
          event.getLoggerName.endsWith("CodeGenerator")
        if (fromCodegen && event.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.incrementAndGet()
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  def install(): Unit = installed
}

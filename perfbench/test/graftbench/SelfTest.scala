package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

/** Tests of the benchmark's own code. Run with
  * `python3 perfbench/build.py test`; exits non-zero on any failure.
  * Arguments: the BENCHMARK.json path and a scratch directory. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private var checks = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Throwable => println(s"  $name threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += name
  }

  def main(args: Array[String]): Unit = {
    val benchmarkJson = new File(args(0))
    val scratch = args(1)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      checksums(spark)
      percentiles()
      spans()
      metricNames(benchmarkJson)
      resultLine()
    } finally spark.stop()
    println(s"$checks checks, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }

  private def empa(spark: SparkSession, seed: Long, rows: Seq[Row] = Nil) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      if (rows.nonEmpty) rows else Gen.empaRows(seed, 300, 0.15, 0.03), 3), Gen.EmpaSchema)

  private def checksums(spark: SparkSession): Unit = {
    val a = Checksum.ofFrame(empa(spark, 1))
    check("same seed gives the same frame checksum")(a == Checksum.ofFrame(empa(spark, 1)))
    check("another seed gives another frame checksum")(a != Checksum.ofFrame(empa(spark, 2)))
    val rows = Gen.empaRows(1, 300, 0.15, 0.03)
    check("frame checksum ignores row order and partitioning")(
      a == Checksum.ofFrame(empa(spark, 1, rows.reverse).repartition(5)))
    val changed = rows.updated(123, Row.fromSeq(rows(123).toSeq.updated(3, 51.0)))
    check("changing one value changes the frame checksum")(
      a != Checksum.ofFrame(empa(spark, 1, changed)))
    check("a last-bits difference does not change the frame checksum")(
      a == Checksum.ofFrame(empa(spark, 1, rows.map(r => Row.fromSeq(r.toSeq.map {
        case d: Double => d * (1 + 1e-15)
        case x => x
      })))))
    check("frame checksum counts rows")(a.rows == 300L)

    val (docs, _) = Gen.corpus(7, 50, 3, 0.3, 4)
    val (docs2, _) = Gen.corpus(8, 50, 3, 0.3, 4)
    val r = Checksum.ofRows(docs.toArray)
    check("same seed gives the same row checksum")(
      r == Checksum.ofRows(Gen.corpus(7, 50, 3, 0.3, 4)._1.toArray))
    check("another seed gives another row checksum")(r != Checksum.ofRows(docs2.toArray))
    check("row checksum ignores row order")(r == Checksum.ofRows(docs.reverse.toArray))
    val edited = docs.updated(10, Row.fromSeq(docs(10).toSeq.updated(3, "src9")))
    check("changing one value changes the row checksum")(r != Checksum.ofRows(edited.toArray))
    val nested = Array(Row(1L, Seq(0.5, 1.25), Row("x", 2.0)))
    check("row checksum covers arrays and structs")(
      Checksum.ofRows(nested) != Checksum.ofRows(Array(Row(1L, Seq(0.5, 1.26), Row("x", 2.0)))))
    val vectors = Gen.vectors(3, 40, 4, 2)._1
    val vdf = spark.createDataFrame(spark.sparkContext.parallelize(vectors, 2), Gen.VectorSchema)
    check("frame checksum covers array columns")(Checksum.ofFrame(vdf) != Checksum.ofFrame(
      spark.createDataFrame(spark.sparkContext.parallelize(
        vectors.updated(5, Row(5L, Seq(9f, 9f, 9f, 9f))), 2), Gen.VectorSchema)))
    check("tagged sums of equal parts differ by tag")(
      Checksum.tagged("a", r) != Checksum.tagged("b", r))
  }

  private def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    val p90 = Stats.percentile(xs, 90)
    check("p90 of 1..100 is 90 with 100 samples and 10 beyond it")(
      p90.value == 90.0 && p90.samples == 100 && p90.beyond == 10)
    val small = Stats.percentile((1 to 50).map(_.toDouble), 90)
    check("p90 of 50 samples reports 5 beyond it")(small.samples == 50 && small.beyond == 5)
    val p50 = Stats.percentile(Seq(3.0, 1.0, 2.0), 50)
    check("p50 is the nearest-rank median")(p50.value == 2.0 && p50.samples == 3 && p50.beyond == 1)
    check("median of an even sample is the mean of the middle two")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("percentile of an empty sample is refused")(
      scala.util.Try(Stats.percentile(Nil, 50)).isFailure)
  }

  private def spans(): Unit = {
    val parent = Span(1, 0, "pass", 0L, 100L)
    val kids = Seq(Span(2, 1, "a", 10L, 40L), Span(3, 1, "b", 30L, 60L), Span(4, 1, "c", 90L, 120L))
    check("self time subtracts the union of child intervals")(Trace.selfNs(parent, kids) == 40L)
    check("self time of a leaf is its duration")(Trace.selfNs(parent, Nil) == 100L)
  }

  private def resultLine(): Unit = {
    val line = Main.resultLine(correct = true, attempted = 3, failed = 0,
      Seq(("setup_s", 1.234567891234, "s"), ("batch_s", 2.5, "s")))
    val j = new ObjectMapper().readTree(line)
    check("result line has exactly correct, attempted, failed and metrics")(
      j.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    val m = j.get("metrics").get("setup_s")
    check("result line keeps every digit of a value, with its unit")(
      m.get("value").asDouble() == 1.234567891234 && m.get("unit").asText() == "s")
    check("result line refuses a non-finite value")(scala.util.Try(
      Main.resultLine(correct = true, 1, 0, Seq(("batch_s", Double.NaN, "s")))).isFailure)
  }

  private def metricNames(benchmarkJson: File): Unit = {
    val valid = "[A-Za-z0-9_.-]+".r
    val emitted = Main.EndToEnd ++ Layers.names
    check("every metric name matches [A-Za-z0-9_.-]+")(
      emitted.forall { case (n, _) => valid.matches(n) })
    check("metric names are unique")(emitted.map(_._1).distinct.size == emitted.size)
    val json = new ObjectMapper().readTree(benchmarkJson)
    def declared(key: String) = json.get(key).elements().asScala.map { m =>
      m.get("name").asText() -> m.get("unit").asText()
    }.toSeq
    check("BENCHMARK.json end_to_end matches the emitted metrics")(
      declared("end_to_end") == Main.EndToEnd)
    check("BENCHMARK.json per_layer matches the emitted metrics")(
      declared("per_layer") == Layers.names)
    check("BENCHMARK.json workloads are the benchmark's workloads")(
      json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
        Workload.all.map(_.name))
  }
}

package graft

import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench final-line degrade ladder at simulated registry sizes:
  * every rung must emit a PARSEABLE JSON line under the harness tail
  * budget, and the grouped rung must keep per-query resolution for
  * every slow query. No SparkSession involved — renderFinal is pure. */
class BenchLineSpec extends AnyFunSuite {

  // a registry shaped like ours: p/q/t tracks, mostly-fast queries
  // with a bounded slow set
  private def registry(n: Int): Map[String, Double] = {
    (0 until n).map { i =>
      val track = Seq("p", "q", "t")(i % 3)
      val t = if (i % 12 == 0) 1.0 + (i % 7) * 0.77 else 0.08 + (i % 5) * 0.07
      f"$track${i}%03d_query_name_$i" -> t
    }.toMap
  }

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `line` as strict JSON with `metric == "total"` and a numeric total. */
  private def json(line: String): Option[JsonNode] =
    Try(mapper.readTree(line)).toOption.filter(n =>
      n.path("metric").asText == "total" && n.path("value").isNumber)

  /** The bench harness's procedure on a run's stdout: keep the last
    * ~2000 chars, take the last line that starts with `{` and read it
    * as [[json]]. None is the harness's `parsed: null`. */
  private def harnessParse(stdout: String): Option[JsonNode] =
    stdout.takeRight(2000).linesIterator.filter(_.startsWith("{"))
      .toSeq.lastOption.flatMap(json)

  // what the run prints around the final line: the diag line before it,
  // sbt's footer after it
  private def stdout(line: String): String =
    "{\"diag\":\"full_names\",\"queries\":{}}\n" + line +
      "\n[success] Total time: 812 s (13:32), completed Oct 17, 2026\n"

  private def parse(line: String): JsonNode = {
    val node = harnessParse(stdout(line))
    assert(node.isDefined, s"the harness would record parsed:null for ${line.take(80)}")
    node.get
  }

  test("140-query registry fits the 2-dp line with the warm map") {
    // (the synthetic entries here are ~2 chars wider than the real
    // registry's, so 140 here ~ the real 166)
    val r = registry(140)
    val warm = r.filter(_._2 > 1.0)
    val (line, diags) = Bench.renderFinal(r, warm, Nil, "sf0.1")
    parse(line)
    assert(line.length <= 1900)
    assert(diags.isEmpty, "no degrade at the current registry size")
  }

  test("220-query registry degrades to grouped subtotals, slow queries intact") {
    val r = registry(220)
    val warm = r.filter(_._2 > 1.0)
    val (line, diags) = Bench.renderFinal(r, warm, Nil, "sf0.1")
    parse(line)
    assert(line.length <= 1900, s"grouped line overflows: ${line.length}")
    assert(diags.exists(_.contains("final_line_grouped_subtotals")),
      s"expected the grouped rung; diags=$diags line=${line.take(120)}")
    assert(line.contains("\"tracks\":{\"p\":"), "per-track subtotals present")
    // EVERY >0.5s query resolves individually on the grouped line
    r.filter(_._2 > 0.5).keys.foreach { k =>
      val short = k.takeWhile(_ != '_')
      assert(line.contains(s"\"$short\":"), s"slow query $k missing")
    }
    assert(line.contains("\"queries_omitted\":"))
  }

  test("pathological registry (all slow) still emits a line via 1-dp rung") {
    val r = (0 until 400).map(i => f"t$i%03d_q" -> 2.0).toMap
    val (line, diags) = Bench.renderFinal(r, Map.empty, Nil, "sf0.1")
    // 400 all-slow queries blow even the grouped rung; the floor rung
    // keeps only the 1-dp track subtotals, so it fits the harness tail
    // however many queries the registry holds
    assert(diags.exists(_.contains("final_line_degraded_to_1dp")), diags)
    assert(line.length <= 1900, s"floor line overflows: ${line.length}")
    val node = parse(line)
    assert(node.path("tracks").path("t").asDouble == 800.0)
    assert(node.path("queries_omitted").asInt == 400)
    assert(line == Bench.renderFinal(r, Map.empty, Nil, "sf0.1")._1)
  }

  test("total_cold rides every rung and stays inside the budget") {
    for (n <- Seq(140, 220)) {
      val r = registry(n)
      val warm = r.filter(_._2 > 1.0)
      val (line, _) = Bench.renderFinal(r, warm, Nil, "sf0.1",
        coldTotal = r.values.sum + 3.25)
      parse(line)
      assert(line.length <= 1900, s"line overflows with total_cold: ${line.length}")
      assert(line.contains("\"total_cold\":"), s"total_cold missing at n=$n")
    }
    // default (-1) keeps the field out entirely — old call sites unchanged
    val (noCold, _) = Bench.renderFinal(registry(140), Map.empty, Nil, "sf0.1")
    assert(!noCold.contains("total_cold"))
  }

  test("failed queries stay listed on every rung") {
    val r = registry(220) + ("t999_dead" -> -1.0)
    val (line, _) = Bench.renderFinal(r, Map.empty, List("t999_dead"), "sf0.1")
    parse(line)
    assert(line.contains("\"failed\":[\"t999_dead\"]"))
    assert(!line.contains("\"t999\":-"), "failed time never emitted as negative")
  }

  test("a truncated, garbled or head-cut final line is not parsed") {
    val (line, _) = Bench.renderFinal(registry(140), Map.empty, Nil, "sf0.1")
    assert(parse(line).path("value").asDouble > 0)
    assert(harnessParse(stdout(line.dropRight(7))).isEmpty, "truncated line parsed")
    assert(harnessParse(stdout(line.replaceFirst(":", ";"))).isEmpty,
      "garbled line parsed")
    // past the ~2000-char tail the line's head is cut, which the
    // degrade ladder's budget exists to prevent
    val (long, _) = Bench.renderFinal(registry(220), Map.empty, Nil, "sf0.1",
      budget = 10000)
    assert(long.length > 2000)
    assert(harnessParse(stdout(long)).isEmpty, "head-cut line parsed")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Hang-shape guard: no lazy `localCheckpoint(eager = false)` in the
  * library. A lazy checkpoint populates inside its first consumer's
  * job; when several consumers run as concurrent adaptive stages, the
  * checkpointing thread and the DAG scheduler can lock each other
  * (the `tokenDriftFrom` deadlock: `RDD.markCheckpointed` against
  * `DAGScheduler.getCacheLocs`). Barriers are
  * `Barriers.firewall` leaves, populated eagerly at call time. No
  * SparkSession involved — the sources are scanned as text. */
class HangShapeSpec extends AnyFunSuite {
  // whitespace-tolerant, named or positional argument, across lines
  private val lazyCheckpoint =
    """localCheckpoint\s*\(\s*(eager\s*=\s*)?false\s*\)""".r

  test("no lazy localCheckpoint(eager = false) in src/main") {
    val sources: List[Path] =
      Using.resource(Files.walk(Paths.get("src/main")))(_.iterator.asScala
        .filter(_.toString.endsWith(".scala")).toList)
    assert(sources.nonEmpty, "src/main holds no Scala source")
    val hits = for {
      f <- sources
      text = Files.readString(f)
      m <- lazyCheckpoint.findAllMatchIn(text)
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}"
    assert(hits.isEmpty,
      s"lazy localCheckpoint (use Barriers.firewall): ${hits.mkString(", ")}")
  }
}

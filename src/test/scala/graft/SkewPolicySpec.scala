package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Skew-policy guard: DistRank alone decides which keys are heavy.
  * No library signature takes a per-call `heavyRowThreshold`, and the
  * threshold conf's key, the string literal
  * `"spark.graft.skew.heavyKeyRows"`, appears in code only in
  * `graft/util/DistRank.scala` (the measurement tools under
  * `graft/tools/` may set it; scaladoc may name it unquoted). A second
  * reader or an override parameter would let a caller pick a route
  * whose contract differs from the default one. No SparkSession
  * involved — the sources are scanned as text. */
class SkewPolicySpec extends AnyFunSuite {
  private val thresholdParam = """\bheavyRowThreshold\b""".r
  private val thresholdConf = """"spark\.graft\.skew\.heavyKeyRows"""".r

  private def mainSources: List[Path] =
    Using.resource(Files.walk(Paths.get("src/main")))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList)

  private def hits(files: List[Path], re: scala.util.matching.Regex) =
    for {
      f <- files
      text = Files.readString(f)
      m <- re.findAllMatchIn(text)
    } yield s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}"

  test("no heavyRowThreshold anywhere in src/main") {
    val sources = mainSources
    assert(sources.nonEmpty, "src/main holds no Scala source")
    val found = hits(sources, thresholdParam)
    assert(found.isEmpty,
      s"per-call heavy-key threshold (DistRank reads its conf): " +
        found.mkString(", "))
  }

  test("heavyKeyRows appears only in DistRank and the tools") {
    val sep = java.io.File.separator
    val allowed = (f: Path) => {
      val p = f.toString
      p.endsWith(Seq("graft", "util", "DistRank.scala").mkString(sep)) ||
        p.contains(Seq("graft", "tools", "").mkString(sep))
    }
    val sources = mainSources
    assert(sources.exists(allowed), "DistRank.scala not found under src/main")
    val found = hits(sources.filterNot(allowed), thresholdConf)
    assert(found.isEmpty,
      s"heavy-key threshold conf outside DistRank: ${found.mkString(", ")}")
  }
}

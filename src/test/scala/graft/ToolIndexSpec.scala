package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Doc rot guard: every `runMain graft.…` command the docs give must
  * name an object that still exists and has a `main`. No SparkSession
  * involved — the classes are loaded without being initialized. */
class ToolIndexSpec extends AnyFunSuite {
  // the runbooks: README.md, BASELINE.md and every SKILL.md in the repo
  private val docs = Seq(Paths.get("README.md"), Paths.get("BASELINE.md")) ++
    Using.resource(Files.find(Paths.get("."), 4,
      (p, _) => p.getFileName.toString == "SKILL.md"))(_.iterator.asScala.toList)
      .sortBy(_.toString)
  private val command = """runMain\s+(graft\.[\w.]+)""".r

  for (doc <- docs) test(s"every runMain in $doc names a loadable main") {
    val text = Files.readString(doc)
    val names = command.findAllMatchIn(text).map(_.group(1)).toSeq.distinct
    assert(names.nonEmpty, s"$doc names no runMain command")
    val loader = getClass.getClassLoader
    for (name <- names) {
      val cls = try Class.forName(name + "$", false, loader)
        catch { case _: ClassNotFoundException =>
          fail(s"$doc: runMain $name names no object") }
      assert(cls.getMethods.exists(m => m.getName == "main" &&
        m.getParameterTypes.toSeq == Seq(classOf[Array[String]])),
        s"$doc: $name has no main(Array[String])")
    }
  }
}

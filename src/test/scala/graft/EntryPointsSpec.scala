package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The README's "Entry points" section is the whole command-line surface:
  * every object under `src/main/scala` with a `def main`, and every
  * environment variable `src/main` reads, is listed there and nothing else.
  * A new `main` or knob therefore has to be documented (and argued for)
  * before this spec passes again. */
class EntryPointsSpec extends AnyFunSuite {

  private lazy val mainSources: Seq[String] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => new String(Files.readAllBytes(p), UTF_8))
    finally s.close()
  }

  private lazy val entrySection: String = {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), UTF_8)
    val from = readme.indexOf("\n## Entry points")
    assert(from >= 0, "README.md has no '## Entry points' section")
    val to = readme.indexOf("\n## ", from + 1)
    readme.substring(from, if (to < 0) readme.length else to)
  }

  private val objectDecl = """(?m)^\s*object\s+(\w+)""".r
  private val mainDecl = """def main\(""".r
  private val envRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"(\w+)"""".r

  test("the README lists exactly the objects in src/main that define main") {
    val mains = mainSources.flatMap { text =>
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainDecl.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2)
          .getOrElse(fail("def main outside an object"))
      }
    }.toSet
    val listed = """runMain graft\.(\w+)""".r.findAllMatchIn(entrySection).map(_.group(1)).toSet
    assert(mains === listed)
  }

  test("the README lists exactly the environment variables src/main reads") {
    val read = mainSources.flatMap { text =>
      envRead.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val listed = """(?m)^\| `(\w+)` \|""".r.findAllMatchIn(entrySection).map(_.group(1)).toSet
    assert(read === listed)
  }
}

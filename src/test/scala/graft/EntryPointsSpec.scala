package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The README's "Entry points" section is the whole command-line surface:
  * every object under `src/main/scala` with a `def main`, and every
  * environment variable `src/main` reads, is listed there and nothing else.
  * A new `main` or knob therefore has to be documented (and argued for)
  * before this spec passes again.
  *
  * Everything else in `src/main` is reached from those entry points: a
  * public name that only the specs call is a capability nothing can run,
  * and it is either wired in or deleted — or kept, with a written reason,
  * on the allow-list below. */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(root: String, keep: String => Boolean = _.endsWith(".scala")): Seq[String] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p.toString)).toList
      .map(p => new String(Files.readAllBytes(p), UTF_8))
    finally s.close()
  }

  private lazy val mainSources: Seq[String] = sources("src/main/scala")

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

  private lazy val mainObjects: Set[String] = mainSources.flatMap { text =>
    val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
    mainDecl.findAllMatchIn(text).map { m =>
      objects.filter(_._1 < m.start).lastOption.map(_._2)
        .getOrElse(fail("def main outside an object"))
    }
  }.toSet

  test("the README lists exactly the objects in src/main that define main") {
    val listed = """runMain graft\.(\w+)""".r.findAllMatchIn(entrySection).map(_.group(1)).toSet
    assert(mainObjects === listed)
  }

  test("the README lists exactly the environment variables src/main reads") {
    val read = mainSources.flatMap { text =>
      envRead.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val listed = """(?m)^\| `(\w+)` \|""".r.findAllMatchIn(entrySection).map(_.group(1)).toSet
    assert(read === listed)
  }

  /** Public names in `src/main` that only the specs reach, each kept for a
    * reason that outlives this list. */
  private val testOnlyAllowed: Map[String, String] = Map(
    "PgServer" -> ("the pgwire front end, to be wired as a Console option once a " +
      "session holds one catalog (ROADMAP item 10); wiring it first would give " +
      "each session two catalogs"),
    "commitId" -> "test seam: specs pin the commit clock around ASOF reads",
    "planCacheStats" -> "test seam: specs count plan-cache hits and misses",
    "clearLayoutCache" -> "test seam: specs rewrite a dataset dir in place and re-read it",
    "redactedProbe" -> "test seam: the PII spec checks the redacted text before aggregation")

  /** A comment, or a string or char literal kept whole so that a `//` inside
    * it does not start a comment. */
  private val commentOrLiteral =
    """(?s)"{3}.*?"{3,}|"[^"\\\n]*(?:\\.[^"\\\n]*)*"|'(?:\\[^']*|[^'\\\n])'|//[^\n]*|/\*.*?\*/""".r

  private def stripComments(src: String): String =
    commentOrLiteral.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " " else Regex.quoteReplacement(m.matched))

  private def wordCounts(texts: Seq[String]): Map[String, Int] =
    texts.flatMap(t => """\w+""".r.findAllIn(t)).groupBy(identity).map { case (w, ws) => w -> ws.size }

  private val declAtLineStart =
    """(?m)^[ \t]*((?:[\w\[\].@]+[ \t]+)*?)(?:object|class|trait|def|val)[ \t]+(\w+)""".r
  private val anyDecl = """\b(?:object|class|trait|def|val|var)\s+(\w+)""".r
  private val hidden = """\bprivate\b(?!\[)|\bprotected\b|\boverride\b""".r

  test("every public name in src/main is reached from src/main, tools or perfbench, not only from specs") {
    val main = mainSources.map(stripComments)
    val mainWords = wordCounts(main)
    val definitions = wordCounts(main.flatMap(t => anyDecl.findAllMatchIn(t).map(_.group(1))))
    // tools/ holds Python and shell, read as is
    val elsewhere = wordCounts(
      sources("tools", _ => true) ++ sources("perfbench/src").map(stripComments))
    val specWords = wordCounts(sources("src/test").map(stripComments))
    val skipped = Set("main", "apply", "unapply") ++ mainObjects
    val public = main.flatMap(t => declAtLineStart.findAllMatchIn(t).collect {
      case m if hidden.findFirstIn(m.group(1)).isEmpty => m.group(2)
    }).toSet -- skipped
    val testOnly = public.filter { name =>
      mainWords.getOrElse(name, 0) <= definitions.getOrElse(name, 0) &&
        !elsewhere.contains(name) && specWords.contains(name)
    }
    val unexplained = testOnly -- testOnlyAllowed.keySet
    assert(unexplained.isEmpty,
      "only specs reach these public names in src/main — wire them in or delete them: " +
        unexplained.toSeq.sorted.mkString(", "))
    val stale = testOnlyAllowed.keySet -- testOnly
    assert(stale.isEmpty,
      "allow-listed as test-only but no longer are — drop them from the list: " +
        stale.toSeq.sorted.mkString(", "))
  }
}

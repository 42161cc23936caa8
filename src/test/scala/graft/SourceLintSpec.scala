package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules the compiler does not check. Each failure names the
  * offending `file:line`s.
  */
class SourceLintSpec extends AnyFunSuite {

  private def sources(dirs: String*): Seq[(Path, String)] =
    dirs.flatMap { d =>
      val walk = Files.walk(Paths.get(d))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.sorted.map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))

  private def lineOf(text: String, offset: Int): Int =
    text.substring(0, offset).count(_ == '\n') + 1

  /** Offsets of every `/** … */` block followed, after whitespace only,
    * by another one: Scaladoc attaches only the last block to the def.
    */
  private def detachedDocs(text: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var open = text.indexOf("/**")
    while (open >= 0) {
      val close = text.indexOf("*/", open + 3)
      val next = if (close < 0) -1 else text.indexOf("/**", close + 2)
      if (next >= 0 && text.substring(close + 2, next).trim.isEmpty) out += open
      open = next
    }
    out.result()
  }

  /** A def (at the start of a code line, so comments never match) whose
    * whole body is `fooStage(…).result`, possibly over several lines: a
    * second public name for a builder's result.
    */
  private val Twin = ("""(?m)^[ \t]*(?:\w+(?:\[\w+\])?\s+)*def\s+\w+\s*""" +
    """(?:\((?:[^()]|\([^()]*\))*\)\s*)*""" +
    """(?::\s*[\w\[\], .]+?)?\s*=\s*\w+Stage\((?:[^()]|\([^()]*\))*\)""" +
    """\s*\.result\b(?!\s*[.(\[])""").r

  /** A `var` declared at member indentation (two spaces: the body of a
    * top-level trait or object), with any annotations and modifiers; a
    * local inside a def sits deeper.
    */
  private val VarMember = """(?m)^  (?:@\w+\s+|\w+(?:\[\w+\])?\s+)*var\s""".r

  test("the driver contract's traits and SparkEntry declare no var member") {
    // a JVM-wide var lets one session's query run leak into another's
    // results or oracle; shared state goes through SessionArtifacts
    val hits = for {
      n <- Seq("EntryShared", "EntryQueries", "EntryOraclesA", "EntryOraclesB",
        "SparkEntry")
      p = Paths.get(s"src/main/scala/graft/$n.scala")
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- VarMember.findAllMatchIn(text)
    } yield s"$p:${lineOf(text, m.start)}"
    assert(hits.isEmpty, s"var members: ${hits.mkString(", ")}")
  }

  test("no scaladoc in src/main/scala is followed directly by another") {
    val hits = for {
      (p, text) <- sources("src/main/scala")
      at <- detachedDocs(text)
    } yield s"$p:${lineOf(text, at)}"
    assert(hits.isEmpty, s"detached scaladocs: ${hits.mkString(", ")}")
  }

  test("no operator or streaming def is only a *Stage builder's .result") {
    val hits = for {
      (p, text) <- sources("src/main/scala/graft/operators",
        "src/main/scala/graft/streaming")
      m <- Twin.findAllMatchIn(text)
    } yield s"$p:${lineOf(text, m.start)}"
    assert(hits.isEmpty, s"result-only twins: ${hits.mkString(", ")}")
  }
}

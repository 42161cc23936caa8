package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.…` the docs name must resolve to an object with
  * `main(Array[String])`, so deleting or renaming a tool without fixing
  * its docs fails here. Resolution is on the test classpath, which holds
  * the `Test/runMain` tools as well as the `main` ones.
  */
class ToolDocsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain\s+(graft(?:\.\w+)+)""".r

  private def hasMain(cls: String): Boolean =
    try {
      val m = Class.forName(cls, false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]])
      java.lang.reflect.Modifier.isStatic(m.getModifiers)
    } catch {
      case _: ClassNotFoundException | _: NoSuchMethodException => false
    }

  test("every runMain named in README.md and the verify skill resolves to a main") {
    val named = docs.flatMap { d =>
      val text = new String(Files.readAllBytes(Paths.get(d)), "UTF-8")
      RunMain.findAllMatchIn(text).map(m => d -> m.group(1)).toSeq
    }
    // the README run list alone names Verify, Bench, Explain, BenchDiff,
    // Fuzz, StreamFuzz and BenchSubset
    assert(named.map(_._2).distinct.size >= 7, named)
    assert(!hasMain("graft.tools.NoSuchTool"))
    val broken = named.filterNot { case (_, cls) => hasMain(cls) }
    assert(broken.isEmpty,
      s"docs name mains that do not exist: ${broken.mkString(", ")}")
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The command lists in the docs cannot rot: every `graft.tools.X` they
  * name must be a compiled object with a `main`. */
class ToolsDocSpec extends AnyFunSuite {

  private val docs = Seq("CLAUDE.md", "README.md", ".claude/skills/verify/SKILL.md")

  test("every graft.tools entry point named in the docs resolves to a main") {
    val named = docs.flatMap { doc =>
      val p = Paths.get(doc)
      assert(Files.isRegularFile(p), s"$doc is missing")
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """graft\.tools\.([A-Za-z]\w*)""".r.findAllMatchIn(text).map(m => doc -> m.group(1))
    }
    assert(named.exists(_._2 == "QueryTime"), "no graft.tools command found in the docs")
    val broken = named.filterNot { case (_, tool) =>
      scala.util.Try(Class.forName(s"graft.tools.$tool$$", false, getClass.getClassLoader)
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(broken.isEmpty, s"docs name tools with no main: ${broken.distinct.mkString(", ")}")
  }
}

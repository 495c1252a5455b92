package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main under `graft.tools` is named in the build-and-run notes, so
  * a one-off tool cannot come back without being listed (and questioned).
  */
class ToolsListedSpec extends AnyFunSuite {
  test("every graft.tools main is named in the verify notes") {
    val notes = Files.readString(Paths.get(".claude/skills/verify/SKILL.md"))
    val mains = Files.list(Paths.get("src/main/scala/graft/tools")).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => Files.readString(f).split("(?m)^(?=object )").toSeq)
      .filter(s => s.startsWith("object ") && s.contains("def main("))
      .map(_.drop("object ".length).takeWhile(_.isLetterOrDigit))
    assert(mains.contains("Attribute") && mains.contains("VerifyOne"), mains)
    val unlisted = mains.filterNot(m => s"\\b$m\\b".r.findFirstIn(notes).isDefined)
    assert(unlisted.isEmpty, s"mains not named in .claude/skills/verify/SKILL.md: $unlisted")
  }
}

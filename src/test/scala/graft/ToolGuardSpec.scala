package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main the docs and sources tell a reader to run must exist: a doc
  * or comment left naming a deleted tool fails here. */
class ToolGuardSpec extends AnyFunSuite {
  private val root = Paths.get(sys.props("user.dir"))
  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md", "PLANS.md")

  private def sources: Seq[Path] = {
    val s = Files.walk(root.resolve("src/main"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Fully qualified class names cited by `graft.tools.<Name>`,
    * `tools/<Name>` or `runMain graft.<Name>`, with the files citing them. */
  private def cited(files: Seq[Path]): Map[String, Seq[Path]] = {
    val toolRef = """(?:graft\.tools\.|\btools/)([A-Z]\w*)""".r
    val mainRef = """runMain graft\.([A-Z]\w*)""".r
    files.flatMap { f =>
      val text = Files.readString(f)
      toolRef.findAllMatchIn(text).map(m => s"graft.tools.${m.group(1)}" -> f) ++
        mainRef.findAllMatchIn(text).map(m => s"graft.${m.group(1)}" -> f)
    }.groupMap(_._1)(_._2)
  }

  test("every tool and runMain target named in the docs and src/main loads") {
    val files = docs.map(root.resolve) ++ sources
    files.take(docs.size).foreach(f => assert(Files.isRegularFile(f), s"missing $f"))
    val names = cited(files)
    // the scan sees the documented drives, so an empty match cannot pass
    assert(Set("graft.tools.DriftDemo", "graft.tools.RunValidation", "graft.Bench")
      .subsetOf(names.keySet), names.keySet)
    val missing = names.filter { case (n, _) =>
      scala.util.Try(Class.forName(n, false, getClass.getClassLoader)).isFailure
    }
    assert(missing.isEmpty, missing.map { case (n, fs) =>
      s"$n (cited in ${fs.distinct.map(root.relativize).mkString(", ")})" }.mkString("; "))
  }
}

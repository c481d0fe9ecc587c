package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Every runnable tool in `graft.tools` has a user: a spec, a script or
  * the verify skill names it. A one-off probe that nothing names is
  * deleted once its numbers are recorded, not kept compiling.
  */
class ToolsInventorySpec extends AnyFunSuite with Matchers {

  private val ObjectRe = """(?m)^\s*object\s+(\w+)""".r

  private def files(root: String, ext: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(ext)).toList
      finally walk.close()
    }
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  /** Objects in `src` that define `main`: each `def main` belongs to the
    * nearest `object` declared before it.
    */
  private def mainObjects(src: String): Seq[String] =
    """def\s+main\s*\(""".r.findAllMatchIn(src).flatMap { m =>
      ObjectRe.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
    }.toSeq.distinct

  test("every main object under graft.tools is named by a spec, script or skill") {
    val tools = files("src/main/scala/graft/tools", ".scala").flatMap(p => mainObjects(read(p)))
    tools should not be empty
    val users = (files("src/test", "") ++ files("scripts", "") ++ files(".claude/skills", ""))
      .filterNot(_.getFileName.toString == "ToolsInventorySpec.scala").map(read)
    tools.filterNot(t => users.exists(s"\\b$t\\b".r.findFirstIn(_).isDefined)) shouldBe empty
  }
}

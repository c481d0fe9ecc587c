package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The repository's own files, for specs that check the code itself
  * rather than run it. Paths are relative to the project root (the
  * test JVM's working directory).
  */
object SourceTree {

  /** Regular files under `root` whose names end in `ext`; empty when
    * `root` does not exist.
    */
  def files(root: String, ext: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(ext)).toList.sortBy(_.toString)
      finally walk.close()
    }
  }

  def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
}

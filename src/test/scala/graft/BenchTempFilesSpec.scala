package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BenchTempFilesSpec extends AnyFunSuite with Matchers {

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  test("runDir deletes the directories of dead benches and keeps live ones") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench-tmp").toFile
    try {
      // a pid that has exited: a bench killed there left its files
      val gone = new ProcessBuilder("true").start()
      gone.waitFor()
      val deadPid = gone.pid()
      ProcessHandle.of(deadPid).isPresent shouldBe false
      val dead = new java.io.File(tmp, s"graft-bench-$deadPid-1")
      val live = new java.io.File(tmp, s"graft-bench-${ProcessHandle.current().pid}-2")
      val other = new java.io.File(tmp, "graft-bench-notes")
      Seq(dead, live, other).foreach { d =>
        d.mkdir()
        Seq("graft-bench-cp1.jar", "graft-bench-cds2.jsa")
          .foreach(n => new java.io.File(d, n).createNewFile())
      }
      val mine = Bench.runDir(tmp)
      dead.exists() shouldBe false
      live.listFiles().length shouldBe 2
      other.listFiles().length shouldBe 2
      mine.getParentFile shouldBe tmp
      mine.getName should startWith(s"graft-bench-${ProcessHandle.current().pid}-")
      // the jars of this run land in its own directory
      val cp = Bench.cdsClasspath(mine)
      cp should not be empty
      cp.get.split(java.io.File.pathSeparator)
        .filter(_.contains("graft-bench-cp"))
        .foreach(p => new java.io.File(p).getParentFile shouldBe mine)
    } finally deleteTree(tmp)
  }
}

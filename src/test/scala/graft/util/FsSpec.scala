package graft.util

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class FsSpec extends AnyFunSuite {

  test("tempDirDeletedAtExit: a populated dir is gone once its JVM exits") {
    val (code, out) = graft.ChildJvm.run("graft.util.TempDirAtExitMain", Nil, heap = "64m")
    assert(code == 0, out)
    val Array(dir, files) = out.trim.split(" ")
    assert(files.toInt == 3, "the child populated the dir before it exited")
    assert(!Files.exists(Paths.get(dir)))
  }
}

/** Makes a helper dir with nested files, prints its path and file count,
  * and exits.
  */
object TempDirAtExitMain {
  def main(args: Array[String]): Unit = {
    val d = Fs.tempDirDeletedAtExit("graft_fs_spec")
    Files.createDirectories(d.resolve("out/part=1"))
    Files.writeString(d.resolve("a.txt"), "a")
    Files.writeString(d.resolve("out/b.parquet"), "b")
    Files.writeString(d.resolve("out/part=1/c.parquet"), "c")
    val walk = Files.walk(d)
    val n = try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
    println(s"$d $n")
  }
}

package graft.util

import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.lineage.Lineage
import graft.model.TranscriptGen
import graft.route.{Router, Sink}
import graft.streaming.StreamingPipeline

class NoForkLocalFileSystemSpec extends SparkTestBase {

  private val plainImpl = classOf[LocalFileSystem].getName
  private val noForkImpl = classOf[NoForkLocalFileSystem].getName

  private def newFs(impl: String, umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  /** Relative path -> rwx string of everything under `root`. */
  private def modes(root: Path): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  /** Makes a dir tree and files (with their .crc) through `fs`. */
  private def populate(fs: FileSystem, root: Path): Map[String, String] = {
    val base = new HPath(root.toUri)
    assert(fs.mkdirs(new HPath(base, "a/b")))
    val out = fs.create(new HPath(base, "a/b/f.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    fs.create(new HPath(base, "c/d/g.bin")).close() // parents made by create
    modes(root)
  }

  for ((umask, fileMode, dirMode) <- Seq(
      (None, "rw-r--r--", "rwxr-xr-x"), (Some("077"), "rw-------", "rwx------")))
    test(s"files and dirs get the stock LocalFileSystem's modes (umask ${umask.getOrElse("default")})") {
      val plain = newFs(plainImpl, umask)
      val noFork = newFs(noForkImpl, umask)
      try {
        assert(noFork.isInstanceOf[NoForkLocalFileSystem])
        val want = populate(plain, Files.createTempDirectory("graft-plainfs"))
        val got = populate(noFork, Files.createTempDirectory("graft-noforkfs"))
        assert(got == want)
        assert(got.keySet == Set("a", "a/b", "a/b/f.bin", "a/b/.f.bin.crc",
          "c", "c/d", "c/d/g.bin", "c/d/.g.bin.crc"))
        got.foreach { case (p, m) =>
          assert(m == (if (p.endsWith(".bin") || p.endsWith(".crc")) fileMode else dirMode), p)
        }
      } finally { plain.close(); noFork.close() }
    }

  test("setPermission: IOException on a missing path, sticky bit through Hadoop's own path") {
    val fs = newFs(noForkImpl, None)
    try {
      val root = Files.createTempDirectory("graft-noforkfs")
      intercept[java.io.IOException](
        fs.setPermission(new HPath(root.resolve("missing").toUri), new FsPermission("644")))
      val sticky = new HPath(root.resolve("tmp").toUri)
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission("1777"))
      assert((Files.getAttribute(root.resolve("tmp"), "unix:mode").asInstanceOf[Int] & 0xfff)
        == Integer.parseInt("1777", 8))
    } finally fs.close()
  }

  /** `chmod` processes started while `body` runs whose command names a
    * path containing `marker`, as recorded by a JFR `jdk.ProcessStart`
    * recording in this JVM.
    */
  private def chmodsNaming(marker: String)(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command"))
        .count(c => c.startsWith("chmod ") && c.contains(marker))
    } finally { rec.close(); Files.delete(f) }
  }

  test("Lineage.run and Router.write start no chmod; the same write without the options does") {
    assume(!NativeIO.isAvailable, "with Hadoop's native library no write forks chmod")
    // a plain LocalFileSystem in the JVM-wide cache, as spark-submit or an
    // earlier suite may leave it: the write-scoped options must still hold
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val turns = TranscriptGen.generate(spark, seed = 5L, nConvs = 12L, parallelism = 2).toDF()
    val routed = Router.assign(turns, Seq(Sink("tools", col("tool") =!= "none")), "main")
    // the stream's input and checkpoint live outside the output root
    val streamIn = Files.createTempDirectory("graft-nofork-in")
    turns.write.mode("overwrite").parquet(streamIn.toString)
    val root = Files.createTempDirectory("graft-nofork-run")
    val marker = root.getFileName.toString
    val spawned = chmodsNaming(marker) {
      assert(Lineage.run(routed, root.resolve("lineage").toString, nBuckets = 4, batchId = "b1") > 0)
      Router.write(routed, root.resolve("routed").toString)
      StreamingPipeline.run(spark, streamIn.toString, s"$streamIn-ckpt",
        root.resolve("stream").toString).awaitTermination(120000)
    }
    assert(spawned == 0)
    assert(Lineage.committed(root.resolve("stream/batch=0").toString).nonEmpty)
    assert(Files.exists(root.resolve("routed/_template.json")))
    val control = Files.createTempDirectory("graft-plain-run")
    val controlSpawned = chmodsNaming(control.getFileName.toString) {
      routed.write.mode("overwrite").partitionBy(Router.SinkCol).parquet(control.toString)
    }
    assert(controlSpawned >= 1)
  }
}

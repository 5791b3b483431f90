package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A `RawLocalFileSystem` that sets permissions in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `Shell.execCommand("chmod", …)`: one process and one stderr-reader
  * thread for every file and directory a write creates (a 64-bucket
  * staged commit made ~780 of them per batch). Hadoop calls
  * `setPermission` with the mode already masked by
  * `fs.permissions.umask-mode`, so setting those bits with
  * `Files.setPosixFilePermissions` gives the same modes, and a failure is
  * still an `IOException`. A sticky bit, which `PosixFilePermission`
  * cannot express, and non-POSIX filesystems fall back to Hadoop's own
  * path.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** [[NoForkRawLocalFileSystem]] wrapped as a checksummed `LocalFileSystem`:
  * the same `.crc` files as the stock `file:` filesystem.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

object NoForkLocalFileSystem {

  /** Writer options that route a write's `file:` paths through
    * [[NoForkLocalFileSystem]]. Spark copies writer options into the
    * job's and its tasks' Hadoop conf, so they hold for that write under
    * any launcher. A session-wide `spark.hadoop.fs.file.impl` would not:
    * Hadoop's `FileSystem` cache is keyed by scheme, authority and user,
    * not by conf, so it is ignored once anything in the JVM has obtained
    * a `file:` filesystem; hence the cache is bypassed for these writes.
    * Other schemes (`hdfs://`, `s3a://`) are untouched.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The one encoding of the engine's parquet sink writes
    * ([[graft.lineage.Lineage.run]], [[graft.route.Router.write]] and
    * [[graft.route.Router.writeDorisTables]]), on top of [[WriteOptions]]:
    * zstd, and no dictionary for the envelope's near-unique columns
    * `text`, `ts` and `event_ts`. Their dictionaries grow to nearly a
    * value per row, so building them costs hash-table probes and rehashes
    * and buys no compactness; zstd's window folds repeated lines within a
    * page instead. Low-cardinality columns (`role`, `tool`, `_sink`, …)
    * keep their dictionaries. The column paths are lowercase because
    * Spark lowercases writer-option keys; a frame without these columns
    * writes as usual.
    */
  val SinkWriteOptions: Map[String, String] = WriteOptions ++
    Map("compression" -> "zstd") ++
    Seq("text", "ts", "event_ts").map(c => s"parquet.enable.dictionary#$c" -> "false")
}

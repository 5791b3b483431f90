package graft.util

import java.nio.file.{Files, Path}

/** The one shared recursive-delete helper — the walk stream holds a
  * directory handle and MUST be closed; keeping a single spelling stops
  * the leak from reappearing in copies (it did, three times).
  */
object Fs {

  /** Delete `p` and everything under it. Missing paths are a no-op;
    * under `tolerant = true` a concurrent external sweep racing ANY stage
    * (the walk itself, iteration, or individual deletions) is tolerated —
    * the goal state, "gone", was reached either way; with `false` (the
    * default) every failure propagates — a cleanup of a directory this
    * JVM owns should fail loudly when it can't.
    */
  def deleteRecursively(p: Path, tolerant: Boolean = false): Unit =
    try {
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(p)
        try walk.iterator().asScala.toSeq.reverse.foreach { f =>
          if (tolerant) { try Files.delete(f) catch { case _: java.io.IOException => () } }
          else Files.delete(f)
        }
        finally walk.close()
      }
    } catch {
      // the walk/iteration stages surface a vanished tree as these two
      case _: java.nio.file.NoSuchFileException if tolerant => ()
      case e: java.io.UncheckedIOException if tolerant &&
        e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
    }

  private val deleteAtExit = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit =
    sys.addShutdownHook(deleteAtExit.forEach(deleteRecursively(_, tolerant = true)))

  /** A new temp directory that is deleted, with everything under it, when
    * the JVM shuts down — for outputs a returned lazy frame still reads,
    * so the directory cannot go when the call that made it returns.
    */
  def tempDirDeletedAtExit(prefix: String): Path = {
    exitHook
    val d = Files.createTempDirectory(prefix)
    deleteAtExit.add(d)
    d
  }

  /** Filesystem glob with Go `filepath.Glob` semantics (the shape the
    * reference's config `includes` use, `lc-lib/prospector/config.go:74`):
    * `*`/`?`/`[...]` match within one path segment, no `**`, and matches
    * return sorted. A relative pattern resolves against `base`. A pattern
    * with no matches is an empty result, not an error.
    */
  def glob(pattern: String, base: Path = java.nio.file.Paths.get(".")): Seq[Path] = {
    val isAbs = pattern.startsWith("/")
    val segs = pattern.split("/").toList.filter(s => s.nonEmpty && s != ".")
    val start = if (isAbs) java.nio.file.Paths.get("/") else base
    def hasMeta(s: String): Boolean = s.exists(c => c == '*' || c == '?' || c == '[')
    def walk(dir: Path, rest: List[String]): Seq[Path] = rest match {
      case Nil => Nil
      case seg :: tail if !hasMeta(seg) =>
        val next = dir.resolve(seg)
        if (tail.isEmpty) { if (Files.exists(next)) Seq(next) else Nil }
        else if (Files.isDirectory(next)) walk(next, tail)
        else Nil
      case seg :: tail =>
        if (!Files.isDirectory(dir)) Nil
        else {
          val m = java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$seg")
          import scala.jdk.CollectionConverters._
          val listing = Files.list(dir)
          val entries =
            try listing.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
            finally listing.close()
          entries.filter(e => m.matches(e.getFileName)).flatMap { e =>
            if (tail.isEmpty) Seq(e)
            else if (Files.isDirectory(e)) walk(e, tail)
            else Nil
          }
        }
    }
    walk(start, segs).sortBy(_.toString)
  }
}

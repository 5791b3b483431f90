package graft

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

/** Runs a test-classpath main in a fresh JVM — for specs that need what
  * the shared test session cannot give: a different master (task
  * retries need `local[n,maxFailures]`) or a JVM shutdown.
  */
object ChildJvm {

  /** Exit code and stdout of `mainClass` run with `args`. */
  def run(mainClass: String, args: Seq[String], heap: String = "1g"): (Int, String) = {
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // the module opens Spark needs on JDK 17, as this JVM got them
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val opens = in.indices.flatMap { i =>
      if (in(i) == "--add-opens" && i + 1 < in.size) Seq(in(i), in(i + 1))
      else if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else Nil
    }
    val cmd = Seq(javaBin, s"-Xmx$heap", "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val p = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    (p.waitFor(), out)
  }
}

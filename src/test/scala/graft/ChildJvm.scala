package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** Runs a main class of the test classpath in a child JVM, for specs
  * that need a session or a process setting the shared test JVM cannot
  * have. The child inherits this JVM's `--add-opens` flags.
  */
object ChildJvm {

  /** The child's exit code and its stdout and stderr, interleaved. */
  def run(mainClass: String, args: Seq[String],
      env: Map[String, String] = Map.empty): (Int, String) = {
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", inherited(i + 1))
      case _ => Nil
    }
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().putAll(env.asJava)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    (proc.waitFor(), out)
  }
}

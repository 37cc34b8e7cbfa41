package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions.fail

/** Runs a probe's `main` in a fresh JVM with this JVM's classpath and
  * module flags, for specs whose measurement is process-wide (a static
  * conf, a JVM-wide cache, the process's child count) or needs a second
  * SparkContext. Returns the probe's output lines once it exits 0; fails
  * the calling test if it times out or exits non-zero, keeping its output
  * in a temp log file. */
object ChildJvm {
  def run(probe: AnyRef, args: Seq[String], xmx: String = "1g",
      timeoutS: Long = 300): Seq[String] = {
    val main = probe.getClass.getName.stripSuffix("$")
    val log = Files.createTempFile(main.split('.').last, ".log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ jvmArgs ++
      Seq(s"-Xmx$xmx", "-cp", sys.props("java.class.path"), main) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(timeoutS, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      fail(s"$main did not finish in $timeoutS s; output in $log")
    }
    val out = Files.readAllLines(log).asScala.toSeq
    if (p.exitValue != 0) fail(s"$main failed:\n${out.takeRight(40).mkString("\n")}")
    Files.delete(log)
    out
  }

  /** This process's proc(5) stat file. */
  val procStat = Paths.get("/proc/self/stat")

  /** `cminflt` (proc(5) field 11): minor faults of this process's
    * waited-for children. Each reaped child adds about 50, so a flat value
    * across a stretch of work means no child process ran in it. */
  def childMinorFaults(): Long = {
    val s = new String(Files.readAllBytes(procStat))
    // fields after "pid (comm) " start at field 3
    s.substring(s.lastIndexOf(')') + 2).split(' ')(11 - 3).toLong
  }
}

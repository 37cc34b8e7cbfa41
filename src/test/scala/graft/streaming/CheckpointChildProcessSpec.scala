package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.{ChildJvm, Sessions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Guards the streaming checkpoint path against spawning child processes.
  * Without the native libhadoop, Hadoop's local filesystem runs `chmod`
  * and `readlink` as children for every checkpoint file; each reaped child
  * adds about 50 to the JVM's `cminflt` (proc(5) field 11, minor faults of
  * waited-for children), so a flat `cminflt` across micro-batches means no
  * child ran. The batches run in a fresh JVM ([[CheckpointChildProcessProbe]])
  * because `cminflt` is process-wide and Spark spawns children of its own
  * at times nobody controls: in the shared test JVM, the ArtifactManager
  * removes each garbage-collected session's directory with an `rm -rf`
  * child whenever the GC gets to it. */
class CheckpointChildProcessSpec extends AnyFunSuite {
  test("windowedCounts micro-batches with a file: checkpoint spawn no child process") {
    assume(Files.exists(CheckpointChildProcessProbe.stat), "needs Linux /proc/self/stat")
    val ck = Files.createTempDirectory("graft_ck_children")
    val out = ChildJvm.run(CheckpointChildProcessProbe, Seq(ck.toUri.toString))
    val grew = out.collectFirst { case s"cminflt_growth=$n" => n.toLong }
      .getOrElse(fail(s"probe printed no cminflt_growth:\n${out.mkString("\n")}"))
    assert(grew == 0, s"cminflt grew by $grew over ${CheckpointChildProcessProbe.Measured} " +
      s"batches: about ${grew / 50} child processes were reaped")
    // the integrity layer is still there: Hadoop .crc sidecars on every
    // checkpoint file, state-store deltas included
    for (f <- Seq(".metadata.crc", "offsets/.0.crc", "commits/.0.crc", "state/0/0/.1.delta.crc"))
      assert(Files.exists(ck.resolve(f)), s"missing $f")
  }
}

/** One warm-up micro-batch of [[StreamOps.windowedCounts]] over a
  * MemoryStream with a `file:` checkpoint at `args(0)`, then `Measured`
  * batches; prints this JVM's `cminflt` growth across the measured ones. */
object CheckpointChildProcessProbe {
  val stat = Paths.get("/proc/self/stat")
  val Measured = 10

  private def childMinorFaults(): Long = {
    val s = new String(Files.readAllBytes(stat))
    // fields after "pid (comm) " start at field 3
    s.substring(s.lastIndexOf(')') + 2).split(' ')(11 - 3).toLong
  }

  def main(args: Array[String]): Unit = {
    // No heartbeat during the run: the first one initializes Spark's procfs
    // metrics reader, which runs `getconf PAGESIZE` as a child process.
    val spark = Sessions.local("2", "graft-ck-children", Map(
      "spark.executor.heartbeatInterval" -> "600s", "spark.network.timeout" -> "1200s"))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KnobEvent]
    val q = StreamOps.windowedCounts(input.toDS(), window = "1 second", watermark = "1 second")
      .writeStream.format("noop").outputMode(OutputMode.Append())
      .option("checkpointLocation", args(0)).start()
    def batch(b: Int): Unit = {
      input.addData((0 until 8).map(i => KnobEvent(i % 3, 1, new Timestamp((100 + b) * 1000L + i))): _*)
      q.processAllAvailable()
    }
    try {
      batch(0) // warm-up: creates the checkpoint layout and loads classes
      val before = childMinorFaults()
      (1 to Measured).foreach(batch)
      val grew = childMinorFaults() - before
      require(q.exception.isEmpty, s"query failed: ${q.exception}")
      require(q.lastProgress.batchId >= Measured, s"only ${q.lastProgress.batchId} batches ran")
      println(s"cminflt_growth=$grew")
    } finally {
      q.stop()
      spark.stop()
    }
  }
}

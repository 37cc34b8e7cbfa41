package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.operators.{JoinOps, ScalarOps}
import org.scalatest.funsuite.AnyFunSuite

/** Guards local parquet and `saveAsTable` writes against spawning child
  * processes. Without the native libhadoop, Hadoop's stock local
  * filesystem runs a `chmod` child for every file and directory a write
  * creates; `Sessions.local` makes [[NioLocalFileSystem]] the session's
  * `file:` filesystem instead. The writes run in a fresh JVM
  * ([[LocalWriteChildProcessProbe]]) because `cminflt` is process-wide
  * (see [[graft.streaming.CheckpointChildProcessSpec]]). */
class LocalWriteChildProcessSpec extends AnyFunSuite {
  test("layout rebuilds and a plain parquet write spawn no child process") {
    assume(Files.exists(ChildJvm.procStat), "needs Linux /proc/self/stat")
    val root = Files.createTempDirectory("graft_write_children")
    try {
      val out = ChildJvm.run(LocalWriteChildProcessProbe, Seq(TestSpark.sf, root.toString))
      val grew = out.collectFirst { case s"cminflt_growth=$n" => n.toLong }
        .getOrElse(fail(s"probe printed no cminflt_growth:\n${out.mkString("\n")}"))
      assert(grew == 0, s"cminflt grew by $grew over the layout writes: " +
        s"about ${grew / 50} child processes were reaped")

      // the same permission bits and .crc sidecars Hadoop's own call gave
      val tag = Tables.sfTag(TestSpark.sf)
      val written = Seq(s"warehouse/li_bkt_$tag", s"warehouse/ord_bkt_$tag",
        s"warehouse/ev_day_$tag", "plain").map(root.resolve)
      for (dir <- written) {
        val s = Files.walk(dir)
        val paths = try s.iterator.asScala.toList finally s.close()
        val (dirs, files) = paths.partition(Files.isDirectory(_))
        assert(dirs.size >= 1 && files.count(isData) >= 1, s"$dir wrote nothing")
        def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
        for (d <- dirs) assert(mode(d) == "rwxr-xr-x", s"directory $d")
        for (f <- files) assert(mode(f) == "rw-r--r--", s"file $f")
        for (f <- files.filter(isData))
          assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"no .crc for $f")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  private def isData(p: Path): Boolean = !p.getFileName.toString.startsWith(".")
}

/** One warm-up parquet write, then [[JoinOps.bucketedTables]],
  * [[ScalarOps.partitionedEvents]] and a plain `df.write.parquet` into a
  * warehouse and directory under `args(1)`, over the fixtures at
  * `args(0)`; prints this JVM's `cminflt` growth across the three. */
object LocalWriteChildProcessProbe {
  def main(args: Array[String]): Unit = {
    val Array(sf, root) = args
    // No heartbeat during the run: the first one initializes Spark's procfs
    // metrics reader, which runs `getconf PAGESIZE` as a child process.
    val spark = Sessions.local("2", "graft-write-children", Map(
      "spark.executor.heartbeatInterval" -> "600s", "spark.network.timeout" -> "1200s",
      "spark.sql.warehouse.dir" -> s"$root/warehouse"))
    try {
      spark.range(10).write.parquet(s"$root/warm-up") // loads the write path's classes
      val before = ChildJvm.childMinorFaults()
      JoinOps.bucketedTables(spark, sf)
      ScalarOps.partitionedEvents(spark, sf)
      spark.range(100).write.parquet(s"$root/plain")
      println(s"cminflt_growth=${ChildJvm.childMinorFaults() - before}")
    } finally spark.stop()
  }
}

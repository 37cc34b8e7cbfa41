package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{NioLocalFileSystem, NioRawLocalFileSystem, Sessions, TestSpark}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.SerializedOffset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, OffsetSeq, OffsetSeqLog}
import org.scalatest.funsuite.AnyFunSuite

/** Parity of [[LocalCheckpointFileManager]] with Spark's default
  * FileContext-based manager: both get the same inputs and must give the
  * same atomic-write outcomes, the same `.crc` sidecars and the same
  * permission bits; a corrupted checkpoint file must fail its read. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** One fresh directory per manager, so their outputs can be compared. */
  private def managers(tag: String): Seq[(String, CheckpointFileManager, Path)] = {
    val root = Files.createTempDirectory(s"graft_cfm_$tag")
    Seq("local", "default").map { name =>
      val dir = new Path(root.resolve(name).toUri)
      val fm = name match {
        case "local" => new LocalCheckpointFileManager(dir, conf)
        case _ => new FileContextBasedCheckpointFileManager(dir, conf)
      }
      fm.mkdirs(dir)
      (name, fm, dir)
    }
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every name on disk, sidecars and hidden temp files included. */
  private def onDisk(dir: Path): Set[String] = {
    val s = Files.list(Paths.get(dir.toUri))
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally s.close()
  }

  test("createAtomic without overwrite onto an existing file throws and keeps the old bytes") {
    val left = managers("noover").map { case (name, fm, dir) =>
      val f = new Path(dir, "0")
      write(fm, f, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, f, "new", overwrite = false))
      assert(read(fm, f) == "old", name)
      def anon(n: String) = n.replaceAll("[0-9a-f-]{36}", "<uuid>")
      (fm.list(dir).map(st => anon(st.getPath.getName)).toSet, onDisk(dir).map(anon))
    }
    assert(left(0) == left(1), "listed / on disk after the refused rename")
  }

  test("createAtomic with overwrite replaces the file") {
    for ((name, fm, dir) <- managers("over")) {
      val f = new Path(dir, "0")
      write(fm, f, "old", overwrite = false)
      write(fm, f, "newer", overwrite = true)
      assert(read(fm, f) == "newer", name)
    }
  }

  test("cancel publishes nothing and leaves nothing behind") {
    for ((name, fm, dir) <- managers("cancel")) {
      val out = fm.createAtomic(new Path(dir, "1"), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(!fm.exists(new Path(dir, "1")), name)
      assert(fm.list(dir).isEmpty, s"$name lists ${fm.list(dir).map(_.getPath).toSeq}")
      assert(onDisk(dir).isEmpty, s"$name left ${onDisk(dir)}")
    }
  }

  test("a flipped byte in an offsets-log file fails the read with ChecksumException") {
    // Both managers write the Hadoop .crc sidecar. Only this one checks it
    // on read: Spark's default opens through FileContext, whose local
    // binding on Hadoop 3.4.2 hands back the raw stream and serves the
    // flipped byte silently.
    val spark = TestSpark.spark
    val managerClasses = Seq(classOf[LocalCheckpointFileManager],
      classOf[FileContextBasedCheckpointFileManager])
    for (cls <- managerClasses) TestSpark.withConfs(LocalCheckpointFileManager.ConfKey -> cls.getName) {
      val dir = Files.createTempDirectory("graft_cfm_crc").resolve("offsets")
      val log = new OffsetSeqLog(spark, dir.toUri.toString)
      assert(log.add(0, OffsetSeq.fill(SerializedOffset("""{"seq":42}"""))))
      assert(Files.exists(dir.resolve(".0.crc")), s"${cls.getSimpleName}: no .crc sidecar")
      if (cls == classOf[LocalCheckpointFileManager]) {
        val file = dir.resolve("0")
        val bytes = Files.readAllBytes(file)
        bytes(bytes.length - 3) = (bytes(bytes.length - 3) ^ 0x01).toByte
        Files.write(file, bytes)
        val e = intercept[Exception](new OffsetSeqLog(spark, dir.toUri.toString).get(0))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(_.isInstanceOf[ChecksumException]),
          s"read failed with $e, not a ChecksumException")
      }
    }
  }

  test("created files and directories get the same permission bits") {
    val perms = managers("perms").map { case (_, fm, dir) =>
      fm.mkdirs(new Path(dir, "d/e"))
      write(fm, new Path(dir, "f"), "x", overwrite = false)
      Seq("d", "d/e", "f", ".f.crc").map { n =>
        n -> Files.getPosixFilePermissions(Paths.get(dir.toUri).resolve(n)).toString
      }
    }
    assert(perms(0) == perms(1))
  }

  test("the raw layer sets plain modes through NIO and keeps Hadoop's call for sticky bits") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    val root = Files.createTempDirectory("graft_cfm_raw")
    val f = Files.createFile(root.resolve("f"))
    fs.setPermission(new Path(f.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f)) == "rw-r-----")
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    fs.setPermission(new Path(root.toUri), sticky)
    assert(fs.getFileStatus(new Path(root.toUri)).getPermission == sticky)
  }

  /** The filesystem under Spark's FileSystem-based manager (a protected
    * Scala val whose accessor is public in bytecode). */
  private def fsOf(m: CheckpointFileManager): AnyRef =
    classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(m)

  test("file: paths take the NIO local filesystem; other schemes get Spark's default manager") {
    assert(LocalCheckpointFileManager.routesLocal(new Path("file:/tmp/ck"), conf))
    assert(LocalCheckpointFileManager.routesLocal(new Path("/tmp/ck"), conf))
    assert(!LocalCheckpointFileManager.routesLocal(new Path("hdfs://nn/ck"), conf))
    assert(!LocalCheckpointFileManager.routesLocal(new Path("s3a://bucket/ck"), conf))

    val local = new LocalCheckpointFileManager(new Path("file:/tmp/ck"), conf).underlying
    assert(fsOf(local).isInstanceOf[NioLocalFileSystem])

    // A scheme with a FileSystem but no FileContext binding, served by the
    // stock raw local filesystem so nothing leaves the machine: the
    // manager must build exactly what Spark builds with the key unset.
    val c = new Configuration(conf)
    c.set("fs.graftother.impl", classOf[RawLocalFileSystem].getName)
    c.setBoolean("fs.graftother.impl.disable.cache", true)
    val other = new Path("graftother:///tmp/ck")
    val want = CheckpointFileManager.create(other, c)
    c.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val viaSpark = CheckpointFileManager.create(other, c)
    assert(viaSpark.isInstanceOf[LocalCheckpointFileManager])
    val got = viaSpark.asInstanceOf[LocalCheckpointFileManager].underlying
    assert(got.getClass == want.getClass)
    assert(fsOf(got).getClass == classOf[RawLocalFileSystem])
  }

  test("Sessions.local registers the manager and leaves Spark's checkpoint checks on") {
    val c = TestSpark.spark.conf
    assert(c.get(LocalCheckpointFileManager.ConfKey) == classOf[LocalCheckpointFileManager].getName)
    assert(c.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
    assert(c.get("spark.sql.streaming.stateStore.commitValidation.enabled") == "true")
  }

  test("Sessions.local makes the NIO local filesystem the session's file: filesystem") {
    val spark = TestSpark.spark
    assert(spark.conf.get(Sessions.LocalFsKey) == classOf[NioLocalFileSystem].getName)
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") ==
      classOf[NioLocalFileSystem].getName)
  }
}

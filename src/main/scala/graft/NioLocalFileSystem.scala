package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, setting permissions with
  * `Files.setPosixFilePermissions`.
  *
  * Without the native libhadoop (the bundled `hadoop-client-runtime` ships
  * none), the stock class sets every permission by spawning a `chmod`
  * child; create and mkdirs both go through it, so a parquet write
  * spawns one per output file and directory. Hadoop's own call remains
  * for bits NIO cannot express (sticky) and on non-POSIX filesystems. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!NioLocalFileSystem.posixViews || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, i.e.
      // the mode bits from 0400 down to 0001.
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}

/** The checksummed (`.crc` sidecar) local filesystem over
  * [[NioRawLocalFileSystem]]. `Sessions.local` makes it the session's
  * `file:` filesystem (`spark.hadoop.fs.file.impl`), and
  * [[graft.streaming.LocalCheckpointFileManager]] builds its own uncached
  * instance for checkpoints. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  private[graft] val posixViews =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

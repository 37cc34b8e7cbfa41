package graft.streaming

import graft.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for streaming queries whose checkpoints live on
  * the local filesystem (`Sessions.local` registers it through Spark's own
  * `spark.sql.streaming.checkpointFileManagerClass`).
  *
  * Without the native libhadoop (the bundled `hadoop-client-runtime` ships
  * none), Hadoop's local filesystem sets every permission by spawning
  * `chmod` and resolves every FileContext rename through a `readlink`
  * child. Spark's default manager goes through FileContext, so each
  * offset-log entry, commit-log entry and state-store delta costs several
  * child processes: about 4,850 per run of the benchmark's stream_chain,
  * tens of milliseconds per checkpoint write.
  *
  * `file:` paths get Spark's [[FileSystemBasedCheckpointFileManager]] over
  * Hadoop's checksummed [[LocalFileSystem]] (write to a temp file, rename
  * into place; `.crc` sidecars written and verified on read as before),
  * whose raw layer sets permissions through `java.nio` instead of `chmod`
  * ([[graft.NioLocalFileSystem]]).
  * Every other scheme gets exactly what Spark would pick without this
  * class. Spark's own state-store checksum files and commit validation sit
  * above the manager and are untouched.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val underlying: CheckpointFileManager =
    if (routesLocal(path, hadoopConf)) new FileSystemBasedCheckpointFileManager(path, localConf(hadoopConf))
    else {
      val c = new Configuration(hadoopConf)
      c.unset(ConfKey)
      CheckpointFileManager.create(path, c)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf key (SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS). */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** True when `path` resolves to the local filesystem (its own scheme,
    * or the default filesystem's when it has none). */
  def routesLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A copy of `conf` whose `file:` scheme resolves to a fresh, uncached
    * [[NioLocalFileSystem]]. The process-wide FileSystem cache keys on the
    * scheme alone, so whichever conf first asks for `file:` fixes the class
    * of the cached instance; checkpoints do not depend on that order. */
  private def localConf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[FileSystem])
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}

package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.sinks.ForkFreeLocalFileSystem

/** Streaming checkpoint/state-store file manager that starts no OS
  * process on a local (`file:`) checkpoint dir.
  *
  * Without libhadoop, Hadoop's local filesystem shells out: every file
  * and directory it creates gets a `chmod` process, and Spark's default
  * `FileContextBasedCheckpointFileManager` renames through
  * `AbstractFileSystem.renameInternal`, whose symlink checks run
  * `readlink` twice or more per file. On `file:` paths this manager is
  * Spark's `FileSystemBasedCheckpointFileManager` over
  * [[graft.sinks.ForkFreeLocalFileSystem]] (Hadoop's own `LocalFileSystem`:
  * same `.crc` sidecars, temp-file-then-rename,
  * `FileAlreadyExistsException` on a create without overwrite; the
  * same mode bits, set in-process); renames go
  * through the `FileSystem` API, which never resolves links. Like
  * Spark's default it does not read `fs.file.impl` for `file:` paths.
  * Every other path (HDFS, object stores) gets exactly the manager
  * Spark would have chosen.
  *
  * Spark instantiates it by name from
  * `spark.sql.streaming.checkpointFileManagerClass`; see [[installUnlessSet]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new LocalCheckpointFileManager.OnLocalFs(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** Spark's own (internal) key; the engine adds none. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Selects this manager for the session's streams unless the session
    * already names one (a user's value always wins). */
  def installUnlessSet(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty) spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private[streaming] final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new ForkFreeLocalFileSystem
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }
}

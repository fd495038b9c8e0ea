package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Hadoop's `LocalFileSystem` (same `.crc` sidecars, same mode bits)
  * whose raw filesystem sets mode bits in-process: without libhadoop,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for every
  * file and directory it creates. Sticky bits, which
  * `Files.setPosixFilePermissions` cannot express, keep Hadoop's path.
  *
  * Hadoop instantiates it by name (`fs.file.impl`), hence the no-arg
  * constructor; the engine's writes select it per write through
  * [[ForkFreeLocalFileSystem.write]] and [[ForkFreeLocalFileSystem.get]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  private val ImplKey = "fs.file.impl"

  private[sinks] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        perm.getUserAction.SYMBOL + perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
  }

  /** The Hadoop keys that route `file:` paths to this class, or none when
    * the session names its own `fs.file.impl` (the user's value wins).
    * The filesystem cache is keyed by scheme, not by class, so the
    * override also bypasses it; other schemes never read either key. */
  private def overrides(sessionConf: Configuration): Map[String, String] =
    if (sessionConf.get(ImplKey) != null) Map.empty
    else Map(ImplKey -> classOf[ForkFreeLocalFileSystem].getName,
      s"$ImplKey.disable.cache" -> "true")

  /** THE writer of every engine parquet write: `df.write` with the
    * overrides as per-write options, which Spark copies into the Hadoop
    * conf its committer and task writers open files with. */
  def write(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(overrides(df.sparkSession.sessionState.newHadoopConf()))

  /** The session's Hadoop conf with the overrides: what driver-side
    * file changes (locks, markers, swaps, driver-written parts) use. */
  def hadoopConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    overrides(conf).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The filesystem of `path` under [[hadoopConf]]. */
  def get(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf(spark))
}

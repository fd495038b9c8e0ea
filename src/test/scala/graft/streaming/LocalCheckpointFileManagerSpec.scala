package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.jobs.StreamCombinedJob
import graft.sinks.InMemoryKvStore

/** A local filesystem bound to the `mockfs:` scheme for both Hadoop APIs,
  * standing in for any non-`file:` store (HDFS, object stores). */
class MockAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "mockfs", false)

/** The contract [[LocalCheckpointFileManager]] keeps on local paths, and
  * what it leaves to Spark. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), spark.sparkContext.hadoopConfiguration)

  private def write(m: LocalCheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Names in `dir`, hidden `.crc` sidecars included. */
  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("local paths get the in-process manager; create without overwrite keeps the original") {
    val dir = tmpDir("lcfm_noover")
    val m = manager(dir)
    m.delegate shouldBe a[LocalCheckpointFileManager.OnLocalFs]
    m.isLocal shouldBe true
    val p = new Path(dir, "1")
    write(m, p, "first", overwrite = false)
    a[FileAlreadyExistsException] should be thrownBy write(m, p, "second", overwrite = false)
    read(m, p) shouldBe "first"
  }

  test("cancel leaves neither a temp file nor the target") {
    val dir = tmpDir("lcfm_cancel")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    names(dir) should not be empty // the temp file and its .crc
    out.cancel()
    names(dir) shouldBe empty
  }

  test("overwrite replaces the file and its .crc verifies on open") {
    val dir = tmpDir("lcfm_over")
    val m = manager(dir)
    val p = new Path(dir, "state.delta")
    write(m, p, "old contents", overwrite = true)
    write(m, p, "new, longer contents", overwrite = true)
    names(dir) shouldBe Set("state.delta", ".state.delta.crc")
    read(m, p) shouldBe "new, longer contents"
    // the sidecar is really checked: flip one byte on disk
    val f = Paths.get(dir, "state.delta")
    val bytes = Files.readAllBytes(f)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(f, bytes)
    a[ChecksumException] should be thrownBy read(m, p)
  }

  test("a non-file: path gets Spark's default manager") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.mockfs.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.mockfs.impl.disable.cache", true)
    conf.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockAbstractFs].getName)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val m = new LocalCheckpointFileManager(new Path(s"mockfs://${tmpDir("lcfm_mock")}"), conf)
    m.delegate.getClass shouldBe classOf[FileContextBasedCheckpointFileManager]
  }

  test("StreamCombinedJob.writer keeps an explicitly set manager") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val key = LocalCheckpointFileManager.ConfKey
    val stream = MemoryStream[String].toDF().select($"value".as("ts"))
    def writer() = StreamCombinedJob.writer(stream, Seq("ts"), Map("f" -> Seq("ts")),
      InMemoryKvStore, tmpDir("lcfm_conf"))
    val mine = classOf[FileContextBasedCheckpointFileManager].getName
    withSessionConf(key, Some(mine)) {
      writer()
      spark.conf.get(key) shouldBe mine
    }
    withSessionConf(key, None) {
      writer()
      spark.conf.get(key) shouldBe classOf[LocalCheckpointFileManager].getName
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session keeps
  * the suite fast; tests only create/read data in per-test temp dirs). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` (build AND execute the frames inside it) under
    * `spark.sql.autoBroadcastJoinThreshold = limit`. `"-1"` is Spark's
    * broadcasting-off switch, which also drops every engine hint
    * ([[graft.functions.Plans.broadcastHint]]). */
  def withBroadcastThreshold[T](limit: String)(body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", limit)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Spark jobs that `body` starts on this thread, e.g. while it builds
    * a DataFrame. Listener events arrive asynchronously but in order, so
    * a marker job started after `body` flushes every earlier one. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.spec.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, "end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      var jobs = 0
      var next = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (next == tag) { jobs += 1; next = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS) }
      assert(next == "end", "the marker job never reached the listener")
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** OS processes started while `body` runs, each as its command and
    * the classes on its stack, from a JFR `jdk.ProcessStart` recording.
    * Without libhadoop, Hadoop's local filesystem forks `chmod`/`readlink`
    * through `org.apache.hadoop.util.Shell`. */
  def processStartsDuring[T](body: => T): (T, Seq[(String, Seq[String])]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = java.nio.file.Paths.get(tmpDir("spawn_jfr"), "run.jfr")
    rec.start()
    val out = try body finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }
    (out, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (e.getString("command"), Option(e.getStackTrace).toSeq
        .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))))
  }

  /** The commands of `starts` forked by Hadoop's `Shell`. */
  def hadoopShellForks(starts: Seq[(String, Seq[String])]): Seq[String] =
    starts.collect { case (cmd, frames) if frames.contains("org.apache.hadoop.util.Shell") => cmd }

  /** Run `body` with session conf `key` set to `value` (`None`: unset),
    * restoring the session's previous value afterwards. */
  def withSessionConf[T](key: String, value: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

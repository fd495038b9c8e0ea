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

  /** Run `body` with session conf `key` set to `value` (`None`: unset),
    * restoring the session's previous value afterwards. */
  def withSessionConf[T](key: String, value: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

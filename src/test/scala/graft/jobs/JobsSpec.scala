package graft.jobs

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ml.MlPipeline
import graft.sinks.InMemoryKvStore
import graft.streaming.LocalCheckpointFileManager

/** The reference's three job families composed end-to-end (SURVEY.md §3). */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Sets Spark's checkpoint-manager key to `cls`, or unsets it (`None`:
    * `StreamCombinedJob.writer` installs the engine's default). */
  private def withCheckpointManager[T](cls: Option[String])(body: => T): T =
    withSessionConf(LocalCheckpointFileManager.ConfKey, cls)(body)
  private val sparkDefaultManager = Some(classOf[FileContextBasedCheckpointFileManager].getName)

  /** The speed layer's weather ⋈ stock join into [[InMemoryKvStore]].
    * Both sides read one MemoryStream (split by payload field), so each
    * `add` is exactly one micro-batch; the feed survives a restart, as
    * in T7b. */
  private class CombinedStream(implicit ctx: SQLContext) {
    private val wSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("temp", DoubleType)))
    private val sSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("close", DoubleType)))
    private val feed = MemoryStream[String]
    private def payloads(field: String) =
      feed.toDF().filter(col("value").contains(s"\"$field\"")).withColumnRenamed("value", "payload")
    def start(chk: String) = StreamCombinedJob.writer(
      StreamCombinedJob.joined(
        StreamCombinedJob.Side(payloads("temp"), wSchema, "ts", "weather"),
        StreamCombinedJob.Side(payloads("close"), sSchema, "ts", "stock"))
        .select("timestamp_weather", "timestamp_stock", "temp", "close"),
      Seq("timestamp_weather", "timestamp_stock"),
      Map("weather" -> Seq("temp"), "stock" -> Seq("close")),
      InMemoryKvStore, chk).start()
    /** `weather`/`stock`: (time of day on 2024-03-05, value). */
    def add(weather: Seq[(String, Double)], stock: Seq[(String, Double)]): Unit =
      feed.addData(
        weather.map { case (t, v) => s"""{"ts":"2024-03-05 $t","temp":"$v"}""" } ++
          stock.map { case (t, v) => s"""{"ts":"2024-03-05 $t","close":"$v"}""" })
    def addPair(hour: Int, minute: Int): Unit =
      add(Seq(f"$hour%02d:$minute%02d:00" -> minute), Seq(f"$hour%02d:$minute%02d:10" -> (100.0 + minute)))
  }

  /** Relative path → POSIX mode of every file and directory under `dir`,
    * `.crc` sidecars included, checkpoint temp files (`.<name>.<uuid>.tmp`) not. */
  private def checkpointTree(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root)
      .filterNot(p => p.getFileName.toString.matches(".*\\.tmp(\\.crc)?"))
      .map(p => root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
      .toMap
    finally walk.close()
  }

  test("batch aggregate job: fragmented live parquet → hourly stats + mode → KV rows") {
    InMemoryKvStore.clear()
    val live = tmpDir("batch_live")
    // two drifted fragments, like a live/ folder accumulating appends
    Seq(
      (ts("2024-03-05 10:05:00"), 10.0, "rain"),
      (ts("2024-03-05 10:35:00"), 20.0, "rain"))
      .toDF("ts", "temp", "cond").write.parquet(s"$live/frag1.parquet")
    Seq(
      (ts("2024-03-05 11:10:00"), 30.0, "snow"))
      .toDF("ts", "temp", "cond").write.parquet(s"$live/frag2.parquet")

    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("temp", DoubleType),
      StructField("cond", StringType)))
    val paths = graft.sources.SchemaReader.glob(spark, s"$live/*.parquet")
    val n = BatchAggJob.run(spark, paths,
      BatchAggJob.Config(schema, "ts", Seq("temp"), modeCol = Some("cond")),
      InMemoryKvStore, family = "weather")

    n shouldBe 2 // two (date,hour) groups
    val h10 = InMemoryKvStore.data("2024-03-05_10")("weather")
    h10("n") shouldBe "2"
    h10("avg_temp") shouldBe "15.0"
    h10("mode_cond") shouldBe "rain"
    InMemoryKvStore.data("2024-03-05_11")("weather")("mode_cond") shouldBe "snow"
  }

  test("the KV job writes the hourly aggregate unsorted: no Sort, no range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    InMemoryKvStore.clear()
    val live = s"${tmpDir("kv_unsorted")}/live"
    Seq((ts("2024-03-05 10:05:00"), 10.0), (ts("2024-03-05 11:35:00"), 20.0))
      .toDF("ts", "temp").write.parquet(live)
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("temp", DoubleType)))
    // the plan KvSink.writeBatch runs, as its foreachPartition action
    // reports it once the listener bus delivers the event
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (action == "foreachPartition") writes.add(qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val written = try {
      BatchAggJob.run(spark, Seq(live),
        BatchAggJob.Config(schema, "ts", Seq("temp"), tz = Some("America/New_York"),
          skew = Some("INTERVAL 20 minutes")),
        InMemoryKvStore) shouldBe 2
      writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    written should not be null
    object plans extends AdaptiveSparkPlanHelper
    val plan = written.executedPlan
    plans.collect(plan) { case e: ShuffleExchangeExec => e } should not be empty // the aggregate's
    plans.collect(plan) { case s: SortExec => s } shouldBe empty
    plans.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    } shouldBe empty
  }

  test("day cycle: live ingest → batch KV → archive rotation → next day lands clean") {
    // The reference's operational loop (SURVEY §3.1 + §3.2) chained
    // over one directory tree: aggregate the live folder to the KV
    // store, rotate live → date-partitioned historical, verify live is
    // empty for the next day's appends, and prune a day query on the
    // archive.
    InMemoryKvStore.clear()
    val root = tmpDir("daycycle")
    val live = s"$root/live"
    val hist = s"$root/historical"
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("temp", DoubleType)))

    // day 1 lands as files in live/ (the reference's append layout)
    Seq((ts("2024-03-05 10:05:00"), 10.0), (ts("2024-03-05 10:35:00"), 20.0))
      .toDF("ts", "temp").write.parquet(live)

    // batch job reads live, writes KV
    BatchAggJob.run(spark, Seq(live),
      BatchAggJob.Config(schema, "ts", Seq("temp")),
      InMemoryKvStore, family = "stock") shouldBe 1
    InMemoryKvStore.data("2024-03-05_10")("stock")("avg_temp") shouldBe "15.0"

    // rotation archives live into hive date partitions and empties it
    graft.sinks.ArchiveJob.runPartitioned(spark, live, hist, "ts", "ts") shouldBe 2
    graft.sources.SchemaReader.glob(spark, s"$live/*") shouldBe empty

    // day 2 lands in the now-empty live/, rotates alongside day 1
    Seq((ts("2024-03-06 09:00:00"), 30.0)).toDF("ts", "temp")
      .write.mode("append").parquet(live)
    graft.sinks.ArchiveJob.runPartitioned(spark, live, hist, "ts", "ts") shouldBe 1

    // a SECOND same-day rotation (afternoon rows for day 1) must keep
    // the morning rows — the old dynamic partition overwrite replaced
    // the whole date_key=2024-03-05 partition and silently lost them
    Seq((ts("2024-03-05 16:00:00"), 40.0)).toDF("ts", "temp")
      .write.mode("append").parquet(live)
    graft.sinks.ArchiveJob.runPartitioned(spark, live, hist, "ts", "ts") shouldBe 1
    spark.read.parquet(hist)
      .filter(col("date_key") === "2024-03-05").count() shouldBe 3

    val archive = spark.read.parquet(hist)
    archive.count() shouldBe 4
    // a day query prunes at the partition level, not a data filter
    val day1 = archive.filter(col("date_key") === "2024-03-05")
    day1.count() shouldBe 3
    day1.queryExecution.executedPlan.collectLeaves().head.toString should
      include("PartitionFilters")

    // the day's STREAM leg: the combined interval join runs over day-2
    // events under a StreamMetrics listener — the composed pipeline must
    // end the day with a healthy SLO: watermark monotone and ZERO rows
    // dropped at the watermark across the whole combined-join run.
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val metrics = new StreamMetrics
    spark.streams.addListener(metrics)
    try {
      val wSchema = StructType(Seq(
        StructField("ts", TimestampType), StructField("temp", DoubleType)))
      val sSchema = StructType(Seq(
        StructField("ts", TimestampType), StructField("close", DoubleType)))
      val weather = MemoryStream[String]
      val stock = MemoryStream[String]
      val joined = StreamCombinedJob.joined(
        StreamCombinedJob.Side(
          weather.toDF().withColumnRenamed("value", "payload"), wSchema, "ts", "weather"),
        StreamCombinedJob.Side(
          stock.toDF().withColumnRenamed("value", "payload"), sSchema, "ts", "stock"))
      val q = StreamCombinedJob.writer(
        joined.select("timestamp_weather", "timestamp_stock", "temp", "close"),
        Seq("timestamp_weather", "timestamp_stock"),
        Map("weather" -> Seq("temp"), "stock" -> Seq("close")),
        InMemoryKvStore, tmpDir("daycycle_chk")).start()
      weather.addData("""{"ts":"2024-03-06 09:00:00","temp":"30.0"}""")
      stock.addData("""{"ts":"2024-03-06 09:00:05","close":"105.0"}""")
      q.processAllAvailable()
      // advance both watermarks so the matched pair flushes from state
      weather.addData("""{"ts":"2024-03-06 09:30:00","temp":"31.0"}""")
      stock.addData("""{"ts":"2024-03-06 09:30:00","close":"106.0"}""")
      q.processAllAvailable()
      q.stop()
      // zero late drops across the combined-join day run, per batch
      metrics.progresses.map(_.droppedByWatermark).sum shouldBe 0L
      metrics.progresses.map(_.queryName).distinct.foreach { n =>
        metrics.sloViolations(n) shouldBe empty
      }
    } finally spark.streams.removeListener(metrics)
  }

  test("batch aggregate job applies timezone shift and clock-skew interval") {
    val live = tmpDir("batch_tz")
    // 14:50 UTC = 09:50 New York; minus 20 minutes skew → 09:30 → hour 9
    Seq((ts("2024-03-05 14:50:00"), 1.0)).toDF("ts", "v").write.parquet(s"$live/f.parquet")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", DoubleType)))
    val agg = BatchAggJob.aggregate(spark, Seq(s"$live/f.parquet"),
      BatchAggJob.Config(schema, "ts", Seq("v"),
        tz = Some("America/New_York"), skew = Some("INTERVAL 20 minutes")))
    agg.select("hour").as[Long].collect() shouldBe Array(9L)
  }

  test("combined streaming job: parse → one-hot → score → interval join → KV") {
    InMemoryKvStore.clear()
    // a tiny model so scoring participates in the streaming plan
    val train = (1 to 100).map(i => (i.toDouble, 0L, i.toDouble * 2)).toDF("wind", "weather_main_rain", "y")
    val model = MlPipeline.trainRegressor(train, Seq("wind", "weather_main_rain"), "y", maxIter = 3).model

    val wSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("wind", DoubleType),
      StructField("weather_main", StringType)))
    val sSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("close", DoubleType)))

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val metrics = new StreamMetrics
    spark.streams.addListener(metrics)
    val weather = MemoryStream[String]
    val stock = MemoryStream[String]

    val joinedDf = StreamCombinedJob.joined(
      StreamCombinedJob.Side(
        weather.toDF().withColumnRenamed("value", "payload"), wSchema, "ts", "weather",
        oneHotCol = Some("weather_main"), oneHotClasses = Seq("rain"),
        model = Some(model), featureCols = Seq("wind", "weather_main_rain")),
      StreamCombinedJob.Side(
        stock.toDF().withColumnRenamed("value", "payload"), sSchema, "ts", "stock"))

    val q = StreamCombinedJob.writer(
      joinedDf.select("timestamp_weather", "timestamp_stock", "wind",
        "prediction_weather", "close"),
      Seq("timestamp_weather", "timestamp_stock"),
      Map("weather" -> Seq("wind", "prediction_weather"), "stock" -> Seq("close")),
      InMemoryKvStore, tmpDir("combined_chk")).start()

    weather.addData("""{"ts":"2024-03-05 10:00:00","wind":"5.5","weather_main":"rain"}""")
    stock.addData("""{"ts":"2024-03-05 10:00:10","close":"101.5"}""")
    q.processAllAvailable()
    // advance watermarks so matched results flush from the join state
    weather.addData("""{"ts":"2024-03-05 10:30:00","wind":"1.0","weather_main":"sun"}""")
    stock.addData("""{"ts":"2024-03-05 10:30:00","close":"99.0"}""")
    q.processAllAvailable()
    q.stop()

    val row = InMemoryKvStore.data.get("2024-03-05_10-00")
    row shouldBe defined
    row.get("weather")("wind") shouldBe "5.5"
    row.get("stock")("close") shouldBe "101.5"
    // the model scored inside the streaming plan
    row.get("weather")("prediction_weather") should not be null

    // stream SLO over the job's recorded progress: the watermark only
    // moved forward and advanced past epoch once batch 2 landed, and no
    // rows were dropped late (the test data fits the lateness bound)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (!metrics.progresses.exists(_.watermark.exists(_ > "2024")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val names = metrics.progresses.map(_.queryName).distinct
      names should have size 1
      metrics.sloViolations(names.head) shouldBe empty
      metrics.progresses.flatMap(_.watermark).max should startWith("2024-03-05")
    } finally spark.streams.removeListener(metrics)
  }

  test("checkpoints from Spark's default and the engine's local manager are interchangeable") {
    // phase 1 under one manager, restart on the same checkpoint under the
    // other: a weather row waits in join state across the restart and
    // must still meet its stock row; nothing before it is re-emitted.
    // Events sit two minutes apart, beyond the ±30 s join tolerance.
    implicit val ctx: SQLContext = spark.sqlContext
    def run(first: Option[String], second: Option[String]) = {
      val chk = tmpDir("mgr_chk")
      val s = new CombinedStream
      InMemoryKvStore.clear()
      withCheckpointManager(first) {
        val q = s.start(chk)
        for (m <- Seq(0, 2, 4)) { s.addPair(10, m); q.processAllAvailable() }
        s.add(Seq("10:06:00" -> 6.0), Nil) // its stock row only arrives after the restart
        q.processAllAvailable()
        q.stop()
      }
      val phase1 = InMemoryKvStore.data.toMap
      val tree1 = checkpointTree(chk)
      InMemoryKvStore.clear()
      withCheckpointManager(second) {
        val q = s.start(chk)
        s.add(Nil, Seq("10:06:10" -> 106.0))
        q.processAllAvailable()
        for (m <- Seq(8, 10)) { s.addPair(10, m); q.processAllAvailable() }
        q.stop()
      }
      (phase1, InMemoryKvStore.data.toMap, tree1, checkpointTree(chk))
    }
    // a background snapshot would add files to one run only
    val ((aRows1, aRows2, aTree1, aTree2), (bRows1, bRows2, bTree1, bTree2)) =
      withSessionConf("spark.sql.streaming.stateStore.minDeltasForSnapshot", Some("1000")) {
        (run(sparkDefaultManager, None), run(None, sparkDefaultManager))
      }

    def keys(minutes: Int*) = minutes.map(m => f"2024-03-05_10-$m%02d").toSet
    aRows1.keySet shouldBe keys(0, 2, 4)
    aRows2.keySet shouldBe keys(6, 8, 10) // no reprocessing
    aRows2("2024-03-05_10-06") shouldBe Map( // no loss across the restart
      "weather" -> Map("temp" -> "6.0"), "stock" -> Map("close" -> "106.0"))
    bRows1 shouldBe aRows1
    bRows2 shouldBe aRows2

    // same files, .crc sidecars and modes whichever manager wrote them
    aTree1.keys.exists(_.endsWith(".delta")) shouldBe true
    aTree1.keys.exists(_.endsWith(".crc")) shouldBe true
    bTree1 shouldBe aTree1
    bTree2 shouldBe aTree2
  }

  test("the combined stream starts no shell process for checkpoints or state") {
    // a recording over ~20 micro-batches catches any fork of Hadoop's Shell
    implicit val ctx: SQLContext = spark.sqlContext
    InMemoryKvStore.clear()
    val s = new CombinedStream
    val (_, starts) = processStartsDuring(withCheckpointManager(None) {
      val q = s.start(tmpDir("spawn_chk"))
      for (m <- 0 until 40 by 2) { s.addPair(11, m); q.processAllAvailable() }
      q.stop()
      q.recentProgress.count(_.numInputRows > 0) shouldBe 20
    })
    InMemoryKvStore.data.keySet.count(_.startsWith("2024-03-05_11-")) shouldBe 20
    hadoopShellForks(starts) shouldBe empty
  }
}

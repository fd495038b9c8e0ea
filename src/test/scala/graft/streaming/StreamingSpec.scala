package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType, TimestampType}

import graft.SparkSpec
import graft.sinks.{InMemoryKvStore, KvSink}

/** Records mutate-batch sizes; an object so executor-side deserialization
  * resolves to this same instance on local[*]. */
object CountingKvStore extends graft.sinks.KvStore {
  val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  override def mutate(rows: Seq[graft.sinks.KvRow]): Unit = sizes.add(rows.size)
}

/** Capabilities T1–T8 (SURVEY.md §2.8) driven through real
  * MicroBatchExecution with MemoryStream sources. */
/** Driver-side sink for the KMV checkpoint-restart test (foreachBatch
  * runs on the driver; a singleton survives the query restart). */
object KmvEmissions {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Double)]()
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("T2: lenient payload parse — typed fields, malformed JSON degrades to nulls") {
    val target = StructType(Seq(
      StructField("sym", org.apache.spark.sql.types.StringType),
      StructField("price", DoubleType),
      StructField("vol", IntegerType)))
    val in = MemoryStream[String]
    val parsed = StreamParse.parse(in.toDF().withColumnRenamed("value", "payload"),
      "payload", target)
    val q = parsed.writeStream.format("memory").queryName("t2_parse")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      """{"sym":"AAPL","price":"12.5","vol":"100"}""",
      """{"sym":"MSFT","price":"oops","vol":"7"}""",
      """not json at all""")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t2_parse")
      .as[(String, Option[Double], Option[Int])].collect()
      .sortBy(r => Option(r._1).getOrElse(""))
    rows should have length 3
    rows.collect { case ("AAPL", p, v) => (p, v) }.head shouldBe (Some(12.5), Some(100))
    rows.collect { case ("MSFT", p, v) => (p, v) }.head shouldBe (None, Some(7)) // bad double → null
    rows.count(_._1 == null) shouldBe 1 // malformed JSON → all-null row
  }

  test("T2b: nested fields parse at their real type; junk scalars still degrade") {
    // the all-string lenient schema failed ANALYSIS for any nested
    // target (string is not castable to struct/array) — nested fields
    // now keep their real type and PERMISSIVE from_json nulls bad ones
    val target = StructType(Seq(
      StructField("sym", org.apache.spark.sql.types.StringType),
      StructField("price", DoubleType),
      StructField("tags", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))))
    val in = MemoryStream[String]
    val parsed = StreamParse.parse(in.toDF().withColumnRenamed("value", "payload"),
      "payload", target)
    val q = parsed.writeStream.format("memory").queryName("t2b_parse")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      """{"sym":"A","price":"1.5","tags":["x","y"]}""",
      """{"sym":"B","price":"oops","tags":"not-an-array"}""")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t2b_parse")
      .as[(String, Option[Double], Option[Seq[String]])].collect()
      .sortBy(_._1)
    rows shouldBe Seq(
      ("A", Some(1.5), Some(Seq("x", "y"))),
      ("B", None, None)) // junk double AND junk array both degrade
  }

  test("T5: watermarked dropDuplicates emits each key once") {
    val in = MemoryStream[(Timestamp, String)]
    val dedup = StreamDedup.dedup(
      in.toDF().toDF("ts", "key"), "ts", "10 seconds", Seq("key"))
    val q = dedup.writeStream.format("memory").queryName("t5_dedup")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "a"),
      (ts("2024-01-01 00:00:00"), "a"), // exact dup in same batch
      (ts("2024-01-01 00:00:01"), "b"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:00:00"), "a")) // dup across batches, within watermark
    q.processAllAvailable()
    q.stop()
    spark.table("t5_dedup").select("key").as[String].collect().sorted shouldBe Array("a", "b")
  }

  test("T3/T4/J6: stream-stream full-outer interval join matches within ±30s and emits unmatched after watermark") {
    val left = MemoryStream[(Timestamp, Double)]
    val right = MemoryStream[(Timestamp, Double)]
    val l = StreamJoin.side(left.toDF().toDF("ts", "temp"), "ts", "weather")
    val r = StreamJoin.side(right.toDF().toDF("ts", "close"), "ts", "stock")
    val joined = StreamJoin.intervalJoin(l, "weather", r, "stock")
      .select("timestamp_weather", "temp", "timestamp_stock", "close")
    val q = joined.writeStream.format("memory").queryName("t4_join")
      .outputMode(OutputMode.Append()).start()

    left.addData((ts("2024-01-01 00:01:00"), 20.0)) // will match
    right.addData((ts("2024-01-01 00:01:10"), 101.0)) // within 30s of left
    left.addData((ts("2024-01-01 00:05:00"), 21.0)) // will stay unmatched
    q.processAllAvailable()
    // advance both watermarks far past 00:05 so the unmatched left row flushes
    left.addData((ts("2024-01-01 00:30:00"), 99.0))
    right.addData((ts("2024-01-01 00:30:00"), 999.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("t4_join")
      .as[(Option[Timestamp], Option[Double], Option[Timestamp], Option[Double])]
      .collect()
    // the matched pair
    rows should contain ((Some(ts("2024-01-01 00:01:00")), Some(20.0),
      Some(ts("2024-01-01 00:01:10")), Some(101.0)))
    // the unmatched left row emitted as (left, null) after watermark passed
    rows should contain ((Some(ts("2024-01-01 00:05:00")), Some(21.0), None, None))
  }

  test("T4b: inner interval join emits only matches; leftOuter flushes unmatched left") {
    def run(joinType: String): Seq[(Option[Double], Option[Double])] = {
      val left = MemoryStream[(Timestamp, Double)]
      val right = MemoryStream[(Timestamp, Double)]
      val joined = StreamJoin.intervalJoin(
        StreamJoin.side(left.toDF().toDF("ts", "a"), "ts", "weather"),
        "weather",
        StreamJoin.side(right.toDF().toDF("ts", "b"), "ts", "stock"),
        "stock", 30, joinType)
        .select("a", "b")
      val name = s"t4b_${joinType.toLowerCase}"
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      left.addData((ts("2024-01-01 00:01:00"), 1.0)) // matches
      right.addData((ts("2024-01-01 00:01:10"), 2.0))
      left.addData((ts("2024-01-01 00:05:00"), 3.0)) // unmatched
      q.processAllAvailable()
      left.addData((ts("2024-01-01 00:30:00"), 9.0)) // advance watermarks
      right.addData((ts("2024-01-01 00:30:00"), 9.5))
      q.processAllAvailable()
      q.stop()
      spark.table(name).as[(Option[Double], Option[Double])].collect().toSeq
    }
    val inner = run("inner")
    inner should contain((Some(1.0), Some(2.0)))
    inner should not contain ((Some(3.0), None)) // inner drops unmatched
    val leftOuter = run("leftOuter")
    leftOuter should contain((Some(1.0), Some(2.0)))
    leftOuter should contain((Some(3.0), None)) // left-outer flushes it
  }

  test("parquet file sink writes partitioned exactly-once output with _spark_metadata") {
    val dir = java.nio.file.Files.createTempDirectory("filesink").toString
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = in.toDF().toDF("ts", "sym", "v")
      .withColumn("d", to_date(col("ts")))
      .writeStream.format("parquet")
      .partitionBy("d")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append())
      .start()
    in.addData(
      (ts("2024-01-01 10:00:00"), "AAPL", 1.0),
      (ts("2024-01-02 11:00:00"), "XOM", 2.0))
    q.processAllAvailable()
    in.addData((ts("2024-01-02 12:00:00"), "AAPL", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
    out.count() shouldBe 3
    // hive layout by event date + the exactly-once transaction log
    out.select("d").distinct().count() shouldBe 2
    new java.io.File(s"$dir/out/_spark_metadata").exists() shouldBe true
  }

  test("stream-static broadcast join enriches each micro-batch without state") {
    val dim = Seq(("AAPL", "tech"), ("XOM", "energy")).toDF("sym", "sector")
    val in = MemoryStream[(Timestamp, String, Double)]
    val enriched = StreamJoin.enrichWithDim(
      in.toDF().toDF("ts", "sym", "v"), dim, Seq("sym"))
    val q = enriched.writeStream.format("memory").queryName("ss_enrich")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "AAPL", 1.0),
      (ts("2024-01-01 00:00:01"), "MSFT", 2.0)) // no dim row -> null sector
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:00:02"), "XOM", 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_enrich").select("sym", "sector")
      .as[(String, Option[String])].collect().sortBy(_._1)
    got shouldBe Array(("AAPL", Some("tech")), ("MSFT", None), ("XOM", Some("energy")))
  }

  test("T7/S9: foreachBatch KV sink writes minute-keyed families via executors") {
    InMemoryKvStore.clear()
    val in = MemoryStream[(Timestamp, Double, Double)]
    val df = in.toDF().toDF("ts", "temp", "close")
      .withColumn("row_key", KvSink.minuteKey(col("ts")))
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmpDir("t7_chk"))
      .foreachBatch(KvSink.streamWriter("row_key",
        Map("weather" -> Seq("temp"), "stock" -> Seq("close")), InMemoryKvStore))
      .start()
    in.addData((ts("2024-03-05 14:31:22"), 19.5, 250.25))
    q.processAllAvailable()
    q.stop()
    val row = InMemoryKvStore.data.get("2024-03-05_14-31")
    row shouldBe defined
    row.get("weather")("temp") shouldBe "19.5"
    row.get("stock")("close") shouldBe "250.25"
  }

  test("T5b: dropDuplicatesWithinWatermark dedups keys with differing event times") {
    val in = MemoryStream[(Timestamp, String)]
    val dedup = StreamDedup.dedupWithinWatermark(
      in.toDF().toDF("ts", "key"), "ts", "10 minutes", Seq("key"))
    val q = dedup.writeStream.format("memory").queryName("t5b_dedup")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "a"),
      (ts("2024-01-01 00:00:03"), "a"), // same key, DIFFERENT event time
      (ts("2024-01-01 00:00:01"), "b"))
    q.processAllAvailable()
    q.stop()
    spark.table("t5b_dedup").select("key").as[String].collect().sorted shouldBe Array("a", "b")
  }

  test("T7b: checkpoint recovery — restarted query resumes without reprocessing") {
    InMemoryKvStore.clear()
    val chk = tmpDir("t7b_chk")
    val in = MemoryStream[(Timestamp, Double)]
    def startQuery() = in.toDF().toDF("ts", "v")
      .withColumn("row_key", KvSink.minuteKey(col("ts")))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", chk)
      .foreachBatch(KvSink.streamWriter("row_key", Map("f" -> Seq("v")), InMemoryKvStore))
      .start()

    val q1 = startQuery()
    in.addData((ts("2024-03-05 14:00:00"), 1.0))
    q1.processAllAvailable()
    q1.stop()
    InMemoryKvStore.data.keySet shouldBe Set("2024-03-05_14-00")

    // restart FROM THE SAME CHECKPOINT; only new data is processed
    InMemoryKvStore.clear()
    val q2 = startQuery()
    in.addData((ts("2024-03-05 14:01:00"), 2.0))
    q2.processAllAvailable()
    q2.stop()
    InMemoryKvStore.data.keySet shouldBe Set("2024-03-05_14-01") // 14-00 NOT rewritten
  }

  test("streaming KMV state survives a checkpoint restart") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(61)
    def doc(id: Long) = ("g0", Seq.fill(12)(s"w${rnd.nextInt(400)}").mkString(" "))
    val docs = (1L to 200L).map(doc)
    val chk = tmpDir("kmv_chk")
    val in = MemoryStream[(String, String)]
    // memory sink refuses checkpoint recovery; collect via foreachBatch
    KmvEmissions.rows.clear()
    def startQuery() = StatefulOps.kmvDistinctStream(
        in.toDF().toDF("source", "text"), "source", "text", 3, 64)
      .toDF().writeStream
      .option("checkpointLocation", chk)
      .outputMode(OutputMode.Update())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => KmvEmissions.rows.add(
          (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
      }
      .start()
    val q1 = startQuery()
    in.addData(docs.take(120): _*)
    q1.processAllAvailable()
    q1.stop()
    // restart FROM THE SAME CHECKPOINT: the restored min-set must fold
    // the remaining data into the estimate the batch sketch produces
    // over the WHOLE stream
    val q2 = startQuery()
    in.addData(docs.drop(120): _*)
    q2.processAllAvailable()
    q2.stop()
    import scala.jdk.CollectionConverters._
    val last = KmvEmissions.rows.asScala.toSeq.maxBy(r => (r._2, -r._3))
    val batch = Sketches.kmvDistinct(
        docs.toDF("source", "text"), "source", "text", 3, 64)
      .as[(String, Long, Long, Double)].head()
    (last._2, last._3, last._4) shouldBe ((batch._2, batch._3, batch._4))
  }

  test("S10b: writeBatch chunks mutate calls at batchSize") {
    // a singleton, not an anonymous instance: foreachPartition serializes
    // the store to executors, and only an object deserializes back to
    // the same JVM-wide instance
    CountingKvStore.sizes.clear()
    val df = (1 to 23).map(i => (s"k$i", i)).toDF("key", "v").repartition(1)
    KvSink.writeBatch(df, "key", Map("f" -> Seq("v")), CountingKvStore, batchSize = 10)
    import scala.jdk.CollectionConverters._
    CountingKvStore.sizes.asScala.toSeq.sorted shouldBe Seq(3, 10, 10) // 23 rows → 10+10+3
  }

  test("native session_window aggregates a watermarked stream by inactivity gap") {
    val in = MemoryStream[(Timestamp, String)]
    val sessions = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .count()
      .select(col("user"), col("count"))
    val q = sessions.writeStream.format("memory").queryName("t_session")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "u1"),
      (ts("2024-01-01 00:03:00"), "u1"),  // within 5 min → same session
      (ts("2024-01-01 00:20:00"), "u1"))  // new session
    in.addData((ts("2024-01-01 01:00:00"), "u1")) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_session").as[(String, Long)].collect().sorted
    rows should contain((("u1"), 2L)) // the two-event session closed and emitted
    rows should contain((("u1"), 1L)) // the single-event session
  }

  test("tumbling window aggregate emits closed windows after watermark") {
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamAgg.tumbling(
      in.toDF().toDF("ts", "sym", "v"), "ts", "1 minute", "10 minutes",
      Seq("sym"), Seq(count(lit(1)).as("n"), sum(col("v")).as("total")))
      .select(col("window.start").cast("string").as("ws"), col("sym"), col("n"), col("total"))
    val q = agg.writeStream.format("memory").queryName("t_tumble")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:01:00"), "A", 1.0),
      (ts("2024-01-01 00:04:00"), "A", 2.0),  // same 00:00-00:10 window
      (ts("2024-01-01 00:12:00"), "A", 5.0))  // next window
    in.addData((ts("2024-01-01 01:00:00"), "B", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_tumble").as[(String, String, Long, Double)].collect()
    rows should contain (("2024-01-01 00:00:00", "A", 2L, 3.0))
    rows should contain (("2024-01-01 00:10:00", "A", 1L, 5.0))
  }

  test("sliding window aggregate lands each event in duration/slide windows") {
    val in = MemoryStream[(Timestamp, Double)]
    val agg = StreamAgg.sliding(
      in.toDF().toDF("ts", "v"), "ts", "1 minute", "10 minutes", "5 minutes",
      Seq.empty, Seq(count(lit(1)).as("n")))
      .select(col("window.start").cast("string").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("t_slide")
      .outputMode(OutputMode.Append()).start()
    in.addData((ts("2024-01-01 00:07:00"), 1.0)) // windows 00:00 and 00:05
    in.addData((ts("2024-01-01 01:00:00"), 9.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_slide").as[(String, Long)].collect().toMap
    rows("2024-01-01 00:00:00") shouldBe 1L
    rows("2024-01-01 00:05:00") shouldBe 1L
  }

  test("mapGroupsWithState keeps running per-key totals across batches") {
    val in = MemoryStream[(Timestamp, String, Double)]
    val totals = StatefulOps.runningTotals(
      in.toDF().toDF("ts", "key", "v"), "key", "ts", "v")
    val q = totals.toDF().writeStream.format("memory").queryName("t_running")
      .outputMode(OutputMode.Update()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "a", 1.0),
      (ts("2024-01-01 00:00:01"), "a", 2.0),
      (ts("2024-01-01 00:00:02"), "b", 5.0))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 00:00:03"), "a", 4.0)) // second batch folds in
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_running").as[(String, Long, Double)].collect()
    rows should contain (("a", 2L, 3.0))  // after batch 1
    rows should contain (("a", 3L, 7.0))  // after batch 2 — state carried over
    rows should contain (("b", 1L, 5.0))
  }

  test("flatMapGroupsWithState emits sessions exactly once on event-time timeout") {
    val in = MemoryStream[(Timestamp, String, Double)]
    val sessions = StatefulOps.timeoutSessions(
      in.toDF().toDF("ts", "key", "v"), "key", "ts", "v",
      delay = "1 minute", gapSec = 300)
    val q = sessions.toDF().writeStream.format("memory").queryName("t_fmgws")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "u1", 1.0),
      (ts("2024-01-01 00:03:00"), "u1", 1.0))  // within 5-min gap → one session
    q.processAllAvailable()
    in.addData((ts("2024-01-01 01:00:00"), "u2", 0.0)) // watermark → timeout u1
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_fmgws")
      .as[(String, Timestamp, Timestamp, Long)].collect()
    rows shouldBe Array(("u1", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:03:00"), 2L))
    // u2's session is still open (no later watermark advance) — not emitted
  }

  test("timeoutSessions splits gap-separated events arriving in ONE micro-batch") {
    // regression: the old state (single min/max interval per key) merged
    // everything a micro-batch delivered — two events 20 min apart with
    // a 5-min gap came out as one session
    val in = MemoryStream[(Timestamp, String, Double)]
    val sessions = StatefulOps.timeoutSessions(
      in.toDF().toDF("ts", "key", "v"), "key", "ts", "v",
      delay = "1 minute", gapSec = 300)
    val q = sessions.toDF().writeStream.format("memory").queryName("t_gap_split")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "u1", 1.0),
      (ts("2024-01-01 00:02:00"), "u1", 1.0),  // merges (2 min <= gap)
      (ts("2024-01-01 00:20:00"), "u1", 1.0))  // 18-min gap -> NEW session
    q.processAllAvailable()
    in.addData((ts("2024-01-01 01:00:00"), "u2", 0.0)) // watermark closes both
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_gap_split")
      .as[(String, Timestamp, Timestamp, Long)].collect().sortBy(_._2.getTime)
    rows shouldBe Array(
      ("u1", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:02:00"), 2L),
      ("u1", ts("2024-01-01 00:20:00"), ts("2024-01-01 00:20:00"), 1L))
  }

  test("a session at EXACTLY watermark == end + gap is held open, not emitted early") {
    // watermark-boundary contract: while wm == end + gap the session
    // must stay OPEN (emitting at equality would be premature if an
    // engine ever delivered a ts == wm event, which at exactly gap
    // distance still merges under the <=-gap rule); it closes once the
    // watermark strictly passes. Also pinned: Spark's late filter
    // drops a ts == watermark event for stateful ops, so such a merge
    // is unreachable today — the strict-< close is defensive, not
    // semantics-changing.
    val in = MemoryStream[(Timestamp, String, Double)]
    val sessions = StatefulOps.timeoutSessions(
      in.toDF().toDF("ts", "key", "v"), "key", "ts", "v",
      delay = "1 minute", gapSec = 300)
    val q = sessions.toDF().writeStream.format("memory").queryName("t_wm_edge")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (ts("2024-01-01 00:00:00"), "u1", 1.0),
      (ts("2024-01-01 00:06:00"), "adv", 0.0)) // -> watermark 00:05:00
    q.processAllAvailable()
    // u1 data at 00:05:30 (past the gap, does NOT advance the 00:05:00
    // watermark) arrives while wm == first session end + gap: the
    // [00:00] sub-session is NOT emitted at equality
    in.addData((ts("2024-01-01 00:05:30"), "u1", 1.0))
    q.processAllAvailable()
    spark.table("t_wm_edge").filter(col("key") === "u1").count() shouldBe 0L
    // a ts == watermark event is late-dropped (were it kept, it would
    // bridge both open sub-sessions into one — the final assert would
    // catch an engine that starts keeping such rows)
    in.addData((ts("2024-01-01 00:05:00"), "u1", 1.0))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 02:00:00"), "adv", 0.0)) // wm strictly past: close
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_wm_edge").filter(col("key") === "u1")
      .as[(String, Timestamp, Timestamp, Long)].collect().sortBy(_._2.getTime)
    rows shouldBe Array(
      ("u1", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"), 1L),
      ("u1", ts("2024-01-01 00:05:30"), ts("2024-01-01 00:05:30"), 1L))
  }

  test("session_window stream aggregation equals the same call on a batch frame") {
    val data = Seq(
      (ts("2024-01-01 00:00:00"), "u1", 1.0),
      (ts("2024-01-01 00:02:00"), "u1", 2.0),
      (ts("2024-01-01 00:30:00"), "u1", 3.0),   // > 5-min gap -> new session
      (ts("2024-01-01 00:01:00"), "u2", 4.0))
    val in = MemoryStream[(Timestamp, String, Double)]
    val out = StreamAgg.sessions(
      in.toDF().toDF("ts", "key", "v"), "ts", "1 minute", "5 minutes",
      Seq("key"), Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    val q = out.writeStream.format("memory").queryName("t_sessions")
      .outputMode(OutputMode.Append()).start()
    in.addData(data.take(2): _*)
    q.processAllAvailable()
    in.addData(data.drop(2): _*)
    q.processAllAvailable()
    in.addData((ts("2024-01-01 02:00:00"), "wm", 0.0)) // close everything real
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_sessions").filter(col("key") =!= "wm")
      .select("key", "session_start", "session_end", "n", "sv")
      .as[(String, Timestamp, Timestamp, Long, Double)].collect().toSet
    // the SAME operator call on a static frame is the oracle
    val batch = StreamAgg.sessions(
      data.toDF("ts", "key", "v"), "ts", "1 minute", "5 minutes",
      Seq("key"), Seq(count(lit(1)).as("n"), sum(col("v")).as("sv")))
      .select("key", "session_start", "session_end", "n", "sv")
      .as[(String, Timestamp, Timestamp, Long, Double)].collect().toSet
    got shouldBe batch
    got.map(t => (t._1, t._4)) shouldBe Set(("u1", 2L), ("u1", 1L), ("u2", 1L))
    // session_end is last event + gap (the expiry instant)
    got.find(t => t._1 == "u2").get._3 shouldBe ts("2024-01-01 00:06:00")
  }

  test("T8: persisted GBT model scores a streaming frame inside the plan") {
    import graft.ml.MlPipeline
    val train = (1 to 200).map(i => (i.toDouble, i.toDouble * 2 + 1)).toDF("x", "y")
    val res = MlPipeline.trainRegressor(train, Seq("x"), "y", maxIter = 5)
    val dir = tmpDir("t8_model") + "/gbt"
    MlPipeline.save(res.model, dir)
    val loaded = MlPipeline.load(dir)

    val in = MemoryStream[Double]
    val scored = MlPipeline.score(loaded, in.toDF().toDF("x"), Seq("x"))
      .select("x", "prediction")
    val q = scored.writeStream.format("memory").queryName("t8_scored")
      .outputMode(OutputMode.Append()).start()
    in.addData(50.0, 150.0)
    q.processAllAvailable()
    q.stop()
    val preds = spark.table("t8_scored").as[(Double, Double)].collect().toMap
    preds.keySet shouldBe Set(50.0, 150.0)
    // y = 2x+1 is monotone; a depth-3 GBT on 200 points should at least preserve order
    preds(150.0) should be > preds(50.0)
  }

  test("streaming bloom decontamination drops contaminated docs statelessly") {
    val testSet = Seq("held out eval question about spark joins",
      "another benchmark prompt entirely for eval").toDF("text")
    // the stored decontamination artifact's bloom, as a stream reads it
    val dir = tmpDir("t_decon_artifact")
    graft.operators.Decontaminate.writeDecontamArtifact(spark, testSet, "text", 5, dir)
    val bloom = spark.read.parquet(s"$dir/bloom").head().getAs[Array[Byte]]("bloom")
    val in = MemoryStream[(Long, String)]
    val out = graft.operators.Decontaminate.streamCleanBloom(
      in.toDF().toDF("doc_id", "text"), "text", bloom, 5)
    val q = out.writeStream.format("memory").queryName("t_decon")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (1L, "fresh corpus doc with no overlap whatsoever right here"),
      (2L, "contains held out eval question about spark joins verbatim"),
      (3L, "short doc"))                      // < n tokens: never flagged
    q.processAllAvailable()
    in.addData((4L, "prefix another benchmark prompt entirely for eval suffix"))
    q.processAllAvailable()
    q.stop()
    spark.table("t_decon").select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 3L) // 2 and 4 share a 5-gram with the test set
  }

  test("streaming substring pre-screen drops window-contaminated docs statelessly") {
    // q159's ingest face: the artifact's rolling-digest bloom probes
    // row-locally (no state/join), dropping any arrival sharing a
    // k-token window with the stored benchmark — including one buried
    // mid-document, which whole-doc gram screens at larger n would
    // need the exact join to localize.
    import graft.operators.Dedup
    val k = 4
    val ref = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val dir = tmpDir("t_substr_screen")
    Dedup.writeSubstringScreenArtifact(spark, ref, "text", k, dir)
    val meta = spark.read.parquet(s"$dir/meta").head()
    val bloom = meta.getAs[Array[Byte]]("bloom")
    meta.getAs[Number]("k").intValue() shouldBe k
    val in = MemoryStream[(Long, String)]
    val out = Dedup.streamSubstringScreenBloom(
      in.toDF().toDF("doc_id", "text"), "text", bloom, k)
    val q = out.writeStream.format("memory").queryName("t_substr")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (1L, "clean document with entirely fresh tokens here"),
      (2L, "x1 x2 beta gamma delta epsilon x3"), // 4-window match mid-doc
      (3L, "alpha beta gamma"))                  // < k tokens: never flagged
    q.processAllAvailable()
    in.addData((4L, "alpha beta gamma delta trailing words"))
    q.processAllAvailable()
    q.stop()
    spark.table("t_substr").select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 3L) // 2 and 4 share a 4-token window with the benchmark
  }

  test("streaming media pre-screen drops band-colliding payloads statelessly") {
    // q166's ingest face: the media index's band bloom probes
    // row-locally (feature decode + band keys + bloom check in one
    // narrow projection — no state, no join). Any arrival sharing a
    // feature band with the frozen corpus drops; null payloads pass
    // (the substring screen's convention — nullity gating is
    // upstream's job).
    import graft.operators.Multimodal
    val ref = Seq((1L, "aaaabbbbccccdddd"), (5L, "mmmmnnnnoooopppp"))
      .toDF("doc_id", "text")
    val dir = tmpDir("t_media_screen")
    Multimodal.writeMediaDupIndex(spark,
      Multimodal.attachPayload(ref, "text", "text"), "doc_id", "media",
      dim = 4, bandSize = 2, dir)
    // the FENCED stream-start read: bloom + geometry + decoder check
    // in one meta pull (the raw predicate must never see a bloom from
    // a foreign codec — it would pass every payload silently)
    val (bloom, metaDim, metaBs) = Multimodal.readScreenMeta(spark, dir)
    metaDim shouldBe 4
    metaBs shouldBe 2
    val in = MemoryStream[(Long, String)]
    val media = Multimodal.attachPayload(
      in.toDF().toDF("doc_id", "text"), "text", "text")
      // attachPayload(null) yields a null media payload — keep the row
      .drop("media_meta")
    val out = Multimodal.streamMediaScreenBloom(media, "media", bloom,
      dim = 4, bandSize = 2)
    val q = out.writeStream.format("memory").queryName("t_media_bloom")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (10L, "aaaabbbbccccddde"),              // near-edit: band 0 collides → drop
      (11L, "zzzzyyyyxxxxwwww"),              // clean → pass
      (12L, "aaaabbbbccccdddd"),              // exact copy → drop
      (13L, null.asInstanceOf[String]))       // null payload → pass
    q.processAllAvailable()
    q.stop()
    spark.table("t_media_bloom").select("doc_id").as[Long].collect().sorted shouldBe
      Array(11L, 13L)
    // stream ≡ batch: the same call on a batch frame keeps the same rows
    // parquet round-trip keeps the screen a PHYSICAL filter: over a
    // LocalRelation the optimizer constant-folds the whole predicate
    // away (even under a repartition) and the plan assertion below
    // would count an empty LocalTableScan
    val inDir = tmpDir("t_media_bloom_in")
    Seq((10L, "aaaabbbbccccddde"), (11L, "zzzzyyyyxxxxwwww"),
      (12L, "aaaabbbbccccdddd"), (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val batchMedia = Multimodal.attachPayload(
      spark.read.parquet(inDir), "text", "text")
    val screened =
      Multimodal.streamMediaScreenBloom(batchMedia, "media", bloom, 4, 2)
    screened.select("doc_id").as[Long].collect().sorted shouldBe Array(11L, 13L)
    // the feature decode is LET-BOUND: exactly ONE char_window_sums per
    // row feeds every band's bloom probe — unbound, the decode re-runs
    // once per band (dim/bandSize× the hot-path cost)
    "char_window_sums".r
      .findAllIn(screened.queryExecution.executedPlan.toString)
      .size shouldBe 1
  }

  test("media near-dup routing at ingest: stream ≡ batch against the stored index") {
    // the media analog of hybrid routing: arrivals band-join the FROZEN
    // media index (stream-static inner equi-join — stateless, no
    // watermark) and verify by row-local exact L1; emitted rows equal
    // the batch probe on the same arrivals.
    import graft.operators.Multimodal
    val ref = Seq((1L, "aaaabbbbccccdddd"), (3L, "aaaabbbbccccdddd"),
      (5L, "mmmmnnnnoooopppp")).toDF("doc_id", "text")
    val dir = tmpDir("t_media_route")
    Multimodal.writeMediaDupIndex(spark,
      Multimodal.attachPayload(ref, "text", "text"), "doc_id", "media",
      dim = 4, bandSize = 2, dir)
    val in = MemoryStream[(Long, String)]
    val media = Multimodal.attachPayload(
      in.toDF().toDF("doc_id", "text"), "text", "text").drop("media_meta")
    val out = Multimodal.mediaNearDupStoredStream(
      spark, dir, media, "doc_id", "media", maxL1 = 50L)
    val q = out.writeStream.format("memory").queryName("t_media_route")
      .outputMode(OutputMode.Append()).start()
    val arrivals = Seq(
      (10L, "aaaabbbbccccddde"), // near-edit of 1/3: l1 = 1 to each
      (11L, "zzzzyyyyxxxxwwww"), // clean
      (13L, "aaaabbbbzzzzzzzz")) // band collision, L1-rejected
    in.addData(arrivals.take(2))
    q.processAllAvailable()
    in.addData(arrivals.drop(2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_media_route")
      .select("id_a", "id_b", "l1", "same_content")
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    val batch = Multimodal.mediaNearDupAgainstStored(spark, dir,
        Multimodal.attachPayload(arrivals.toDF("doc_id", "text"),
          "text", "text"), "doc_id", "media", maxL1 = 50L)
      .as[(Long, Long, Long, Boolean)].collect().toSeq.sorted
    streamed shouldBe batch
    streamed.map(r => (r._1, r._2)) shouldBe Seq((10L, 1L), (10L, 3L))
  }

  test("media probe routing at ingest: stream ≡ batch against the frozen probe batch") {
    // q168's stream face — hybridRouteStream's discipline for the
    // media modality: a FROZEN probe batch of exemplar feature vectors
    // (bounded driver literals) routes each arriving payload with a
    // band-agreement membership rule + exact-L1 verify. Stateless: the
    // stored index contributes only its decode geometry (read once at
    // stream start), so no state store, no watermark, no join.
    import graft.operators.Multimodal
    val ref = Seq((2L, "aaaabbbbccccdddd"), (4L, "mmmmnnnnoooopppp"))
      .toDF("doc_id", "text")
    val dir = tmpDir("t_media_probe_route")
    Multimodal.writeMediaDupIndex(spark,
      Multimodal.attachPayload(ref, "text", "text"), "doc_id", "media",
      dim = 4, bandSize = 2, dir)
    // frozen probes = the STORED feature vectors of both exemplars
    val probes = spark.read.parquet(s"$dir/feats")
      .collect()
      .map(r => r.getAs[Long]("_id") -> r.getAs[Seq[Long]]("_f").toArray)
      .sortBy(_._1).toSeq
    val in = MemoryStream[(Long, String)]
    val media = Multimodal.attachPayload(
      in.toDF().toDF("doc_id", "text"), "text", "text").drop("media_meta")
    val out = Multimodal.mediaRouteStream(
      spark, dir, media, "doc_id", "media", probes, maxL1 = 50L)
    val q = out.writeStream.format("memory").queryName("t_media_probe_route")
      .outputMode(OutputMode.Append()).start()
    val arrivals = Seq(
      (10L, "aaaabbbbccccdddd"),            // exact dup of probe 2
      (11L, "aaaabbbbccccddde"),            // near-edit: band 0 agrees, l1 = 1
      (12L, "zzzzyyyyxxxxwwww"),            // no band agrees → no route
      (13L, "aaaabbbbzzzzzzzz"),            // band 0 agrees, L1-rejected
      (14L, null.asInstanceOf[String]))     // null payload drops
    in.addData(arrivals.take(3))
    q.processAllAvailable()
    in.addData(arrivals.drop(3))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_media_probe_route")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val batchIn = Multimodal.attachPayload(
      arrivals.toDF("doc_id", "text"), "text", "text")
    val batch = Multimodal.mediaRouteStream(
        spark, dir, batchIn, "doc_id", "media", probes, maxL1 = 50L)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    streamed shouldBe batch
    // (probe_id, doc_id, bands_hit, l1): exactly the exact dup (both
    // bands) and the near-edit (band 0 only) routed, both to probe 2
    streamed shouldBe Seq((2L, 10L, 2L, 0L), (2L, 11L, 1L, 1L))
    // the decode sits BELOW the probe explode (the Generate fence):
    // exactly ONE char_window_sums per arriving row, not one per
    // (row × probe)
    val inDir = tmpDir("t_media_probe_route_in")
    arrivals.toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val physical = Multimodal.mediaRouteStream(spark, dir,
      Multimodal.attachPayload(spark.read.parquet(inDir), "text", "text"),
      "doc_id", "media", probes, maxL1 = 50L)
    "char_window_sums".r
      .findAllIn(physical.queryExecution.executedPlan.toString)
      .size shouldBe 1
  }

  test("probe registry: register once, append, route every future batch — stream ≡ batch") {
    // q171's stream face (round-13 verdict item 4): the registry
    // PERSISTS the probe batch mediaRouteStream would freeze per call,
    // so routing reads the full registered set back from the artifact
    // — register → append → route, and the same call routes a
    // readStream (the plan is the stateless mediaRouteStream plan; the
    // registry contributes only a model-sized collect at stream start).
    import graft.operators.Multimodal
    val dir = tmpDir("t_probe_registry")
    val ex = Multimodal.attachPayload(
      Seq((2L, "aaaabbbbccccdddd")).toDF("doc_id", "text"), "text", "text")
      .select(col("doc_id"),
        Multimodal.stubFeaturesMicro(col("media"), 4).as("_pv"))
    Multimodal.writeProbeRegistry(spark, ex, "doc_id", "_pv",
      dim = 4, bandSize = 2, dir)
    val ex2 = Multimodal.attachPayload(
      Seq((4L, "mmmmnnnnoooopppp")).toDF("doc_id", "text"), "text", "text")
      .select(col("doc_id"),
        Multimodal.stubFeaturesMicro(col("media"), 4).as("_pv"))
    Multimodal.appendToProbeRegistry(spark, dir, ex2, "doc_id", "_pv")
    val arrivals = Seq(
      (10L, "aaaabbbbccccdddd"),            // exact dup of probe 2
      (11L, "mmmmnnnnoooopppq"),            // near-edit of probe 4
      (12L, "zzzzyyyyxxxxwwww"))            // no band agrees → no route
    val in = MemoryStream[(Long, String)]
    val media = Multimodal.attachPayload(
      in.toDF().toDF("doc_id", "text"), "text", "text").drop("media_meta")
    val out = Multimodal.routeAgainstProbeRegistry(
      spark, dir, media, "doc_id", "media", maxL1 = 50L)
    val q = out.writeStream.format("memory").queryName("t_probe_registry")
      .outputMode(OutputMode.Append()).start()
    in.addData(arrivals)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_probe_registry")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val batch = Multimodal.routeAgainstProbeRegistry(spark, dir,
        Multimodal.attachPayload(arrivals.toDF("doc_id", "text"),
          "text", "text"), "doc_id", "media", maxL1 = 50L)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    streamed shouldBe batch
    // BOTH registered segments route: the appended probe 4 catches the
    // near-edit — register once, route forever
    streamed shouldBe Seq((2L, 10L, 2L, 0L), (4L, 11L, 1L, 1L))
  }

  test("ingest pre-screens never pass a doc the batch gate cuts as a dup") {
    // The property that makes q169's stream face safe: the stateless
    // bloom pre-screens (substring + media) OVER-drop at the fpp but
    // can never UNDER-drop — every arrival the exact batch gate marks
    // dup_text / dup_media band- or window-collides with the frozen
    // corpus, and blooms have zero false negatives, so it must be
    // screened out at ingest. Containment, not equality, is the
    // contract (fpp false positives are the declared ingest trade).
    import graft.operators.{Dedup, Multimodal}
    import graft.queries.Tables.{t => tbl}
    val dir = "/root/testdata/sf0.001"
    val docs = tbl(spark, dir, "documents")
    val media = Multimodal.attachPayload(docs, "text", "text")
    val arrivals = media.filter(col("doc_id") % 2 === 1)
    // run the gate FIRST (it builds its own artifacts via
    // Artifacts.prepare), then probe the blooms from q169's OWN
    // artifact directories (same hashed-path derivation the query
    // uses) — the corpus is indexed once per test run, and the test
    // provably screens against the exact blooms the gate ships with
    val gate = graft.SparkEntry.queries("q169_ingest_gate")(spark, dir)
      .select(col("doc_id"), col("dup_text"), col("dup_of")).collect()
    val hex = java.lang.Integer.toHexString(dir.hashCode)
    val mDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_media_$hex"
    val sDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_ss_$hex"
    val dupTextIds = gate.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val dupMediaIds = gate.filter(!_.isNullAt(2)).map(_.getLong(0)).toSet
    // the fixture genuinely exercises both signals
    dupTextIds should not be empty
    dupMediaIds should not be empty
    val ssSurvivors = Dedup.streamSubstringScreenBloom(arrivals, "text",
        spark.read.parquet(s"$sDir/meta").head.getAs[Array[Byte]]("bloom"), 50)
      .select("doc_id").as[Long].collect().toSet
    (ssSurvivors intersect dupTextIds) shouldBe empty
    val mSurvivors = Multimodal.streamMediaScreenBloom(arrivals, "media",
        Multimodal.readScreenMeta(spark, mDir)._1, 16, 4)
      .select("doc_id").as[Long].collect().toSet
    (mSurvivors intersect dupMediaIds) shouldBe empty
    // and the screens do real work: most clean arrivals pass through
    val nArrivals = arrivals.count().toInt
    ssSurvivors.size should be >= (nArrivals / 2)
    mSurvivors.size should be >= (nArrivals / 2)
  }

  test("streaming near-dup suppression detects collisions across micro-batches") {
    val in = MemoryStream[(Long, String)]
    val out = StreamNearDup.collisions(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bits = 16, bandBits = 4, maxHamming = 3)
    val q = out.toDF().writeStream.format("memory").queryName("t_neardup")
      .outputMode(OutputMode.Append()).start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    in.addData((1L, base), (2L, "completely different tokens about spark shuffles"))
    q.processAllAvailable()
    // batch 2: an exact dup of doc 1 (state crossed the batch boundary),
    // a near-dup of doc 1, and a fresh unrelated doc
    in.addData(
      (3L, base),
      (4L, base + " postfix"),
      (5L, "unrelated corpus of entirely novel words here"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_neardup")
      .as[(Long, Long, Long, Int)].collect()
    val byDoc = rows.groupBy(_._1)
    // exactly the two near-dups collided, both against doc 1
    byDoc.keySet shouldBe Set(3L, 4L)
    byDoc(3L).map(_._2).toSet shouldBe Set(1L)
    byDoc(3L).map(_._3).toSet shouldBe Set(0L)        // identical fingerprint
    byDoc(3L).length shouldBe 4                        // collides in all 16/4 bands
    byDoc(4L).map(_._2).toSet shouldBe Set(1L)
    all(byDoc(4L).map(_._3)) should be <= 3L           // within maxHamming
  }

  test("a redelivered document never collides with itself (at-least-once sources)") {
    val in = MemoryStream[(Long, String)]
    val out = StreamNearDup.collisions(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bits = 16, bandBits = 4, maxHamming = 3)
    val q = out.toDF().writeStream.format("memory").queryName("t_redeliver")
      .outputMode(OutputMode.Append()).start()
    val doc = (7L, "alpha beta gamma delta epsilon zeta")
    in.addData(doc)
    q.processAllAvailable()
    in.addData(doc) // redelivery in a later micro-batch
    in.addData(doc) // and a third copy in the same batch
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_redeliver")
      .as[(Long, Long, Long, Int)].collect()
    // no self-collision rows, and no state duplication turning the
    // redelivery into a phantom match
    rows.filter(r => r._1 == r._2) shouldBe empty
    rows shouldBe empty // nothing else streamed, so nothing collides
  }

  test("stream screen against the stored signature index matches brute force") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(67)
    val vocab = (0 until 40).map(i => s"w$i")
    def doc(id: Long) =
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val corpus = (1L to 60L).map(doc)
    val streamDocs = (61L to 90L).map(doc)
    val dir = java.nio.file.Files.createTempDirectory("simidx_stream").toString
    Dedup.writeSimhashIndex(spark, corpus.toDF("doc_id", "text"),
      "doc_id", "text", dir, bits = 16)
    // returns the screen's rows and its last micro-batch's physical plan
    def screen(sink: String): (Set[(Long, Long, Long)], String) = {
      val in = MemoryStream[(Long, String)]
      val out = StreamNearDup.screenAgainstIndex(
        in.toDF().toDF("doc_id", "text"), dir, "doc_id", "text",
        maxHamming = 3, bandBits = 4)
      val q = out.toDF().writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      in.addData(streamDocs.take(15): _*)
      q.processAllAvailable()
      in.addData(streamDocs.drop(15): _*)   // stateless: batches independent
      q.processAllAvailable()
      val plan = new java.io.ByteArrayOutputStream()
      Console.withOut(plan)(q.explain())
      q.stop()
      (spark.table(sink).select("docId", "dupOf", "hamming")
        .as[(Long, Long, Long)].collect().toSet, plan.toString)
    }
    val (got, _) = screen("t_idx_screen")
    // brute force: every (stream, corpus) pair within the hamming bound,
    // each exactly once (the first-agreeing-band filter's contract)
    val fp = Dedup.simhash((corpus ++ streamDocs).toDF("doc_id", "text"),
      "doc_id", "text", 16).as[(Long, Long)].collect().toMap
    val expected = (for {
      b <- streamDocs.map(_._1); c <- corpus.map(_._1)
      h = java.lang.Long.bitCount(fp(b) ^ fp(c)).toLong
      if h <= 3L
    } yield (b, c, h)).toSet
    got shouldBe expected
    got.size shouldBe spark.table("t_idx_screen").count()   // no pair dups
    // broadcasting off: the index side's hint drops, the rows stay
    val (off, offPlan) = withBroadcastThreshold("-1")(screen("t_idx_screen_off"))
    off shouldBe got
    offPlan should include("Join")
    offPlan should not include "BroadcastHashJoin"
  }

  test("stream screen against the stored winnow index equals the batch screen") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(73)
    val vocab = (0 until 60).map(i => s"w$i")
    def doc(id: Long) =
      (id, Seq.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val corpus = (1L to 60L).map(doc)
    // half the stream docs embed a 6-token span copied from a corpus doc
    val streamDocs = (61L to 80L).map { id =>
      val (sid, stext) = doc(id)
      if (id % 2 == 0) {
        val src = corpus((id % 60).toInt)._2.split(" ").take(6).mkString(" ")
        (sid, s"$stext $src")
      } else (sid, stext)
    }
    val dir = java.nio.file.Files.createTempDirectory("winidx_stream").toString
    Dedup.writeWinnowIndex(spark, corpus.toDF("doc_id", "text"),
      "doc_id", "text", dir, kGram = 3, w = 4)
    val in = MemoryStream[(Long, String)]
    val out = StreamNearDup.screenAgainstWinnowIndex(
      in.toDF().toDF("doc_id", "text"), dir, "doc_id", "text", maxDf = 10)
    val q = out.toDF().writeStream.format("memory").queryName("t_win_screen")
      .outputMode(OutputMode.Append()).start()
    in.addData(streamDocs.take(10): _*)
    q.processAllAvailable()
    in.addData(streamDocs.drop(10): _*)   // stateless: batches independent
    q.processAllAvailable()
    q.stop()
    // aggregate the per-fingerprint matches to best-per-doc, the
    // convention the batch screen applies internally
    val got = spark.table("t_win_screen")
      .as[(Long, Long, Long)].collect().toSeq
      .groupBy(r => (r._1, r._2)).view.mapValues(_.size).toSeq
      .groupBy(_._1._1)
      .map { case (d, m) =>
        d -> m.map { case ((_, c), n) => (c, n) }
          .maxBy { case (c, n) => (n, -c) }
      }
    val batch = Dedup.screenWithWinnowIndex(spark, dir,
        streamDocs.toDF("doc_id", "text"), "doc_id", "text",
        maxDf = 10, minShared = 1)
      .collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2).toInt))).toMap
    got shouldBe batch
    // every copied-span stream doc found a match (the detection guarantee)
    streamDocs.map(_._1).filter(_ % 2 == 0).foreach { id =>
      batch.keySet should contain(id)
    }
  }

  test("streaming KMV sketch equals the batch sketch with bounded per-group state") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(59)
    def doc(id: Long) = (if (id % 2 == 0) "a" else "b",
      Seq.fill(15)(s"w${rnd.nextInt(500)}").mkString(" "))
    val docs = (1L to 300L).map(doc)
    val in = MemoryStream[(String, String)]
    val out = StatefulOps.kmvDistinctStream(
      in.toDF().toDF("source", "text"), "source", "text", 3, 64)
    val q = out.toDF().writeStream.format("memory").queryName("t_kmv")
      .outputMode(OutputMode.Update()).start()
    in.addData(docs.take(100): _*); q.processAllAvailable()
    in.addData(docs.slice(100, 200): _*); q.processAllAvailable()
    in.addData(docs.drop(200): _*); q.processAllAvailable()
    // state is one ≤k-longs row per group, not per distinct value
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum shouldBe 2L
    q.stop()
    // latest emission per group — (kUsed, -kthMin) is monotone, so the
    // max over emissions IS the final state
    val got = spark.table("t_kmv").as[(String, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (g, rows) =>
        val best = rows.maxBy(r => (r._2, -r._3))
        g -> ((best._2, best._3, best._4))
      }
    val batch = Sketches.kmvDistinct(
        docs.toDF("source", "text"), "source", "text", 3, 64)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    got shouldBe batch
  }

  test("stream scoring against stored DSIR weights equals batch scoring") {
    import graft.operators.Importance
    val rnd = new scala.util.Random(91)
    def doc(id: Long, tgt: Boolean) = {
      val vocab = if (tgt) (0 until 10).map(i => s"t$i") else (0 until 10).map(i => s"r$i")
      (id, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "), tgt)
    }
    val corpus = ((1L to 30L).map(doc(_, true)) ++ (31L to 60L).map(doc(_, false)))
      .toDF("doc_id", "text", "is_target")
    val dir = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    Importance.writeBucketWeights(corpus, "text", col("is_target"), 32, dir)
    val streamDocs = (61L to 80L).map(doc(_, rnd.nextBoolean()))
      .map { case (id, text, _) => (id, text) }
    val in = MemoryStream[(Long, String)]
    val out = Importance.scoreWithStoredWeights(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = out.writeStream.format("memory").queryName("t_dsir_score")
      .outputMode(OutputMode.Append()).start()
    in.addData(streamDocs.take(10): _*)
    q.processAllAvailable()
    in.addData(streamDocs.drop(10): _*)   // stateless: weights frozen
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_dsir_score")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    val batch = Importance.scoreWithStoredWeights(
      streamDocs.toDF("doc_id", "text"), "doc_id", "text", dir)
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    got shouldBe batch
  }

  test("stream scoring against a stored bigram LM equals batch scoring") {
    import graft.operators.Importance
    val rnd = new scala.util.Random(132)
    def doc(id: Long, tgt: Boolean) = {
      val vocab = if (tgt) (0 until 8).map(i => s"t$i") else (0 until 8).map(i => s"r$i")
      (id, Seq.fill(15)(vocab(rnd.nextInt(vocab.size))).mkString(" "), tgt)
    }
    val corpus = ((1L to 30L).map(doc(_, true)) ++ (31L to 60L).map(doc(_, false)))
      .toDF("doc_id", "text", "is_target")
    val dir = java.nio.file.Files.createTempDirectory("lm_stream").toString
    Importance.writeBigramModel(corpus, "text", col("is_target"), 16, dir)
    val labeled = (61L to 80L).map(id => doc(id, id % 2 == 0))
    val streamDocs = labeled.map { case (id, text, _) => (id, text) }
    val in = MemoryStream[(Long, String)]
    val out = Importance.bigramXentWithStoredModel(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", dir)
    val q = out.writeStream.format("memory").queryName("t_lm_score")
      .outputMode(OutputMode.Append()).start()
    in.addData(streamDocs.take(10): _*)
    q.processAllAvailable()
    in.addData(streamDocs.drop(10): _*)   // stateless: model frozen
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_lm_score")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, nb, x) => id -> ((n, nb, x)) }.toMap
    val batch = Importance.bigramXentWithStoredModel(
      streamDocs.toDF("doc_id", "text"), "doc_id", "text", dir)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, nb, x) => id -> ((n, nb, x)) }.toMap
    got shouldBe batch
    got.values.foreach { case (n, nb, _) => nb shouldBe n - 1 }
    batch.keySet shouldBe streamDocs.map(_._1).toSet
    // the frozen LM finds target-vocab docs less perplexing than
    // raw-vocab docs (it was trained on the target subset only)
    def meanXent(tgt: Boolean) = {
      val xs = labeled.filter(_._3 == tgt).map(d => got(d._1)._3)
      xs.sum / xs.size
    }
    meanXent(true) should be < meanXent(false)
  }

  test("stream scoring against a stored NB classifier equals batch scoring") {
    import graft.operators.Classifier
    val rnd = new scala.util.Random(129)
    def doc(id: Long, pos: Boolean) = {
      val vocab = if (pos) (0 until 8).map(i => s"g$i") else (0 until 8).map(i => s"b$i")
      (id, Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "), pos)
    }
    val train = ((1L to 30L).map(doc(_, true)) ++ (31L to 60L).map(doc(_, false)))
      .toDF("doc_id", "text", "pos")
    val dir = java.nio.file.Files.createTempDirectory("clf_stream").toString
    val (w, bias) = Classifier.trainNbMicro(train, "text", col("pos"), 32)
    Classifier.writeModelArtifact(spark, dir, w, bias)
    val streamDocs = (61L to 80L).map(id => doc(id, id % 2 == 0))
      .map { case (id, text, _) => (id, text) }
    val in = MemoryStream[(Long, String)]
    val out = Classifier.scoreWithStoredModel(
      spark, dir, in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("t_clf_score")
      .outputMode(OutputMode.Append()).start()
    in.addData(streamDocs.take(10): _*)
    q.processAllAvailable()
    in.addData(streamDocs.drop(10): _*)   // stateless: model frozen
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_clf_score")
      .select("doc_id", "clf_score", "keep")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    val batch = Classifier.scoreWithStoredModel(
      spark, dir, streamDocs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "clf_score", "keep")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    got shouldBe batch
    // the frozen model separates the classes on unseen docs
    got.filter(_._1 % 2 == 0).foreach { case (_, _, keep) => keep shouldBe true }
    got.filter(_._1 % 2 == 1).foreach { case (_, _, keep) => keep shouldBe false }
  }

  test("streaming near-dup ignores null-text docs instead of colliding them") {
    // regression: a null text naively evaluates to fingerprint 0, which
    // made every null-text doc "identical" to every other one (and to
    // any doc whose true fingerprint is 0); they must simply be skipped
    val in = MemoryStream[(Long, Option[String])]
    val out = StreamNearDup.collisions(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      bits = 16, bandBits = 4, maxHamming = 3)
    val q = out.toDF().writeStream.format("memory").queryName("t_neardup_null")
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, None), (3L, None))
    q.processAllAvailable()
    in.addData((4L, None),
      (5L, Some("the quick brown fox jumps over the lazy dog")))
    q.processAllAvailable()
    q.stop()
    // only the genuine dup collided; the three null docs matched nothing
    spark.table("t_neardup_null").select("docId", "dupOf")
      .as[(Long, Long)].collect().toSet shouldBe Set((5L, 1L))
  }

  test("semantic decontamination screens ingest-time: stream-static ≡ batch") {
    // The q148 screen is STATELESS on streams by construction: the
    // benchmark side is static and broadcast, the bucket equi-join +
    // cosine verify need no watermark, no state store — so the same
    // operator call runs unchanged on a readStream and must emit
    // exactly the batch screen's rows (the engine-wide stream/batch
    // parity discipline).
    import graft.operators.Decontaminate
    val testSet = Seq(
      (0L, Array(1f, 1f, 0f, 0f)),
      (1L, Array(-1f, 1f, 1f, 0f))).toDF("vec_id", "embedding")
    val trainRows = Seq(
      (10L, Array(0.9f, 1.1f, 0.1f, 0f)),   // near test 0, same bucket
      (11L, Array(-0.8f, 0.9f, 1.2f, 0f)),  // near test 1, same bucket
      (12L, Array(0.1f, -5f, 0f, 1f)))      // far from both
    val in = MemoryStream[(Long, Array[Float])]
    val screened = Decontaminate.semanticScreen(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      testSet, "vec_id", "embedding", threshold = 0.6, nBits = 2)
    val q = screened.writeStream.format("memory").queryName("t_sem_screen")
      .outputMode(OutputMode.Append()).start()
    in.addData(trainRows: _*)
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    val streamOut = norm(spark.table("t_sem_screen"))
    val batchOut = norm(Decontaminate.semanticScreen(
      trainRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      testSet, "vec_id", "embedding", threshold = 0.6, nBits = 2))
    streamOut shouldBe batchOut
    streamOut.map(t => (t._1, t._2)) shouldBe Seq((0L, 10L), (1L, 11L))
  }

  test("SRP projection at ingest: stream ≡ batch, malformed rows drop") {
    // q153's ingest-time face (round-10 verdict item 8): the signed-
    // random-projection screen is a stateless narrow projection — the
    // sign matrix is hash-derived (md5 of `srp:<j>:<i>`, the same
    // matrix every engine regenerates), the sums exact int64 — so the
    // same srpProjectMicro call runs unchanged on a readStream and
    // must emit exactly the batch projection's rows, including the
    // validity filter dropping a wrong-dimensionality arrival.
    import graft.operators.Embeddings
    val rnd = new scala.util.Random(29)
    val arriving = (0 until 8).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1))) :+
      (99L, Array(1.0f, 2.0f)) // wrong dims -> must drop on both faces
    val in = MemoryStream[(Long, Array[Float])]
    val projected = Embeddings.srpProjectMicro(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dims = 6, outDims = 3)
    val q = projected.writeStream.format("memory").queryName("t_srp_stream")
      .outputMode(OutputMode.Append()).start()
    in.addData(arriving: _*)
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamOut = norm(spark.table("t_srp_stream"))
    streamOut shouldBe norm(Embeddings.srpProjectMicro(
      arriving.toDF("vec_id", "embedding"), "vec_id", "embedding", 6, 3))
    streamOut.map(_._1).distinct shouldBe (0L until 8L) // 99 dropped
  }

  test("hybrid routing at ingest: stream ≡ batch against the stored index pair") {
    // The q160/q161 stack's stream face (round-11 verdict item 5):
    // arriving documents score lexically against the STORED BM25
    // index's frozen corpus stats and semantically against a FROZEN
    // query-vector set — stateless (stats + query batch are bounded
    // literals), so the same hybridRouteStream call runs unchanged on
    // a readStream and emits exactly the batch rows. Membership
    // follows the batch shortlist rule: zero-lexical-score docs and
    // null-text/null-vector arrivals never route.
    import graft.operators.Retrieval
    val corpus = Seq(
      (1L, "spark shuffle notes"), (2L, "vector search with spark"),
      (3L, "cooking pasta"), (4L, "customer spark vector")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_hyb_stream").toString
    Retrieval.writeRetrievalIndex(spark, corpus, "doc_id", "text", dir)
    val frozenQ = Seq(100L -> Array(1.0, 0.0), 101L -> Array(0.0, 1.0))
    val arriving = Seq(
      (10L, "fresh spark doc", Array(0.6f, 0.8f)),
      (11L, "vector ingest", Array(1.0f, 0.0f)),
      (12L, "nothing relevant", Array(0.5f, 0.5f)), // lexical 0 → no route
      (13L, null.asInstanceOf[String], Array(1.0f, 1.0f)), // null text drops
      (14L, "spark", null.asInstanceOf[Array[Float]]))     // null vec drops
    val in = MemoryStream[(Long, String, Array[Float])]
    val routed = Retrieval.hybridRouteStream(
      in.toDF().toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding", dir,
      Seq("spark", "vector", "customer"), frozenQ)
    val q = routed.writeStream.format("memory").queryName("t_hyb_route")
      .outputMode(OutputMode.Append()).start()
    in.addData(arriving: _*)
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamOut = norm(spark.table("t_hyb_route"))
    streamOut shouldBe norm(Retrieval.hybridRouteStream(
      arriving.toDF("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding", dir,
      Seq("spark", "vector", "customer"), frozenQ))
    // both lexically-matching docs route to BOTH frozen queries
    streamOut.map(t => (t._1, t._2)).distinct.sorted shouldBe
      Seq((100L, 10L), (100L, 11L), (101L, 10L), (101L, 11L))
    // exact rounded cosine rode along (10 → q100: cos((.6,.8),(1,0))=.6)
    streamOut.find(t => t._1 == 100L && t._2 == 10L).get._5 shouldBe 0.6
  }

  test("trained-cell routing at ingest: stream assignment ≡ batch assignment") {
    // The q152 index's ingest-time face: route arriving vectors to
    // their trained cells through the STORED centroids. The assignment
    // is a stateless literal-centroid argmin (no watermark, no state
    // store), so the same kmeansAssignMicro call runs unchanged on a
    // readStream and must emit exactly the batch rows — d2 included,
    // since every number is an exact int64.
    import graft.operators.Similarity
    val corpus = (0 until 60)
      .map(i => (i.toLong, Array(i % 3 * 1.0f, (i % 3) - 1.0f)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("km_stream_idx")
    Similarity.writeIvfIndexMicroExact(corpus, "vec_id", "embedding",
      dir, nCentroids = 3, iters = 2)
    val centers = Similarity.readIvfCentersMicro(spark, dir)
    val arriving = Seq(
      (100L, Array(0.1f, -0.9f)), (101L, Array(2.1f, 1.2f)),
      (102L, Array(1.0f, 0.1f)))
    val in = MemoryStream[(Long, Array[Float])]
    val routed = Similarity.kmeansAssignMicro(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", centers)
    val q = routed.writeStream.format("memory").queryName("t_km_route")
      .outputMode(OutputMode.Append()).start()
    in.addData(arriving: _*)
    q.processAllAvailable()
    q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val streamOut = norm(spark.table("t_km_route"))
    streamOut shouldBe norm(Similarity.kmeansAssignMicro(
      arriving.toDF("vec_id", "embedding"), "vec_id", "embedding", centers))
    streamOut.map(_._1) shouldBe Seq(100L, 101L, 102L) // every arrival routed
  }
}

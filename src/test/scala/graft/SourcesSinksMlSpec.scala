package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ml.MlPipeline
import graft.sinks.{ArchiveJob, InMemoryKvStore, KvSink}
import graft.sources.SchemaReader

class SchemaReaderSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("price", DoubleType),
    StructField("note", StringType)))

  test("coerce casts declared columns, nulls missing ones, drops junk") {
    val df = Seq(("1", "2.5", "x")).toDF("id", "price", "UNNAMED_FIELD")
    val got = SchemaReader.coerce(df, schema)
    got.schema.map(f => (f.name, f.dataType)) shouldBe
      Seq(("id", IntegerType), ("price", DoubleType), ("note", StringType))
    val row = got.collect().head
    row.getInt(0) shouldBe 1
    row.getDouble(1) shouldBe 2.5
    row.isNullAt(2) shouldBe true
  }

  /** (id, price, note) rows of `read` over `paths`, by id. */
  private def rows(paths: Seq[String]): Seq[(Int, Option[Double], Option[String])] =
    SchemaReader.read(spark, schema, paths).orderBy("id").collect().toSeq.map(r =>
      (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Double]), Option(r.getString(2))))

  test("read keeps a column only one fragment carries, in either path order") {
    val dir = tmpDir("frags")
    Seq((1, 10.0)).toDF("id", "price").write.parquet(s"$dir/part1.parquet")
    Seq((2, "hello")).toDF("id", "note").write.parquet(s"$dir/part2.parquet")
    Seq((3, 30.0, "there")).toDF("id", "price", "note").write.parquet(s"$dir/part3.parquet")

    val paths = SchemaReader.glob(spark, s"$dir/*.parquet").sorted
    paths should have length 3
    val expected = Seq((1, Some(10.0), None), (2, None, Some("hello")), (3, Some(30.0), Some("there")))
    rows(paths) shouldBe expected
    rows(paths.reverse) shouldBe expected
    rows(paths.take(2)) shouldBe expected.take(2)
    rows(paths.take(2).reverse) shouldBe expected.take(2)
  }

  test("read coerces an INT/DOUBLE type drift of price across fragments") {
    val dir = tmpDir("frags_types")
    Seq((1, 10)).toDF("id", "price").write.parquet(s"$dir/a.parquet")
    Seq((2, 2.5)).toDF("id", "price").write.parquet(s"$dir/b.parquet")
    val paths = Seq(s"$dir/a.parquet", s"$dir/b.parquet")
    val expected = Seq((1, Some(10.0), None), (2, Some(2.5), None))
    rows(paths) shouldBe expected
    rows(paths.reverse) shouldBe expected
  }

  test("read plans one scan when fragments agree up to column order and junk") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = tmpDir("frags_agree")
    Seq((1, 1.5, "a")).toDF("id", "price", "note").write.parquet(s"$dir/a.parquet")
    Seq((2.5, "b", 2, "junk")).toDF("price", "note", "id", "UNNAMED_FIELD")
      .write.parquet(s"$dir/b.parquet")
    val got = SchemaReader.read(spark, schema, Seq(s"$dir/a.parquet", s"$dir/b.parquet"))
    got.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r } should have length 1
    got.orderBy("id").collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))) shouldBe
      Array((1, 1.5, "a"), (2, 2.5, "b"))
  }

  test("footer schema equals Spark's inferred schema for every testdata table") {
    // a fixture of every column family the engine stores, plus whatever
    // generated testdata this checkout holds under target/testdata
    val fixture = tmpDir("footer_types")
    spark.range(3).selectExpr("id", "cast(id AS int) AS i", "cast(id AS short) AS s",
      "cast(id AS decimal(12, 2)) AS d", "cast(id AS float) AS f", "cast(id AS string) AS str",
      "cast(cast(id AS string) AS binary) AS bin", "date_add(date'2024-03-05', cast(id AS int)) AS dt",
      "timestamp_micros(id) AS ts", "cast(timestamp_micros(id) AS timestamp_ntz) AS ntz",
      "array(id, id) AS arr", "map('k', id) AS m", "named_struct('a', id, 'b', array('x')) AS st",
      "id % 2 = 0 AS flag")
      .repartition(2).write.parquet(s"$fixture/types.parquet")
    // TIMESTAMP(NANOS), which Spark cannot write and reads as long only
    // under nanosAsLong: written with parquet's own example writer
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.util.HadoopOutputFile
      val nanos = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required binary user (STRING); required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$fixture/nanos.parquet/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration)).withType(nanos).build()
      try w.write(new SimpleGroupFactory(nanos).newGroup()
        .append("user", "u1").append("ts", 1700000000000000123L))
      finally w.close()
    }
    val tables = Seq(s"$fixture/types.parquet", s"$fixture/nanos.parquet") ++
      SchemaReader.glob(spark, "target/testdata/*/*.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables.t reads
    for (t <- tables) withClue(s"$t: ") {
      val footers = SchemaReader.footers(spark, t)
      footers should not be empty
      spark.read.schema(SchemaReader.unionSchema(footers)).parquet(t).schema shouldBe
        spark.read.parquet(t).schema
    }
    SchemaReader.footers(spark, s"$fixture/nanos.parquet").head.schema("ts").dataType shouldBe
      LongType
  }

  test("Tables.t and read build their frames without a Spark job") {
    val dir = tmpDir("nojobs")
    Seq((1, 1.0, "a")).toDF("id", "price", "note").repartition(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((2, 2.0)).toDF("id", "price").write.parquet(s"$dir/more.parquet")
    val (t, tJobs) = jobsDuring(graft.queries.Tables.t(spark, dir, "orders"))
    tJobs shouldBe 0
    t.schema.fieldNames shouldBe Array("id", "price", "note")
    val (r, rJobs) = jobsDuring(
      SchemaReader.read(spark, schema, Seq(s"$dir/orders.parquet", s"$dir/more.parquet")))
    rJobs shouldBe 0
    r.count() shouldBe 2
  }

  test("readCsv parses leniently and coerces to the declared schema") {
    val dir = tmpDir("csvsrc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.csv"),
      "id,price,note,junk\n1,2.5,ok,zzz\noops,not_a_number,still here,zzz\n")
    val got = SchemaReader.readCsv(spark, schema, Seq(s"$dir/a.csv"))
      .orderBy(col("id").asc_nulls_last).collect()
    got(0).getInt(0) shouldBe 1
    got(0).getDouble(1) shouldBe 2.5
    got(0).getString(2) shouldBe "ok"
    got(1).isNullAt(0) shouldBe true // "oops" degrades to null, row survives
    got(1).isNullAt(1) shouldBe true
    got(1).getString(2) shouldBe "still here"
    got.head.schema.fieldNames.toSeq shouldBe Seq("id", "price", "note") // junk dropped
  }

  test("readJson coerces typed fields and degrades malformed values to null") {
    val dir = tmpDir("jsonsrc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/a.json"),
      """{"id":"1","price":"2.5","note":"ok"}
        |{"id":"2","price":"oops"}
        |""".stripMargin)
    val got = SchemaReader.readJson(spark, schema, Seq(s"$dir/a.json"))
      .orderBy("id").collect()
    got(0).getInt(0) shouldBe 1
    got(0).getDouble(1) shouldBe 2.5
    got(1).getInt(0) shouldBe 2
    got(1).isNullAt(1) shouldBe true // bad double → null
    got(1).isNullAt(2) shouldBe true // absent field → null
  }

  test("read (fast path) coerces a multi-path scan") {
    val dir = tmpDir("fast")
    Seq((1, 1.0, "a"), (2, 2.0, "b")).toDF("id", "price", "note")
      .write.parquet(s"$dir/d.parquet")
    val got = SchemaReader.read(spark, schema, Seq(s"$dir/d.parquet"))
    got.count() shouldBe 2
    got.schema.fieldNames shouldBe Array("id", "price", "note")
  }

  test("readOrc round-trips with declared-schema coercion") {
    val dir = tmpDir("orcsrc")
    Seq((1, 1.5, "a"), (2, 2.5, "b")).toDF("id", "price", "note")
      .write.orc(s"$dir/d.orc")
    val got = SchemaReader.readOrc(spark, schema, Seq(s"$dir/d.orc")).orderBy("id")
    got.schema.fieldNames shouldBe Array("id", "price", "note")
    got.collect().map(r => (r.getInt(0), r.getDouble(1))) shouldBe Array((1, 1.5), (2, 2.5))
  }
}

/** Drift guard for the driver-regenerated testdata: `events.ts` has
  * shipped as TIMESTAMP(NANOS) (read as long under the legacy conf),
  * then as TIMESTAMP_NTZ (the 2026-08-13 regen, which broke
  * `unix_micros` in q16/q17/q36), and could ship as a tz-adjusted
  * TIMESTAMP. `Tables.t` must normalize all three to identical
  * session-tz TIMESTAMP so every µs-level operator keeps working. */
class EventsTsEncodingDriftSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{RangeJoin, Sessionize}
  import graft.queries.Tables

  test("events.ts encoding drift: long-nanos, NTZ, and TIMESTAMP load identically") {
    val rows = Seq( // (user, id, epoch-micros) with a >30s session gap for u1
      ("u1", 1L, 1700000000000000L),
      ("u1", 2L, 1700000010000000L),
      ("u1", 3L, 1700000100000000L),
      ("u2", 4L, 1700000005000000L),
      ("u2", 5L, 1700000006000000L))

    val base = tmpDir("ts_drift")
    // Encoding 1: nanos-as-long (what the legacy conf hands Spark for TIMESTAMP(NANOS))
    val longDir = s"$base/long"
    rows.map { case (u, i, us) => (u, i, us * 1000L) }.toDF("user", "id", "ts")
      .write.parquet(s"$longDir/events.parquet")
    // Encoding 2: TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false)
    val ntzDir = s"$base/ntz"
    rows.toDF("user", "id", "us")
      .withColumn("ts", expr("cast(timestamp_micros(us) as timestamp_ntz)")).drop("us")
      .write.parquet(s"$ntzDir/events.parquet")
    // Encoding 3: session-tz TIMESTAMP (parquet timestamp[us], isAdjustedToUTC=true)
    val tzDir = s"$base/tz"
    rows.toDF("user", "id", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.parquet(s"$tzDir/events.parquet")

    val dirs = Seq(longDir, ntzDir, tzDir)
    val loaded = dirs.map(d => Tables.t(spark, d, "events"))
    // all three normalize to TIMESTAMP (never NTZ, never long)
    loaded.foreach(_.schema("ts").dataType shouldBe TimestampType)
    // the footer walk decides each encoding's schema as inference does
    for (p <- dirs.map(d => s"$d/events.parquet"))
      spark.read.schema(SchemaReader.unionSchema(SchemaReader.footers(spark, p)))
        .parquet(p).schema shouldBe spark.read.parquet(p).schema

    // unix_micros-based operators must run and agree across encodings
    val sessions = loaded.map(df =>
      Sessionize.assign(df, "user", "ts", "id", gapSeconds = 30L)
        .select("user", "id", "session_id").orderBy("id")
        .as[(String, Long, Long)].collect().toSeq)
    sessions(0) shouldBe sessions(1)
    sessions(0) shouldBe sessions(2)
    sessions(0).map(_._3) shouldBe Seq(0L, 0L, 1L, 0L, 0L) // gap splits u1

    val pairs = loaded.map(df =>
      RangeJoin.selfWithinTolerance(df, "user", "id", "ts", toleranceSec = 15L)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
        .as[(Long, Long)].collect().toSeq)
    pairs(0) shouldBe pairs(1)
    pairs(0) shouldBe pairs(2)
    pairs(0) shouldBe Seq((1L, 2L), (4L, 5L))
  }
}

class ArchiveJobSpec extends SparkSpec {
  import spark.implicits._

  test("run archives live to dated historical file and empties live") {
    val root = tmpDir("archive")
    val live = s"$root/live"
    val hist = s"$root/historical"
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").write.parquet(live)

    val date = java.time.LocalDate.of(2024, 3, 5)
    val (dest, n) = ArchiveJob.run(spark, live, hist, "stock", date)

    n shouldBe 3
    dest should endWith("stock-03-05-2024.parquet")
    spark.read.parquet(dest).count() shouldBe 3
    SchemaReader.glob(spark, s"$live/*") shouldBe empty
  }

  test("runPartitioned lays out hive date partitions that prune at scan time") {
    val root = tmpDir("archive_part")
    val live = s"$root/live"
    val hist = s"$root/historical"
    Seq(
      (1, "2024-03-05 10:00:00", "a"),
      (2, "2024-03-05 11:00:00", "b"),
      (3, "2024-03-06 09:00:00", "c"))
      .toDF("id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.parquet(live)

    ArchiveJob.runPartitioned(spark, live, hist, "ts", "id") shouldBe 3
    SchemaReader.glob(spark, s"$live/*") shouldBe empty
    SchemaReader.glob(spark, s"$hist/date_key=*").map(_.split('/').last).sorted shouldBe
      Seq("date_key=2024-03-05", "date_key=2024-03-06")

    // a day predicate must prune to PartitionFilters, not a data filter
    val day = spark.read.parquet(hist).filter(col("date_key") === "2024-03-05")
    day.count() shouldBe 2
    val scan = day.queryExecution.executedPlan.collectLeaves().head.toString
    scan should include ("PartitionFilters")
    scan.split("PartitionFilters").last should include ("date_key")

    // next rotation day appends its partition without clobbering history
    Seq((4, "2024-03-07 08:00:00", "d")).toDF("id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite").parquet(live) // rotation left an empty dir
    ArchiveJob.runPartitioned(spark, live, hist, "ts", "id") shouldBe 1
    spark.read.parquet(hist).count() shouldBe 4 // dynamic overwrite kept 03-05/03-06
  }

  test("rotation refuses nested/stray live layouts instead of deleting unarchived data") {
    // A hive-partitioned (or otherwise nested) live dir: the rotation reads
    // only top-level *.parquet, so the nested rows would be DELETED without
    // ever being archived. Both entry points must fail loudly and leave the
    // live dir untouched.
    val root = tmpDir("archive_guard")
    val live = s"$root/live"
    val hist = s"$root/historical"
    Seq((1, "2024-03-05 10:00:00", "a")).toDF("id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.partitionBy("v").parquet(live) // nested layout: live/v=a/...

    an[IllegalArgumentException] should be thrownBy
      ArchiveJob.run(spark, live, hist, "stock")
    an[IllegalArgumentException] should be thrownBy
      ArchiveJob.runPartitioned(spark, live, hist, "ts", "id")
    // nothing deleted, nothing archived
    spark.read.parquet(live).count() shouldBe 1
    SchemaReader.glob(spark, s"$hist/*") shouldBe empty

    // a stray non-parquet, non-marker file is also refused (it would be
    // deleted without being read)
    val live2 = s"$root/live2"
    Seq((1, "x")).toDF("id", "v").write.parquet(live2)
    val fs = new org.apache.hadoop.fs.Path(live2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(s"$live2/notes.txt")
    val out = fs.create(stray); out.writeBytes("keep me"); out.close()
    an[IllegalArgumentException] should be thrownBy
      ArchiveJob.run(spark, live2, hist, "stock")
    fs.exists(stray) shouldBe true
    spark.read.parquet(s"$live2/*.parquet").count() shouldBe 1

    // a writer's _temporary dir holds no committed data (Hadoop
    // commit-protocol contract) and must NOT permanently abort rotation
    // — but it may belong to an ACTIVE concurrent writer, so the
    // rotation must also leave it IN PLACE (deleting it would fail that
    // writer's task commits)
    val live3 = s"$root/live3"
    Seq((1, "x")).toDF("id", "v").write.parquet(live3)
    val tempDir = new org.apache.hadoop.fs.Path(s"$live3/_temporary/0")
    fs.mkdirs(tempDir)
    val (_, n3) = ArchiveJob.run(spark, live3, s"$root/hist3", "stock")
    n3 shouldBe 1
    fs.exists(tempDir) shouldBe true // concurrent writer's staging untouched
    SchemaReader.glob(spark, s"$live3/*.parquet") shouldBe empty // data rotated
  }

  test("runPartitioned verifies null-date rows (default partition) without throwing") {
    // to_date(null) rows land in __HIVE_DEFAULT_PARTITION__; the verify's
    // affected-partition filter must match them (isin(null) never does) or
    // the require throws AFTER a successful append and a re-run doubles rows.
    val root = tmpDir("archive_null")
    val live = s"$root/live"
    val hist = s"$root/historical"
    Seq(
      (1, Some("2024-03-05 10:00:00"), "a"),
      (2, None, "b"), // null ts -> null date_key
      (3, Some("2024-03-05 11:00:00"), "c"))
      .toDF("id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.parquet(live)

    ArchiveJob.runPartitioned(spark, live, hist, "ts", "id") shouldBe 3
    SchemaReader.glob(spark, s"$live/*") shouldBe empty
    val read = spark.read.parquet(hist)
    read.count() shouldBe 3
    read.filter(col("date_key").isNull).count() shouldBe 1

    // second rotation with another null-date row appends, never doubles
    Seq((4, None.asInstanceOf[Option[String]], "d")).toDF("id", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite").parquet(live)
    ArchiveJob.runPartitioned(spark, live, hist, "ts", "id") shouldBe 1
    spark.read.parquet(hist).count() shouldBe 4
    spark.read.parquet(hist).filter(col("date_key").isNull).count() shouldBe 2
  }

  test("run and runPartitioned archive a column only some live fragments carry") {
    val root = tmpDir("archive_union")
    // two appends into one flat live/ dir, the second with an extra column
    def land(live: String): Unit = {
      Seq((1, "2024-03-05 10:00:00")).toDF("id", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .coalesce(1).write.parquet(live)
      Seq(("x", "2024-03-05 11:00:00", 2)).toDF("note", "ts_s", "id")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .coalesce(1).write.mode("append").parquet(live)
    }
    def notes(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").select("note").collect().map(r => Option(r.getString(0))).toSeq

    land(s"$root/live")
    val (dest, n) = ArchiveJob.run(spark, s"$root/live", s"$root/hist", "stock")
    n shouldBe 2
    notes(spark.read.parquet(dest)) shouldBe Seq(None, Some("x"))
    SchemaReader.glob(spark, s"$root/live/*") shouldBe empty

    land(s"$root/live2")
    ArchiveJob.runPartitioned(spark, s"$root/live2", s"$root/hist2", "ts", "id") shouldBe 2
    notes(spark.read.parquet(s"$root/hist2")) shouldBe Seq(None, Some("x"))
    SchemaReader.glob(spark, s"$root/live2/*") shouldBe empty
  }

  test("run fails on a live type conflict before writing, live intact") {
    val root = tmpDir("archive_conflict")
    val live = s"$root/live"
    Seq((1, 10)).toDF("id", "price").coalesce(1).write.parquet(live)
    Seq((2, 2.5)).toDF("id", "price").coalesce(1).write.mode("append").parquet(live)
    val before = SchemaReader.glob(spark, s"$live/*.parquet")
    before should have length 2
    val e = the[IllegalArgumentException] thrownBy
      ArchiveJob.run(spark, live, s"$root/hist", "stock")
    e.getMessage should include ("'price'")
    before.foreach(f => e.getMessage should include (f))
    an[IllegalArgumentException] should be thrownBy
      ArchiveJob.runPartitioned(spark, live, s"$root/hist", "id", "id")
    SchemaReader.glob(spark, s"$live/*.parquet") shouldBe before
    SchemaReader.glob(spark, s"$root/hist") shouldBe empty
  }

  test("compact rewrites many small files into few, preserving rows") {
    val dir = s"${tmpDir("compact")}/data"
    // 10 single-row files (range partitioning on 10 distinct keys is 1:1)
    (1 to 10).toDF("id").repartitionByRange(10, col("id")).write.parquet(dir)
    val before = SchemaReader.glob(spark, s"$dir/*.parquet").length
    before shouldBe 10

    val (b, a, rows) = ArchiveJob.compact(spark, dir, targetRows = 5L)
    b shouldBe before
    a shouldBe 2 // ceil(10 / 5)
    rows shouldBe 10
    spark.read.parquet(dir).as[Int].collect().sorted shouldBe (1 to 10).toArray

    // hive-partitioned roots are refused — compacting them would fold
    // the partition column into the data files
    val part = s"${tmpDir("compact_part")}/data"
    (1 to 4).toDF("id").withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(part)
    an[IllegalArgumentException] should be thrownBy
      ArchiveJob.compact(spark, part, 5L)
  }

  test("compact and deleteWhere finish a swap that crashed between its renames") {
    val dir = s"${tmpDir("swap_crash")}/data"
    (1 to 6).toDF("id").repartition(3).write.parquet(dir)
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crash leaves the complete replacement under <dir>_tmp and no <dir>
    def crash(): Unit = fs.rename(new Path(dir), new Path(s"${dir}_tmp"))
    crash()
    ArchiveJob.compact(spark, dir, targetRows = 10L)._3 shouldBe 6
    crash()
    ArchiveJob.deleteWhere(spark, dir, col("id") > 4) shouldBe ((2L, 4L))
    spark.read.parquet(dir).as[Int].collect().sorted shouldBe (1 to 4).toArray
    fs.exists(new Path(s"${dir}_tmp")) shouldBe false
  }

  test("deleteWhere purges matching rows; null predicates keep the row") {
    val dir = s"${tmpDir("delete")}/data"
    Seq((1, Some("u1")), (2, Some("u2")), (3, None), (4, Some("u1")))
      .toDF("id", "user").write.parquet(dir)
    val (deleted, kept) = ArchiveJob.deleteWhere(spark, dir, col("user") === "u1")
    deleted shouldBe 2
    kept shouldBe 2 // u2 + the null-user row (predicate NULL -> keep)
    spark.read.parquet(dir).select("id").as[Int].collect().sorted shouldBe Array(2, 3)
  }
}

class KvSinkSpec extends SparkSpec {
  import spark.implicits._

  test("row key formats match the reference contracts") {
    val df = Seq(("2024-03-05", 7, "2024-03-05 14:31:22"))
      .toDF("date", "hour", "ts_s")
      .select(
        KvSink.dateHourKey(col("date"), col("hour")).as("k1"),
        KvSink.minuteKey(to_timestamp(col("ts_s"))).as("k2"))
    val (k1, k2) = df.as[(String, String)].collect().head
    k1 shouldBe "2024-03-05_7"
    k2 shouldBe "2024-03-05_14-31"
  }

  test("writeBatch delivers per-family string cells executor-side with batching") {
    InMemoryKvStore.clear()
    val df = (1 to 12).map(i => (s"k$i", i.toDouble, s"s$i"))
      .toDF("key", "m1", "m2")
    KvSink.writeBatch(df, "key",
      Map("fam_a" -> Seq("m1"), "fam_b" -> Seq("m2")), InMemoryKvStore, batchSize = 5)
    InMemoryKvStore.data should have size 12
    InMemoryKvStore.data("k3") shouldBe
      Map("fam_a" -> Map("m1" -> "3.0"), "fam_b" -> Map("m2" -> "s3"))
  }
}

class MlPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("M1–M4: train/eval/save/load/score round-trip on a learnable signal") {
    val rnd = new scala.util.Random(5)
    val data = (1 to 500).map { _ =>
      val x1 = rnd.nextDouble() * 10
      val x2 = rnd.nextDouble() * 5
      (x1, x2, 3.0 * x1 + 2.0 * x2 + rnd.nextGaussian() * 0.1)
    }.toDF("x1", "x2", "y")

    val res = MlPipeline.trainRegressor(data, Seq("x1", "x2"), "y", maxIter = 20)
    val labelSd = math.sqrt(data.select(var_samp(col("y"))).as[Double].head())
    res.maeTest should be < labelSd // must beat a constant predictor by far

    val dir = tmpDir("ml") + "/model"
    MlPipeline.save(res.model, dir)
    val scored = MlPipeline.score(MlPipeline.load(dir), data.limit(10), Seq("x1", "x2"))
    scored.columns should contain("prediction")
    scored.count() shouldBe 10
  }

  test("assemble packs features into a vector column") {
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    val v = MlPipeline.assemble(df, Seq("a", "b"))
    v.schema.fieldNames should contain("features")
    v.select("features").head().get(0).toString shouldBe "[1.0,2.0]"
  }
}

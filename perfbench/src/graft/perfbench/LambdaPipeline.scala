package graft.perfbench

import java.time.{Instant, LocalDate}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.jobs.{BatchAggJob, StreamCombinedJob}
import graft.sinks.{ArchiveJob, KvRow, KvStore}
import graft.sources.SchemaReader

/** The benchmark's own KV store: keeps every row (invariant checks) and
  * counts mutate calls and the time spent inside them. Used through
  * objects, so tasks in the local JVM write to the driver's instance. */
abstract class CountingKvStore extends KvStore {
  val rows = new ConcurrentLinkedQueue[KvRow]()
  val mutates = new AtomicLong
  val mutateNs = new AtomicLong
  override def mutate(batch: Seq[KvRow]): Unit = {
    val t0 = System.nanoTime()
    batch.foreach(rows.add)
    mutates.incrementAndGet()
    mutateNs.addAndGet(System.nanoTime() - t0)
  }
  def clear(): Unit = { rows.clear(); mutates.set(0); mutateNs.set(0) }
  def all: Seq[KvRow] = rows.asScala.toSeq
}

object BatchKvStore extends CountingKvStore
object StreamKvStore extends CountingKvStore

/** Batch layer and speed layer of the lambda architecture in one round.
  *
  * Batch layer: seeded live fragments with drifting schemas →
  * `BatchAggJob.run` into [[BatchKvStore]] → `ArchiveJob.run` rotation →
  * stored-artifact query q84 (an IVF vector index), once with full
  * semantics (index build + probe) and once probe-only.
  *
  * Speed layer: `StreamCombinedJob` over two seeded `MemoryStream`
  * payload feeds, full-outer ±30 s interval join, minute-keyed KV writes
  * into [[StreamKvStore]]: a closed-loop phase (a fixed batch of events,
  * pushed through as fast as the pipeline goes) followed by an open-loop
  * phase at a fixed rate whose micro-batch latencies are measured. */
final class LambdaPipeline extends Workload {
  import LambdaPipeline._

  val roundSeconds = 14.0

  private def live(c: Ctx) = s"${c.work}/live"
  private def hist(c: Ctx) = s"${c.work}/historical"
  private lazy val stored = QueryOp.resolve("q84")
  private var generated = 0L

  private var weather: MemoryStream[String] = _
  private var stock: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var rnd: Random = _
  private var clock = 0L // simulated event time, seconds since Start
  // due time (ns) of each addData call; a MemoryStream offset counts calls
  private val due = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0
  private var lastBatch = -1L
  private var genLateNs = 0L

  /** Writes this round's fragments; returns the rows generated. Half the
    * fragments carry an undeclared junk column and a different column
    * order, which `SchemaReader` must coerce away. */
  def writeFragments(c: Ctx, r: Int): Long = {
    val rnd = new Random(c.seed * 7919 + r)
    val base = 1709280000L + r * 86400L // 2024-03-01, one day per round
    def rows(n: Int) = (0 until n).map { _ =>
      Row(new java.sql.Timestamp((base + rnd.nextInt(86400)) * 1000L),
        math.round(rnd.nextDouble() * 10000) / 100.0, math.round(rnd.nextGaussian() * 500) / 100.0,
        rnd.nextInt(1000).toDouble)
    }
    val tmp = s"${c.work}/gen"
    var total = 0L
    for ((drift, i) <- Seq(false, true).zipWithIndex) {
      val data = rows(FragmentRows * Fragments / 2)
      total += data.size
      val df = c.spark.createDataFrame(c.spark.sparkContext.parallelize(data, Fragments / 2), Schema.add("wind_deg", DoubleType))
      val shaped = if (drift) df.select("w", "ts", "v", "wind_deg") else df.select("ts", "v", "w")
      shaped.write.mode("overwrite").parquet(s"$tmp/$i")
      val fs = new Path(tmp).getFileSystem(c.spark.sparkContext.hadoopConfiguration)
      fs.globStatus(new Path(s"$tmp/$i/part-*.parquet")).zipWithIndex.foreach { case (st, k) =>
        fs.rename(st.getPath, new Path(s"${live(c)}/frag-$r-$i-$k.parquet"))
      }
    }
    total
  }

  private def pair(): (String, String) = {
    val i = nextId
    nextId += 1
    clock += 1
    val w = Instant.ofEpochSecond(Start + clock)
    val s = Instant.ofEpochSecond(Start + clock + rnd.nextInt(41) - 20)
    (f"""{"wts":"$w","wid":"w$i","temp":"${rnd.nextGaussian() * 8 + 12}%.2f"}""",
      f"""{"sts":"$s","sid":"s$i","close":"${100 + rnd.nextGaussian() * 5}%.2f"}""")
  }

  override def prepare(c: Ctx): Unit = {
    val fs = new Path(c.work).getFileSystem(c.spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(live(c)))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[String] = org.apache.spark.sql.Encoders.STRING
    rnd = new Random(c.seed)
    StreamKvStore.clear()
    weather = MemoryStream[String]
    stock = MemoryStream[String]
    val joined = StreamCombinedJob.joined(
      StreamCombinedJob.Side(weather.toDF().withColumnRenamed("value", "payload"),
        WeatherSchema, "wts", "weather"),
      StreamCombinedJob.Side(stock.toDF().withColumnRenamed("value", "payload"),
        StockSchema, "sts", "stock"))
    query = StreamCombinedJob.writer(
      joined.select("timestamp_weather", "timestamp_stock", "wid", "temp", "sid", "close"),
      Seq("timestamp_weather", "timestamp_stock"),
      Map("weather" -> Seq("wid", "temp"), "stock" -> Seq("sid", "close")),
      StreamKvStore, s"${c.work}/checkpoint").start()
  }

  override def inputs(c: Ctx, r: Int): Unit = generated = writeFragments(c, r)

  override def round(c: Ctx, r: Int, rec: Rec): Unit = {
    batchLayer(c, rec)
    speedLayer(rec)
  }

  private def batchLayer(c: Ctx, rec: Rec): Unit = {
    val t = c.trace
    val fs = new Path(c.work).getFileSystem(c.spark.sparkContext.hadoopConfiguration)
    if (t.enabled) {
      val (n, s) = t.span("sources", "read")(
        SchemaReader.read(c.spark, Schema, SchemaReader.glob(c.spark, s"${live(c)}/*.parquet")).count())
      rec.add("sources.read_s", s.seconds)
      rec.attempted += 1
      if (n != generated) {
        rec.failed += 1
        rec.errors += s"sources.read: $n rows, generated $generated"
      }
    }

    BatchKvStore.clear()
    rec.op("kv_job") {
      val (_, s) = t.span("sinks", "kv_job")(BatchAggJob.run(c.spark,
        SchemaReader.glob(c.spark, s"${live(c)}/*.parquet"), JobConfig, BatchKvStore))
      rec.add("sinks.kv_write_s", s.seconds)
      rec.add("sinks.kv_rows", BatchKvStore.rows.size.toDouble)
      rec.add("sinks.kv_mutates", BatchKvStore.mutates.get.toDouble)
      rec.add("sinks.kv_mutate_s", BatchKvStore.mutateNs.get / 1e9)
      // invariant: the hourly counts add up to the rows generated
      BatchKvStore.all.map(_.families("stats")("n").toLong).sum == generated
    }

    rec.op("archive") {
      val ((dest, n), s) = t.span("sinks", "archive")(
        ArchiveJob.run(c.spark, live(c), hist(c), "bench", LocalDate.of(2024, 3, 1)))
      if (t.enabled) {
        t.drain()
        rec.add("sinks.archive_s", s.seconds)
        rec.add("sinks.archive_jobs", s.counters.jobs.get.toDouble)
        rec.add("sinks.bytes_written_mb", s.counters.bytesWritten.get / 1048576.0)
        rec.add("sinks.files_written",
          fs.globStatus(new Path(s"$dest/part-*")).length.toDouble)
      }
      // invariant: every generated row archived, live/ left empty
      n == generated && fs.listStatus(new Path(live(c))).isEmpty
    }

    System.clearProperty("graft.bench.reuseArtifacts")
    rec.add("queries.artifact_build_s", QueryOp.run(c, rec, stored, s"$stored.full"))
    System.setProperty("graft.bench.reuseArtifacts", "true")
    try rec.add("queries.artifact_probe_s", QueryOp.run(c, rec, stored, s"$stored.probe"))
    finally System.clearProperty("graft.bench.reuseArtifacts")
  }

  private def add(n: Int, dueNs: Long): Unit = {
    val ps = (0 until n).map(_ => pair())
    due += dueNs
    weather.addData(ps.map(_._1))
    stock.addData(ps.map(_._2))
  }

  /** Progress of the batches completed since the last call. */
  private def newProgress(): Seq[StreamingQueryProgress] = {
    val ps = query.recentProgress.toSeq.filter(_.batchId > lastBatch)
    ps.lastOption.foreach(p => lastBatch = p.batchId)
    ps
  }

  private def speedLayer(rec: Rec): Unit = {
    // closed loop: a burst pushed through as fast as the pipeline goes
    rec.op("stream_burst") {
      val t0 = System.nanoTime()
      add(ClosedPairs, t0)
      query.processAllAvailable()
      rec.add("streaming.capacity_rows_per_s", 2 * ClosedPairs / ((System.nanoTime() - t0) / 1e9))
      true
    }
    account(rec, newProgress())

    // open loop: one pair every 1/Rate s; its operation latency is the
    // worst micro-batch latency of the phase
    val first = due.size
    val start = System.nanoTime()
    val step = (1e9 / Rate).toLong
    for (k <- 0 until OpenPairs) {
      val dueNs = start + k * step
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      genLateNs = math.max(genLateNs, System.nanoTime() - dueNs)
      add(1, dueNs)
    }
    query.processAllAvailable()
    val progress = newProgress()
    account(rec, progress)
    // a batch's latency: from the due time of its newest event to the
    // batch (and so its KV write) completing
    val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val lats = for (p <- progress; newest = p.sources.map(_.endOffset.toLong).max
         if p.numInputRows > 0 && newest >= first) yield {
      val doneNs = (Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue) * 1000000L + nanoOffset
      (doneNs - due(newest.toInt)) / 1e9
    }
    lats.foreach(l => rec.sample("streaming.latency_ms", l * 1e3))
    rec.attempted += 1
    if (lats.isEmpty) {
      rec.failed += 1
      rec.errors += "stream open loop: no micro-batch completed"
    } else rec.opLatency("stream_open", lats.max)
  }

  private def account(rec: Rec, ps: Seq[StreamingQueryProgress]): Unit = for (p <- ps) {
    def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    rec.sample("streaming.trigger_ms", d("triggerExecution"))
    rec.sample("streaming.add_batch_ms", d("addBatch"))
    rec.sample("streaming.planning_ms", d("queryPlanning"))
    rec.sample("streaming.wal_commit_ms", d("walCommit"))
    rec.add("streaming.batches", 1)
    rec.add("streaming.late_dropped", p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
    if (rec.warm) {
      rec.layer("streaming.state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
      rec.layer("streaming.state_mb") = p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0
    }
    val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
    if (dropped > 0) rec.errors += s"stream batch ${p.batchId}: $dropped rows dropped by watermark"
  }

  /** Push the watermark past every event so the full-outer join emits
    * its unmatched rows, then check that every generated event reached
    * the KV store and none was dropped late. */
  override def finish(c: Ctx, rec: Rec): Unit = {
    val generated = nextId
    for (_ <- 1 to 2) {
      clock += 3600
      add(1, System.nanoTime())
      query.processAllAvailable()
    }
    account(rec, newProgress())
    query.stop()
    val rows = StreamKvStore.all
    val wids = rows.flatMap(_.families.get("weather").flatMap(_.get("wid"))).filter(_ != null).toSet
    val sids = rows.flatMap(_.families.get("stock").flatMap(_.get("sid"))).filter(_ != null).toSet
    val missing = (0 until generated).count(i => !wids(s"w$i") || !sids(s"s$i"))
    rec.attempted += 1
    if (missing > 0 || rec.errors.exists(_.contains("dropped by watermark"))) {
      rec.failed += 1
      rec.errors += s"stream: $missing of $generated event pairs missing from the join output"
    }
  }

  override def layers(c: Ctx, rec: Rec, warmRounds: Seq[Double]): Unit = {
    QueryOp.normalise(c, rec, warmRounds)
    QueryOp.resolveTables(c, rec, Seq("embeddings")) // the table q84 reads
    val n = warmRounds.size.toDouble
    Seq("streaming.capacity_rows_per_s", "streaming.batches", "streaming.late_dropped")
      .foreach(k => rec.layer(k) = rec.layer.getOrElse(k, 0.0) / n)
    rec.samples.foreach { case (k, xs) =>
      if (k == "streaming.latency_ms") {
        rec.layer("streaming.latency_p50_ms") = Main.quantile(xs.toSeq, 0.5)
        rec.layer("streaming.latency_p90_ms") = Main.quantile(xs.toSeq, 0.9)
      } else rec.layer(k) = Main.median(xs.toSeq)
    }
    rec.layer("streaming.gen_late_ms") = genLateNs / 1e6
  }
}

object LambdaPipeline {
  // batch layer
  val Fragments = 8
  val FragmentRows = 2500
  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("v", DoubleType), StructField("w", DoubleType)))
  val JobConfig: BatchAggJob.Config = BatchAggJob.Config(Schema, "ts", Seq("v", "w"),
    tz = Some("America/New_York"), skew = Some("INTERVAL 20 minutes"))

  // speed layer
  val Start = 1709625600L // 2024-03-05 08:00:00 UTC
  // Every event of one micro-batch sits in the join state under the same
  // date key, so closed-loop cost grows with the square of its size.
  val ClosedPairs = 200
  val OpenPairs = 60
  val Rate = 40.0 // event pairs per second in the open-loop phase
  val WeatherSchema: StructType = StructType(Seq(StructField("wts", TimestampType),
    StructField("wid", StringType), StructField("temp", DoubleType)))
  val StockSchema: StructType = StructType(Seq(StructField("sts", TimestampType),
    StructField("sid", StringType), StructField("close", DoubleType)))
}

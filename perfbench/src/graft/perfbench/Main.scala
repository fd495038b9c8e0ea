package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload may touch: the session, the tracer, its seed
  * and the directories it reads (`data`) and writes (`work`). */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, cores: Int,
    data: String, work: String, expected: Map[String, String])

/** What a run records. Operation latencies and layer sums count the
  * measured (warm) rounds only; the first round of a fresh JVM is
  * reported on its own. */
final class Rec {
  var warm = false
  var attempted = 0L
  var failed = 0L
  /** Warm latencies per operation name. */
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var liveHeapPeak = 0.0

  def add(k: String, v: Double): Unit = if (warm) layer(k) = layer.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = if (warm) layer(k) = math.max(layer.getOrElse(k, 0.0), v)
  def sample(k: String, v: Double): Unit =
    if (warm) samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def opLatency(name: String, seconds: Double): Unit =
    if (warm) ops.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  /** One checked operation: its latency counts (warm rounds), and a
    * false result or an exception counts it as failed. */
  def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try body
      catch { case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        false
      }
    opLatency(name, (System.nanoTime() - t0) / 1e9)
    if (!ok) {
      failed += 1
      if (!errors.lastOption.exists(_.startsWith(s"$name:"))) errors += s"$name: wrong output"
    }
  }
}

trait Workload {
  /** Nominal length of one warm round: a run makes
    * max(1, floor(seconds / roundSeconds)) warm rounds, a number that
    * depends on the window only, never on how fast the rounds go. */
  def roundSeconds: Double
  /** Untimed rounds before the measured ones, the first of them in a
    * fresh JVM: enough that the JIT has settled when measuring starts. */
  def warmupRounds: Int = 1
  /** Untimed preparation before the first round. */
  def prepare(c: Ctx): Unit = ()
  /** Untimed input generation for round `r`. */
  def inputs(c: Ctx, r: Int): Unit = ()
  /** One round of the workload's operations. */
  def round(c: Ctx, r: Int, rec: Rec): Unit
  /** Traced runs: layer measurements made outside the rounds, and
    * per-round normalisation of the layer sums. */
  def layers(c: Ctx, rec: Rec, warmRounds: Seq[Double]): Unit = ()
  /** Untimed teardown (streams stopped, invariants checked). */
  def finish(c: Ctx, rec: Rec): Unit = ()
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --expected FILE --fingerprints FILE [--spans FILE]`: runs
  * one workload, writes the query fingerprints it saw to `--fingerprints`
  * and prints one JSON line of raw results (run.py turns it into the
  * benchmark's result line). */
object Main {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JIT/codegen warmup that ends set-up. */
  def warmup(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)", "max(id % 7)").collect()

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Heap still in use after a full collection: the live set the run
    * holds, free of the garbage that fills eden between collections. */
  def liveHeapMb: Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload") match {
      case "query_mix" => QueryMix
      case "lambda_pipeline" => new LambdaPipeline
      case w => sys.error(s"unknown workload $w")
    }
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val expected = Json.readStringMap(opt("expected"))

    // Set-up: JVM start until the SparkSession's warmup finishes, so it
    // carries class loading, session creation and the first JIT.
    val spark = session()
    warmup(spark)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val trace = new Trace(spark, traced)
    val c = Ctx(spark, trace, opt("seed").toLong, cores, opt("data"), opt("work"), expected)
    val rec = new Rec
    workload.prepare(c)
    val rounds = mutable.ArrayBuffer.empty[Double]
    // warm-up rounds, then a fixed number of measured rounds that fill
    // the window of `seconds`
    val measured = math.max(1, math.floor(seconds / workload.roundSeconds).toInt)
    for (i <- 0 until workload.warmupRounds + measured) {
      rec.warm = i >= workload.warmupRounds
      workload.inputs(c, rounds.size)
      val t0 = System.nanoTime()
      workload.round(c, rounds.size, rec)
      rounds += (System.nanoTime() - t0) / 1e9
      if (traced) rec.liveHeapPeak = math.max(rec.liveHeapPeak, liveHeapMb) // after the timing
    }
    val warmRounds = rounds.drop(workload.warmupRounds).toSeq
    workload.finish(c, rec)
    if (traced) workload.layers(c, rec, warmRounds)
    trace.close(opt.get("spans"))
    spark.stop()

    Json.writeStringMap(opt("fingerprints"), rec.fingerprints.toMap)
    // Warm figures take each operation at its fastest latency over the
    // warm rounds, and round_s is their sum, as graft.Bench totals a warm
    // sweep: a co-tenant burst on a shared box only ever adds time, and a
    // burst in one round then costs only the operations it hit there.
    val perOp = rec.ops.values.map(_.min).toSeq
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "round_s" -> perOp.sum)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "rounds" -> rounds.map(r => math.round(r * 1000) / 1000.0),
      "op_min_s" -> rec.ops.map { case (k, v) => k -> math.round(v.min * 1000) / 1000.0 },
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> (rec.layer ++ Seq(
        "jvm.first_round_s" -> rounds.head,
        "jvm.heap_peak_mb" -> rec.liveHeapPeak,
        "ops.p50_s" -> quantile(perOp, 0.5), "ops.p90_s" -> quantile(perOp, 0.9))).toMap,
      "errors" -> rec.errors.toSeq)
    println(Json.write(out))
  }
}

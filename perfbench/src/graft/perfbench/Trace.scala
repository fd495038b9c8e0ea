package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters attributed to one span: every job launched while the
  * span's id was the thread's `perfbench.span` local property. */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runNs = new AtomicLong // executorRunTime, ms → ns
  val cpuNs = new AtomicLong
  val gcNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val bytesWritten = new AtomicLong
  /** Per stage: run time of each finished task, for the skew ratio. */
  val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  /** Worst stage's max / median task run time (1.0 = no skew). */
  def skew: Double = stageTaskMs.values.asScala.map { q =>
    val xs = q.asScala.toArray.sorted
    if (xs.length < 2) 1.0 else xs.last.toDouble / math.max(1L, xs(xs.length / 2))
  }.foldLeft(1.0)(math.max)
}

/** One timed call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. With tracing off every call is a plain timed call:
  * no local property, no listener, nothing recorded. With tracing on,
  * each span sets the `perfbench.span` SparkContext local property so
  * the listener can attribute jobs, tasks and shuffle bytes to it.
  * Spans stay in memory until the run ends. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack[Long](0L)
  private val open = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()
  val spans = mutable.ArrayBuffer.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
        .flatMap(id => Option(open.get(id.toLong))).foreach { c =>
          c.jobs.incrementAndGet()
          e.stageIds.foreach(s => stageSpan.put(s, c))
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { c =>
        c.tasks.incrementAndGet()
        if (!e.taskInfo.successful) c.failedTasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.runNs.addAndGet(m.executorRunTime * 1000000L)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcNs.addAndGet(m.jvmGCTime * 1000000L)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.spill.addAndGet(m.diskBytesSpilled)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          c.stageTaskMs.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]()).add(m.executorRunTime)
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span of `layer`; returns its value and the span. */
  def span[T](layer: String, name: String)(body: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val parent = stack.top
    val counters = new Counters
    val prev = sc.getLocalProperty(Trace.Prop)
    if (enabled) {
      open.put(id, counters)
      sc.setLocalProperty(Trace.Prop, id.toString)
    }
    stack.push(id)
    val t0 = System.nanoTime()
    try {
      val v = body
      val s = Span(id, parent, layer, name, t0, System.nanoTime(), counters)
      if (enabled) spans += s
      (v, s)
    } finally {
      stack.pop()
      if (enabled) sc.setLocalProperty(Trace.Prop, prev)
    }
  }

  /** Let the listener bus deliver every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Self time of `s`: its duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Stop listening; write every span, one JSON object per line. */
  def close(path: Option[String]): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    path.foreach { p =>
      val lines = spans.map { s =>
        val c = s.counters
        Json.write(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
          "jobs" -> c.jobs.get, "tasks" -> c.tasks.get, "task_run_s" -> c.runNs.get / 1e9,
          "shuffle_write_b" -> c.shuffleWrite.get, "shuffle_read_b" -> c.shuffleRead.get))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}

object Trace {
  val Prop = "perfbench.span"
}

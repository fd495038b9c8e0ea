package graft.perfbench

import scala.util.Random

import graft.SparkEntry
import graft.queries.Tables

/** Runs one `SparkEntry.queries` entry as a checked operation, split
  * into the `queries` (build), `plans` (executedPlan of the fingerprint
  * frame) and `operators` (the fingerprint action) layers. */
object QueryOp {

  private lazy val all = SparkEntry.queries

  /** Full query name for a `qNN` prefix. */
  def resolve(prefix: String): String =
    all.keys.find(_.startsWith(prefix + "_")).getOrElse(sys.error(s"no query $prefix"))

  /** Returns the wall seconds of the operation (0 when it failed). */
  def run(c: Ctx, rec: Rec, name: String, opName: String = ""): Double = {
    val t = c.trace
    var wall = 0.0
    rec.op(if (opName.isEmpty) name else opName) {
      val t0 = System.nanoTime()
      val (df, build) = t.span("queries", name)(all(name)(c.spark, c.data))
      val fp = Fingerprint.frame(df)
      val (_, plan) = t.span("plans", name)(fp.queryExecution.executedPlan)
      val ((rows, got), exec) = t.span("operators", name)(Fingerprint.read(fp))
      wall = (System.nanoTime() - t0) / 1e9
      rec.fingerprints(name) = got
      if (t.enabled) {
        t.drain()
        rec.add("queries.build_s", build.seconds)
        rec.add("queries.build_jobs", build.counters.jobs.get.toDouble)
        rec.add("queries.build_tasks", build.counters.tasks.get.toDouble)
        rec.add("plans.plan_s", plan.seconds)
        val phases = fp.queryExecution.tracker.phases
        Seq("analysis" -> "plans.analysis_ms", "optimization" -> "plans.optimization_ms",
          "planning" -> "plans.physical_ms").foreach { case (p, k) =>
          rec.add(k, phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
        }
        val e = exec.counters
        rec.add("operators.exec_s", exec.seconds)
        rec.add("operators.jobs", e.jobs.get.toDouble)
        rec.add("operators.tasks", e.tasks.get.toDouble)
        rec.add("operators.stages", e.stages.get.toDouble)
        rec.add("operators.task_run_s", e.runNs.get / 1e9)
        rec.add("operators.task_cpu_s", e.cpuNs.get / 1e9)
        rec.add("operators.gc_s", e.gcNs.get / 1e9)
        rec.add("operators.shuffle_write_mb", e.shuffleWrite.get / 1048576.0)
        rec.add("operators.shuffle_read_mb", e.shuffleRead.get / 1048576.0)
        rec.add("operators.spill_mb", e.spill.get / 1048576.0)
        rec.add("operators.failed_tasks", e.failedTasks.get.toDouble)
        rec.add("operators.rows_out", rows.toDouble)
        rec.max("operators.skew", e.skew)
      }
      c.expected.get(name).contains(got)
    }
    wall
  }

  /** Per-round averages of the layer sums, plus the derived ratios. */
  def normalise(c: Ctx, rec: Rec, warmRounds: Seq[Double]): Unit = {
    val n = warmRounds.size.toDouble
    rec.layer.keys.toSeq.filterNot(k => k == "operators.skew" || k.startsWith("streaming."))
      .foreach(k => rec.layer(k) /= n)
    val exec = rec.layer.getOrElse("operators.exec_s", 0.0)
    if (exec > 0) rec.layer("operators.core_busy") =
      rec.layer("operators.task_run_s") / (exec * c.cores)
    rec.layer("queries.build_share") =
      rec.layer.getOrElse("queries.build_s", 0.0) / Main.median(warmRounds)
  }

  /** `sources` layer: direct `Tables.t` calls on each table, three per
    * table; median wall per call and jobs per call. */
  def resolveTables(c: Ctx, rec: Rec, tables: Seq[String]): Unit = {
    val spans = for (_ <- 1 to 3; tb <- tables)
      yield c.trace.span("sources", tb)(Tables.t(c.spark, c.data, tb).schema)._2
    c.trace.drain()
    rec.layer("sources.resolve_ms") = Main.median(spans.map(_.seconds * 1e3))
    rec.layer("sources.resolve_jobs") = spans.map(_.counters.jobs.get).sum.toDouble / spans.size
  }
}

/** Relational queries, where per-query fixed cost dominates (table
  * resolution, planning, job scheduling: q01, q03, q04, q17, q34), and
  * curation queries, where operators and build-time driver jobs do
  * (execution-bound q24, q30; build-bound q104 with 9 build-time jobs),
  * in one sweep per round, in a seed- and round-dependent order (the
  * data set is fixed, so the seed varies only the order). */
object QueryMix extends Workload {
  private lazy val names =
    Seq("q01", "q03", "q04", "q17", "q34", "q24", "q30", "q104").map(QueryOp.resolve)
  private val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
    "region", "events", "documents", "embeddings")

  val roundSeconds = 6.0
  // the JIT keeps speeding a round up until about the fourth
  // (15 s, 7.8 s, 6.3 s, 5.4 s on a 4-core VM)
  override val warmupRounds = 3

  override def round(c: Ctx, r: Int, rec: Rec): Unit =
    new Random(c.seed * 1000 + r).shuffle(names).foreach(q => QueryOp.run(c, rec, q))

  override def layers(c: Ctx, rec: Rec, warmRounds: Seq[Double]): Unit = {
    QueryOp.normalise(c, rec, warmRounds)
    QueryOp.resolveTables(c, rec, tables)
  }
}

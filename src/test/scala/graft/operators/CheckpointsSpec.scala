package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reliable-vs-local checkpoint policy contract (round-9 verdict
  * item 6): `spark.graft.checkpointDir` flips the iterative operators
  * from executor-block local checkpoints to DFS-backed reliable ones;
  * results must be IDENTICAL in both modes — the conf changes failure
  * recovery, never values. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[A](body: => A): A = {
    val dir = tmpDir("graft_ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try body
    finally spark.conf.unset("spark.graft.checkpointDir")
  }

  // two chains + an isolated-in-pairs self-edge: exercises min-label
  // propagation over multiple rounds (driver solve forced OFF)
  private val pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 20L))
    .toDF("a", "b")

  test("connectedComponents identical under local and reliable checkpoints") {
    def run() = Clustering
      .connectedComponents(pairs, "a", "b", driverSolveMaxEdges = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = run()
    val reliable = withReliable(run())
    reliable shouldBe local
    local.toMap.apply(4L) shouldBe 1L
    local.toMap.apply(12L) shouldBe 10L
  }

  test("pageRank identical under local and reliable checkpoints") {
    // force the DISTRIBUTED loop — the adaptive driver solve touches
    // no checkpoints, so it would test nothing here
    def run() = Graph.pageRankUndirectedMicro(pairs, "a", "b", iterations = 3,
      driverSolveMaxEdges = 0L)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val local = run()
    val reliable = withReliable(run())
    reliable shouldBe local
  }

  private def rddCheckpointDirs(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("rdd-"))
    finally s.close()
  }

  test("reliable mode writes rdd checkpoint data to the configured dir") {
    val dir = tmpDir("graft_ckpt_probe")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val df = Checkpoints.stable(spark.range(100).toDF())
      df.count() shouldBe 100L
      // setCheckpointDir alone mkdirs a UUID subdir, so a bare
      // "directory non-empty" check would pass with no checkpoint at
      // all — assert actual rdd-* checkpoint data exists
      rddCheckpointDirs(dir) should not be empty
      Checkpoints.release(df)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable mode does not accumulate superseded rounds' files") {
    val dir = tmpDir("graft_ckpt_accum")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      // multi-round distributed CC: each round's stable() supersedes
      // the last, and the release discipline must delete the dead
      // rounds' FILES (reliable checkpoints hold no blocks, so the
      // block-release path alone would leak one generation per round)
      val out = Clustering
        .connectedComponents(pairs, "a", "b", driverSolveMaxEdges = 0)
      out.count() should be > 0L
      val survivors = rddCheckpointDirs(dir)
      // alive: the returned labels frame (1) — everything superseded
      // (p, edges, per-round states) must be gone
      survivors.length should be <= 2
      Checkpoints.release(out)
      rddCheckpointDirs(dir) shouldBe empty
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable fences land under the configured dir after a direct setCheckpointDir elsewhere") {
    val (x, y) = (tmpDir("graft_ckpt_conf"), tmpDir("graft_ckpt_other"))
    spark.conf.set("spark.graft.checkpointDir", x)
    try {
      Checkpoints.release(Checkpoints.stable(spark.range(10).toDF()))
      spark.sparkContext.setCheckpointDir(y)
      val df = Checkpoints.stable(spark.range(100).toDF())
      df.count() shouldBe 100L
      rddCheckpointDirs(x) should not be empty
      rddCheckpointDirs(y) shouldBe empty
      Checkpoints.release(df)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("the driver-solve gate counts edges during the pairs materialization, not in a job") {
    val ids = (1L to 20L).toDF("id")
    def clusters(p: org.apache.spark.sql.DataFrame) = jobsDuring(
      Clustering.assignClusters(ids, "id", p, "a", "b"))
    // one job materializes the pairs, one collects them for the solve
    val (out, jobs) = clusters(pairs)
    jobs shouldBe 2
    out.orderBy("id").as[(Long, Long)].collect().toMap shouldBe
      ((1L to 20L).map(i => i -> i).toMap ++ Map(2L -> 1L, 3L -> 1L, 4L -> 1L,
        11L -> 10L, 12L -> 10L))
    // an input Spark proves empty reports no metrics: zero edges, no clusters
    val (empty, _) = clusters(pairs.filter(lit(false)))
    empty.filter(col("id") =!= col("cluster_id")).count() shouldBe 0L
  }

  /** The physical plans of the SQL executions `body` starts: each
    * execution's initial plan and every adaptive re-plan. Listener
    * events arrive asynchronously but in order, so a marker job started
    * after `body` flushes every earlier one. */
  private def plansDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val key = "graft.spec.plansDuring"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == "end")) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(key, "end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
      (out, plans.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("the distributed components loop plans no broadcast when the session turns broadcasting off") {
    def run() = Clustering
      .connectedComponents(pairs, "a", "b", driverSolveMaxEdges = 0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (on, onPlans) = plansDuring(run())
    // the labels side is hinted while broadcasting is on ...
    onPlans.exists(_.contains("BroadcastExchange")) shouldBe true
    val (off, offPlans) = withBroadcastThreshold("-1")(plansDuring(run()))
    // ... and no round broadcasts once the session's threshold is -1
    offPlans.exists(_.contains("SortMergeJoin")) shouldBe true
    offPlans.filter(_.contains("BroadcastExchange")) shouldBe empty
    off shouldBe on
  }

  // Round-16 (r15 verdict item 7): the Dedup FENCES now route through
  // Checkpoints.stable too, so the one conf also buys the non-iterative
  // materialization fences fault tolerance on preemptible fleets.
  // Results must be identical in both modes, and reliable mode must
  // actually write rdd checkpoint data for the fenced frames.
  test("dedup fences identical under local and reliable checkpoints") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w q r"),
      (4L, "a b c d e f"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def cand() = Dedup.minhashCandidates(docs, "doc_id", "text")
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def spans() = Dedup.dupSpansRolling(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val (candLocal, spansLocal) = (cand(), spans())
    candLocal should not be empty
    spansLocal.exists(_._2 > 0) shouldBe true
    val dir = tmpDir("graft_ckpt_fence")
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      cand() shouldBe candLocal
      spans() shouldBe spansLocal
      rddCheckpointDirs(dir) should not be empty
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}

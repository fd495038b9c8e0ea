package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** The box-speed CONTROL family (docs/BENCH_NOTES.md, round-8
    * addendum 2): 32 pure relational/events queries containing ZERO
    * portable-hash work, whose subtotal moves with host speed only —
    * compare two bench artifacts through the ratio of their control
    * subtotals to separate box-day drift from real code change. Pinned
    * here (not derived) so the family cannot silently shift as the
    * query set grows. */
  val controlFamily: Set[String] = Set(
    "q33_pivot", "q34_rollup", "q35_semi_anti_join", "q36_lag_lead_rank",
    "q38_percentiles", "q47_stats_moments", "q49_cube", "q53_source_report",
    "q54_set_ops", "q55_distribution_windows", "q56_scalar_breadth",
    "q57_event_type_map", "q58_repetition_rules", "q59_value_windows",
    "q60_grouping_sets", "q61_subqueries", "q62_array_hof", "q63_set_ops_all",
    "q64_json_path", "q65_date_arithmetic", "q66_unpivot_outer",
    "q67_histogram", "q68_bit_aggs", "q69_gap_fill", "q70_regexp_strings",
    "q71_try_functions", "q72_variant", "q73_agg_breadth", "q74_array_ops",
    "q75_map_ops", "q76_lateral", "q82_null_ordering")

  /** Generated-code cache size of the bench session. Spark's default
    * (`spark.sql.codegen.cache.maxEntries` = 100) holds fewer classes
    * than one sweep of the query set compiles, so each warm sweep
    * recompiled what the cold sweep had already compiled
    * (docs/TUNING.md, "Generated-code cache"). */
  val CodegenCacheEntries: Int = 2000

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Same timezone Verify pins: Tables.t's TIMESTAMP_NTZ normalization
      // is an identity only under UTC, so an unpinned bench on a non-UTC
      // host would time different session/window groupings than the
      // correctness-verified semantics.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't absorb
    // session bootstrap (Janino, parquet footer caches, JIT).
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    catch { case _: Throwable => () }
    // Deterministic measurement: iterate in sorted-name order (a Map's
    // hash order shifts whenever the query set changes, silently moving
    // which query absorbs residual warmup), and report min-of-N SWEEPS
    // per query. Sweep-major, not pass-major (round-10 verdict item 1):
    // sweep 1 runs EVERY query's full declared semantics (stored-
    // artifact builds included), then sweep 2 re-times every query with
    // graft.bench.reuseArtifacts set (Artifacts.prepare/memo skip the
    // deterministic rebuilds — the warm number times the probe steady
    // state). With back-to-back per-query passes, one co-tenant load
    // burst double-hit a contiguous alphabetical block and poisoned the
    // whole artifact (BENCH_r10: 92 s driver vs 64 s judge, q112 8.98 s
    // vs a true 0.65); sweeps minutes apart mean a burst can contaminate
    // at most ONE sweep of any query, and the min rejects it. Semantics
    // untouched — measurement hygiene; Verify never sets the property.
    // Dev-only subset filter (comma-separated name prefixes), same as
    // Verify's; the driver never sets it, so its runs stay full-surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String): Boolean =
      only.forall(_.exists(p => name.startsWith(p)))
    case class R(name: String, warm: Double, cold: Double, err: Option[String])
    val named = SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).sortBy(_._1)
    // Each sweep runs the queries in a seed-shuffled order — a
    // DIFFERENT deterministic permutation per sweep (seed = sweep
    // index, BenchLine.sweepOrder) — so a co-tenant burst hits a
    // different query subset in every sweep and the min-of-N rejects
    // it. With sorted-name order every sweep, a burst in the ONLY warm
    // sweep (the default passes=2) pinned the contiguous alphabetical
    // block q159–q169 at cold values in the r13 driver artifact, and
    // the min had nothing to fall back on. Results are stored back in
    // name order, so downstream indexing is order-independent.
    def sweep(reuseArtifacts: Boolean, seed: Int): IndexedSeq[(Double, Option[String])] = {
      System.setProperty("graft.bench.reuseArtifacts", reuseArtifacts.toString)
      val out = new Array[(Double, Option[String])](named.size)
      try {
        BenchLine.sweepOrder(named.size, seed).foreach { i =>
          val fn = named(i)._2
          val t0 = System.nanoTime()
          val err =
            try { fn(spark, sfDir).count(); None }
            catch { case e: Throwable =>
              Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
            }
          out(i) = ((System.nanoTime() - t0) / 1e9, err)
        }
        out.toIndexedSeq
      } finally System.clearProperty("graft.bench.reuseArtifacts")
    }
    // SPARK_GRAFT_BENCH_PASSES (default 2, min 2): min-of-N sweeps.
    // Sweep 1 always runs the full declared semantics; sweeps 2..N
    // reuse sweep-1 artifacts. N=3 tightens the tail against bursty
    // co-tenant load at +50% wall cost — worth it when regenerating
    // the committed quiet-box artifact, not for dev loops.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).getOrElse(2).max(2)
    val controlIdx =
      named.indices.filter(i => controlFamily.contains(named(i)._1))
    // Per-sweep control subtotals exist to COMPARE sweeps, so every
    // subtotal must sum the SAME query set: a control query that
    // errored in ANY sweep is excluded from ALL of them. Excluding it
    // only from its own sweep would deflate that one subtotal and
    // either fire the adaptive warm-sweep trigger spuriously or mask
    // a genuinely loaded regime — with nothing on the line to show
    // the per-sweep sets differed (round-15 review finding).
    def ctlBySweep(
        sweeps: Seq[IndexedSeq[(Double, Option[String])]]): Seq[Double] = {
      val common = controlIdx.filter(i => sweeps.forall(_(i)._2.isEmpty))
      sweeps.map(sw => common.map(sw(_)._1).sum)
    }
    val coldSweep = sweep(reuseArtifacts = false, seed = 1)
    // Adaptive extra warm sweep (round-14 verdict item 1b): with the
    // default passes=2 there is exactly ONE warm sweep, and when a
    // sustained co-tenant regime covers it (r14 driver run: warm
    // control subtotal 65.80 vs cold 19.97 — 40 minutes of load, not a
    // burst the seed-shuffle can decorrelate), min-of-N degenerates to
    // the cold values and the headline silently reports loaded-cold
    // work as warm. If EVERY warm sweep's control subtotal exceeded
    // 1.5× the cold sweep's, run one more warm sweep — one recovery
    // attempt, bounded cost, and the per-sweep subtotals on the line
    // record whether it helped.
    val warmSweeps = {
      val planned = (2 to passes).map(p => sweep(reuseArtifacts = true, seed = p))
      val ctls = ctlBySweep(coldSweep +: planned)
      if (BenchLine.needExtraWarmSweep(ctls.head, ctls.tail)) {
        System.err.println(
          "BENCH: all warm sweeps regime-loaded vs cold control — running one adaptive extra warm sweep")
        planned :+ sweep(reuseArtifacts = true, seed = passes + 1)
      } else planned
    }
    val results = named.zipWithIndex.map { case ((name, _), i) =>
      val (cold, errCold) = coldSweep(i)
      val warms = warmSweeps.map(_(i))
      R(name, (cold +: warms.map(_._1)).min, cold,
        (errCold +: warms.map(_._2)).flatten.headOption)
    }
    def fmt(v: Double): String = BenchLine.fmt(v)
    def jstr(s: String): String = BenchLine.jstr(s)
    // A query that threw is NOT a timed success: it is excluded from
    // the total and both timing maps, reported under "errors", and
    // flips the process exit code — the driver's rc and the correctness
    // run then can't disagree silently about the query set.
    val (failed, ok) = results.partition(_.err.isDefined)
    def obj(key: String => String, f: R => Double): String =
      ok.map(r => "\"" + key(r.name) + "\":" + fmt(f(r))).mkString("{", ",", "}")
    def errObj(key: String => String): String =
      failed.map(r => "\"" + key(r.name) + "\":" + jstr(r.err.get))
        .mkString("{", ",", "}")
    val total = ok.map(_.warm).sum
    // Control subtotal on the stdout line (round-8 verdict): lets any
    // consumer normalize for box-day speed without digging the family
    // out of BENCH_NOTES — ratio of two runs' control_total ≈ host
    // speed ratio, since the family does no hash work and no builds.
    // control_n records how many family members the sum covers: a
    // transiently-failed control query would otherwise silently shrink
    // the denominator and masquerade as a box-speed change.
    val controlOk = ok.filter(r => controlFamily.contains(r.name))
    val controlTotal = controlOk.map(_.warm).sum
    val controlN = controlOk.size
    // Per-sweep control subtotals (round-13 verdict item 3): one
    // number per sweep, cold sweep first. A co-tenant-poisoned sweep
    // shows up as an outlier control subtotal, so a reader of the
    // committed artifact can SEE which sweep was regime-contaminated
    // and discard it, instead of inferring the burst from per-query
    // anomalies after the fact. Since round 15 these also ride the
    // stdout line (O(passes) numbers), so the COMMITTED BENCH_r{N}
    // artifact alone exonerates — or convicts — its own headline.
    val controlBySweep = ctlBySweep(coldSweep +: warmSweeps)
    // Cold total: every query's FULL declared semantics (stored-artifact
    // builds included) from pass 1. Emitted alongside the warm min-of-N
    // so the headline can't quietly improve by measuring less work — the
    // ~14 stored-index/model queries do real build work only here.
    val totalCold = ok.map(_.cold).sum
    // The stdout line (built by BenchLine at the end of the run) is
    // O(1) in query count — the per-query map on it is only the TOP-20
    // heaviest warm entries, and BenchLine.build enforces the ~1900-
    // char budget structurally. The full-fidelity report (all names,
    // warm min-of-N + cold first pass, error detail, per-sweep control
    // subtotals) goes to docs/BENCH_FULL.json for humans and the judge.
    val errPart =
      if (failed.isEmpty) "" else s""","errors":${errObj(identity)}"""
    // Trained-ANN recall TREND (round-8 verdict item 4): the ScalaTest
    // contract is a floor (recall@5 >= 0.70), which a 0.784 → 0.71
    // regression would pass silently — so every full bench run also
    // MEASURES recall of the q137-shaped trained artifact (IVF build on
    // the first 2/3, frozen-centroid append of the rest) at this SF and
    // records it in the artifact, making round-over-round drift a diff
    // of committed numbers instead of a spec re-run. Config mirrors
    // SimilaritySpec's honest point (nProbe=4 of 8, k=5).
    // Shared recall-point harness: both quality trackers are "build an
    // index, top-k it, compare to exact ground truth over the same
    // query set" — one measurement skeleton, two (builder, prober,
    // truth) triples, so a tweak to sampling / NaN guarding / set
    // comparison cannot silently diverge between them. k = 5 and the
    // vec_id % 10 query sample are shared deliberately: the two
    // numbers stay comparable run-over-run.
    val RecallK = 5
    def recallPoint(field: String, idxTag: String, extraJson: String)(
        run: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          String) => Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column)])
        : (Option[Double], String) =
      if (only.nonEmpty) (None, "") else try {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val emb = graft.queries.Tables.t(spark, sfDir, "embeddings")
        val idxDir = s"target/bench_${idxTag}_${Integer.toHexString(sfDir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(idxDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        val queries = emb.filter(col("vec_id") % 10 === 0)
        def topSet(res: org.apache.spark.sql.DataFrame,
            scoreAsc: org.apache.spark.sql.Column): Map[Long, Set[Long]] = res
          .withColumn("_r", row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(scoreAsc, col("vec_id").asc)))
          .filter(col("_r") <= RecallK)
          .select(col("query_id").cast("long"), col("vec_id").cast("long"))
          .collect().groupBy(_.getLong(0)) // bounded: n_queries × k rows
          .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
        val Seq((truthDf, truthOrd), (approxDf, approxOrd)) = run(emb, queries, idxDir)
        val truth = topSet(truthDf, truthOrd)
        val approx = topSet(approxDf, approxOrd)
        val recalls = truth.map { case (qid, ts) =>
          approx.getOrElse(qid, Set.empty).intersect(ts).size.toDouble / RecallK }
        // empty query set would make the mean NaN, and "%.3f".format(NaN)
        // emits bare NaN — INVALID JSON that poisons the whole artifact
        require(recalls.nonEmpty, s"no recall query vectors in $sfDir")
        val mean = recalls.sum / recalls.size
        (Some(mean),
          s""","$field":{"recall_at_k":${fmt(mean)},$extraJson,"n_queries":${recalls.size}}""")
      } catch { case e: Throwable =>
        (None, s""","$field":{"error":${jstr(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")}}""")
      }
    val (trainedRecall, recallPart) = {
      val (nC, nP) = (8, 4)
      recallPoint("trained_recall", "ivf_recall",
        s""""k":$RecallK,"n_probe":$nP,"n_centroids":$nC""") { (emb, queries, idxDir) =>
        import org.apache.spark.sql.functions._
        val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 2 / 3
        graft.operators.Similarity.writeIvfIndex(
          emb.filter(col("vec_id") <= cut), "vec_id", "embedding", idxDir, nC)
        graft.operators.Similarity.appendToIvfIndex(
          spark, idxDir, emb.filter(col("vec_id") > cut), "vec_id", "embedding")
        Seq(
          (graft.operators.Similarity.scoreAgainst(
            emb, "vec_id", "embedding", queries, "vec_id", "embedding"),
            col("cos_sim").desc),
          (graft.operators.Similarity.probeIvfIndex(
            spark, idxDir, "vec_id", "embedding", queries, "vec_id", "embedding",
            RecallK, nP),
            col("cos_sim").desc))
      }
    }
    // SECOND recall point class (round-9 verdict item 8): the trained
    // IVFADC face (q88's production twin). Quantization regressions —
    // a codebook bug, an ADC table drift — leave trained_recall (codes
    // are not involved there) untouched, so they need their own tracked
    // number. Ground truth is exact squared-L2 top-k (the metric ADC
    // approximates). Finer quantization than q88's oracle-portable
    // m=4/k=8 (chosen there for DuckDB mirrorability, not quality):
    // 8 subspaces × 16 codes gives the number enough headroom that a
    // codebook/ADC regression moves it visibly.
    val (ivfpqRecall, ivfpqPart) = {
      val (nC, nP, m, kc) = (8, 4, 8, 16)
      recallPoint("ivfpq_recall", "ivfpq_recall",
        s""""k":$RecallK,"n_probe":$nP,"n_centroids":$nC,"m":$m,"k_codes":$kc""") {
        (emb, queries, idxDir) =>
        import org.apache.spark.sql.functions._
        graft.operators.Similarity.writeIvfPqIndex(
          emb, "vec_id", "embedding", idxDir, nC, m, kc)
        val qv = queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("_qv"))
        Seq(
          (emb.select(col("vec_id"), col("embedding").cast("array<double>").as("_v"))
            .crossJoin(broadcast(qv))
            .withColumn("_d2", aggregate(
              zip_with(col("_v"), col("_qv"), (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, d) => acc + d)),
            // nulls LAST: a NULL embedding gives a NULL _d2, and plain
            // .asc (nulls first) would fill every truth set with
            // unreachable null rows — the cosine truth is immune only
            // because .desc defaults to nulls last
            col("_d2").asc_nulls_last),
          (graft.operators.Similarity.probeIvfPqIndex(
            spark, idxDir, "vec_id", queries, "vec_id", "embedding", RecallK, nP),
            col("d2_approx").asc_nulls_last))
      }
    }
    // RECALL DRIFT BOUND (SURVEY §15.7 item 4, activated with round
    // 10's second point): compare against the committed quiet-box
    // baseline for the SAME sf. Recall here is deterministic given the
    // data (seeded k-means, deterministic sampling), so a drop is a
    // code change, not box noise. A drop > 0.05 is recorded in the
    // artifact AND printed to stderr; it does not fail the run (the
    // drop may be declared/intentional — the bound makes it impossible
    // to ship one silently).
    val driftPart: String = (for {
      cur <- trainedRecall
      txt <- scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("docs/BENCH_FULL.json")),
        java.nio.charset.StandardCharsets.UTF_8)).toOption
      if txt.contains(s""""sf":"$sfDir"""")
      prev <- """"trained_recall":\{"recall_at_k":([0-9.]+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    } yield {
      val alert = prev - cur > 0.05
      if (alert) System.err.println(
        f"RECALL DRIFT ALERT: trained recall@5 $cur%.3f vs committed $prev%.3f (drop > 0.05)")
      s""","recall_prev":${fmt(prev)},"recall_drift_alert":$alert"""
    }).getOrElse("")
    // cpus recorded for comparability: the CPU-heavy pair/ANN queries
    // scale near-linearly with threads, so a local[4] number is not
    // comparable to a local[32] one (the round-8 baseline confusion)
    val controlSweepPart =
      s""","control_by_sweep":${controlBySweep.map(fmt).mkString("[", ",", "]")}"""
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"total_cold":${fmt(totalCold)},"control_total":${fmt(controlTotal)},"control_n":$controlN$controlSweepPart$recallPart$ivfpqPart$driftPart,"unit":"sec","n_failed":${failed.size},"cpus":$cpus,"queries":${obj(identity, _.warm)},"queries_cold":${obj(identity, _.cold)}$errPart,"sf":"$sfDir"}"""
    // docs/BENCH_FULL.json is the committed quiet-box baseline the judge
    // reads against BENCH_r{N}.json. Driver/CI invocations run on a
    // co-tenant-noisy box and were clobbering it every round — so the
    // overwrite is opt-in: only a deliberate baseline-refresh run
    // (SPARK_GRAFT_COMMIT_BASELINE=1, quiet box, min-of-3) touches it.
    // Other runs write the same full-fidelity report to target/ instead.
    val fullPath =
      if (sys.env.get("SPARK_GRAFT_COMMIT_BASELINE").contains("1"))
        "docs/BENCH_FULL.json"
      else "target/BENCH_FULL.json"
    // a filtered dev run must not clobber the full-surface artifact
    if (only.isEmpty) {
      def writeReport(path: String): Unit =
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(path),
          fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      writeReport(fullPath)
      // Durable copy of the LAST full-surface run (round-14 verdict
      // item 6): the r14 perf verdict was decided by per-sweep
      // forensics living only in target/BENCH_FULL.json — one
      // `rm -rf target` from gone. Non-baseline runs (the driver's
      // per-round bench included) also land the identical report at a
      // committed docs/ path, so the full per-query map of any round's
      // driver run survives into the next round's history.
      if (fullPath != "docs/BENCH_FULL.json")
        writeReport("docs/BENCH_FULL_LAST_RUN.json")
    }
    // Compact recall SCALARS stay on the driver-visible line (round-9
    // item 5 gave it trained_recall; round-10 item 5 added
    // ivfpq_recall so quantization drift is driver-visible too) — they
    // are O(1) and always fit. Everything else the line carries is
    // O(1) by construction (BenchLine.build: scalar headlines + top-20
    // heaviest queries + first-5 errors, with the budget ENFORCED by
    // dropping entries) — the hand-tuned character budget failed twice
    // (rounds 6 and 13, both parsed:null driver artifacts) and is
    // retired.
    val recallShort =
      trainedRecall.map(v => s""","trained_recall":${fmt(v)}""").getOrElse("") +
      ivfpqRecall.map(v => s""","ivfpq_recall":${fmt(v)}""").getOrElse("")
    println(BenchLine.build(
      total, totalCold, controlTotal, recallShort, failed.size, cpus,
      ok.map(r => r.name -> r.warm), failed.map(r => r.name -> r.err.get),
      sfDir, controlBySweep))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

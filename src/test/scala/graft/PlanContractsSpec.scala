package graft

import org.apache.spark.sql.functions._

import graft.queries.Tables.t

/** Physical-plan contracts over the driver testdata: the properties
  * that make plans survive a 100×+ scale-up — filters reaching the
  * parquet scan, scans reading only referenced columns, dims
  * broadcast, aggregates map-side combined. docs/PLANS.md shows these
  * per query; this spec pins the load-bearing ones as assertions. */
class PlanContractsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def scanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")

  test("filters reach the parquet scan as PushedFilters") {
    val df = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "O" && col("o_custkey") > 100)
      .select(col("o_orderkey"))
    val scan = scanString(df)
    scan should include("PushedFilters")
    // (the node's toString truncates long filter lists — match prefixes)
    scan should include("EqualTo(o_orderstatus,O)")
    scan should include("GreaterThan(o_custkey")
  }

  test("scans read only the referenced columns (column pruning)") {
    val df = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    val scan = scanString(df)
    scan should include("ReadSchema")
    val readSchema = scan.split("ReadSchema:").last
    readSchema should include("l_returnflag")
    readSchema should include("l_quantity")
    readSchema should not include "l_extendedprice"
    readSchema should not include "l_partkey"
  }

  test("small dimension joins plan as broadcast hash joins") {
    val joined = t(spark, dir, "customer")
      .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
    val plan = joined.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("groupBy aggregates combine map-side before the shuffle") {
    val agg = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    plan should include("partial_count")
    plan should include("HashAggregate")
  }

  test("winnowing fingerprints are a map-only projection — zero exchanges") {
    val df = graft.operators.Dedup.winnowFingerprints(
      t(spark, dir, "documents"), "doc_id", "text", 3, 4)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    // and the pair pipeline joins on the fingerprint key — never a
    // nested loop / cartesian over documents
    val pairs = graft.operators.Dedup.winnowedDupPairs(
      t(spark, dir, "documents"), "doc_id", "text", 3, 4, 20, 3)
    val pairPlan = pairs.queryExecution.executedPlan.toString
    pairPlan should not include "CartesianProduct"
    pairPlan should not include "BroadcastNestedLoopJoin"
  }

  test("the KMV sketch never sorts a group whole: one bounded set aggregate") {
    val df = graft.operators.Sketches.kmvDistinct(
      t(spark, dir, "documents"), "source", "text", 3, 128, salt = 32)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // round 16: the salted two-stage windowed top-k became ONE
    // partial-combined bounded set aggregate (KmvMinsAggregator) —
    // no global distinct exchange, no Window, no Sort of any group,
    // exactly one group-keyed Exchange for the sketch state
    plan should not include "CartesianProduct"
    plan should not include "Window"
    plan should not include "Sort"
    plan should include("ObjectHashAggregate")
    plan.split("Exchange \\(").length - 1 shouldBe 1
    // the retired windowed twin keeps the salted two-stage contract
    // (it is the parity reference SketchesSpec pins bit-equal)
    val twin = graft.operators.Sketches.kmvSketchWindowed(
      t(spark, dir, "documents"), "source", "text", 3, 128, salt = 32)
    val twinPlan = twin.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    twinPlan should include("pmod")
    twinPlan.split("WindowGroupLimit").length should be >= 3
  }

  test("bucketed embedding near-dup pairs never plan a nested loop over the corpus") {
    // q83's contract: candidates come from an equi-join on the sign
    // bucket (hash join), so pair enumeration is bucket-local — the
    // all-pairs BroadcastNestedLoopJoin shape is confined to the
    // verifier-only q29.
    def pairs() = graft.operators.Similarity.bucketedNearDupPairs(
      t(spark, dir, "embeddings"), "vec_id", "embedding", 0.4, nBits = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = {
      import spark.implicits._
      df.as[(Long, Long, Double)].collect().sorted.toSeq
    }
    val on = pairs()
    val plan = on.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    // broadcasting off: the hint drops and the bucket join shuffles —
    // still a hash/sort-merge equi-join, never a nested loop; same rows
    withBroadcastThreshold("-1") {
      val off = pairs()
      rows(off) shouldBe rows(on)
      val offPlan = off.queryExecution.executedPlan.toString
      offPlan should not include "BroadcastHashJoin"
      offPlan should not include "BroadcastNestedLoopJoin"
      offPlan should include regex "(ShuffledHashJoin|SortMergeJoin)"
    }
  }

  test("semantic decontamination screen hash-joins on the bucket, benchmark broadcast") {
    // q148's contract: same generator discipline as q83, cross-corpus —
    // the train side must stream through a bucket-key hash join against
    // the broadcast benchmark side, never a train×test nested loop.
    val emb = t(spark, dir, "embeddings")
    val flagged = graft.operators.Decontaminate.semanticScreen(
      emb.filter(col("vec_id") % 13 =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") % 13 === 0), "vec_id", "embedding",
      threshold = 0.3, nBits = 4)
    val plan = flagged.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("SRP shortlist-rerank: group-limited windows, keyed broadcast rerank joins") {
    // q154's contract: both ranking windows push their k-limit below
    // the sort (WindowGroupLimit — map partitions forward at most
    // |queries|*shortlist rows into the window shuffle), and the rerank
    // fetch is a broadcast equi-join back to the corpus — the only
    // unkeyed join in the plan is the deliberate broadcast of the
    // ingest-sized projected query table.
    val emb = t(spark, dir, "embeddings")
    val res = graft.operators.Embeddings.srpShortlistRerank(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      dims = 64, outDims = 16, shortlist = 32, k = 5)
    val plan = res.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // Count actual physical nodes, not explain-string substrings:
    // formatted explain prints each node at least twice (tree line +
    // "(n) WindowGroupLimit" detail block), so a substring threshold of
    // 2 occurrences would pass with only ONE of the two ranking windows
    // group-limited. And Spark inserts WindowGroupLimitExec in BOTH
    // Partial (below the window shuffle) and Final mode per pushed
    // window, so a raw node count of 2 could still be a single window.
    // Final-mode nodes are 1:1 with pushed windows — require one per
    // ranking window.
    // (Parsed from the formatted detail blocks, not collect()ed off
    // executedPlan: AQE's AdaptiveSparkPlanExec exposes no children
    // pre-execution, so a tree collect sees zero nodes.)
    val finalGroupLimits =
      """\(\d+\) WindowGroupLimit\n(?:[^\n]*\n){1,2}?Arguments:[^\n]*Final""".r
        .findAllIn(plan).size
    withClue(s"expected both ranking windows group-limited (Final mode) in:\n$plan\n") {
      finalGroupLimits should be >= 2
    }
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("persisted IVF index probe prunes to the probed cell= partitions") {
    // q84's contract: the stored-index probe must reach the data scan as
    // PARTITION pruning (directory-level skip), not a post-scan filter —
    // that's what makes a probe cost nProbe/nCentroids of the corpus in
    // I/O at 100 TB.
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_contract").toString
    val emb = t(spark, dir, "embeddings")
    graft.operators.Similarity.writeIvfIndexDeterministic(
      emb, "vec_id", "embedding", idx, nCentroids = 8)
    val probe = graft.operators.Similarity.probeIvfIndexDeterministic(
      spark, idx, "vec_id",
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", k = 5, nProbe = 2)
    val scan = scanString(probe)
    scan should include("PartitionFilters: [")
    // the data scan's partition filter carries the probed cell IN-list
    assert(scan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains(" IN ")),
      s"expected a cell IN (...) partition filter in:\n$scan")
  }

  test("the pair operators' explicit repartition survives into the physical plan") {
    // AQE would coalesce the byte-tiny CPU-heavy stage; explicit-N
    // round-robin repartition is exempt (SURVEY §8.1)
    val pairs = graft.operators.Dedup.jaccardPairs(
      t(spark, dir, "documents"), "doc_id", "text", "lang", 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    plan should include("RoundRobinPartitioning")
  }

  test("the PII scrub is a joinless narrow projection over a pruned scan") {
    // q85's contract: at 100 TB the scrub is map-only — regex work
    // rides the scan projection; only referenced columns are read.
    val rules = Seq(
      graft.operators.Redact.Rule("[0-9]{3,}", "[NUM]"),
      graft.operators.Redact.Rule("[0-9]+", "#"))
    val df = t(spark, dir, "events").select(
      col("event_id"),
      graft.operators.Redact.pseudonym(col("user_id"), "graft-pipeline-salt").as("pseudonym"),
      graft.operators.Redact.scrub(col("props"), rules).as("scrubbed"),
      graft.operators.Redact.hitCount(col("props"), rules).as("n_hits"))
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should not include "Exchange"
    val readSchema = scanString(df).split("ReadSchema:").last
    readSchema should include("props")
    readSchema should not include "event_type"
    readSchema should not include "value"
  }

  test("boilerplate stripping plans keyed joins only — no nested loop") {
    // q86's contract: gram candidates come from an equi-join on the
    // gram, positions from keyed distinct/anti-join — nothing quadratic.
    val df = graft.operators.TextAnalysis.stripBoilerplate(
      t(spark, dir, "documents"), "doc_id", "text", 3, 5)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("pagerank runs exactly ONE shuffle per superstep") {
    // q126's contract: the edge list is re-clustered on src once and
    // cached, deg inherits src-clustering, and each superstep's dst-sum
    // output re-enters the next join already keyed — so the only
    // per-iteration exchange is the unavoidable contribution re-key
    // from src to dst. k·|E| shuffle rows saved at 100 TB; a regression
    // here (e.g. losing the cache's partitioning) multiplies bench cost
    // by the iteration count.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    def shuffles(p: SparkPlan): Int = {
      val root = p match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      // collect does not descend into InMemoryRelation's cached plan,
      // so cached build-side exchanges (paid once) aren't counted
      root.collect { case e: ShuffleExchangeExec => e }.size
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("a", "b")
    val perIter = (1 to 2).map { k =>
      val (ranks, edges, deg) =
        graft.operators.Graph.pageRankFrame(pairs, "a", "b", k)
      edges.count(); deg.count() // materialize caches like a real run
      val n = shuffles(ranks.queryExecution.executedPlan)
      edges.unpersist(); deg.unpersist()
      n
    }
    perIter(0) shouldBe 1 // one superstep → one dst re-key
    perIter(1) - perIter(0) shouldBe 1 // each extra superstep adds one
  }

  test("hard-negative mining joins on the sign bucket — no nested loop") {
    // q130's contract: candidates come from an equi-join on the SimHash
    // sign bucket; the label/self inequalities ride as residual
    // conditions on the hash join, never as a BroadcastNestedLoopJoin
    // over anchors×corpus.
    val df = graft.operators.Similarity.hardNegatives(
      t(spark, dir, "embeddings"), "vec_id", "embedding", "label",
      col("vec_id") % 7 === 0, k = 3, nBits = 8)
    val plan = df.queryExecution.executedPlan.toString
    plan should include regex "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("stored-BM25 posting broadcast is size-gated: head tokens shuffle") {
    import spark.implicits._
    import graft.operators.Retrieval
    // every doc carries the head token "the"; "vector" is selective
    val corpus = (1L to 40L)
      .map(i => (i, "the doc" + i + (if (i % 7 == 0) " vector" else "")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25gate").toString
    Retrieval.writeRetrievalIndex(spark, corpus, "doc_id", "text", idx)
    // selective term, default threshold: posting side fits → broadcast
    Retrieval.bm25TopKStored(spark, idx, Seq("vector"), 10)
      .queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    // head-token-at-scale stand-in: shrink the session threshold below
    // Σdf("the")·64 B. The gate must drop the hint (no OOM-sized
    // broadcast) and Catalyst must plan a shuffle join instead.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "256")
    try {
      val probe = Retrieval.bm25TopKStored(spark, idx, Seq("the"), 50)
      val plan = probe.queryExecution.executedPlan.toString
      plan should not include "BroadcastHashJoin"
      plan should include regex "(ShuffledHashJoin|SortMergeJoin)"
      // and the fallback returns exactly the inline scores — the gate
      // changes the plan, never the rows
      val inline = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("the"), 50)
        .filter(col("score_micro") > 0L)
        .select(col("doc_id"), col("n_tokens"), col("score_micro"))
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      probe.select(col("id"), col("n_tokens"), col("score_micro"))
        .as[(Long, Long, Long)].collect().sortBy(_._1) shouldBe inline
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("media near-dup emits pairs at their first agreeing band — no pair-keyed distinct") {
    // q164/q166's contract: band rows carry the vector/hash, the L1
    // verify is computed inline on the band join, and multi-band
    // agreements are deduped by re-slicing earlier band keys — so the
    // whole pair path has NO aggregate at all (the pair-keyed
    // Exchange+HashAggregate of a distinct() is the stage that melts
    // first when dup clusters grow quadratically), no re-join against
    // a feature table, and nothing quadratic.
    for (q <- Seq("q164_media_near_dup", "q166_media_dup_stored")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      withClue(s"$q: ") {
        plan should not include "HashAggregate"
        plan should not include "ObjectHashAggregate"
        plan should not include "SortAggregate"
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
    // the media screen→cut face keeps exactly ONE aggregate: the
    // doc-keyed (never pair-keyed) best-match min-struct
    val cutPlan = SparkEntry.queries("q167_media_screen_cut")(spark, dir)
      .queryExecution.executedPlan.toString
    "HashAggregate".r.findAllIn(cutPlan).size should be <= 2 // partial+final
    cutPlan should not include "CartesianProduct"
    cutPlan should not include "BroadcastNestedLoopJoin"
  }

  test("media probe routing hash-joins the banded probe relation — never a probe cross") {
    // q168's contract: each arrival costs nBands hash lookups into the
    // probe batch's banded BROADCAST relation regardless of probe
    // count. The melted first cut exploded the probe batch per arrival
    // (an arrivals × probes cross inside a Generate) — this pin keeps
    // that shape out: the only Generate is the arrival's own nBands
    // band explode, the probe side joins as a BroadcastHashJoin, and
    // the decode stays a single expression below the Generate.
    val plan = SparkEntry.queries("q168_media_route")(spark, dir)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    "char_window_sums".r.findAllIn(plan).size shouldBe 1
  }
}

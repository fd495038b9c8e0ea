package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import graft.functions.Plans

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise matches (q22/q24/q29/q30 output) into dedup GROUPS:
  * every document in a component shares its cluster id (the component's
  * minimum id), so "keep one per cluster" becomes a groupBy.
  *
  * Algorithm: iterative min-label propagation. Each vertex starts
  * labeled with itself; every round it takes the min of its own and its
  * neighbors' labels; converges in O(component diameter) rounds —
  * near-dup clusters are dense (quasi-cliques), so diameter is tiny.
  * Each round is one join + one aggregate, all partition-parallel; the
  * driver only checks the convergence counter. [[Checkpoints.stable]]
  * truncates lineage each round so plans don't grow with iterations
  * (local blocks by default; `spark.graft.checkpointDir` switches to
  * reliable DFS checkpoints for preemptible clusters).
  * (GraphX/GraphFrames are the classic homes for this; a DataFrame-only
  * version keeps the engine dependency-free and Catalyst-planned.)
  */
object Clustering {

  /** Edge-count ceiling for the driver-side solve: 2M edges collect to
    * ~tens of MB and union-find them in well under a second, vs multiple
    * join+aggregate rounds whose per-round scheduling latency dominates
    * on small graphs. Above the ceiling (or for unsupported id types)
    * the distributed min-label loop runs — identical output. */
  val DefaultDriverSolveMaxEdges: Long = 2000000L

  /** @param pairs DataFrame with two id columns (`aCol`, `bCol`) — an
    *              undirected edge list (direction ignored; edges with a
    *              null endpoint are dropped — SQL equality cannot
    *              propagate labels through null ids).
    * @param driverSolveMaxEdges edge count at or below which the graph
    *              is solved with driver-side union-find (exact same
    *              labels); pass 0 to force the distributed loop.
    * @return (id, cluster_id) for every id APPEARING IN PAIRS; callers
    *         union isolated vertices back with cluster_id = own id.
    * @throws IllegalStateException if maxIter rounds don't converge —
    *         a silent cutoff would return WRONG components. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      driverSolveMaxEdges: Long = DefaultDriverSolveMaxEdges): DataFrame = {
    // materialize pairs ONCE — the union below references it twice, and
    // without this the (often expensive) pair-generation plan executes
    // once per branch. The eager materialization also counts the edges
    // for the driver-solve gate below, so the gate costs no job.
    val seen = Observation()
    val p = pairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .observe(seen, count(lit(1)).as("edges"))
      .transform(Checkpoints.stable)
    // an input Spark proves empty before running it reports no metrics
    val nEdges = seen.get.get("edges").fold(0L)(_.asInstanceOf[Long])

    // Adaptive execution: a graph this small is cheaper to solve on the
    // driver than to iterate over — the loop's cost is dominated by
    // per-round job scheduling, not data. The id ordering must match
    // Spark's min() for identical cluster ids.
    // (round-16 note: a limit(ceiling+1)-collect probe was tried here
    // to fuse the gate and the solve into one job — CollectLimitExec's
    // scale-up rounds turn an unreached limit over N partitions into
    // ~log₄(N) jobs, strictly worse than the observed count + collect;
    // and raising spark.sql.limit.initialNumPartitions makes the
    // huge-graph first round collect up to partitions×ceiling rows at
    // the driver.)
    val sameType = p.schema("_a").dataType == p.schema("_b").dataType
    val keyOrdering = if (sameType) minOrdering(p.schema("_a").dataType) else None
    if (keyOrdering.isDefined && nEdges <= driverSolveMaxEdges) {
      val out = driverSolve(p.sparkSession, p.schema("_a").dataType,
        p.collect(), keyOrdering.get)
      CheckpointBridge.release(p)
      return out
    }

    val edges = p.select(col("_a").as("src"), col("_b").as("dst"))
      .unionByName(p.select(col("_b").as("src"), col("_a").as("dst")))
      .distinct()
      .transform(Checkpoints.stable)
    // edges (eagerly checkpointed) is the only consumer of p — release
    // p's blocks now; checkpoints are otherwise freed only when the
    // ContextCleaner GCs them, which leaks across repeated calls on a
    // long-lived driver
    CheckpointBridge.release(p)

    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Checkpoints.stable)
    // the checkpoint superseded by the current round, released as soon
    // as the round's replacement has materialized
    var prevCkpt = labels

    // Checkpointed frames carry no size statistics, so Catalyst cannot
    // see that the labels side is vertex-sized (usually tiny next to the
    // edge list) and would sort-merge-join the FULL edge list every
    // round. Broadcasting labels keeps edges in place: per round, the
    // only shuffle left is the vertex-sized partial-aggregated groupBy.
    val nVertices = labels.count()
    val hintLabels: DataFrame => DataFrame =
      if (nVertices <= Plans.BroadcastRowCeiling) Plans.broadcastHint(_) else identity

    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // round part 1: take the min of own and neighbors' labels
      val neighborMin = edges
        .join(hintLabels(labels.select(col("id").as("dst"), col("label").as("dst_label"))),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("dst_label").as("neighbor_min"))
      val afterMin = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("neighbor_min"), col("label"))).as("mid_label"))
      // round part 2: pointer jump — follow the label's own label, which
      // collapses chains exponentially (O(log diameter) rounds total;
      // plain propagation needs O(diameter), painful on path-like
      // near-dup graphs)
      val jump = afterMin.select(col("id").as("_jid"), col("mid_label").as("_jlabel"))
      val updated = afterMin
        .join(hintLabels(jump), col("mid_label") === col("_jid"), "left")
        .select(col("id"), col("label"),
          coalesce(col("_jlabel"), col("mid_label")).as("new_label"))
        .transform(Checkpoints.stable)
      changed = updated.filter(col("new_label") < col("label")).count()
      CheckpointBridge.release(prevCkpt)
      prevCkpt = updated
      labels = updated.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    // the returned frame reads only the LAST round's checkpoint; edges
    // is no longer referenced
    CheckpointBridge.release(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** The orderings under which min-label semantics is defined for the
    * driver solve; must agree with Spark's `min()` on the same type. */
  private def minOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
    case StringType =>
      // compare UTF-8 BYTES unsigned, matching Spark's UTF8_BINARY min():
      // Java String ordering compares UTF-16 units, which disagrees for
      // supplementary characters — the driver and distributed paths
      // would pick different cluster minima on such ids
      Some(Ordering.fromLessThan[Any] { (a, b) =>
        val x = a.asInstanceOf[String].getBytes("UTF-8")
        val y = b.asInstanceOf[String].getBytes("UTF-8")
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (r != 0) r < 0 else x.length < y.length
      })
    case _ => None
  }

  /** Union-find with path compression, roots kept at the component MIN
    * (so the root IS the cluster id — no second pass). One driver
    * thread, O(E α(V)) amortized with compression. */
  private def driverSolve(spark: org.apache.spark.sql.SparkSession,
      idType: DataType, rows: Array[Row], ord: Ordering[Any]): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var root = x0
      var pr = parent.get(root)
      while (pr != null && pr != root) { root = pr; pr = parent.get(root) }
      var x = x0
      while (x != root) {
        val nxt = parent.get(x)
        parent.put(x, root)
        x = if (nxt == null) root else nxt
      }
      root
    }
    val verts = new java.util.LinkedHashSet[Any]()
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      verts.add(a); verts.add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new java.util.ArrayList[Row](verts.size())
    verts.forEach(v => out.add(Row(v, find(v))))
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType))))
  }

  /** Cluster assignment for a full corpus: every id gets a cluster_id —
    * its component's min id, or itself when it has no near-dup pair. */
  def assignClusters(ids: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    ids.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** The dedup ACTION at cluster granularity: one survivor per cluster,
    * the argmax of (`score` desc, id asc) — prefer the richest member,
    * tie-break to the smallest id so the choice is deterministic and
    * append-stable. Input is `members` with (`idCol`, `clusterCol`,
    * `scoreCol`); output is one row per cluster: (cluster_id, keep_id,
    * kept_<score>, n_members) — the survivor manifest a delete pass
    * consumes. One hash aggregate on the cluster key; the argmax rides
    * a single max(struct) (id negated so asc tie-break survives max),
    * so no window / no second pass over the members. */
  def keepBestPerCluster(members: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    // the negated-id tie-break needs a numeric id (a long cast would
    // crash on string ids under ANSI mode, or silently null the whole
    // survivor manifest with ANSI off) — fail loudly instead
    require(members.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestPerCluster needs a numeric '$idCol' for its tie-break; " +
        "got " + members.schema(idCol).dataType.simpleString)
    members
      .groupBy(col(clusterCol).as("cluster_id"))
      .agg(
        max(struct(
          col(scoreCol).as("_s"),
          (-col(idCol).cast("long")).as("_negid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("_best._negid")).as("keep_id"),
        col("_best._s").as(s"kept_$scoreCol"),
        col("n_members"))
  }

  /** Incremental cluster maintenance under append-only ingest: fold a
    * batch's new near-dup pairs into a STORED (id, cluster_id)
    * assignment without recomputing components over the indexed corpus.
    *
    * The stored assignment is treated as a CONTRACTED graph: each new
    * pair's endpoints map to their stored cluster roots (themselves for
    * unseen/batch ids), components run over the contracted edge list —
    * which is DELTA-sized, never corpus-sized — and the resulting
    * root→root moves replay onto the stored assignment as one
    * broadcast map-side join. Equivalence with a full recompute rests
    * on the append-only id discipline (batch ids all exceed stored
    * ids, asserted here like every stored-index append): component
    * minima then never move backward, so contracted min-labels equal
    * full-graph min-labels.
    *
    * Scale shape: the corpus-sized `stored` frame is touched exactly
    * twice, both map-only — a broadcast semi-join picking the ≤2·|pairs|
    * rows whose roots the contraction needs, and the final broadcast
    * root-remap. Everything else is delta-sized. The at-scale pair
    * GENERATOR for the batch is the banded incremental screen
    * (q91/q97); this operator is the assignment-maintenance step after
    * it. */
  def mergeIncremental(stored: DataFrame, idCol: String, clusterCol: String,
      newPairs: DataFrame, aCol: String, bCol: String,
      batchIds: DataFrame, batchIdCol: String): DataFrame = {
    val p = newPairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .transform(Checkpoints.stable) // referenced three times below; generate once
    // append-only discipline: without it contracted min-labels can
    // disagree with a full recompute (a small new id could become a
    // component's minimum without ever meeting the old root directly)
    // compared with the id column's OWN Spark ordering (a long cast
    // crashes on string ids under ANSI mode and silently disables the
    // guard with ANSI off). ONE action: the two single-row aggregates
    // cross-join and the comparison rides the same plan — the previous
    // three driver round trips (two agg jobs + a range(1) comparison
    // job) were pure scheduling latency on every merge call.
    val mm = stored.agg(max(col(idCol)).as("_mx"))
      .crossJoin(batchIds.agg(min(col(batchIdCol)).as("_mn")))
      .select(col("_mx"), col("_mn"), (col("_mn") > col("_mx")).as("_ok"))
      .head
    val ordered = mm.isNullAt(0) || mm.isNullAt(1) || mm.getBoolean(2)
    require(ordered,
      s"append-only id discipline violated: batch min id ${mm.get(1)} <= " +
        s"max stored id ${mm.get(0)}; run a full recompute instead")
    val endpoints = p.select(explode(array(col("_a"), col("_b"))).as("_rid"))
      .distinct()
    val touched = stored
      .select(col(idCol).as("_rid"), col(clusterCol).as("_root"))
      .join(broadcast(endpoints), Seq("_rid")) // corpus streams, no shuffle
      .transform(Checkpoints.stable) // delta-sized; feeds two broadcast builds — without
      // this the corpus-sized semi-join behind it would run once per build
    val contracted = p
      .join(broadcast(touched.select(col("_rid").as("_a"), col("_root").as("_ra"))),
        Seq("_a"), "left")
      .join(broadcast(touched.select(col("_rid").as("_b"), col("_root").as("_rb"))),
        Seq("_b"), "left")
      .select(coalesce(col("_ra"), col("_a")).as("_ca"),
        coalesce(col("_rb"), col("_b")).as("_cb"))
      .filter(col("_ca") =!= col("_cb"))
    // no extra checkpoint on cc: both connectedComponents paths return
    // recompute-free frames (the distributed path a narrow select over
    // its final-round checkpoint, the driver path local rows) — a second
    // localCheckpoint would copy the data and orphan the inner blocks
    val cc = connectedComponents(contracted, "_ca", "_cb")
    cc.count() // materialize before releasing its inputs
    // connectedComponents eagerly checkpointed its own copy of the
    // contracted edges, so p and touched (delta-sized) are dead
    CheckpointBridge.release(p)
    CheckpointBridge.release(touched)
    val rootMap = cc.select(col("id").as("_oldroot"), col("cluster_id").as("_newroot"))
    val storedUpd = stored
      .select(col(idCol), col(clusterCol))
      .join(broadcast(rootMap), col(clusterCol) === col("_oldroot"), "left")
      .select(col(idCol),
        coalesce(col("_newroot"), col(clusterCol)).as(clusterCol))
    val batchAsg = batchIds.select(col(batchIdCol).as(idCol))
      .join(broadcast(cc.withColumnRenamed("id", idCol)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as(clusterCol))
    storedUpd.unionByName(batchAsg)
  }
}

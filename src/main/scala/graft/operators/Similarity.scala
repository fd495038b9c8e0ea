package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{Plans, PortableRound}
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * query vector(s), compute the dot product with codegen'd higher-order
  * functions (`zip_with` + `aggregate` — no UDF, no Python), global
  * top-k via orderBy+limit (Spark plans TakeOrderedAndProject: per-
  * partition heaps, only k rows reach the driver — scales to any corpus
  * size as long as k is small).
  *
  * The scale path is sign-bucket partitioning (an LSH/IVF hybrid): each
  * vector lands in a bucket keyed by the sign pattern of its leading
  * components; queries probe only their own bucket. Bucket assignment is
  * a narrow projection, the probe is a broadcast-joined filter — no
  * all-pairs shuffle.
  */
object Similarity {

  private def asDouble(vec: Column): Column = vec.cast("array<double>")

  /** Fused native cosine similarity ([[graft.functions.CosineSimilarity]]):
    * one loop, three scalar accumulators, no intermediate arrays (the
    * zip_with/aggregate composition allocates a product array and walks
    * each input three times per row — prohibitive in all-pairs scoring).
    * Sums run left-to-right — bitwise-reproducible against engines that
    * fold sequentially, which the DuckDB oracle's list_dot_product does. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.ArrayOps.cosineSimilarity(a, b)

  /** Embedding-cosine near-duplicate pairs: all (a, b), a < b, with
    * cosine ≥ `threshold`. Completes the dedup family (exact, MinHash,
    * SimHash, Jaccard, embedding). Plan shape mirrors
    * [[graft.operators.Dedup.jaccardPairs]]: broadcast build side +
    * explicit-N stream repartition so the quadratic scoring spreads
    * across cores instead of collapsing onto a handful of join-key
    * tasks. At corpus scale the generator is [[bucketedTopK]]'s sign
    * buckets; this is the exact verifier shape. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val nPart = graft.functions.Plans.shufflePartitions(df)
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")).repartition(nPart)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    // The threshold lives INSIDE the join condition so the nested-loop
    // join materializes only passing pairs, and behind a `when` guard on
    // the cheap id ordering: Catalyst reorders plain conjuncts and would
    // otherwise evaluate the cosine for ALL n² combos instead of the
    // ordered half. Survivor rows recompute the (few) cosines once more
    // in the projection — far cheaper than materializing every ordered
    // pair with both vectors attached.
    val sim = PortableRound.round4(cosine(col("vec_a"), col("vec_b")))
    a.join(graft.functions.Plans.broadcastHint(b),
        when(col("id_a") < col("id_b"), sim).otherwise(lit(null)) >= threshold)
      .select(col("id_a"), col("id_b"), sim.as("cos_sim"))
  }

  /** All-pairs cosine of `df` against the (tiny, broadcast) `queries`
    * frame; round for cross-engine float stability. */
  def scoreAgainst(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String): DataFrame =
    df.crossJoin(broadcast(queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("_qvec"))))
      .select(
        col("query_id"),
        col(idCol),
        PortableRound.round4(cosine(col(vecCol), col("_qvec"))).as("cos_sim"))

  /** Brute-force top-k: TakeOrderedAndProject — no full sort, no big
    * collect. Deterministic tie-break on id. SINGLE-query shape: the
    * global limit would silently return rows for the lowest query_id
    * only in a multi-query batch — enforced loudly; use [[ivfTopK]] /
    * [[rerankExact]] (per-query windows) for batches. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    require(queries.limit(2).count() == 1L,
      "bruteForceTopK takes exactly ONE query row (global top-k); " +
        "use ivfTopK or rerankExact for multi-query batches")
    scoreAgainst(df, idCol, vecCol, queries, qIdCol, qVecCol)
      .orderBy(col("query_id").asc, col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Auto-sized sign-cell width for the bucketed generators: the number
    * of leading sign bits that keeps EXPECTED bucket occupancy at
    * `targetBucket` rows — nBits = ⌈log₂(⌈n / targetBucket⌉)⌉, clamped
    * to [1, min(dim, 62)]. A fixed nBits is block-quadratic
    * asymptotically (pair work ~ n²/2^nBits); sizing bits to the corpus
    * pins per-bucket work at ~targetBucket² and total verify work at
    * ~n·targetBucket — LINEAR in the corpus. Costs one count-sized
    * aggregate (count + min vector length), metadata-cheap at any SF.
    *
    * Cross-engine exactness: the log2 is integer binary-length (the
    * bit width of ⌈n/target⌉−1), never float log — a DuckDB oracle
    * mirrors it with `len(bin(q-1))`, so engine and oracle can't drift
    * at exact powers of two the way `ceil(log2(x))` float rounding
    * can. */
  def autoSignBits(df: DataFrame, vecCol: String, targetBucket: Long = 64L): Int = {
    require(targetBucket >= 1L, s"targetBucket must be >= 1, got $targetBucket")
    val r = df.agg(count(lit(1)), min(size(asDouble(col(vecCol))))).head
    val n = r.getLong(0)
    val dim = if (r.isNullAt(1)) 62 else r.getInt(1)
    val q = (n + targetBucket - 1) / targetBucket // ceil(n / target)
    val raw = // bit width of q-1 == ceil(log2(q)) for q >= 2
      if (q <= 1L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.max(1, math.min(math.min(dim, 62), raw))
  }

  /** [[bucketedNearDupPairs]] with [[autoSignBits]] sizing — the
    * variant that stays LINEAR as the corpus grows instead of
    * block-quadratic at a frozen bucket count. Semantics at the chosen
    * width are IDENTICAL to the fixed-nBits operator (spec-asserted):
    * auto-sizing only picks the parameter. */
  def bucketedNearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Long = 64L): DataFrame =
    bucketedNearDupPairs(df, idCol, vecCol, threshold,
      autoSignBits(df, vecCol, targetBucket))

  /** Sign-pattern bucket id from the leading `nBits` components:
    * bit j set iff vec[j] > 0. Narrow projection, no shuffle. */
  def signBucket(vec: Column, nBits: Int): Column =
    (0 until nBits)
      .map(j => when(element_at(asDouble(vec), j + 1) > 0.0, lit(1L << j)).otherwise(0L))
      .reduce[Column](_ + _)

  /** IVF ANN with a TRAINED coarse quantizer (vs [[signBucket]]'s
    * data-oblivious hashing): k-means centroids partition the corpus
    * into `nCentroids` cells; each query probes only its `nProbe`
    * nearest cells. This is the classic inverted-file layout — at 100 TB
    * the cell id becomes the partition/bucket column of the stored
    * index, so a probe is partition pruning + a scan of nProbe/nCentroids
    * of the corpus. Recall rises with nProbe (nProbe = nCentroids
    * degenerates to brute force).
    *
    * The quantizer trains distributed (MLlib KMeans over the corpus);
    * cell assignment is one model.transform; the query→cell probe list
    * is tiny (queries × centroids) and broadcast. Deterministic for a
    * fixed seed. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nCentroids: Int, nProbe: Int, seed: Long = 42L,
      quantizerIter: Int = 5, trainFraction: Double = 0.25): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window

    val featured = corpus.withColumn("_feat", array_to_vector(asDouble(col(vecCol))))
    // Quantizer training economics: a COARSE quantizer doesn't need
    // convergence or the full corpus — cell quality for ROUTING
    // saturates with a few Lloyd rounds over a sample (classic IVF
    // practice). So: deterministic hash-sample of the corpus, cached so
    // each Lloyd round doesn't re-scan the source, random init (the
    // k-means|| parallel init spends extra full passes picking
    // marginally better seeds — routing is insensitive to that).
    val train = Sampling.deterministic(featured, idCol, trainFraction)
      .select("_feat").persist()
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(quantizerIter)
      .setInitMode("random")
      .setFeaturesCol("_feat").setPredictionCol("_cell")
      .fit(train)
    train.unpersist(blocking = false) // fit is eager; sample no longer needed
    val indexed = model.transform(featured).drop("_feat")

    // query → nProbe nearest cells by L2 (k-means' own metric), a
    // per-row kernel over the model's centroids; queries×nProbe rows
    val centers = model.clusterCenters.toSeq.map(_.toArray.toSeq.map(Double.box))
    val probes = probeCells(queries, qIdCol, qVecCol, nProbe)(v =>
      array_sort(l2Cells(v, centers)))

    val hitRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    indexed.join(broadcast(probes), Seq("_cell"))
      .select(
        col("query_id"),
        col(idCol),
        PortableRound.round4(cosine(col(vecCol), col("_qvec"))).as("cos_sim"))
      .withColumn("_r", row_number().over(hitRank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** Embedding near-dup pairs at corpus scale: sign-bucket candidate
    * generation + exact cosine verify — the composition
    * [[cosineNearDupPairs]]'s scaladoc promises. Pairs are enumerated
    * ONLY within a shared sign bucket (an equi-join on the bucket key —
    * hash join, never a nested loop over the corpus), then verified with
    * the exact rounded cosine. Recall is governed by `nBits` (two
    * near-identical vectors disagree on a leading sign with probability
    * ∝ their angle — the SimHash bound), cost by corpus²/2^nBits.
    *
    * At 100 TB: bucket count (2^nBits) is chosen ≫ executor count, the
    * stream side repartitions explicitly (AQE would coalesce the
    * tiny-bytes/heavy-CPU verify stage), and the build side broadcasts
    * unless the session turns broadcasting off
    * (`spark.sql.autoBroadcastJoinThreshold` ≤ 0, see
    * [[graft.functions.Plans.broadcastHint]]) — then the join degrades
    * to a shuffled hash join on the bucket key, still never all-pairs. */
  def bucketedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 8): DataFrame = {
    val nPart = graft.functions.Plans.shufflePartitions(df)
    val a = df.select(
      signBucket(col(vecCol), nBits).as("_bucket"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a")).repartition(nPart)
    val b = df.select(
      signBucket(col(vecCol), nBits).as("_bucket"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    // Same guard shape as cosineNearDupPairs: the threshold sits inside
    // the join condition behind a `when` on the cheap id ordering, so
    // the cosine runs once per ordered bucket-colocated pair and only
    // survivors are recomputed in the projection.
    val sim = PortableRound.round4(cosine(col("vec_a"), col("vec_b")))
    a.join(
        graft.functions.Plans.broadcastHint(b),
        a("_bucket") === b("_bucket") &&
          (when(col("id_a") < col("id_b"), sim).otherwise(lit(null)) >= threshold))
      .select(col("id_a"), col("id_b"), sim.as("cos_sim"))
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor vector, the top-`k` most-similar corpus vectors with a
    * DIFFERENT label — the near-misses a metric-learning loss needs
    * (easy random negatives carry no gradient; same-label neighbors are
    * false negatives and are excluded).
    *
    * Same scale shape as [[bucketedNearDupPairs]] (q83): candidates are
    * enumerated only within a shared sign bucket (equi-join on the
    * bucket key — hash join, never corpus×anchors), the exact rounded
    * cosine runs once per bucket-colocated candidate, and the per-anchor
    * top-k is an anchor-keyed window over candidate-sized data. Recall
    * is the SimHash bound in `nBits`; misses are the highest-angle
    * negatives, which for HARD-negative mining is the tolerable end to
    * lose. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchorPred: Column, k: Int, nBits: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same stream-repartition + optional-broadcast discipline as
    // bucketedNearDupPairs: the cosine verify is tiny-bytes/CPU-heavy,
    // and without the explicit-N spread AQE coalesces it onto a few
    // bucket-key tasks at scale
    val nPart = graft.functions.Plans.shufflePartitions(df)
    val a = df.filter(anchorPred).select(
      signBucket(col(vecCol), nBits).as("_bucket"),
      col(idCol).as("anchor_id"), col(vecCol).as("vec_a"),
      col(labelCol).as("label_a")).repartition(nPart)
    val b0 = df.select(
      signBucket(col(vecCol), nBits).as("_bucket"),
      col(idCol).as("cand_id"), col(vecCol).as("vec_b"),
      col(labelCol).as("label_b"))
    val b = graft.functions.Plans.broadcastHint(b0)
    val sim = PortableRound.round4(cosine(col("vec_a"), col("vec_b")))
    val rank = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("cand_id").asc)
    a.join(b, a("_bucket") === b("_bucket") &&
        col("anchor_id") =!= col("cand_id") &&
        col("label_a") =!= col("label_b"))
      .select(col("anchor_id"), col("label_a"), col("cand_id"),
        col("label_b"), sim.as("cos_sim"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= k)
      .select(col("anchor_id"), col("label_a"), col("cand_id"),
        col("label_b"), col("cos_sim"), col("_r").cast("long").as("neg_rank"))
  }

  /** IVF ANN with a DETERMINISTIC coarse quantizer: centroids are the
    * `nCentroids` lowest-id corpus vectors, and routing is by (rounded)
    * cosine affinity — spherical IVF, the standard layout for a cosine
    * metric. Same probe semantics as [[ivfTopK]] (assign every corpus
    * vector to its best cell, probe the query's `nProbe` best cells,
    * exact top-k within the probed cells), but every step is closed-form
    * — no iterative training — so the whole query is SQL-expressible and
    * oracle-checkable. [[ivfTopK]] (trained quantizer) stays the
    * production variant; this one pins down the probe/rank semantics.
    *
    * Plan shape: the centroids are held on the driver ([[detCenters]])
    * and both routing steps are per-row kernels over them — cell
    * assignment a narrow projection of the corpus, the probe list a
    * narrow projection of the (broadcast) queries — so only the probed
    * hits shuffle, into the per-query rank window. Tie-breaks everywhere
    * (affinity ties → lowest cell, score ties → lowest id) keep it
    * deterministic on both engines. */
  def ivfTopKDeterministic(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nCentroids: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centers = detCenters(corpus, idCol, vecCol, nCentroids)
    val assigned = detAssign(corpus, idCol, vecCol, centers)
    val probes = detProbes(queries, qIdCol, qVecCol, centers, nProbe)
    val hitRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    assigned.join(broadcast(probes), Seq("_cell"))
      .select(
        col("query_id"),
        col("_id").as(idCol),
        PortableRound.round4(cosine(col("_v"), col("_qvec"))).as("cos_sim"))
      .withColumn("_r", row_number().over(hitRank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** Deterministic coarse-quantizer centroids, held on the driver: one
    * ordered-limit collect of the `nCentroids` lowest-id corpus vectors,
    * numbered by position (centroid i is cell i). Model-sized:
    * nCentroids × dim doubles (docs/TUNING.md, "Embedding ANN"). */
  private def detCenters(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): Seq[Seq[java.lang.Double]] =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(asDouble(col(vecCol))).collect()
      .map(_.getSeq[java.lang.Double](0)).toSeq

  /** Stored centroids (`dir/centers`), read on the driver with no Spark
    * job, numbered as the writers number them. Every page is read, so a
    * missing or corrupt artifact fails here. */
  private def storedCenters(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Seq[java.lang.Double]] = {
    val rows = SchemaReader.collectArtifact(spark, s"$dir/centers")
      .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[java.lang.Double]]("center")))
      .sortBy(_._1)
    require(rows.nonEmpty && rows.map(_._1) == rows.indices,
      s"$dir/centers: expected cells 0..n-1, found ${rows.map(_._1).take(5).mkString(", ")}")
    rows.map(_._2)
  }

  /** Routing kernels, per row over the literal centroid array: one
    * struct per centroid whose order IS the routing order, and a `cell`
    * field. Deterministic family: (rounded cosine affinity, -cell) —
    * highest affinity first from the top, a null affinity (zero-norm
    * vector) below every number, ties → lowest cell. */
  private def detAffs(v: Column, centers: Seq[Seq[java.lang.Double]]): Column =
    transform(typedLit(centers), (c, i) => struct(
      PortableRound.round4(cosine(v, c)).as("aff"), (-i).as("neg"), i.as("cell")))

  /** Trained families: (squared L2, cell) — k-means' own metric,
    * nearest first from the bottom, ties → lowest cell. */
  private def l2Cells(v: Column, centers: Seq[Seq[java.lang.Double]]): Column =
    transform(typedLit(centers), (c, i) => struct(l2sq(v, c).as("d2"), i.as("cell")))

  /** Cell assignment: a narrow projection, the argmax of [[detAffs]]. */
  private[operators] def detAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centers: Seq[Seq[java.lang.Double]]): DataFrame =
    corpus
      .select(col(idCol).as("_id"), asDouble(col(vecCol)).as("_v"))
      .withColumn("_cell", array_max(detAffs(col("_v"), centers)).getField("cell"))

  /** Probe list: one (query_id, _qvec, _cell) row per cell among the
    * first `nProbe` of `ranked(query vector)`, a kernel array in probe
    * order. */
  private def probeCells(queries: DataFrame, qIdCol: String, qVecCol: String,
      nProbe: Int)(ranked: Column => Column): DataFrame =
    queries
      .select(col(qIdCol).as("query_id"), asDouble(col(qVecCol)).as("_qvec"))
      .select(col("query_id"), col("_qvec"),
        explode(slice(ranked(col("_qvec")), 1, math.max(nProbe, 0))).as("_p"))
      .select(col("query_id"), col("_qvec"), col("_p.cell").as("_cell"))

  /** The `nProbe` best cells by affinity (descending, nulls last, ties →
    * lowest cell). */
  private[operators] def detProbes(queries: DataFrame, qIdCol: String, qVecCol: String,
      centers: Seq[Seq[java.lang.Double]], nProbe: Int): DataFrame =
    probeCells(queries, qIdCol, qVecCol, nProbe)(v =>
      sort_array(detAffs(v, centers), asc = false))

  /** Write (or, with mode `append`, add) cell-tagged `rows` under
    * `dir/data`, one `cell=` directory per cell: the one partitioned
    * write of every IVF builder and append. A small input is written by
    * one task ([[Plans.sizedForWrite]]); a larger one is clustered by
    * cell first — without it every task opens a file per cell it sees
    * (tasks × cells small files, the classic partitioned-write fanout).
    * Either way each cell gets one file per write. */
  private def writeCells(rows: DataFrame, dir: String, mode: String): Unit =
    ForkFreeLocalFileSystem.write(Plans.sizedForWrite(rows)(_.repartition(col("cell"))))
      .mode(mode).partitionBy("cell").parquet(s"$dir/data")

  /** Driver-held centroids as `dir/centers`, written on the driver: one
    * (cell int, center) row per centroid, centroid i in cell i; `center`
    * is the field the vectors were read as. */
  private def writeCenters(spark: SparkSession, dir: String, center: StructField,
      centers: Seq[Seq[Any]]): Unit =
    SchemaReader.writeArtifact(spark, s"$dir/centers",
      StructType(Seq(StructField("cell", IntegerType, nullable = false), center.copy(name = "center"))),
      centers.zipWithIndex.map { case (c, i) => Row(i, c) })

  /** The `center` field of trained centroids, whose elements are never
    * null. */
  private def trainedCenter(element: DataType): StructField =
    StructField("center", ArrayType(element, containsNull = false))

  /** A PQ model as `dir/codebook`, written on the driver: one
    * (j, code, center) row per subspace centroid. */
  private def writeCodebook(spark: SparkSession, model: PqModel, dir: String): Unit =
    SchemaReader.writeArtifact(spark, s"$dir/codebook",
      StructType(Seq(StructField("j", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false), trainedCenter(DoubleType))),
      for { j <- 0 until model.m; c <- 0 until model.k }
        yield Row(j, c, model.centroids(j)(c).toSeq))

  /** The `center` field of deterministic centroids: the corpus vectors
    * as [[asDouble]] reads them. */
  private def corpusCenter(corpus: DataFrame, vecCol: String): StructField =
    corpus.select(asDouble(col(vecCol))).schema.head

  /** A stored index's cell-partitioned `dir/data` under its footer
    * schema plus the `cell` partition column: no inference job. */
  private def storedCells(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    SchemaReader.readArtifact(spark, s"$dir/data", Some(StructField("cell", IntegerType)))

  /** Persist a DETERMINISTIC-quantizer IVF index: cell assignment as in
    * [[ivfTopKDeterministic]], corpus written PARTITIONED BY CELL
    * (`cell=<i>/` hive directories under `dir/data`), centroids under
    * `dir/centers`. The closed-form twin of [[writeIvfIndex]]: identical
    * stored layout, but every step is SQL-expressible, so a probe of the
    * stored index hash-checks against DuckDB (q84) instead of only a
    * recall test. An empty corpus fails before anything is written. */
  def writeIvfIndexDeterministic(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCentroids: Int): Unit = {
    val centers = detCenters(corpus, idCol, vecCol, nCentroids)
    require(centers.nonEmpty, s"cannot index an empty corpus into $dir")
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      writeCells(detAssign(rows, idCol, vecCol, centers)
        .select(col("_id").as(idCol), col("_v").as("v"), col("_cell").as("cell")), tmp, "overwrite")
      writeCenters(corpus.sparkSession, tmp, corpusCenter(corpus, vecCol), centers)
    }
  }

  /** The rows of the stored cells `probes` routes to, each paired with
    * every probe of its cell: the stored columns plus every field of
    * `probes` (query-sized (query_id, _cell, ...) rows). The probe rows
    * are collected ONCE and drive both the `isin` partition filter (only
    * probed `cell=` directories are read, `PartitionFilters` asserted in
    * PlanContractsSpec) and a per-row routing kernel, a literal of each
    * cell's probe rows exploded by the row's cell: a non-deterministic
    * queries frame (sample, unordered limit) cannot probe a cell missing
    * from its own pruning list, the probe lineage runs once, and no
    * local frame is broadcast. */
  private def probedRows(spark: SparkSession, dir: String, probes: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val schema = probes.schema
    val cell = schema.fieldIndex("_cell")
    val byCell = probes.collect().toSeq.groupBy(_.getInt(cell))
    val slots = ArrayType(ArrayType(schema, containsNull = false), containsNull = false)
    val table = (0 to byCell.keys.maxOption.getOrElse(-1)).map(byCell.getOrElse(_, Nil))
    val routed = ColumnBridge.column(
      Literal(CatalystTypeConverters.createToCatalystConverter(slots)(table), slots))
    storedCells(spark, dir)
      .filter(col("cell").isin(byCell.keys.toSeq: _*))
      .withColumn("_p", explode(get(routed, col("cell"))))
      .select(col("*"), col("_p.*"))
      .drop("_p")
  }

  /** Probe a deterministic IVF index written by
    * [[writeIvfIndexDeterministic]]: per-query probe cells come from the
    * stored centroids (same affinity ranking as the in-memory variant),
    * and the data scan filters on the PARTITION column, so only the
    * probed `cell=` directories are read — at 100 TB a probe costs
    * nProbe/nCentroids of the corpus in I/O (`PartitionFilters`
    * asserted in PlanContractsSpec). Semantics identical to
    * [[ivfTopKDeterministic]] over the same corpus. Building the frame
    * runs one Spark job, the probe collect. */
  def probeIvfIndexDeterministic(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hitRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    probedRows(spark, dir,
      detProbes(queries, qIdCol, qVecCol, storedCenters(spark, dir), nProbe))
      .select(col("query_id"), col(idCol),
        PortableRound.round4(cosine(col("v"), col("_qvec"))).as("cos_sim"))
      .withColumn("_r", row_number().over(hitRank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** Persist an IVF index: train the coarse quantizer, assign cells,
    * and write the corpus PARTITIONED BY CELL — `cell=<i>/` hive
    * directories under `dir/data`, centroids under `dir/centers`. At
    * 100 TB this is the stored-index layout [[ivfTopK]] describes: a
    * probe becomes directory-level partition pruning plus a scan of
    * nProbe/nCentroids of the corpus. Deterministic for a fixed seed. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCentroids: Int, seed: Long = 42L,
      quantizerIter: Int = 5, trainFraction: Double = 0.25): Unit = {
    val model = trainCoarse(corpus, idCol, vecCol, nCentroids, seed,
      quantizerIter, trainFraction)
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      writeCells(model.transform(featured(rows, vecCol)).drop("_feat"), tmp, "overwrite")
      writeCenters(corpus.sparkSession, tmp, trainedCenter(DoubleType),
        model.clusterCenters.toSeq.map(_.toArray.toSeq))
    }
  }

  /** `_feat`: the vector column as an ML vector, k-means' input. */
  private def featured(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("_feat", org.apache.spark.ml.functions.array_to_vector(
      asDouble(col(vecCol))))

  /** The trained writers' coarse quantizer: k-means (random init, fixed
    * seed) over the deterministic `trainFraction` sample, predicting
    * `cell` from `_feat`. Trained on the caller's un-observed corpus,
    * before the build: a sample or a `head` over the observed frame
    * would observe part of the input. */
  private def trainCoarse(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: Long, quantizerIter: Int,
      trainFraction: Double): org.apache.spark.ml.clustering.KMeansModel = {
    val train = Sampling.deterministic(featured(corpus, vecCol), idCol, trainFraction)
      .select("_feat").persist()
    try new org.apache.spark.ml.clustering.KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(quantizerIter)
      .setInitMode("random")
      .setFeaturesCol("_feat").setPredictionCol("cell")
      .fit(train)
    finally train.unpersist(blocking = false)
  }

  /** Probe a persisted IVF index: nearest `nProbe` cells per query
    * (squared L2, ties → lowest cell) over the (tiny) driver-held
    * stored centroids, and the
    * data scan filters on the PARTITION column — only the probed cell
    * directories are read (`PartitionFilters`, asserted in
    * SimilaritySpec). nProbe = nCentroids degenerates to exact
    * brute force over the whole index. */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // PER-QUERY probe cells: each query joins only ITS OWN nProbe cells
    // (a union-of-all-cells cross join would score every query
    // near-brute-force in a batch and make results depend on what else
    // was in the batch)
    val centers = storedCenters(spark, dir)
    val hitRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    probedRows(spark, dir,
      probeCells(queries, qIdCol, qVecCol, nProbe)(v => array_sort(l2Cells(v, centers))))
      .select(col("query_id"), col(idCol),
        PortableRound.round4(cosine(col(vecCol), col("_qvec"))).as("cos_sim"))
      .withColumn("_r", row_number().over(hitRank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** IVF/LSH-bucketed ANN: probe only the query's sign bucket. Recall is
    * partial (that's the ANN trade) but cost is corpus/2^nBits per
    * query. */
  def bucketedTopK(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nBits: Int = 8): DataFrame = {
    // same SINGLE-query contract as bruteForceTopK (global limit)
    require(queries.limit(2).count() == 1L,
      "bucketedTopK takes exactly ONE query row (global top-k); " +
        "use ivfTopK or rerankExact for multi-query batches")
    val corpus = df.withColumn("_bucket", signBucket(col(vecCol), nBits))
    val q = queries.select(
      col(qIdCol).as("query_id"),
      col(qVecCol).as("_qvec"),
      signBucket(col(qVecCol), nBits).as("_bucket"))
    corpus.join(broadcast(q), Seq("_bucket"))
      .select(
        col("query_id"),
        col(idCol),
        PortableRound.round4(cosine(col(vecCol), col("_qvec"))).as("cos_sim"))
      .orderBy(col("query_id").asc, col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  // ----------------------------------------------------------------
  // Product quantization (PQ): the memory face of the ANN scale story.
  // IVF (above) prunes WHICH vectors a probe reads; PQ shrinks WHAT is
  // stored per vector — m sub-quantizer codes (one small int each)
  // instead of dim floats, a ~(4*dim)/m compression. At 100 TB the
  // codes column is what an executor can actually hold per partition,
  // and search runs over codes alone via asymmetric distance
  // computation (ADC): per query, a m×k table of exact
  // subvector→centroid distances is precomputed once, and every corpus
  // row is scored with m table lookups — no float vectors are read at
  // query time. Classic IVF-ADC layout (Jégou et al., TPAMI 2011).
  // ----------------------------------------------------------------

  /** A trained product quantizer: `centroids(j)(c)` is the k-means
    * centroid `c` of subspace `j` (`m` subspaces × `k` centroids ×
    * `dim/m` components). Small by construction (m*k*dim/m = k*dim
    * doubles) — ships to executors as an expression literal. */
  final case class PqModel(m: Int, k: Int, subDim: Int,
      centroids: Array[Array[Array[Double]]]) {
    require(centroids.length == m && centroids.forall(_.length == k))
    /** Nested literal for codegen'd encode/score expressions. */
    private[operators] def lit3: Column =
      typedLit(centroids.map(_.map(_.toSeq).toSeq).toSeq)
    /** Flat `[m][k][subDim]` row-major codebook for the native
      * encode expression ([[graft.functions.PqEncodeCodes]]). */
    private[operators] def flatCents: Seq[Double] =
      centroids.flatMap(_.flatMap(_.toSeq)).toSeq
  }

  /** Squared L2 between two array<double> columns. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)

  /** [[l2sq]] scaled to an exact 4-dp integer (`floor(d*1e4+0.5)`), the
    * oracle-portable form: per-subspace distances become longs, so ADC
    * sums are INTEGER sums — order-independent, hence bitwise-equal
    * between Spark's fold and DuckDB's aggregation (the engine-wide
    * ExactAgg discipline, integer flavor). */
  private def l2sqScaled(a: Column, b: Column): Column =
    floor(l2sq(a, b) * 10000.0 + 0.5).cast("long")

  /** Train a product quantizer: an independent small k-means per
    * subspace, each over a deterministic hash-sample of the corpus
    * (same training economics as [[ivfTopK]]'s coarse quantizer — a few
    * Lloyd rounds over a sample saturate CODE quality). The m trainings
    * are driver-sequenced but each runs distributed; m is small (8–16)
    * by design. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, seed: Long = 42L, quantizerIter: Int = 5,
      trainFraction: Double = 0.25): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val subDim = dim / m
    val train = Sampling.deterministic(corpus, idCol, trainFraction)
      .select((0 until m).map(j =>
        array_to_vector(slice(asDouble(col(vecCol)), j * subDim + 1, subDim))
          .as(s"_s$j")): _*)
      .persist()
    val centroids = Array.tabulate(m) { j =>
      val model = new KMeans()
        .setK(k).setSeed(seed + j).setMaxIter(quantizerIter)
        .setInitMode("random")
        .setFeaturesCol(s"_s$j").setPredictionCol("_c")
        .fit(train)
      model.clusterCenters.map(_.toArray)
    }
    train.unpersist(blocking = false)
    PqModel(m, k, subDim, centroids)
  }

  /** DETERMINISTIC PQ codebook (q87's oracle face of [[pqTrain]], the
    * same closed-form move [[ivfTopKDeterministic]] makes for IVF):
    * centroid `c` of subspace `j` is the `j`-th subvector of the
    * (c+1)-th lowest-id corpus vector — no training, so a SQL oracle
    * rebuilds the exact codebook. The driver pull is `k` rows (bounded,
    * the same class as the IVF centroid pull). */
  def pqModelDeterministic(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): PqModel = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val subDim = dim / m
    val rows = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol), asDouble(col(vecCol)))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(rows.length == k, s"corpus has fewer than $k vectors")
    val centroids = Array.tabulate(m)(j =>
      rows.map(_.slice(j * subDim, (j + 1) * subDim)))
    PqModel(m, k, subDim, centroids)
  }

  /** Corpus → PQ codes: `codesCol` is an m-entry array<int>, code j the
    * nearest subspace-j centroid (ties → lowest code). One narrow
    * codegen'd projection — the float vector can be dropped afterwards,
    * which is the point: stored size per row falls from dim floats to m
    * small ints. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel,
      codesCol: String = "codes", rounded: Boolean = false): DataFrame =
    df.withColumn(codesCol, graft.functions.PqOps.encodeCodes(
      asDouble(col(vecCol)), model.flatCents, model.m, model.k,
      model.subDim, rounded))

  /** The interpreted composition [[pqEncode]] replaced (m·k
    * slice/zip_with/aggregate lambdas per row) — kept as the parity
    * reference SimilaritySpec pins the native expression against. */
  private[graft] def pqEncodeComposed(df: DataFrame, vecCol: String,
      model: PqModel, codesCol: String = "codes",
      rounded: Boolean = false): DataFrame = {
    val cents = model.lit3
    val v = asDouble(col(vecCol))
    val dist: (Column, Column) => Column =
      if (rounded) l2sqScaled else l2sq
    val codes = transform(sequence(lit(0), lit(model.m - 1)), j => {
      val dists = transform(sequence(lit(0), lit(model.k - 1)), c =>
        dist(slice(v, j * lit(model.subDim) + 1, lit(model.subDim)),
          element_at(element_at(cents, j + 1), c + 1)))
      // first minimum = lowest code on ties (deterministic)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    df.withColumn(codesCol, codes)
  }

  /** ADC top-k over a PQ-encoded corpus: per query, the m×k lookup
    * table of exact subvector→centroid squared distances is built in
    * one narrow pass over the (tiny) query frame, broadcast, and every
    * corpus row is scored with m table lookups over its codes — the
    * stored vectors are never touched. Returns `(query_id, idCol,
    * d2_approx)`, `topK` rows per query, ranked ascending (PQ is an L2
    * structure; ties → lowest id). Recall is approximate by
    * construction — the quantization error bounds it, not the search. */
  /** ADC score of a codes column against a per-query `_tab` lookup
    * column (flat m*k array, entry j*k+c). Rounded mode: `_tab` holds
    * 4-dp-scaled longs, so the sum is an exact integer sum. */
  private def adcScore(codesCol: String, m: Int, k: Int,
      rounded: Boolean): Column = {
    val s = graft.functions.PqOps.adcLookupSum(
      col(codesCol), col("_tab"), m, k, rounded)
    if (rounded) s.cast("double") / 10000.0
    else PortableRound.round4(s)
  }

  /** The flat m*k ADC lookup table for a query vector column: entry
    * j*k + c = ||q_sub_j − centroid[j][c]||², 4-dp-scaled longs in
    * rounded mode. */
  private def adcTable(qVec: Column, model: PqModel, rounded: Boolean): Column = {
    val cents = model.lit3
    val dist: (Column, Column) => Column = if (rounded) l2sqScaled else l2sq
    flatten(transform(sequence(lit(0), lit(model.m - 1)), j =>
      transform(sequence(lit(0), lit(model.k - 1)), c =>
        dist(slice(qVec, j * lit(model.subDim) + 1, lit(model.subDim)),
          element_at(element_at(cents, j + 1), c + 1)))))
  }

  def pqTopK(encoded: DataFrame, idCol: String, codesCol: String,
      model: PqModel, queries: DataFrame, qIdCol: String, qVecCol: String,
      topK: Int, rounded: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tables = queries.select(col(qIdCol).as("query_id"),
      adcTable(asDouble(col(qVecCol)), model, rounded).as("_tab"))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2_approx").asc, col(idCol).asc)
    encoded.crossJoin(broadcast(tables))
      .select(col("query_id"), col(idCol),
        adcScore(codesCol, model.m, model.k, rounded).as("d2_approx"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= topK)
      .drop("_r")
  }

  /** Exact-cosine RE-RANK of an ANN shortlist — the standard two-stage
    * production recipe: a cheap approximate stage (ADC over PQ codes, a
    * bucketed probe, …) proposes `(query_id, id)` candidates, and only
    * those rows' true vectors are fetched and scored exactly. Fixes the
    * quantization error in the final ordering while touching R rows per
    * query instead of the corpus: the shortlist (tiny — |queries| × R)
    * broadcasts into an equi-join against the corpus, so at 100 TB the
    * vector fetch is a broadcast-semi-join-pruned scan, never a
    * shuffle of corpus-sized data. Returns `(query_id, idCol, cos_sim)`
    * re-ranked descending, `k` rows per query, ties → lowest id. */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    corpus.select(col(idCol), asDouble(col(vecCol)).as("_cv"))
      .join(broadcast(shortlist.select(col("query_id"), col(idCol))), Seq(idCol))
      .join(broadcast(queries.select(col(qIdCol).as("query_id"),
        asDouble(col(qVecCol)).as("_qv"))), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        PortableRound.round4(cosine(col("_cv"), col("_qv"))).as("cos_sim"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** HYBRID retrieval rerank — the lexical-then-semantic stack RAG and
    * training-retrieval pipelines run: a QUERY-INDEPENDENT scored
    * shortlist (e.g. BM25 top-N over keyword terms, carrying its
    * lexical score) is reranked per query VECTOR by exact cosine; the
    * lexical score rides along so consumers can fuse or audit both
    * signals. [[rerankExact]]'s broadcast discipline with the shortlist
    * crossed against the query batch: shortlist (top-N-sized) and
    * queries (batch-sized) both broadcast, the corpus embedding table
    * joins id-keyed — at 100 TB the vector fetch is a broadcast-pruned
    * scan of N rows, never a corpus shuffle; the cross of two
    * broadcast-bounded sides is |queries|·N rows. Returns
    * `(query_id, idCol, scoreCol, cos_sim)`, `k` rows per query by
    * cosine descending, ties → lowest id. */
  def hybridRerank(shortlist: DataFrame, idCol: String, scoreCol: String,
      corpus: DataFrame, cIdCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    corpus.select(col(cIdCol).as(idCol), asDouble(col(vecCol)).as("_cv"))
      .join(broadcast(shortlist.select(col(idCol), col(scoreCol))), Seq(idCol))
      .crossJoin(broadcast(queries.select(col(qIdCol).as("query_id"),
        asDouble(col(qVecCol)).as("_qv"))))
      .select(col("query_id"), col(idCol), col(scoreCol),
        PortableRound.round4(cosine(col("_cv"), col("_qv"))).as("cos_sim"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  /** Reciprocal-rank FUSION of the hybrid pair — the ranking production
    * hybrid stacks actually ship: instead of discarding the lexical
    * order after the rerank ([[hybridRerank]] ranks purely by cosine),
    * each (query, doc) gets an integer rank under BOTH signals —
    * lexical = BM25 score over the shortlist, semantic = exact rounded
    * cosine — and the fused score is the classic RRF sum
    * 1/(c + r_lex) + 1/(c + r_sem) (c = 60 per the published
    * formulation), quantized to micro-units by flooring each addend so
    * the whole ranking is integer-exact and oracle-mirrorable.
    * Same broadcast discipline as [[hybridRerank]]: both windows
    * partition by query over |queries|·N broadcast-bounded rows — the
    * fusion stage never sees corpus-sized data. Returns per query the
    * top-`k` docs by `rrf_micro` descending (ties → lowest id) with
    * both ranks and both raw signals for audit. */
  def hybridRrfTopK(shortlist: DataFrame, idCol: String, scoreCol: String,
      corpus: DataFrame, cIdCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(c >= 1, s"RRF constant must be >= 1, got $c")
    val scored = corpus.select(col(cIdCol).as(idCol), asDouble(col(vecCol)).as("_cv"))
      .join(broadcast(shortlist.select(col(idCol), col(scoreCol))), Seq(idCol))
      .crossJoin(broadcast(queries.select(col(qIdCol).as("query_id"),
        asDouble(col(qVecCol)).as("_qv"))))
      .select(col("query_id"), col(idCol), col(scoreCol),
        PortableRound.round4(cosine(col("_cv"), col("_qv"))).as("cos_sim"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val wSem = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    // each addend is floor(1e6/(c+rank)): double division of small
    // exact integers is correctly rounded identically in Spark and the
    // oracle engine, and the floor snaps both to the same int64
    val fused = scored
      .withColumn("r_lex", row_number().over(wLex).cast("long"))
      .withColumn("r_sem", row_number().over(wSem).cast("long"))
      .withColumn("rrf_micro",
        (floor(lit(1000000.0) / (lit(c) + col("r_lex"))) +
          floor(lit(1000000.0) / (lit(c) + col("r_sem")))).cast("long"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col(idCol).asc)
    fused.withColumn("_r", row_number().over(wF))
      .filter(col("_r") <= k)
      .drop("_r")
  }

  // ----------------------------------------------------------------
  // IVFADC: the COMPOSED stored index — IVF prunes which partitions a
  // probe reads, PQ shrinks what each row stores. Data files hold
  // (id, codes) only, partitioned by cell: no float vectors anywhere
  // in the search path. At 100 TB a probe costs
  // nProbe/nCentroids × (m small ints per row) of I/O — both halves
  // of the ANN scale story at once.
  // ----------------------------------------------------------------

  /** Persist the composed deterministic IVF+PQ index: coarse routing
    * cells from [[detCenters]] (cosine affinity, like q43/q84), PQ
    * codes from [[pqModelDeterministic]] (rounded, like q87). Layout:
    * `dir/data` = (idCol, codes) PARTITIONED BY cell — the vectors are
    * dropped, codes are the entire stored payload; `dir/centers` = the
    * coarse routing centroids; `dir/codebook` = (j, code, center) PQ
    * centroid rows. Fully closed-form, so the complete
    * write→probe round trip is oracle-checkable (q88). */
  def writeIvfPqIndexDeterministic(corpus: DataFrame, idCol: String,
      vecCol: String, dir: String, nCentroids: Int, m: Int, k: Int): Unit = {
    val centers = detCenters(corpus, idCol, vecCol, nCentroids)
    require(centers.nonEmpty, s"cannot index an empty corpus into $dir")
    val model = pqModelDeterministic(corpus, idCol, vecCol, m, k)
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      val assigned = detAssign(rows, idCol, vecCol, centers)
        .select(col("_id").as(idCol), col("_v").as("_vec"), col("_cell").as("cell"))
      writeCells(pqEncode(assigned, "_vec", model, rounded = true)
        .select(col(idCol), col("codes"), col("cell")), tmp, "overwrite")
      writeCenters(corpus.sparkSession, tmp, corpusCenter(corpus, vecCol), centers)
      writeCodebook(corpus.sparkSession, model, tmp)
    }
  }

  /** Incremental ingest into a stored deterministic IVF index: assign a
    * NEW batch of vectors to cells through the STORED coarse centroids
    * (no retraining, no rebuild — the routing function is frozen at
    * write time, the standard inverted-file maintenance move) and
    * append the rows into the existing `cell=` partition directories.
    * At 100 TB this is how the index keeps up with ingest: the append
    * touches only the new batch, dynamic partition append leaves
    * existing files untouched, and probes see old + new rows with
    * unchanged semantics. The batch's ids must all be larger than the
    * indexed corpus's (the append-only id discipline, which makes the
    * result bit-identical to having indexed the union up front —
    * asserted in SimilaritySpec); the precondition is VALIDATED against
    * the stored max-id meta, so a violating or duplicate-id batch fails
    * fast instead of silently corrupting probe results. */
  def appendToIvfIndexDeterministic(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // the driver read decodes every page, so a corrupt (not just
      // missing) stored artifact fails before the meta goes pending
      storedCenters(spark, dir)
    } { centers =>
      writeCells(detAssign(batch, idCol, vecCol, centers)
        .select(col("_id").as(idCol), col("_v").as("v"), col("_cell").as("cell")), dir, "append")
    }

  /** TRAINED twin of [[appendToIvfIndexDeterministic]]: the new batch
    * routes through the STORED k-means centroids by squared L2 —
    * k-means' own assignment metric, ties → lowest cell — so appended
    * rows land exactly where a fresh `KMeansModel.transform` would put
    * them; the frozen model needs no retraining. Same id-discipline
    * validation. The appended rows carry the batch's full column set
    * (the trained writer stores whole corpus rows, not id+vector
    * projections). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      storedCenters(spark, dir) // eager: see appendToIvfIndexDeterministic
    } { centers =>
      writeCells(batch.withColumn("cell",
        array_min(l2Cells(asDouble(col(vecCol)), centers)).getField("cell")), dir, "append")
    }

  /** Load a stored PQ codebook back into a [[PqModel]] — m*k rows, a
    * bounded driver pull (the stored-centroid class). */
  private def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqModel = {
    val cbRows = SchemaReader.collectArtifact(spark, s"$dir/codebook")
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("code"),
        r.getAs[Seq[Double]]("center").toArray))
    val m = cbRows.map(_._1).max + 1
    val k = cbRows.map(_._2).max + 1
    val byJ = cbRows.groupBy(_._1)
    PqModel(m, k, cbRows.head._3.length,
      Array.tabulate(m)(j => byJ(j).sortBy(_._2).map(_._3).toArray))
  }

  /** TRAINED twin of [[writeIvfPqIndexDeterministic]]: k-means coarse
    * cells ([[writeIvfIndex]]'s quantizer) + per-subspace k-means PQ
    * codebooks ([[pqTrain]]) — the production IVFADC writer. Same
    * layout: codes-only data partitioned by cell, stored centers and
    * codebook. Deterministic for a fixed seed; recall-tested in
    * SimilaritySpec (not SQL-expressible — the deterministic twin is
    * the oracled one, q88). */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCentroids: Int, m: Int, k: Int, seed: Long = 42L,
      quantizerIter: Int = 5, trainFraction: Double = 0.25): Unit = {
    val coarse = trainCoarse(corpus, idCol, vecCol, nCentroids, seed,
      quantizerIter, trainFraction)
    val pq = pqTrain(corpus, idCol, vecCol, m, k, seed, quantizerIter,
      trainFraction)
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      writeCells(pqEncode(coarse.transform(featured(rows, vecCol)).drop("_feat"), vecCol, pq)
        .select(col(idCol), col("codes"), col("cell")), tmp, "overwrite")
      writeCenters(corpus.sparkSession, tmp, trainedCenter(DoubleType),
        coarse.clusterCenters.toSeq.map(_.toArray.toSeq))
      writeCodebook(corpus.sparkSession, pq, tmp)
    }
  }

  /** Probe a TRAINED composed index: L2 routing to the `nProbe` nearest
    * stored coarse centers (k-means' own metric, like [[probeIvfIndex]])
    * — a per-row kernel over the driver-held centers — then
    * the partition-pruned codes scan is ADC-scored per (query, cell).
    * Returns `(query_id, idCol, d2_approx)` ascending, ties → lowest
    * id. */
  def probeIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      topK: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = loadPqCodebook(spark, dir)
    val centers = storedCenters(spark, dir)
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2_approx").asc, col(idCol).asc)
    probedRows(spark, dir,
      probeCells(queries, qIdCol, qVecCol, nProbe)(v => array_sort(l2Cells(v, centers)))
        .select(col("query_id"), col("_cell"),
          adcTable(col("_qvec"), model, rounded = false).as("_tab")))
      .select(col("query_id"), col(idCol),
        adcScore("codes", model.m, model.k, rounded = false).as("d2_approx"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= topK)
      .drop("_r")
  }

  /** Incremental ingest into a stored IVFADC index: the new batch
    * routes through the STORED coarse centroids and encodes against the
    * STORED codebook (both frozen at write time — the [[appendToIvfIndexDeterministic]]
    * maintenance move, applied to codes), then appends into the
    * existing `cell=` directories. Under the append-only id discipline
    * (validated, like every append here) the result is bit-identical to
    * indexing the union up front. */
  def appendToIvfPqIndexDeterministic(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // both are eager driver reads (see appendToIvfIndexDeterministic)
      (loadPqCodebook(spark, dir), storedCenters(spark, dir))
    } { case (model, centers) =>
      val assigned = detAssign(batch, idCol, vecCol, centers)
        .select(col("_id").as(idCol), col("_v").as("_vec"), col("_cell").as("cell"))
      writeCells(pqEncode(assigned, "_vec", model, rounded = true)
        .select(col(idCol), col("codes"), col("cell")), dir, "append")
    }

  /** Probe a composed IVF+PQ index: queries route to their `nProbe`
    * best cells through the stored coarse centroids (directory-level
    * partition pruning on the data scan, the q84 contract), and the
    * pruned code rows are ADC-scored against per-(query, cell)
    * broadcast lookup tables rebuilt from the stored codebook — the
    * scan reads only (id, codes, cell). Returns `(query_id, idCol,
    * d2_approx)`, `topK` ascending per query, ties → lowest id;
    * identical to in-memory [[pqTopK]] restricted to the probed
    * cells. */
  def probeIvfPqIndexDeterministic(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      topK: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = loadPqCodebook(spark, dir)
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2_approx").asc, col(idCol).asc)
    probedRows(spark, dir,
      detProbes(queries, qIdCol, qVecCol, storedCenters(spark, dir), nProbe)
        .select(col("query_id"), col("_cell"),
          adcTable(col("_qvec"), model, rounded = true).as("_tab")))
      .select(col("query_id"), col(idCol),
        adcScore("codes", model.m, model.k, rounded = true).as("d2_approx"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= topK)
      .drop("_r")
  }

  // --------------------------------------------------------------------
  // Exact-arithmetic (oracle-portable) k-means — the TRAINED-quantizer
  // counterpart of the deterministic-IVF family. [[ivfTopK]]'s MLlib
  // k-means (q137) stays the float production trainer, recall-tracked
  // per bench run; this trainer runs Lloyd's iterations entirely in
  // INTEGER micro-units (the integer-PageRank discipline applied to
  // clustering), so a DuckDB oracle can unroll the same iterations and
  // hash-match the full train→assign→probe loop — iterative TRAINING
  // itself becomes oracle-checkable, not just closed-form routing.
  //
  // Portability contract (each step identical on both engines):
  //  - quantize: floor(x·1e6 + 0.5) on the float→double-exact value —
  //    one IEEE multiply/add/floor, bitwise-equal across engines (the
  //    l2sqScaled discipline); everything after is exact integers.
  //  - distance: Σ(aᵢ−bᵢ)² in int64 (≤ ~9.2e13 at unit-norm-ish 64-dim
  //    inputs — no overflow; DuckDB folds the same values in HUGEINT).
  //  - assign: argmin by (d2, cell) — lexicographic struct min here,
  //    row_number() over (ORDER BY d2, cell) there.
  //  - recompute: per-dimension Σ/count with TRUNCATION toward zero
  //    (Scala Long division ≡ DuckDB `//`, both -7/2 = -3); empty
  //    cells keep their previous centroid.
  //  - init: quantized vectors of the k lowest-id rows, cells 0..k-1.
  // Determinism across partitionings is structural (integer sums
  // commute; no float fold order, no seed, no sample) — the property
  // the MLlib trainer cannot offer (q137's scaladoc caveat).
  // --------------------------------------------------------------------

  /** Micro-unit quantization: float component → int64 micro-units via
    * `floor(x·1e6 + 0.5)` (exact double arithmetic on an exact
    * float→double promotion — both engines compute the identical
    * int64). Components large enough to overflow the int64 distance
    * fold fail LOUDLY here instead of wrapping into silently-wrong
    * argmins: Σ(aᵢ−bᵢ)² over d dims is safe iff every |component| ≤
    * √(Long.Max / 4d) micro-units (≈190 raw at d = 64 — two orders
    * above any normalized embedding), checked per row against the
    * vector's own length. One compare per element, one sqrt per row —
    * noise next to the multiply it guards. */
  private[operators] def microQuant(vec: Column): Column = {
    val lim = sqrt(lit(9.223372036854775e18) /
      (lit(4.0) * size(vec).cast("double")))
    transform(asDouble(vec), x => {
      val q = floor(x * lit(1000000.0) + lit(0.5))
      when(abs(q).cast("double") > lim, raise_error(concat(
        lit("kmeansMicroExact: |component| overflows exact int64 " +
          "distances at this dimensionality: "), x.cast("string"))))
        .otherwise(q)
    })
  }

  /** Exact squared L2 between two int64 micro-unit vectors — the fused
    * native expression ([[graft.functions.L2MicroSquared]]): one loop,
    * one long accumulator, no per-centroid diff-array allocation.
    * Bit-identical to the zip_with/aggregate composition it replaced
    * (integer adds are fold-order-free) and ~5× faster in the k-way
    * argmin, where the composition walked three arrays per centroid
    * per row. */
  private def d2Micro(a: Column, b: Column): Column =
    graft.functions.ArrayOps.l2MicroSquared(a, b)

  /** Centroid table as a nested literal: per-row argmin needs no join
    * at all — k·dim longs folded into the plan (512 for k=8, d=64). */
  private def kmCentersLit(centers: Seq[(Int, Array[Long])]): Column =
    array(centers.map { case (cell, c) =>
      struct(typedLit(c.toSeq).as("c"), lit(cell).as("cell")) }: _*)

  /** Nearest-centroid assignment: a NARROW projection (no join, no
    * shuffle) — `array_min` over per-centroid (d2, cell) structs is the
    * lexicographic argmin with the lowest-cell tie-break. */
  private def kmAssign(vq: DataFrame, centers: Seq[(Int, Array[Long])]): DataFrame = {
    val cand = transform(kmCentersLit(centers),
      ct => struct(d2Micro(col("_v"), ct.getField("c")).as("_d2"),
        ct.getField("cell").as("_cell")))
    vq.withColumn("_b", array_min(cand))
      .select(col("_id"), col("_v"),
        col("_b._cell").as("_cell"), col("_b._d2").as("_d2"))
  }

  /** Quantized training frame: (id, micro-unit vector), nulls out. */
  private def kmQuant(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"), microQuant(col(vecCol)).as("_v"))

  /** Train `iters` Lloyd iterations of exact micro-unit k-means;
    * returns the final centroids (cell → int64 micro-unit vector).
    *
    * Scale shape: per iteration ONE narrow pass over the corpus
    * (literal-centroid argmin) feeding a (cell, dim)-keyed partial
    * aggregate — map-side combine leaves k·dim rows to shuffle, and the
    * two driver collects per round (k·dim sums; k init rows) are
    * bounded by the model size, never the corpus. The quantized frame
    * is cached across iterations (T scans of one projection, not T
    * re-reads of the source — drop-in for a 100 TB corpus where the
    * re-read IS the cost). */
  def kmeansMicroExact(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[(Int, Array[Long])] = {
    val vq = kmQuant(df, idCol, vecCol)
    if (iters > 0) vq.persist()
    try trainMicro(vq, k, iters) finally if (iters > 0) vq.unpersist()
  }

  /** The Lloyd loop over an already-quantized (and caller-cached)
    * frame — shared so [[ivfTopKMicroExact]] trains, assigns, and
    * probes against ONE persisted projection instead of re-quantizing
    * the corpus per stage. */
  private def trainMicro(vq: DataFrame, k: Int, iters: Int): Seq[(Int, Array[Long])] = {
    require(k >= 1 && iters >= 0, "need k >= 1, iters >= 0")
    // init: the k lowest-id vectors, cells 0..k-1 (bounded: k rows)
    var centers: Seq[(Int, Array[Long])] =
      vq.orderBy(col("_id")).limit(k).collect().zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Long](1).toArray) }.toSeq
    require(centers.nonEmpty, "cannot train k-means on an empty input")
    var it = 0
    while (it < iters) {
      // (cell, dim) sums/counts: k·dim rows — bounded model-size collect
      val sums = kmAssign(vq, centers)
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_dim", "_x")))
        .groupBy(col("_cell"), col("_dim"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centers = centers.map { case (cell, prev) =>
        byCell.get(cell) match {
          case Some(rows) =>
            val c = prev.clone()
            // Long division truncates toward zero — DuckDB's `//`
            rows.foreach(r => c(r.getInt(1)) = r.getLong(2) / r.getLong(3))
            (cell, c)
          case None => (cell, prev) // empty cell keeps its centroid
        }
      }
      it += 1
    }
    centers
  }

  /** Final cluster assignment under trained centroids:
    * (idCol, cell, d2) — the whole training loop's outcome as a
    * hash-checkable frame (q150). Lazy by design (corpus-sized output
    * — the caller decides where it lands), so its one narrow
    * scan+quantize pass is the OUTPUT materialization, additional to
    * training's cached iterations. */
  def kmeansAssignMicro(df: DataFrame, idCol: String, vecCol: String,
      centers: Seq[(Int, Array[Long])]): DataFrame =
    kmAssign(kmQuant(df, idCol, vecCol), centers)
      .select(col("_id").as(idCol), col("_cell").cast("long").as("cell"),
        col("_d2").as("d2"))

  /** IVF top-k through the TRAINED exact quantizer: train
    * [[kmeansMicroExact]] centroids, assign the corpus, probe each
    * query's `nProbe` nearest cells (by exact centroid d2, ties →
    * lowest cell), exact d2 rank within the probed cells (ties →
    * lowest id). The all-integer twin of q137's float trained-IVF
    * probe: every step — INCLUDING the iterative training — mirrors
    * into SQL, so the oracle hash-checks the trained index end to end.
    *
    * Plan shape: the corpus is quantized ONCE into a persisted
    * projection shared by training AND the probe-time assignment (no
    * per-stage re-read); probes are query-sized and broadcast into the
    * cell join, so only probed-cell candidates shuffle into the
    * per-query rank window. The result (nQueries·k rows) is collected
    * and rebuilt as a local frame — bounded by the query batch, and it
    * lets the corpus cache be released deterministically instead of
    * leaking past the lazy plan. */
  def ivfTopKMicroExact(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nCentroids: Int, iters: Int, nProbe: Int): DataFrame = {
    val vq = kmQuant(corpus, idCol, vecCol)
    vq.persist()
    try {
      val centers = trainMicro(vq, nCentroids, iters)
      probeTrainedMicro(vq, idCol, queries, qIdCol, qVecCol, k, nProbe, centers)
    } finally vq.unpersist()
  }

  /** [[ivfTopKMicroExact]] with the training step factored out: probe
    * an ALREADY-TRAINED centroid set (e.g. [[kmeansMicroExact]]'s
    * output, or one memoized across Bench sweeps). Bit-identical to
    * the fused form for the same centers — assignment, probe routing,
    * and ranking are shared code below. One narrow corpus pass (no
    * persist needed: training's repeated scans are the only reason the
    * fused form caches). */
  def ivfTopKMicroExactTrained(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int, centers: Seq[(Int, Array[Long])]): DataFrame =
    probeTrainedMicro(kmQuant(corpus, idCol, vecCol), idCol,
      queries, qIdCol, qVecCol, k, nProbe, centers)

  /** Shared assign→route→rank core of the trained-IVF probes: assign
    * the quantized corpus under `centers`, route each query to its
    * `nProbe` nearest cells, exact-d2 top-k within the probed cells,
    * result rebuilt as a local frame (bounded: nQueries × k). */
  private def probeTrainedMicro(vq: DataFrame, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int, centers: Seq[(Int, Array[Long])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = vq.sparkSession
    val assigned = kmAssign(vq, centers)
    val pc = transform(kmCentersLit(centers),
      ct => struct(d2Micro(col("_qv"), ct.getField("c")).as("_d2"),
        ct.getField("cell").as("_cell")))
    val probes = kmQuant(queries, qIdCol, qVecCol)
      .select(col("_id").as("query_id"), col("_v").as("_qv"))
      .select(col("query_id"), col("_qv"),
        explode(slice(array_sort(pc), 1, nProbe)).as("_p"))
      .select(col("query_id"), col("_qv"), col("_p._cell").as("_cell"))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col(idCol).asc)
    val res = assigned.join(broadcast(probes), Seq("_cell"))
      .select(col("query_id"), col("_id").as(idCol),
        d2Micro(col("_v"), col("_qv")).as("d2"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= k)
      .drop("_r")
    val schema = res.schema
    val rows = res.collect() // bounded: nQueries × k
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Persist the exact-trained IVF index: [[kmeansMicroExact]]
    * centroids, corpus partitioned by trained cell under `dir/data`
    * (micro-unit vectors — probes stay all-integer), centroids under
    * `dir/centers`. Completes the stored-index matrix: q84 is
    * stored+closed-form, q137 is stored+trained-float (recall-gated);
    * this is stored+TRAINED with the full write→probe round trip
    * oracle-checkable (q152). Same fanout-avoiding write discipline as
    * the other IVF writers. */
  def writeIvfIndexMicroExact(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nCentroids: Int, iters: Int): Unit = {
    // trained before the build: the init's ordered limit over the
    // observed frame could observe part of the input
    val centers = kmeansMicroExact(corpus, idCol, vecCol, nCentroids, iters)
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      writeCells(kmAssign(kmQuant(rows, idCol, vecCol), centers)
        .select(col("_id").as(idCol), col("_v").as("v"), col("_cell").as("cell")), tmp, "overwrite")
      writeCenters(corpus.sparkSession, tmp, trainedCenter(LongType), centers.map(_._2.toSeq))
    }
  }

  /** EXACT-trained twin of [[appendToIvfIndex]]: a new batch routes
    * through the STORED micro-unit centroids with the same all-integer
    * d2 argmin the probe and [[kmAssign]] use (ties → lowest cell) —
    * frozen routing, no retraining, rows appended only into their
    * `cell=` directories. Under the append-only id discipline the
    * result is bit-identical to an index whose data is the union but
    * whose centroids were trained on the ORIGINAL corpus — which is
    * exactly what the frozen-model ingest contract means, and what
    * makes the appended index hash-checkable end to end (q163): the
    * oracle unrolls training over the base split, then assigns base and
    * batch under the final centroids. Closes the float path's (q137)
    * rows-only gap from the exact side. */
  def appendToIvfIndexMicroExact(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // bounded driver read (k centroid rows), outside the pending
      // window: a missing/corrupt centers artifact fails fast here
      readIvfCentersMicro(spark, dir)
    } { centers =>
      writeCells(kmAssign(kmQuant(batch, idCol, vecCol), centers)
        .select(col("_id").as(idCol), col("_v").as("v"), col("_cell").as("cell")), dir, "append")
    }

  /** Probe a [[writeIvfIndexMicroExact]] index: queries quantize to
    * micro-units, probe cells come from the STORED centroids (exact
    * integer d2, ties → lowest cell), and the data scan prunes to the
    * probed `cell=` directories — nProbe/nCentroids of the corpus in
    * I/O, with every ranking number an exact int64. Semantics identical
    * to [[ivfTopKMicroExact]] over the same corpus/params by
    * construction (spec-pinned), which is what lets q151's oracle shape
    * serve the stored round trip. */
  /** Load a [[writeIvfIndexMicroExact]] index's trained centroids
    * (model-sized collect). Besides the probe below, this is the
    * STREAMING routing hook: [[kmeansAssignMicro]] with these centers
    * is a stateless narrow projection — no watermark, no state store —
    * so the same call assigns ingest-time vectors to their trained
    * cells on a readStream, bit-equal to the batch assignment
    * (stream/batch parity spec-pinned in StreamingSpec). */
  def readIvfCentersMicro(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, Array[Long])] =
    SchemaReader.collectArtifact(spark, s"$dir/centers")
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq

  def probeIvfIndexMicroExact(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centers = readIvfCentersMicro(spark, dir)
    val pc = transform(kmCentersLit(centers),
      ct => struct(d2Micro(col("_qv"), ct.getField("c")).as("_d2"),
        ct.getField("cell").as("_cell")))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col(idCol).asc)
    probedRows(spark, dir,
      kmQuant(queries, qIdCol, qVecCol)
        .select(col("_id").as("query_id"), col("_v").as("_qv"))
        .select(col("query_id"), col("_qv"),
          explode(slice(array_sort(pc), 1, nProbe)).as("_p"))
        .select(col("query_id"), col("_qv"), col("_p._cell").as("_cell")))
      .select(col("query_id"), col(idCol),
        d2Micro(col("v"), col("_qv")).as("d2"))
      .withColumn("_r", row_number().over(rank))
      .filter(col("_r") <= k)
      .drop("_r")
  }
}

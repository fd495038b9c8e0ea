package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Mergeable sketch statistics — the 100 TB pattern for cardinality and
  * quantiles: build a small partial sketch per group/partition/day,
  * store it, merge partials later without touching raw data again.
  *
  * All built on Spark's native codegen'd sketch aggregates (HLL++ for
  * approx_count_distinct, Apache DataSketches HLL for the mergeable
  * binary form, KLL-style percentile_approx) — no UDAFs, map-side
  * partial combine everywhere.
  */
object Sketches {

  /** Per-group approximate distinct count (HLL++, max `rsd` relative
    * standard deviation). */
  def approxDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(s"approx_distinct_$valueCol"))

  /** Per-group approximate quantiles (`percentile_approx`, tunable
    * accuracy). */
  def approxQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val pArr = array(probs.map(lit): _*)
    df.groupBy(keys.map(col): _*)
      .agg(percentile_approx(col(valueCol), pArr, lit(accuracy))
        .as(s"quantiles_$valueCol"))
  }

  /** Stage 1 of the mergeable pipeline: one binary HLL sketch per group
    * (e.g. per day) — small enough to store alongside the data. */
  def hllPartials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("hll"))

  /** Stage 2: merge partial sketches across groups (e.g. days → month)
    * and estimate — raw data is never re-read. */
  def hllMerge(partials: DataFrame, keys: Seq[String]): DataFrame = {
    val grouped =
      if (keys.isEmpty) partials.groupBy()
      else partials.groupBy(keys.map(col): _*)
    grouped.agg(hll_sketch_estimate(hll_sketch_agg_union()).as("distinct_estimate"))
  }

  private def hll_sketch_agg_union(): Column = hll_union_agg(col("hll"))

  // --- KMV (k-minimum-values) distinct-cardinality sketch -------------
  //
  // The HLL family above is the practical production sketch, but its
  // binary registers are engine-private — a DuckDB oracle cannot
  // reproduce them. KMV (Bar-Yossef et al. 2002; unbiased estimator
  // (k-1)·M/U_k from Beyer et al., SIGMOD 2007) is the sketch whose
  // entire state is "the k smallest distinct hash values" — plain
  // integers, so the sketch AND its estimate are bit-reproducible in
  // any engine that shares the hash ([[PortableHash.md5Hash32]]).
  // That buys the oracle discipline the rest of the repo runs on:
  // q139 hash-matches the estimate itself against DuckDB.
  //
  // Scale shape: one distinct over (group, hash) — partial-combined,
  // cardinality-sized output — then a SALTED two-stage bounded top-k
  // (the q135 inverted-index discipline): stage 1 ranks within
  // (group, hash mod salt) so no task ever sorts more than
  // |universe|/salt rows, stage 2 ranks the surviving salt·k rows per
  // group. Sketches from corpus segments merge by "union, keep k
  // smallest" ([[kmvMerge]]) — associative and idempotent, so
  // per-day/per-shard partials fold without re-reading data.

  /** Hash space of [[PortableHash.md5Hash32]]: hashes are uniform in
    * [0, 2^32). */
  val KmvHashSpace: Long = 1L << 32

  /** Distinct md5-derived hashes of the n-token shingle universe per
    * group — the input stream a KMV sketch summarizes. The row-local
    * dedupe runs on the HASHES (array_distinct over longs), not the
    * shingle strings: the pipeline's next step is `distinct` on
    * (group, hash) anyway, so hash-level dedupe is exactly equivalent
    * — and skips materializing a per-document string array. */
  private def shingleHashes(df: DataFrame, groupCol: String, textCol: String,
      shingleN: Int): DataFrame =
    shingleHashesRaw(df, groupCol, textCol, shingleN).distinct()

  /** The per-row hash stream WITHOUT the global (g, h) distinct — the
    * aggregate path's input: row-local dedupe only (array_distinct);
    * cross-document duplicates are absorbed by the SET-semantics
    * aggregator, so no distinct exchange is needed. */
  private def shingleHashesRaw(df: DataFrame, groupCol: String,
      textCol: String, shingleN: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("g"),
        // native one-pass gram hasher — identical values to the
        // shinglesOf + md5Hash32 composition (GramHash32Windows
        // scaladoc; SketchesSpec pins it), no per-window gram string
        explode(array_distinct(graft.functions.GramHash32Windows.of(
          Dedup.tokens(col(textCol)), shingleN))).as("h"))

  /** The ≤k smallest distinct hashes per group, as rows. Salted two-stage
    * top-k: the per-task sort is bounded by |universe|/salt (stage 1)
    * then salt·k (stage 2) — no group-sized single-task sort. */
  private def kmvMinRows(hashes: DataFrame, k: Int, salt: Int): DataFrame = {
    // k=1 would make the estimator (k-1)·M/U_k ≡ 0 and k<=0 an empty
    // frame — both silently wrong rather than failing
    require(k >= 2, s"KMV needs k >= 2, got $k")
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val s1 = Window.partitionBy(col("g"), pmod(col("h"), lit(salt))).orderBy(col("h"))
    val s2 = Window.partitionBy(col("g")).orderBy(col("h"))
    hashes
      .withColumn("_r1", row_number().over(s1)).filter(col("_r1") <= k).drop("_r1")
      .withColumn("_r2", row_number().over(s2)).filter(col("_r2") <= k).drop("_r2")
  }

  /** Estimate from a sketch's (k_used, kth_min): exact when the group's
    * universe fit in the sketch, else (k-1)·M/U_k. Both branches are
    * arithmetic on exact integers — engine-portable to the bit. */
  private def kmvEstimate(k: Int, kUsed: Column, kthMin: Column): Column =
    when(kUsed < k, kUsed.cast("double"))
      .otherwise(lit(((k - 1).toLong * KmvHashSpace).toDouble) / kthMin.cast("double"))

  /** Per-group distinct-cardinality estimate of the n-token shingle
    * universe via a KMV sketch — the oracle-exact mergeable twin of
    * [[approxDistinct]] (whose HLL registers no second engine can
    * check). Output: group, k_used, kth_min, est_distinct. */
  def kmvDistinct(df: DataFrame, groupCol: String, textCol: String,
      shingleN: Int, k: Int, salt: Int = 32): DataFrame =
    kmvSketchEstimate(kmvSketch(df, groupCol, textCol, shingleN, k, salt),
      groupCol, k)

  /** Storable sketch form: per group the sorted ≤k minimum hashes — the
    * whole state is k integers, mergeable with [[kmvMerge]].
    *
    * ONE partial-combined aggregate (round 16, guide §2.3):
    * [[graft.functions.TypedAggs.KmvMinsAggregator]] keeps a ≤k-long
    * set per group per map task, so a single group-keyed exchange of
    * tasks × groups × k longs replaces the windowed form's global
    * (g, h) distinct + salt-stage Window + merge-stage Window (3
    * exchanges, 2 whole-bucket sorts). Values are bit-identical
    * (SketchesSpec pins the windowed twin, [[kmvSketchWindowed]]).
    * `salt` is retained for signature stability; it shaped only the
    * retired windowed execution, never results. */
  def kmvSketch(df: DataFrame, groupCol: String, textCol: String,
      shingleN: Int, k: Int, salt: Int = 32): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    shingleHashesRaw(df, groupCol, textCol, shingleN)
      .groupBy(col("g").as(groupCol))
      .agg(graft.functions.TypedAggs.kmvMinsOf(col("h"), k).as("mins"))
  }

  /** The windowed salted two-stage top-k twin [[kmvSketch]] replaced —
    * kept as the parity reference (SketchesSpec asserts bit-equality
    * on random corpora). */
  private[graft] def kmvSketchWindowed(df: DataFrame, groupCol: String,
      textCol: String, shingleN: Int, k: Int, salt: Int = 32): DataFrame =
    kmvMinRows(shingleHashes(df, groupCol, textCol, shingleN), k, salt)
      .groupBy(col("g").as(groupCol))
      .agg(sort_array(collect_list(col("h"))).as("mins"))

  /** Merge stored sketches (segments/days/shards of the same groups):
    * union the min-sets, keep the k smallest. collect_list is bounded —
    * ≤ k·segments rows reach any group. Merge ≡ sketch-of-union by
    * construction (KmvSketchSpec proves it on random splits). */
  def kmvMerge(sketches: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("h"))
    sketches
      .select(col(groupCol), explode(col("mins")).as("h"))
      .distinct()
      .withColumn("_r", row_number().over(w)).filter(col("_r") <= k).drop("_r")
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("h"))).as("mins"))
  }

  /** Estimate straight from a stored/merged sketch row. */
  def kmvSketchEstimate(sketches: DataFrame, groupCol: String, k: Int): DataFrame =
    sketches.select(col(groupCol),
      size(col("mins")).cast("long").as("k_used"),
      element_at(col("mins"), size(col("mins"))).as("kth_min"))
      .withColumn("est_distinct", kmvEstimate(k, col("k_used"), col("kth_min")))

  import org.apache.spark.sql.SparkSession

  /** Persist per-group KMV sketches under the log-structured segment
    * discipline ([[CorpusStats]]): `dir/data` holds one sketch row per
    * (group, append); `dir/params` the sketch geometry; `dir/meta` the
    * append-only id watermark. Each append touches only its batch; the
    * read folds segment rows — (appends × groups) sketch rows of k
    * integers each, metadata-sized at any corpus size. Because merge ≡
    * sketch-of-union (KmvSketchSpec), the folded estimate is the one a
    * full recompute would produce — q141 hash-checks exactly that. */
  def writeKmvSnapshot(spark: SparkSession, df: DataFrame, idCol: String,
      groupCol: String, textCol: String, shingleN: Int, k: Int,
      dir: String): Unit =
    StoredIndex.build(dir, df, idCol) { (rows, tmp) =>
      ForkFreeLocalFileSystem.write(kmvSketch(rows, groupCol, textCol, shingleN, k))
        .parquet(s"$tmp/data")
      SchemaReader.writeRows(spark, s"$tmp/params", Seq("shingle_n" -> shingleN, "k" -> k))
    }

  /** Fold one new batch into the stored sketch: sketch the batch with
    * the STORED geometry, append one segment, never rewrite. */
  def appendToKmvSnapshot(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, groupCol: String, textCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // params read fails fast BEFORE the meta goes pending
      SchemaReader.collectArtifact(spark, s"$dir/params").head
    } { p =>
      ForkFreeLocalFileSystem.write(kmvSketch(batch, groupCol, textCol,
          p.getAs[Number]("shingle_n").intValue(), p.getAs[Number]("k").intValue()))
        .mode("append").parquet(s"$dir/data")
    }

  /** Current estimate per group: fold all stored segments with
    * [[kmvMerge]] and estimate — raw text is never re-read. */
  def readKmvSnapshot(spark: SparkSession, dir: String,
      groupCol: String): DataFrame = {
    val k = SchemaReader.collectArtifact(spark, s"$dir/params").head
      .getAs[Number]("k").intValue()
    kmvSketchEstimate(
      kmvMerge(SchemaReader.readArtifact(spark, s"$dir/data"), groupCol, k), groupCol, k)
  }
}

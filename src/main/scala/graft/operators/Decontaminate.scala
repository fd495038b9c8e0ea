package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Plans, PortableHash}
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Train/test decontamination: drop corpus documents that share any
  * n-gram with a held-out evaluation set — the standard pre-training
  * hygiene pass (the reference has no analog; this is part of the
  * engine's training-data suite).
  *
  * Shape at 100 TB: the corpus side is the 100 TB table, the test side
  * is tiny (benchmarks are thousands of documents). So the plan must
  * never shuffle the corpus on gram keys: the test set's distinct gram
  * hashes aggregate to a frame small enough to BROADCAST, the corpus
  * streams through a broadcast semi-join in place, and only the matched
  * doc ids (bounded by corpus contamination rate) reach a shuffle. The
  * gram unit is the same w-shingling as the MinHash pipeline
  * ([[Dedup.distinctShingles]]) with the engine's portable hash, so a
  * stored gram index is shareable between dedup and decontamination.
  *
  * For corpora where even the per-doc gram fan-out is too expensive to
  * semi-join twice, [[cleanBloomExact]] pre-screens grams against a
  * Bloom filter of the test set (orders of magnitude smaller than the
  * hash frame) and only bloom-positive grams — a small superset of the
  * true matches — enter the exact join, preserving exactness while the
  * full corpus gram stream never shuffles at all.
  */
object Decontaminate {

  /** (id, gram_hash): distinct n-token-gram hashes per document — the
    * graded faces ([[contaminationFraction]]) count these rows, so the
    * per-document DISTINCT-GRAM-STRING semantics is load-bearing here.
    * A document shorter than `n` tokens contributes no grams (and so
    * can never be flagged). Narrow: explode + projection, no shuffle. */
  def ngramHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(Dedup.distinctShingles(col(textCol), n)).as("_gram"))
      .select(col(idCol), PortableHash.md5Hash32(col("_gram")).as("gram_hash"))

  /** (id, gram_hash) over EVERY n-token window — the MULTISET form the
    * membership screens use ([[contaminatedIds]] / [[cleanBloomExact]] /
    * [[cleanWithStoredArtifact]]): their semi-join + id-distinct only
    * asks "does ANY window hash hit?", and the SET of hashes of a
    * document's distinct gram strings equals the set of its window
    * hashes, so dropping the distinct changes nothing downstream —
    * PROVABLY, not just collision-probably. What it buys: the native
    * one-walk gram hasher ([[graft.functions.GramHash32Windows]])
    * feeds token bytes straight into the digest — no per-window gram
    * STRING build, no array_distinct re-hash of those strings — the
    * same per-task win the KMV/winnow fronts measured. */
  def ngramHashesAll(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.GramHash32Windows.of(
        Dedup.tokens(col(textCol)), n)).as("gram_hash"))

  /** Distinct gram hashes of the test set — the (small) reference side.
    * Hash-then-distinct over every window: the same SET as distinct-
    * strings-then-hash, without the gram-string builds. */
  def testGramSet(test: DataFrame, textCol: String, n: Int): DataFrame =
    test.select(explode(graft.functions.GramHash32Windows.of(
        Dedup.tokens(col(textCol)), n)).as("gram_hash"))
      .distinct()

  /** Ids of corpus documents sharing ≥1 n-gram with `test`. Broadcast
    * semi-join on the gram hash, then one distinct over the (small)
    * matched id set. */
  def contaminatedIds(corpus: DataFrame, idCol: String, textCol: String,
      test: DataFrame, testTextCol: String, n: Int): DataFrame =
    ngramHashesAll(corpus, idCol, textCol, n)
      .join(Plans.broadcastHint(testGramSet(test, testTextCol, n)),
        Seq("gram_hash"), "left_semi")
      .select(col(idCol)).distinct()

  /** The corpus minus contaminated documents, full rows. The
    * contaminated id frame is contamination-rate-sized, so the anti
    * join broadcasts it and the corpus again streams in place. */
  def clean(corpus: DataFrame, idCol: String, textCol: String,
      test: DataFrame, testTextCol: String, n: Int): DataFrame =
    corpus.join(
      Plans.broadcastHint(
        contaminatedIds(corpus, idCol, textCol, test, testTextCol, n)),
      Seq(idCol), "left_anti")

  /** [[clean]] with a Bloom pre-screen: grams are first tested against
    * a Bloom filter built over the test gram hashes (`fpp` false-
    * positive rate); only bloom-positive grams enter the exact
    * semi-join, so false positives are removed and the result equals
    * [[clean]] EXACTLY — the filter only changes how much of the corpus
    * gram stream reaches the join. The filter is built with one
    * aggregation over the test side and shipped in the filter closure
    * (at cluster scale: a broadcast variable of a few MB vs a hash
    * frame of hundreds). */
  def cleanBloomExact(corpus: DataFrame, idCol: String, textCol: String,
      test: DataFrame, testTextCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.BloomBridge
    // checkpointed: the gram set feeds the count, the bloom aggregation
    // and the exact semi-join — without it the test side re-tokenizes
    // and re-shingles once per consumer
    val grams = testGramSet(test, testTextCol, n).localCheckpoint()
    // Native bloom pair (BloomFilterAggregate / BloomFilterMightContain
    // via BloomBridge): the filter builds in ONE distributed aggregation
    // and the pre-screen is a codegen'd predicate — no per-row boxing,
    // no UDF. The serialized filter ships as a constant (at cluster
    // scale: a few MB in the task binary vs a hash frame of hundreds).
    val filterBytes = bloomFromGrams(grams, fpp)
    val candidates = ngramHashesAll(corpus, idCol, textCol, n)
      .filter(BloomBridge.mightContain(filterBytes, col("gram_hash")))
      .join(broadcast(grams), Seq("gram_hash"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(broadcast(candidates), Seq(idCol), "left_anti")
  }

  /** Per-document contamination FRACTION vs the test set — the graded
    * form of [[contaminatedIds]]'s any-hit rule, and the judgment most
    * curation pipelines actually apply: a document is dirty when at
    * least `threshold` of its distinct n-grams appear in the eval set,
    * so one incidentally-shared gram no longer nukes a long document.
    * Returns `(idCol, n_grams, n_hit, hit_frac, contaminated)`; a
    * document shorter than `n` tokens has no grams and cannot be judged
    * (n_grams = 0, hit_frac = 0.0, contaminated = false).
    *
    * Scale shape: the per-doc gram TOTAL is row-local
    * (`size(distinctShingles)` — no shuffle), and only grams surviving
    * the broadcast semi-join against the tiny test gram set reach the
    * doc-keyed count, so the one real shuffle is bounded by the
    * corpus's contamination rate, and the hit counts broadcast back
    * onto the row-local totals. The corpus is read twice (totals +
    * gram stream) but never shuffled whole. */
  def contaminationFraction(corpus: DataFrame, idCol: String, textCol: String,
      test: DataFrame, testTextCol: String, n: Int, threshold: Double): DataFrame = {
    val totals = corpus.select(col(idCol),
      size(Dedup.distinctShingles(col(textCol), n)).cast("long").as("n_grams"))
    val hits = ngramHashes(corpus, idCol, textCol, n)
      .join(Plans.broadcastHint(testGramSet(test, testTextCol, n)),
        Seq("gram_hash"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    val frac = graft.functions.PortableRound.round4(
      when(col("n_grams") > 0, col("n_hit").cast("double") / col("n_grams"))
        .otherwise(lit(0.0)))
    totals.join(Plans.broadcastHint(hits), Seq(idCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("hit_frac", frac)
      .withColumn("contaminated", col("hit_frac") >= threshold)
  }

  /** The serialized bloom filter over an ALREADY-built gram-hash frame
    * — callers that also consume the grams themselves pass a
    * checkpointed frame so the test side is derived once. */
  private def bloomFromGrams(grams: DataFrame, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.graftbridge.BloomBridge
    val expected = math.max(1L, grams.count())
    grams.agg(BloomBridge.bloomAgg(col("gram_hash"), expected, fpp).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Persist the decontamination reference as a reusable artifact:
    * `dir/grams` = the exact distinct test gram hashes, `dir/bloom` =
    * one row (serialized bloom over those hashes, gram size n). Build
    * once per eval-set release; every later batch or stream screens
    * against the frozen copy — the stored-weights/vocab discipline, so
    * the hygiene gate cannot drift with corpus growth and the eval set
    * itself never ships to consumers (hashes only). */
  def writeDecontamArtifact(spark: org.apache.spark.sql.SparkSession,
      test: DataFrame, testTextCol: String, n: Int, dir: String,
      fpp: Double = 0.01): Unit = {
    val grams = testGramSet(test, testTextCol, n).localCheckpoint()
    ForkFreeLocalFileSystem.write(grams).mode("overwrite").parquet(s"$dir/grams")
    SchemaReader.writeRows(spark, s"$dir/bloom",
      Seq("bloom" -> bloomFromGrams(grams, fpp), "n" -> n))
  }

  /** [[cleanBloomExact]] against the STORED artifact: the bloom is a
    * one-row pull folded into the codegen'd pre-screen predicate at
    * plan build; only bloom-positive grams enter the exact semi-join
    * against the stored gram set, so the result is exactly [[clean]]
    * with the artifact's test set — no recomputation of the reference
    * side, corpus gram stream never shuffles. */
  def cleanWithStoredArtifact(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.BloomBridge
    val row = SchemaReader.collectArtifact(spark, s"$dir/bloom").head
    val filterBytes = row.getAs[Array[Byte]]("bloom")
    val n = row.getAs[Number]("n").intValue()
    val grams = SchemaReader.readArtifact(spark, s"$dir/grams")
    val candidates = ngramHashesAll(corpus, idCol, textCol, n)
      .filter(BloomBridge.mightContain(filterBytes, col("gram_hash")))
      .join(broadcast(grams), Seq("gram_hash"), "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(broadcast(candidates), Seq(idCol), "left_anti")
  }

  /** STREAMING decontamination pre-screen: drop stream documents whose
    * n-grams hit the (pre-built, task-constant) test bloom. Entirely
    * row-local — the gram array and the `exists` probe are one narrow
    * codegen'd projection, so the stream needs NO state, no join, no
    * watermark for this stage. Semantics are the bloom's: zero false
    * negatives (everything truly contaminated is dropped), `fpp`-rate
    * false positives (clean docs over-dropped) — the ingest-side trade;
    * batch exactness, when needed, reruns [[cleanBloomExact]]'s exact
    * semi-join over the retained corpus. */
  def streamCleanBloom(stream: DataFrame, textCol: String,
      filterBytes: Array[Byte], n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.BloomBridge
    // every-window hashes (native one-walk): same hash SET as the
    // distinct-gram form, so the `exists` probe is provably unchanged
    val gramHashes = graft.functions.GramHash32Windows.of(
      Dedup.tokens(col(textCol)), n)
    stream.filter(
      !exists(gramHashes, h => BloomBridge.mightContain(filterBytes, h)))
  }

  /** SEMANTIC decontamination: embedding-cosine screen of the training
    * corpus against a benchmark set — the leakage class the n-gram
    * passes above cannot see. Verbatim and near-verbatim contamination
    * shares grams; a PARAPHRASED test item (reworded question,
    * re-translated passage) shares none, but its embedding stays close —
    * this emits every (test_id, train_id) whose cosine clears
    * `threshold`, the audit list a removal pass consumes (same
    * output-contract idea as [[clean]]'s flag list).
    *
    * Scale shape (the q83 discipline, cross-corpus): candidates come
    * from a sign-bucket EQUI-join — hash join on the bucket key, never
    * train×test — with the exact rounded cosine verifying inside the
    * join condition so only survivors materialize. The benchmark side
    * is ingest-sized and BROADCASTS. The train side is first PROJECTED
    * to (bucket, id, vec) and then takes one explicit-N round-robin
    * exchange — the [[Similarity.bucketedNearDupPairs]] trade: the
    * verify stage is tiny-bytes/heavy-CPU and AQE would coalesce it
    * onto a handful of cores without the explicit spread. What moves
    * is the projected id+vector columns, never the corpus' text/
    * payload; drop to a plain `.filter`-side join if the input's
    * partitioning already spreads the vectors. Recall is the
    * sign-bucket bound in `nBits` (a
    * threshold-clearing pair in different buckets is missed — the same
    * declared trade as q83; raise recall by lowering nBits or probing
    * neighbor buckets upstream). */
  def semanticScreen(train: DataFrame, trainIdCol: String, trainVecCol: String,
      test: DataFrame, testIdCol: String, testVecCol: String,
      threshold: Double, nBits: Int = 8): DataFrame = {
    val nPart = Plans.shufflePartitions(train)
    val tr = train.select(
      Similarity.signBucket(col(trainVecCol), nBits).as("_bucket"),
      col(trainIdCol).as("train_id"), col(trainVecCol).as("_tv"))
      .repartition(nPart)
    val te = test.select(
      Similarity.signBucket(col(testVecCol), nBits).as("_bucket"),
      col(testIdCol).as("test_id"), col(testVecCol).as("_qv"))
    val sim = graft.functions.PortableRound.round4(
      Similarity.cosine(col("_tv"), col("_qv")))
    tr.join(Plans.broadcastHint(te),
        tr("_bucket") === te("_bucket") && sim >= threshold)
      .select(col("test_id"), col("train_id"), sim.as("cos_sim"))
  }

  /** [[semanticScreen]] with [[Similarity.autoSignBits]] width sizing
    * — the declared corpus-scale face (the q83→q144 pairing, applied
    * cross-corpus): a frozen nBits makes the screen block-quadratic as
    * the train corpus grows (per-bucket occupancy, and so per-test-doc
    * verify work, grows linearly with the corpus); auto-sizing the
    * width off the TRAIN side keeps expected bucket occupancy
    * ~targetBucket, so total verify work stays ~|test|·targetBucket —
    * linear in the benchmark, constant-per-test-doc in the corpus.
    * Semantics at the chosen width are IDENTICAL to the fixed-nBits
    * screen (spec-asserted); only the parameter is picked. */
  def semanticScreenAuto(train: DataFrame, trainIdCol: String,
      trainVecCol: String, test: DataFrame, testIdCol: String,
      testVecCol: String, threshold: Double,
      targetBucket: Long = 64L): DataFrame =
    semanticScreen(train, trainIdCol, trainVecCol, test, testIdCol,
      testVecCol, threshold,
      Similarity.autoSignBits(train, trainVecCol, targetBucket))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.sources.SchemaReader

/** DSIR-style importance weighting: score every document by how much
  * its hashed n-gram feature distribution looks like a TARGET corpus
  * relative to the RAW corpus (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling" — the hashed-feature
  * log-likelihood-ratio estimator, here over unigram buckets).
  *
  * Portability design (the whole point of the micro-unit dance): each
  * bucket's log-ratio
  *
  *   w_b = ln(t_b + 1) + ln(R + B) − ln(r_b + 1) − ln(T + B)
  *
  * is computed ONCE over exact integer counts and immediately quantized
  * to integer micro-units (×10⁴, half-up floor). Per-document scores
  * are then pure 64-bit integer sums — associative, order-independent,
  * and bitwise-reproducible in any engine — and the final score is one
  * IEEE division by 10⁴. The only float op shared with an oracle is
  * ln over small integers, whose 1-ulp cross-engine wiggle would have
  * to land exactly on a 0.5e-4 quantization boundary to matter.
  *
  * Scale shape (100 TB): the distribution pass is one explode + one
  * B-key aggregation (map-side combined, B rows out); the B bucket
  * weights travel to every task as a literal array (bounded collect,
  * same discipline as the IVF centroid pull); the scoring pass is a
  * row-local array fold — the corpus text itself NEVER shuffles, and
  * adding the score column is a map-only plan stage.
  */
object Importance {

  /** Per-bucket micro-unit log-ratio weights (index = bucket id).
    * `targetPred` marks the target-domain rows (evaluated before the
    * token explode, so it may reference any document column). */
  def bucketWeightsMicro(docs: DataFrame, textCol: String,
      targetPred: Column, buckets: Int): Array[Long] = {
    require(buckets > 0 && buckets <= 4096, s"buckets must be in [1,4096], got $buckets")
    val counts = docs
      .filter(col(textCol).isNotNull)
      .select(explode(Dedup.tokens(col(textCol))).as("_t"), targetPred.as("_tgt"))
      .groupBy((PortableHash.md5Hash32(col("_t")) % buckets).as("_b"))
      .agg(count(lit(1)).as("_r"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("_t"))
      .collect()                                  // ≤ `buckets` rows — bounded
    val r = Array.fill[Long](buckets)(0L)
    val t = Array.fill[Long](buckets)(0L)
    counts.foreach { row =>
      r(row.getLong(0).toInt) = row.getLong(1); t(row.getLong(0).toInt) = row.getLong(2)
    }
    val rTot = r.sum; val tTot = t.sum
    Array.tabulate(buckets) { b =>
      val w = math.log(t(b) + 1.0) + math.log(rTot + buckets.toDouble) -
        math.log(r(b) + 1.0) - math.log(tTot + buckets.toDouble)
      math.floor(w * 10000.0 + 0.5).toLong
    }
  }

  /** The row-local scoring projection shared by the inline, stored, and
    * streaming faces: (id, n_tokens, dsir_score). */
  private def score(docs: DataFrame, idCol: String, textCol: String,
      wMicro: Array[Long]): DataFrame = {
    val buckets = wMicro.length
    val wArr = array(wMicro.map(lit(_)): _*)
    val toks = Dedup.tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L),
          (acc, tk) => acc + element_at(wArr,
            (PortableHash.md5Hash32(tk) % buckets).cast("int") + 1)).as("_micro"))
      .withColumn("dsir_score", col("_micro").cast("double") / 10000.0)
      .drop("_micro")
  }

  /** (id, n_tokens, dsir_score) per document: the sum of its tokens'
    * bucket log-ratios (micro-units → one final /10⁴). Higher = more
    * target-like; `exp(score)` is the unnormalized importance-resampling
    * weight. Null-text documents are dropped (they have no features). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 64): DataFrame =
    score(docs, idCol, textCol,
      bucketWeightsMicro(docs, textCol, targetPred, buckets))

  /** Persist the bucket weights as a reusable scoring artifact
    * (`dir/data`: one row per bucket; `dir/params`: bucket count).
    * Train once on a corpus snapshot, score every later batch or stream
    * against the frozen distribution — the selection-policy analog of
    * the stored signature/ANN indexes (a score must not drift because
    * the raw corpus grew). */
  def writeBucketWeights(docs: DataFrame, textCol: String, targetPred: Column,
      buckets: Int, dir: String): Unit = {
    val w = bucketWeightsMicro(docs, textCol, targetPred, buckets)
    writeModel(docs.sparkSession, dir, "bucket", w, buckets)
  }

  /** Hashed-bigram LM cross-entropy micro-weights, flattened to a
    * B×B array (index = ctx_bucket * B + next_bucket). The model is the
    * CCNet-style perplexity quality filter (Wenzek et al. 2020) with
    * the external KenLM replaced by an in-engine add-one-smoothed
    * conditional bigram model over a hashed vocab of B word classes —
    * every log-prob
    *
    *   ll(b1,b2) = ln(c(b1,b2) + 1) − ln(c(b1) + B)
    *
    * is computed once over exact integer counts (c(b1) = Σ_b2 c(b1,b2),
    * so unseen pairs get −ln(c(b1)+B) and unseen contexts −ln(B)) and
    * quantized to micro-units, exactly the [[bucketWeightsMicro]]
    * portability dance. Training counts come from the `targetPred`
    * subset only, so scoring measures "how target-like does this text
    * read", not self-fit. */
  def bigramWeightsMicro(docs: DataFrame, textCol: String,
      targetPred: Column, buckets: Int): Array[Long] = {
    require(buckets > 0 && buckets <= 64,
      s"buckets must be in [1,64] (weight table is buckets^2), got $buckets")
    val toks = Dedup.tokens(col(textCol))
    val pairs = docs
      .filter(targetPred && col(textCol).isNotNull)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(
          (PortableHash.md5Hash32(a) % buckets).as("b1"),
          (PortableHash.md5Hash32(b) % buckets).as("b2")))).as("_p"))
      .groupBy(col("_p.b1").as("_b1"), col("_p.b2").as("_b2"))
      .agg(count(lit(1)).as("_c"))
      .collect()                                  // ≤ buckets² rows — bounded
    val c12 = Array.fill[Long](buckets * buckets)(0L)
    pairs.foreach { row =>
      c12(row.getLong(0).toInt * buckets + row.getLong(1).toInt) = row.getLong(2)
    }
    val c1 = Array.tabulate(buckets) { b =>
      (0 until buckets).map(j => c12(b * buckets + j)).sum
    }
    Array.tabulate(buckets * buckets) { i =>
      val w = math.log(c12(i) + 1.0) - math.log(c1(i / buckets) + buckets.toDouble)
      math.floor(w * 10000.0 + 0.5).toLong
    }
  }

  /** (id, n_tokens, n_bigrams, bigram_xent) per document with ≥ 2
    * tokens: xent is the mean negative log-likelihood (nats/bigram) of
    * the document's adjacent-token pairs under the hashed bigram model —
    * the CCNet filter ranks docs by this and keeps the low-perplexity
    * (target-like) head/middle. Perplexity itself is `exp(xent)`; we
    * emit the xent to keep libm `exp` off the cross-engine surface.
    * Scoring is a row-local array fold over a broadcast-literal table —
    * map-only, text never shuffles, same scale shape as [[dsirWeights]]. */
  def bigramXent(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 32): DataFrame =
    xentScore(docs, idCol, textCol,
      bigramWeightsMicro(docs, textCol, targetPred, buckets), buckets)

  /** The row-local xent projection shared by the inline, stored, and
    * streaming faces: (id, n_tokens, n_bigrams, bigram_xent). */
  private def xentScore(docs: DataFrame, idCol: String, textCol: String,
      wMicro: Array[Long], buckets: Int): DataFrame = {
    val wArr = array(wMicro.map(lit(_)): _*)
    val toks = Dedup.tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull && size(Dedup.tokens(col(textCol))) >= 2)
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(
          zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => (PortableHash.md5Hash32(a) % buckets) * buckets +
              (PortableHash.md5Hash32(b) % buckets)),
          lit(0L),
          (acc, i) => acc + element_at(wArr, i.cast("int") + 1)).as("_micro"))
      .withColumn("n_bigrams", col("n_tokens") - 1L)
      .withColumn("bigram_xent",
        (-col("_micro")).cast("double") / 10000.0 / col("n_bigrams"))
      .drop("_micro")
      .select(col(idCol), col("n_tokens"), col("n_bigrams"), col("bigram_xent"))
  }

  /** Persist the hashed-bigram LM as a reusable scoring artifact
    * (`dir/data`: one row per (ctx, next) bucket pair; `dir/params`:
    * bucket count) — the [[writeBucketWeights]] discipline applied to
    * the q105 perplexity filter: train the LM once on a corpus
    * snapshot's target subset, score every later batch or stream
    * against the frozen table so a document's quality score can never
    * drift because the training corpus grew. */
  def writeBigramModel(docs: DataFrame, textCol: String, targetPred: Column,
      buckets: Int, dir: String): Unit = {
    val w = bigramWeightsMicro(docs, textCol, targetPred, buckets)
    writeModel(docs.sparkSession, dir, "idx", w, buckets)
  }

  /** A weight table as `dir/data` (one (`indexCol`, w_micro) row per
    * weight) and its bucket count as `dir/params`, both written on the
    * driver. */
  private def writeModel(spark: SparkSession, dir: String, indexCol: String,
      w: Array[Long], buckets: Int): Unit = {
    SchemaReader.writeRows(spark, s"$dir/data",
      w.toSeq.zipWithIndex.map { case (m, i) => Seq(indexCol -> i, "w_micro" -> m) }: _*)
    SchemaReader.writeRows(spark, s"$dir/params", Seq("buckets" -> buckets))
  }

  /** A stored model's weights, placed by `indexCol`, and its bucket
    * count: both read on the driver. */
  private def readModel(spark: SparkSession, dir: String,
      indexCol: String): (Array[Long], Int) = {
    val rows = SchemaReader.collectArtifact(spark, s"$dir/data")
    val w = new Array[Long](rows.size)
    rows.foreach(r => w(r.getAs[Number](indexCol).intValue()) =
      r.getAs[Number]("w_micro").longValue())
    (w, SchemaReader.collectArtifact(spark, s"$dir/params")
      .head.getAs[Number]("buckets").intValue())
  }

  /** Score a batch OR streaming frame against a stored bigram LM. The
    * B²-row artifact is bounded-collected at plan-build time; scoring
    * is the same stateless row-local fold, so a stream scores every
    * micro-batch against the frozen model with no state store. */
  def bigramXentWithStoredModel(df: DataFrame, idCol: String, textCol: String,
      dir: String): DataFrame = {
    val (w, buckets) = readModel(df.sparkSession, dir, "idx")
    xentScore(df, idCol, textCol, w, buckets)
  }

  /** Score a batch OR streaming frame against stored bucket weights.
    * The artifact is read (and bounded-collected) at plan-build time;
    * the scoring itself is the same stateless row-local projection, so
    * on a stream every micro-batch scores against the frozen weights
    * with no state store. */
  def scoreWithStoredWeights(df: DataFrame, idCol: String, textCol: String,
      dir: String): DataFrame =
    score(df, idCol, textCol, readModel(df.sparkSession, dir, "bucket")._1)
}

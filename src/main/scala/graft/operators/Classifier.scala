package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.sources.SchemaReader

/** Model-based quality classification — the GPT-3 / DCLM / FineWeb-Edu
  * move: train a cheap linear text classifier to distinguish a
  * REFERENCE corpus (curated sources) from the raw crawl, then score
  * every document and keep the reference-like ones. This is distinct
  * from [[Importance]] (DSIR): DSIR reweights toward a target token
  * DISTRIBUTION with no labels or train/apply separation; here a
  * supervised model is fit on a LABELED training split and applied to
  * held-out documents, with the fitted weights persistable as a
  * versioned artifact (so the selection policy is frozen even as the
  * corpus grows — the q101/q115 stored-artifact discipline).
  *
  * The model is multinomial Naive Bayes over hashed unigram buckets
  * (the fastText-without-embeddings baseline): per bucket b the
  * log-odds weight is
  *
  *   w_b = [ln(pos_b + 1) − ln(posTot + B)] − [ln(neg_b + 1) − ln(negTot + B)]
  *
  * plus a document-count prior bias ln(nPos + 1) − ln(nNeg + 1); a
  * document's score is the bias plus the sum of its tokens' bucket
  * weights, and `keep` ⟺ score > 0 (posterior odds favor the
  * reference class).
  *
  * Portability: each ln is quantized ONCE to integer 10⁻⁴ units over
  * exact integer counts (the q98 micro-unit dance), so per-document
  * scores are order-free int64 sums — bitwise-reproducible in the
  * DuckDB oracle — and the final score is one IEEE division.
  *
  * Scale shape (100 TB): training is one explode + one B-key
  * aggregation over the (sampled, bounded) labeled split; the fitted
  * model is B+1 integers, shipped to every task as a literal array;
  * scoring is a row-local array fold — MAP-ONLY, text never shuffles,
  * and a stream scores micro-batches against the frozen weights with
  * no state store.
  */
object Classifier {

  private def lnq4(x: Double): Long = math.floor(math.log(x) * 10000.0 + 0.5).toLong

  /** Fit NB log-odds bucket weights on the labeled `train` split.
    * Returns (bucket weights in 10⁻⁴ units, prior bias in 10⁻⁴ units).
    * `posPred` labels the reference-class rows (evaluated before the
    * token explode, so it may use any document column). */
  def trainNbMicro(train: DataFrame, textCol: String, posPred: Column,
      buckets: Int): (Array[Long], Long) = {
    require(buckets > 0 && buckets <= 4096, s"buckets must be in [1,4096], got $buckets")
    // checkpointed: the token-bucket aggregate AND the doc-count pass
    // below both collect() — without it an expensive upstream plan
    // (filter/sample lineage) executes twice
    val base = train.filter(col(textCol).isNotNull).localCheckpoint()
    val rows = base
      .select(explode(Dedup.tokens(col(textCol))).as("_t"), posPred.as("_pos"))
      .groupBy((PortableHash.md5Hash32(col("_t")) % buckets).as("_b"))
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("_p"),
        sum(when(col("_pos"), 0L).otherwise(1L)).as("_n"))
      .collect()                                  // ≤ `buckets` rows — bounded
    val p = Array.fill[Long](buckets)(0L)
    val n = Array.fill[Long](buckets)(0L)
    rows.foreach { r =>
      p(r.getLong(0).toInt) = r.getLong(1); n(r.getLong(0).toInt) = r.getLong(2)
    }
    val pTot = p.sum; val nTot = n.sum
    val docCounts = base
      .select(sum(when(posPred, 1L).otherwise(0L)).as("p"),
        sum(when(posPred, 0L).otherwise(1L)).as("n"))
      .collect()(0)
    val w = Array.tabulate(buckets) { b =>
      (lnq4(p(b) + 1.0) - lnq4(pTot + buckets.toDouble)) -
        (lnq4(n(b) + 1.0) - lnq4(nTot + buckets.toDouble))
    }
    val bias = lnq4(docCounts.getLong(0) + 1.0) - lnq4(docCounts.getLong(1) + 1.0)
    (w, bias)
  }

  /** Row-local scoring against fitted weights: (id, n_tokens,
    * clf_score, keep). Map-only; works identically on a stream. */
  def scoreWithWeights(docs: DataFrame, idCol: String, textCol: String,
      wMicro: Array[Long], biasMicro: Long): DataFrame = {
    val buckets = wMicro.length
    val wArr = array(wMicro.map(lit(_)): _*)
    val toks = Dedup.tokens(col(textCol))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(biasMicro),
          (acc, tk) => acc + element_at(wArr,
            (PortableHash.md5Hash32(tk) % buckets).cast("int") + 1)).as("_micro"))
      .withColumn("clf_score", col("_micro").cast("double") / 10000.0)
      .withColumn("keep", col("_micro") > 0L)
      .drop("_micro")
  }

  /** Persist the fitted model as a reusable artifact: `weights/`
    * (bucket, w_micro — B rows) + `meta/` (bias_micro, n_buckets). */
  def writeModelArtifact(spark: SparkSession, dir: String,
      wMicro: Array[Long], biasMicro: Long): Unit = {
    SchemaReader.writeRows(spark, s"$dir/weights",
      wMicro.toSeq.zipWithIndex.map { case (w, b) => Seq("bucket" -> b, "w_micro" -> w) }: _*)
    SchemaReader.writeRows(spark, s"$dir/meta",
      Seq("bias_micro" -> biasMicro, "n_buckets" -> wMicro.length))
  }

  /** Score against the STORED model: the artifact (B+1 rows, bounded)
    * is read on the driver at plan-build time and folded into the row
    * expression — scoring stays map-only and stateless on streams, and
    * the selection policy cannot drift as the corpus grows. */
  def scoreWithStoredModel(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val meta = SchemaReader.collectArtifact(spark, s"$dir/meta").head
    val bias = meta.getLong(0); val buckets = meta.getInt(1)
    val w = Array.fill[Long](buckets)(0L)
    SchemaReader.collectArtifact(spark, s"$dir/weights")
      .foreach(r => w(r.getInt(0)) = r.getLong(1))
    scoreWithWeights(docs, idCol, textCol, w, bias)
  }
}

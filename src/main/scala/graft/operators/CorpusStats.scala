package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Incremental corpus accounting: a persisted per-source statistics
  * snapshot maintained by MERGEABLE aggregates (counts, sums, min/max)
  * under the log-structured-segment discipline the retrieval index
  * established — every append writes a new batch-sized segment and
  * never rewrites existing files; reading folds segments with one
  * cardinality-sized aggregate. Because every statistic is an exact
  * mergeable aggregate, segment-fold ≡ full recompute by construction
  * (CorpusStatsSpec proves it on random splits).
  *
  * Scale shape: each append touches only its batch (one pass, one
  * source-keyed partial agg); the read aggregates segment rows, whose
  * count is (number of appends) × (source cardinality) — metadata-sized
  * at any corpus size. The append-only id discipline (shared
  * [[StoredIndex]] meta) keeps accidental re-appends of already-counted
  * rows out.
  */
object CorpusStats {

  /** Per-source mergeable partials for one batch. */
  private def partials(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(col(srcCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col(textCol)))).cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        min(col(idCol).cast("long")).as("min_doc_id"),
        max(col(idCol).cast("long")).as("max_doc_id"))

  /** Create the snapshot from an initial corpus batch. */
  def writeStatsSnapshot(spark: SparkSession, df: DataFrame, idCol: String,
      textCol: String, srcCol: String, dir: String): Unit =
    StoredIndex.build(dir, df, idCol) { (rows, tmp) =>
      ForkFreeLocalFileSystem.write(partials(rows, idCol, textCol, srcCol)).parquet(s"$tmp/data")
    }

  /** Fold one new batch into the snapshot: batch-sized work, a new
    * segment appended, existing files untouched. */
  def appendToStatsSnapshot(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, srcCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol)(()) { _ =>
      ForkFreeLocalFileSystem.write(partials(batch, idCol, textCol, srcCol))
        .mode("append").parquet(s"$dir/data")
    }

  /** Current snapshot: segments folded by re-aggregation (sum-of-sums,
    * min-of-mins, …) + the derived mean — identical to recomputing over
    * the full corpus because every statistic is mergeable. */
  def readStatsSnapshot(spark: SparkSession, dir: String): DataFrame =
    SchemaReader.readArtifact(spark, s"$dir/data")
      .groupBy(col("source"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("min_doc_id")).as("min_doc_id"),
        max(col("max_doc_id")).as("max_doc_id"))
      .withColumn("avg_doc_tokens",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))
}

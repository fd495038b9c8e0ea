package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot maintenance: diff two versions of a keyed document
  * table, and apply a change batch (upserts + deletes) to a base
  * snapshot — the moves an incrementally-maintained training corpus
  * runs between full rebuilds (no analog in the reference's job suite;
  * part of the engine's training-data pipeline).
  *
  * Scale shape for both: document text is digested ROW-LOCALLY
  * (md5 in the projection before any exchange), so the joins shuffle
  * only (id, 32-byte digest) pairs — never document bodies. At 100 TB
  * that is the difference between a metadata-sized shuffle and
  * re-shuffling the corpus. `apply`'s change batch is ingest-sized and
  * broadcasts; the base never shuffles at all.
  */
object SnapshotDiff {

  /** Per-document delta between two snapshot versions, keyed by
    * `idCol`: `added` (only in `newer`), `removed` (only in `older`),
    * `changed` (in both, content digest differs). Unchanged documents
    * are not emitted — the output is delta-sized, which is what makes
    * the report cheap to store and act on. Digests are computed in the
    * narrow projection, so the full-outer join shuffles ids + digests
    * only. */
  def diff(older: DataFrame, newer: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // presence flags, not digest nullness, decide added/removed:
    // md5(null text) is null, so a null-text row present on one side
    // would otherwise be conflated with an absent row (a removed
    // null-text doc reported "added", a nulled-out text missed as
    // "changed")
    val o = older.select(col(idCol), md5(col(textCol)).as("old_digest"),
      lit(true).as("_in_old"))
    val n = newer.select(col(idCol), md5(col(textCol)).as("new_digest"),
      lit(true).as("_in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("old_digest") <=> col("new_digest")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"), col("old_digest"), col("new_digest"))
  }

  /** Apply a change batch to a base snapshot: rows of `changes` with
    * `deleteCol` true delete their key, the rest upsert (replace-or-
    * insert whole rows). Batch keys are assumed unique (one change per
    * key per batch — the ingest contract; enforce upstream with
    * [[Dedup.keepBest]]). The batch is ingest-sized → broadcast into
    * the anti-join, so the base streams through unshuffled: the apply
    * is a map-side pass over the base plus a union of the batch-sized
    * upserts. */
  def applyChanges(base: DataFrame, changes: DataFrame, idCol: String,
      deleteCol: String): DataFrame = {
    val keys = graft.functions.Plans.broadcastHint(changes.select(col(idCol)))
    // a null delete flag must mean UPSERT, not silent deletion: the
    // key is removed from base unconditionally below, and !null is
    // null, so an unguarded filter would drop the row from the re-add
    val upserts = changes
      .filter(!coalesce(col(deleteCol), lit(false))).drop(deleteCol)
    base.join(keys, Seq(idCol), "left_anti").unionByName(upserts)
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Checkpoint policy for the iterative operators (connected
  * components, PageRank): per-round lineage truncation is mandatory
  * (plans must not grow with iterations), but WHERE the truncated
  * state lives is a deployment decision.
  *
  *  - Default: `localCheckpoint()` — executor block storage. Fastest
  *    (no DFS round trip) and correct on a stable cluster or
  *    local[N]; lost if an executor dies mid-loop, which on a
  *    preemptible 1000-node cluster means the whole job restarts.
  *  - `spark.graft.checkpointDir=<dfs path>` (runtime-settable):
  *    RELIABLE `Dataset.checkpoint()` — state is written to the DFS
  *    dir, so executor loss costs one task retry instead of the job.
  *    The right mode for spot/preemptible fleets; pay one distributed
  *    write per round for it.
  *
  * Results are IDENTICAL in both modes (CheckpointsSpec pins this) —
  * only failure-recovery economics differ. Storage lifecycle: each
  * iterative loop calls [[release]] on superseded rounds, which frees
  * local-checkpoint blocks AND (reliable mode) deletes that round's
  * checkpoint files eagerly — without the eager delete a loop would
  * leak one DFS file generation per round until driver GC + the
  * ContextCleaner (and only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`) got to it.
  * The NON-iterative [[stable]] fences (the Dedup materializations)
  * have no release hook: in reliable mode the engine never deletes
  * their files. They stay until the ContextCleaner removes them after
  * the frame is garbage-collected, and it does so only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false) — otherwise until the checkpoint dir is cleaned. */
object Checkpoints {

  // the conf value last passed to setCheckpointDir and the dir the
  // context reported right after: SparkContext stores a fs-QUALIFIED,
  // UUID-suffixed path, so comparing getCheckpointDir against the raw
  // string never matches — without this memo every stable() call would
  // re-invoke setCheckpointDir, paying a mkdirs and scattering state
  // across one UUID dir per round. A context whose dir differs from the
  // memo (a new context, or a direct setCheckpointDir elsewhere) is
  // re-pointed, so reliable fences land under the conf's dir.
  @volatile private var pointedAt: (String, Option[String]) = (null, None)

  /** Truncate lineage: reliable checkpoint when
    * `spark.graft.checkpointDir` is set, local otherwise. Eager in
    * both modes (the iterative callers count on materialization). */
  def stable(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        if (pointedAt != ((dir, sc.getCheckpointDir))) {
          sc.setCheckpointDir(dir)
          pointedAt = (dir, sc.getCheckpointDir)
        }
        df.checkpoint()
      case _ => df.localCheckpoint()
    }

  /** Release the storage behind a [[stable]] frame once dead: for a
    * local checkpoint this frees its executor blocks; for a reliable
    * one it DELETES the round's checkpoint files eagerly (see
    * [[CheckpointBridge]] — the loop-leak rationale is in the object
    * doc above). Call it only once the frame is truly dead: any later
    * action on it, or on a sibling still reading its files, fails. */
  def release(df: Dataset[_]): Unit = CheckpointBridge.release(df)
}

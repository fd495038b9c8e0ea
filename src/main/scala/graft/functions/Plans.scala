package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

/** Shared plan-shaping helpers for the engine's operators. */
object Plans {

  /** Per-partition byte target for the VOLUME-AWARE fan-out below.
    * Deliberately finer-grained than AQE's 64–256 MB advisory: the
    * stages sized by [[shufflePartitions]] are CPU-heavy per byte
    * (quadratic pair enumeration/verification over kilobyte rows), so
    * partitions carry far more compute than their bytes suggest. */
  val FanoutBytesPerPartition: Long = 16L * 1024 * 1024

  /** The engine's explicit-N fan-out for CPU-heavy, small-byte stages
    * (`repartition(n)` is exempt from AQE coalescing — byte-based
    * coalescing would serialize quadratic pair work). One definition so
    * every operator agrees.
    *
    * VOLUME-AWARE (round-16, guide §2): N = clamp(estimated input
    * bytes / [[FanoutBytesPerPartition]],
    * floor = min(defaultParallelism, cap),
    * cap = `spark.sql.shuffle.partitions`) instead of the session
    * constant alone. The floor keeps every core busy (these stages are
    * CPU-bound — idle cores are pure waste, and the round-16
    * FanoutProbe measured cap as optimal for the token-verify family
    * at bench SF); the cap bounds scheduler pressure; in between the
    * fan-out grows with the DATA, so an ingest-batch-sized probe on a
    * 12000-partition cluster session no longer pays a 12000-task
    * round-robin exchange for kilobytes of batch. Unknown statistics
    * (checkpoint-backed inputs surface Long.MaxValue-ish defaults)
    * fall back to the cap — the pre-round-16 behavior. */
  def shufflePartitions(df: DataFrame): Int = {
    val sess = df.sparkSession
    val cap = sess.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val floor = math.min(cap, sess.sparkContext.defaultParallelism)
    estimatedBytes(df).fold(cap) { bytes =>
      math.max(floor.toLong, math.min(cap.toLong,
        (bytes + FanoutBytesPerPartition - 1) / FanoutBytesPerPartition)).toInt
    }
  }

  /** THE write-size gate: an input whose estimate fits one
    * [[FanoutBytesPerPartition]] is written by one task with no
    * exchange (`coalesce(1)`: one file per output directory, one job);
    * a larger or unknown one takes `atScale`, the write's distributed
    * shape. */
  def sizedForWrite(df: DataFrame)(atScale: DataFrame => DataFrame): DataFrame =
    if (estimatedBytes(df).exists(_ <= FanoutBytesPerPartition)) df.coalesce(1) else atScale(df)

  /** The optimizer's size estimate of `df`, None when it has no real
    * one: a streaming frame has no batch optimizedPlan (checkForBatch
    * throws), and leaves without statistics (RDD- or checkpoint-backed)
    * report `spark.sql.defaultSizeInBytes`, Long.MaxValue by default —
    * anything over 1 PiB or not positive reads as unknown. */
  private def estimatedBytes(df: DataFrame): Option[Long] =
    if (df.isStreaming) None
    else Some(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      .filter(b => b > 0 && b <= BigInt(1L << 50)).map(_.toLong)

  // THE broadcast decision reads the session here and nowhere else: no
  // operator carries a per-call flag, and a threshold ≤ 0 (Spark's own
  // broadcasting-off switch) turns every hint below off with it.
  private def broadcastLimit: Long =
    org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold

  /** Row ceiling for hinting a side whose size the optimizer cannot
    * see (a checkpoint-backed frame carries no statistics) by its row
    * count alone: at or below it the side goes through
    * [[broadcastHint]], above it the join is left to Catalyst. */
  val BroadcastRowCeiling: Long = 10000000L

  /** Hint a build side the operator expects to be small (a pair
    * family's self-join side, a test/ref/change set): it removes
    * blocking-key skew entirely while the side fits. Applied unless the
    * session turns broadcasting off, in which case the join falls back
    * to Catalyst's shuffle hash/sort-merge join. */
  def broadcastHint(df: DataFrame): DataFrame =
    if (broadcastLimit > 0) broadcast(df) else df

  /** Hint a side of KNOWN size: only when an estimated
    * `nRows × bytesPerRow` relation passes [[underBroadcastGate]]. */
  def broadcastHint(df: DataFrame, nRows: Long, bytesPerRow: Long): DataFrame =
    if (underBroadcastGate(nRows, bytesPerRow)) broadcast(df) else df

  /** THE broadcast-safety gate: true iff an estimated
    * `nRows × bytesPerRow` relation fits the session's
    * `autoBroadcastJoinThreshold` (and broadcasting isn't disabled,
    * threshold ≤ 0). Every size-gated probe (bm25TopKStored's
    * postings, the media band frames, the stored substring probe's
    * digest sets) compares through this helper, so the gate semantics
    * can't drift between call sites; only the PER-ROW MODEL is
    * site-specific (each caller's own constant). Forced broadcasts
    * above the limit are the driver/executor-OOM class the gate exists
    * to prevent; above it, callers fall back to Catalyst's shuffle
    * join. */
  def underBroadcastGate(nRows: Long, bytesPerRow: Long): Boolean = {
    val limit = broadcastLimit
    limit > 0 && nRows * bytesPerRow <= limit
  }
}

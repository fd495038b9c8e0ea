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
  val FanoutBytesPerPartitionKey = "spark.graft.fanout.bytesPerPartition"
  val DefaultFanoutBytesPerPartition: Long = 16L * 1024 * 1024

  /** The engine's explicit-N fan-out for CPU-heavy, small-byte stages
    * (`repartition(n)` is exempt from AQE coalescing — byte-based
    * coalescing would serialize quadratic pair work). One definition so
    * every operator agrees.
    *
    * VOLUME-AWARE (round-16, guide §2): N = clamp(estimated input
    * bytes / [[FanoutBytesPerPartitionKey]],
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
    val perPart = sess.conf
      .get(FanoutBytesPerPartitionKey, DefaultFanoutBytesPerPartition.toString)
      .toLong
    // a streaming frame has no batch optimizedPlan (checkForBatch
    // throws) and no meaningful size estimate — cap, as before round 16
    if (df.isStreaming) return cap
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // > 1 PiB = "no real estimate" (unknown leaves report
    // spark.sql.defaultSizeInBytes, Long.MaxValue by default)
    if (bytes <= 0 || bytes > BigInt(1L << 50) || perPart <= 0) cap
    else math.max(floor.toLong,
      math.min(cap.toLong, (bytes.toLong + perPart - 1) / perPart)).toInt
  }

  // THE broadcast decision reads the session here and nowhere else: no
  // operator carries a per-call flag, and a threshold ≤ 0 (Spark's own
  // broadcasting-off switch) turns every hint below off with it.
  private def broadcastLimit: Long =
    org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold

  /** Hint a build side the operator expects to be small (a pair
    * family's self-join side, a test/ref/change set): it removes
    * blocking-key skew entirely while the side fits. Applied unless the
    * session turns broadcasting off, in which case the join falls back
    * to Catalyst's shuffle hash/sort-merge join (pair skew then wants
    * [[graft.operators.SkewJoin]]-style salting on hot keys). */
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

  /** Driver-side parquet row count: sum the footer record counts of a
    * stored artifact's files without scheduling a Spark job. The
    * broadcast GATES only need the artifact's row count, and a
    * `count()` job costs two scheduler round trips per gate read —
    * measured 0.30 s of the q169 ingest gate's warm invocation for two
    * ~40 k-row digest sets whose footers answer in milliseconds.
    * Reads the files on EVERY call (nothing cached across runs); flat
    * artifact directories only (the stored digest/posting layouts —
    * no partition subdirectories). Hidden `_`/`.` entries are skipped,
    * files and directories alike, exactly as Spark's reader skips them:
    * commit markers, and the `_temporary` / `_spark_metadata`
    * directories an interrupted write or a file sink leaves behind. */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // Fail fast on layout drift (round-15 advice): a partitioned or
    // unexpectedly-laid-out artifact would silently UNDERCOUNT here,
    // and an undercount feeds the broadcast gate — wrongly forcing a
    // corpus-sized broadcast build is exactly the failure the gate
    // exists to prevent. Data files and hidden entries only.
    val visible = fs.listStatus(p).filterNot { st =>
      val name = st.getPath.getName
      name.startsWith("_") || name.startsWith(".")
    }
    val rogue = visible.filter(st =>
      st.isDirectory || !st.getPath.getName.endsWith(".parquet"))
    require(rogue.isEmpty,
      s"parquetRowCount($path): flat parquet artifact expected, found " +
        rogue.map(_.getPath.getName).take(3).mkString(", ") +
        " — a partitioned/drifted layout would undercount the broadcast gate")
    visible.iterator
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }
}

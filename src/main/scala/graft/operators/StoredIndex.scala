package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Shared plumbing for the engine's persisted index artifacts (IVF /
  * IVFADC vector indexes, signature indexes, sketch and stats
  * snapshots, the retrieval index, the probe registry): the one-row
  * max-id meta and the append-only id-discipline validation every
  * incremental-ingest entry point relies on for its rebuild-equivalence
  * guarantee.
  *
  * Build protocol ([[build]], the only way a watermarked index is built
  * or rebuilt): take the single-writer lock, write every part from ONE
  * observed pass over the input into `<dir>_tmp`, write `meta` beside
  * the parts, then swap the whole directory in ([[swapRewrite]]). A
  * build that fails at any step leaves the previous index whole. */
object StoredIndex {

  /** Record the indexed corpus's max id as a one-row parquet under
    * `dir/meta` — the cheap stored handle the append-only id discipline
    * is validated against (reading it back is a footer-sized pull, not
    * a corpus scan). Written on the driver
    * ([[graft.sources.SchemaReader.writeRows]]: hidden file, old
    * part removed, rename), so a crash leaves the old row or no row,
    * never two, and a meta with no row fails the next reader.
    * `pending = true` marks an append in flight ([[guardedAppend]]): a
    * meta left pending makes the NEXT append fail loudly instead of
    * silently double-ingesting against a stale watermark. */
  def writeMaxIdMeta(spark: SparkSession, dir: String, maxId: Long,
      pending: Boolean = false): Unit =
    SchemaReader.writeRows(spark, s"$dir/meta", Seq("max_id" -> maxId, "pending" -> pending))

  /** The one row of `dir/meta`; a missing meta fails naming its path,
    * as does one with no row or several (a meta write that crashed). */
  private def meta(spark: SparkSession, dir: String): Row = {
    val rows = SchemaReader.collectArtifact(spark, s"$dir/meta")
    require(rows.size == 1, s"$dir/meta holds ${rows.size} rows, expected 1: a meta " +
      "write did not complete — verify the watermark against the data, then " +
      "rewrite the meta with writeMaxIdMeta")
    rows.head
  }

  /** Build (or rebuild) the index at `dir` from `frame`: under the
    * single-writer lock, `write` gets `frame` wrapped in one
    * `Dataset.observe` (max id cast to long, row count — no job of its
    * own) and a fresh `<dir>_tmp` to write its parts into. A zero-row
    * input or one whose ids are all null fails here, naming the cause;
    * otherwise `meta` is written beside the parts and the whole
    * directory is swapped in. `write` must consume the observed frame
    * only in full passes (writes, aggregates): a limit or a sample read
    * first would observe part of the input. */
  def build(dir: String, frame: DataFrame, idCol: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val spark = frame.sparkSession
    withAppendLock(spark, dir) {
      swapRewrite(spark, dir) { tmp =>
        val seen = Observation()
        write(frame.observe(seen,
          max(col(idCol).cast("long")).as("max_id"), count(lit(1)).as("rows")), tmp)
        // an input Spark proves empty before running it reports no metrics
        val m = seen.get
        require(m.get("rows").exists(_ != 0L), s"cannot build $dir from an empty input")
        require(m("max_id") != null, s"cannot derive a max id from '$idCol': " +
          "every id is null — refusing to write the index meta")
        writeMaxIdMeta(spark, tmp, m("max_id").asInstanceOf[Long])
      }
    }
  }

  /** Whether `dir/meta` marks an append in flight; an index without a
    * meta has none, a meta without a row fails ([[meta]]). */
  private def metaPending(spark: SparkSession, dir: String): Boolean =
    try {
      val m = meta(spark, dir)
      m.schema.fieldNames.contains("pending") && m.getAs[Boolean]("pending")
    } catch { case _: java.io.FileNotFoundException => false }

  /** Pending-meta crash fence for COMPACTIONS (round-14 advice): a
    * compaction folds whatever part-files exist into a fresh layout and
    * rewrites the meta with `pending = false` — run over an index whose
    * previous append CRASHED mid-write (meta pending, a possibly
    * PARTIAL segment on disk), it would silently commit the partial
    * batch and clear the only evidence, the exact double-ingest /
    * silent-loss class [[guardedAppend]] exists to prevent. Appends hit
    * this fence via [[validateAppendBatch]]; every fold-existing-data
    * compaction must call this first (inside its lock). Full REBUILDS
    * from source data are exempt by design — recomputing from the
    * corpus is the documented repair path for a stranded pending flag. */
  def requireNotPending(spark: SparkSession, dir: String): Unit =
    require(!metaPending(spark, dir),
      s"a previous append to $dir did not complete ($dir/meta is marked " +
        "pending, data files may be partial): verify whether the " +
        "pending batch's rows landed in data, clear the marker with " +
        "writeMaxIdMeta at the verified watermark, then re-run the " +
        "compaction — compacting now would silently commit a partial batch")

  /** The append protocol every stored artifact shares: validate the
    * id discipline, run `prepare`, mark the meta PENDING at the new
    * watermark, run the data append, clear the flag. A crash between
    * any two steps leaves the meta pending, so the next append FAILS
    * LOUDLY (see [[validateAppendBatch]]) instead of the two silent
    * failure modes the naive order has — replaying a batch against a
    * stale watermark (duplicate rows) or advancing the watermark over
    * rows that never landed (silent loss). Repair: check whether the
    * pending batch's rows are in `dir/data`, then clear with
    * `writeMaxIdMeta(dir, max)` at the verified watermark.
    *
    * `prepare` runs after the batch validates but BEFORE the meta is
    * marked pending. Reads that can fail for reasons unrelated to the
    * data write — stored params, segment listings, codebook pulls —
    * belong there: failing them inside the pending window would strand
    * the index in pending even though no data file ever landed. Only
    * the actual data write belongs inside the pending window. */
  def guardedAppend[A](spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String)(prepare: => A)(write: A => Unit): Unit =
    withAppendLock(spark, dir) {
      validateAppendBatch(spark, dir, batch, idCol).foreach { newMax =>
        val prepared = prepare // fail-fast: meta not yet pending
        writeMaxIdMeta(spark, dir, newMax, pending = true)
        write(prepared)
        writeMaxIdMeta(spark, dir, newMax, pending = false)
      }
    }

  /** SINGLE-WRITER enforcement for every mutation of shared index
    * state: appends (the original client — the whole validate →
    * prepare → pending → write → clear sequence is a read-modify-write
    * over meta watermark, stats rows, segment numbering), and since
    * round 10 also COMPACTIONS and whole-index REBUILDS, whose
    * read-then-swap would otherwise silently drop a delta that a
    * concurrent (locked!) append committed between the read and the
    * swap. The lock is an atomically-created file (`FileSystem.create`
    * with overwrite=false — atomic on HDFS; best-effort on a raw local
    * FS, which has no concurrent executors anyway): the second writer
    * fails LOUDLY instead of racing.
    *
    * Two subtleties for WHOLE-DIR swap holders ([[build]] and
    * `Multimodal.compactProbeRegistry` swap `dir` itself while the lock
    * lives INSIDE `dir`):
    *  - acquisition first finishes any crashed swap of `dir` (live name
    *    missing, complete `_tmp`/`_old` present): creating the lock file
    *    would CREATE the bare dir and mask the leftovers from
    *    [[swapRewrite]]'s own recovery;
    *  - release verifies OWNERSHIP by payload: the swap's rename
    *    relocates the holder's lock file into `<dir>_old` (deleted with
    *    it), so after the swap the live path may hold a DIFFERENT
    *    writer's fresh lock — an unconditional delete would break its
    *    mutual exclusion.
    *
    * Crash recovery: a lock whose payload names a SAME-HOST pid that is
    * no longer alive is broken automatically — by RENAMING it aside
    * first (rename is the atomic claim: of N racers that all saw the
    * dead pid, exactly one rename succeeds; a delete-then-create break
    * would let racer A delete the lock racer B just re-created and put
    * two writers inside the critical section). Any other lock — live
    * pid, other host, or unreadable payload — blocks mutations until an
    * operator verifies the meta/pending state and deletes
    * `<dir>/_append_lock`, the pending-meta contract's repair
    * discipline. Without the same-host breaker a SIGKILLed writer would
    * wedge every future append AND every oracle query that rebuilds its
    * index (the correctness gate rebuilds retrieval/IVF indexes per
    * run).
    *
    * After acquisition (and before the body) any crashed SUB-PATH swap
    * under `dir` is finished too: a compaction that died between its
    * two renames leaves e.g. `data` missing with the full index in
    * `data_tmp` — an append that ran before the compaction's own retry
    * would otherwise re-create a batch-only `data`, and the retry's
    * leftover cleanup would then destroy the stranded full copy. Doing
    * this INSIDE the lock means it can never touch another writer's
    * in-flight sub-path swap (all sub-path swaps run under the lock). */
  def withAppendLock[A](spark: SparkSession, dir: String)(body: => A): A = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    val fs = ForkFreeLocalFileSystem.get(spark, dir)
    recoverSwap(fs, dirPath)
    def acquire(retryStale: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
      try fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          val held = readSmall(fs, lock)
          val staleSameHost = retryStale && held.exists(s => isDeadSameHost(s))
          if (staleSameHost) {
            // atomic claim of the stale lock: rename to a unique name —
            // exactly one racer's rename wins; winner and losers alike
            // then re-acquire WITHOUT the stale retry, so a loser that
            // collides with the winner's fresh live lock fails loudly
            // instead of deleting it (the delete-then-create break let
            // two writers into the critical section)
            val aside = new org.apache.hadoop.fs.Path(dir,
              s"_append_lock_broken_${ProcessHandle.current.pid}_${System.nanoTime}")
            val won = try fs.rename(lock, aside) catch { case _: Throwable => false }
            if (won) { try fs.delete(aside, false) catch { case _: Throwable => () } }
            acquire(retryStale = false)
          } else throw new IllegalStateException(
            s"another writer to $dir holds $lock (${held.getOrElse("unreadable")}; " +
              "or a crashed one on another host left it): concurrent index " +
              "mutations would lose a stats/watermark delta. If the holder " +
              "is dead, verify meta pending state, then delete the lock file.", e)
      }
    val out = acquire(retryStale = true)
    val payload =
      s"host=$hostName pid=${ProcessHandle.current.pid} t=${System.currentTimeMillis}"
    // the diagnostic payload write must not be able to LEAK the lock:
    // a transient failure after create would otherwise leave a
    // holderless lock that blocks every future append until manual
    // cleanup — delete-and-rethrow instead
    try {
      out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch { case e: Throwable =>
      try fs.delete(lock, false) catch { case _: Throwable => () }
      throw e
    }
    try {
      // sub-path swap recovery, under the lock (see scaladoc above)
      scala.util.Try(fs.listStatus(dirPath)).getOrElse(Array.empty)
        .map(_.getPath.getName)
        .collect {
          case n if n.endsWith("_tmp") => n.stripSuffix("_tmp")
          case n if n.endsWith("_old") => n.stripSuffix("_old")
        }
        .distinct.filter(_.nonEmpty)
        .foreach(base => recoverSwap(fs, new org.apache.hadoop.fs.Path(dir, base)))
      body
    } finally {
      // ownership-checked release (see scaladoc): delete only a lock
      // that still carries OUR payload; a missing file means a
      // whole-dir swap already retired it with `_old`
      val mine = readSmall(fs, lock).map(_ == payload).getOrElse(!fs.exists(lock))
      if (mine) { try fs.delete(lock, false) catch { case _: Throwable => () } }
    }
  }

  private lazy val hostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown-host" }

  /** Full contents of a small control file (lock payloads), reading to
    * EOF — a single read() may legally return short on a loaded DFS,
    * and a truncated payload would fail the release ownership check and
    * leak the caller's own live lock. */
  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] = scala.util.Try {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream(256)
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n >= 0 && bos.size < 4096) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toString(java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }.toOption

  /** True iff a lock payload names THIS host and a pid that is no
    * longer alive — the only state the automatic stale-breaker may
    * claim. */
  private def isDeadSameHost(payload: String): Boolean =
    "host=(\\S+) pid=(\\d+)".r.findFirstMatchIn(payload).exists { g =>
      val ph = ProcessHandle.of(g.group(2).toLong)
      g.group(1) == hostName && (!ph.isPresent || !ph.get.isAlive)
    }

  /** Max id already in the stored index, from `dir/meta` (a driver
    * read, no Spark job). A missing meta fails, naming `dir/meta`. */
  def storedMaxId(spark: SparkSession, dir: String): Long =
    meta(spark, dir).getAs[Long]("max_id")

  /** Finish a crashed swap of `p` (shared by [[swapRewrite]] retries
    * and [[withAppendLock]]): if the live name is missing, a prior
    * swap died between its two renames and the only complete copies
    * are `<p>_tmp` (the fully-written replacement — write() finished
    * or the first rename would not have run; prefer it) and `<p>_old`
    * (the rollback). Restore BEFORE any cleanup or lock creation:
    * deleting the leftovers first would destroy the index on the very
    * retry that is supposed to repair it, and creating a lock file
    * first would materialize a bare live dir that masks the leftovers
    * from this check.
    *
    * IN-FLIGHT guard (the whole-dir case, where this runs before the
    * lock can possibly be held): a live-name gap is also what a
    * HEALTHY whole-dir swap passes through for one rename — and its
    * holder's lock file travelled into `<p>_old` with the retired dir.
    * If that relocated lock names a live same-host pid, the swap is in
    * flight, not crashed: fail loudly instead of "recovering" (which
    * would steal the rename from under the live writer). A dead
    * same-host pid proceeds as crash recovery; an other-host or
    * unreadable holder also fails loudly (can't verify liveness —
    * manual repair, per the lock contract). */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(p)) {
      val tmp = p.suffix("_tmp")
      val old = p.suffix("_old")
      val relocated = new org.apache.hadoop.fs.Path(old, "_append_lock")
      if ((fs.exists(tmp) || fs.exists(old)) && fs.exists(relocated) &&
          !readSmall(fs, relocated).exists(isDeadSameHost))
        throw new IllegalStateException(
          s"a swap of $p appears IN FLIGHT (live or unverifiable lock " +
            s"holder at $relocated): refusing to finish it. If the " +
            "holder is dead, delete the relocated lock and retry.")
      if (fs.exists(tmp))
        require(fs.rename(tmp, p), s"crash recovery: rename $tmp -> $p failed")
      else if (fs.exists(old))
        require(fs.rename(old, p), s"crash recovery: rename $old -> $p failed")
    }

  /** Crash-durable in-place rewrite of an index data directory: the
    * replacement is FULLY written to `<path>_tmp` before the old copy
    * is touched, then swapped in via delete + rename. At every instant
    * a complete copy of the data exists on durable storage — the
    * localCheckpoint-then-overwrite pattern this replaces held the only
    * copy in non-durable executor blocks while the overwrite deleted
    * its input, so a crash mid-rewrite lost the index. A crash here
    * leaves either the old data (before the swap) or a complete `_tmp`
    * (finish by renaming); never neither. The swap itself retires the
    * old copy ASIDE (`<path>_old`) rather than deleting it first: the
    * live-name gap is one rename wide (vs a whole recursive delete in
    * the delete-then-rename form), a crash inside the gap leaves BOTH
    * a complete `_tmp` and a rollback `_old`, and the old copy is only
    * deleted after the new one holds the live name. Returns `write`'s. */
  def swapRewrite[A](spark: SparkSession, path: String)(write: String => A): A = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    val fs = ForkFreeLocalFileSystem.get(spark, path)
    recoverSwap(fs, p)
    fs.delete(tmp, true) // an incomplete tmp from a crash DURING write
    fs.delete(old, true) // a rollback the prior swap never cleaned
    // a write that throws leaves no `_tmp`: recovery takes any `_tmp`
    // for a fully-written replacement
    val result = try write(tmp.toString) catch { case e: Throwable =>
      try fs.delete(tmp, true) catch { case d: Throwable => e.addSuppressed(d) }
      throw e
    }
    if (fs.exists(p))
      require(fs.rename(p, old), s"rename $path -> $old failed")
    require(fs.rename(tmp, p), s"rename $tmp -> $path failed")
    fs.delete(old, true)
    result
  }

  /** Enforce the append-only id discipline: all batch ids must exceed
    * every indexed id (else stored deterministic structures — centers,
    * codebooks, band tables — would have differed from a rebuild's,
    * silently diverging probe results), and the batch must not carry
    * duplicate ids. One tiny agg over the batch + a one-row meta read —
    * cheap at any scale. Returns the batch's max id (the new meta
    * value), or None for an empty batch (a no-op append). */
  def validateAppendBatch(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String): Option[Long] = {
    require(!metaPending(spark, dir),
      s"a previous append to $dir did not complete ($dir/meta is marked " +
        "pending): verify whether its rows landed in data, then clear " +
        "the marker with writeMaxIdMeta at the verified watermark")
    val r = batch.agg(
      min(col(idCol).cast("long")), max(col(idCol).cast("long")),
      count(lit(1)), count_distinct(col(idCol))).head
    if (r.getLong(2) == 0L) None
    else {
      val (mn, mx, n, nd) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      require(nd == n,
        s"append batch has ${n - nd} duplicate id(s) in '$idCol' — refusing to append")
      val maxIndexed = storedMaxId(spark, dir)
      require(mn > maxIndexed,
        s"append-only id discipline violated: batch min id $mn <= max indexed id " +
          s"$maxIndexed; appending would diverge from a full rebuild")
      Some(mx)
    }
  }
}

package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{coalesce, lit}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import graft.functions.Plans
import graft.operators.StoredIndex
import graft.sources.SchemaReader

/** Live→historical archival rotation — capabilities S5/S6 and the merge
  * job lifecycle (SURVEY.md §3.2).
  *
  * Reference (`pyspark/merge_stock.py:76-93`): read `live/` parquet →
  * write `historical/<prefix>-<MM-dd-yyyy>.parquet` (overwrite) → delete
  * `live/` files. The reference's sequence is non-atomic (crash after
  * write duplicates data); we harden it with write-then-verify before
  * deleting, per SURVEY.md §7.1.
  */
object ArchiveJob {

  private val stampFmt = DateTimeFormatter.ofPattern("MM-dd-yyyy")

  /** The live dir's file listing, snapshotted ONCE: the read and the
    * post-verify delete must operate on the SAME file set — a fresh
    * glob at delete time would also match (and destroy) files that
    * arrived during the rotation without ever archiving them. */
  private def snapshotFiles(spark: SparkSession, liveDir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = new Path(liveDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(s"$liveDir/*"))).getOrElse(Array.empty).toSeq
  }

  /** Write-side markers Spark/Hadoop leave next to data files — safe to
    * rotate away alongside the parquet they describe. Broad prefix
    * form: used only to EXEMPT marker-named DIRECTORIES (`_temporary`,
    * `.spark-staging-*`) from the flat-layout refusal. */
  private def isMarker(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The DELETABLE marker FILES, by exact name/shape — the closed set
    * Spark/Hadoop committers actually write (`_SUCCESS`, `.<f>.crc`,
    * `_metadata`, `_common_metadata`). The delete path destroys
    * without archiving, so an unrecognized dot/underscore FILE (a
    * user's `.backup.json`, an `_index` somebody parked there) must be
    * REFUSED like any other stray, not silently assumed to be a
    * marker and destroyed. */
  private def isKnownMarkerFile(name: String): Boolean =
    name == "_SUCCESS" || name == "_metadata" || name == "_common_metadata" ||
      (name.startsWith(".") && name.endsWith(".crc"))

  /** The rotation reads only top-level `*.parquet`, so the delete may
    * only ever see top-level `*.parquet` (+ markers): a sub-directory
    * (hive-partitioned or nested live layout) or a stray data file
    * would be deleted WITHOUT having been archived — silent data loss.
    * Fail loudly instead and let the caller rotate each leaf dir.
    * Marker-NAMED directories (`_temporary`, `.spark-staging-*`) are
    * exempt from the refusal: they hold only uncommitted task attempts
    * by Hadoop commit-protocol contract, and refusing them would
    * permanently abort every rotation after one writer crash. They are
    * NOT deleted either — the dir may belong to an ACTIVE concurrent
    * writer mid-batch (the same concurrent-arrival threat model the
    * snapshot discipline exists for), and deleting it would fail that
    * writer's commits; a crashed writer's leftover is inert and rides
    * along until cleaned out-of-band. */
  private def requireFlatLayout(snapshot: Seq[org.apache.hadoop.fs.FileStatus],
      liveDir: String): Unit = {
    val dirs = snapshot.filter(s => s.isDirectory && !isMarker(s.getPath.getName))
    require(dirs.isEmpty,
      s"live dir $liveDir contains sub-directories " +
        s"(${dirs.map(_.getPath.getName).take(3).mkString(", ")}, ...): only flat " +
        "top-level parquet layouts are rotated — a nested/partitioned live dir " +
        "would be deleted without being archived; rotate each leaf dir instead")
    val stray = snapshot.filterNot { s =>
      val name = s.getPath.getName
      name.endsWith(".parquet") ||
        (if (s.isDirectory) isMarker(name) else isKnownMarkerFile(name))
    }
    require(stray.isEmpty,
      s"live dir $liveDir contains non-parquet entries " +
        s"(${stray.map(_.getPath.getName).take(3).mkString(", ")}, ...) that the " +
        "rotation would delete without archiving; remove or rename them first")
  }

  private def parquetOf(statuses: Seq[org.apache.hadoop.fs.FileStatus]): Seq[String] =
    statuses.map(_.getPath).filter(_.getName.endsWith(".parquet")).map(_.toString)

  private def footerRows(spark: SparkSession, dir: String): Long =
    SchemaReader.footers(spark, dir).map(_.rows).sum

  /** The rotation both layouts share: snapshot live/ once, refuse a
    * non-flat layout, read the files under the union of their footer
    * schemas (a column only some carry is archived, not dropped; a type
    * conflict fails before anything is written), let `archive` write and
    * verify (it gets the footer row count), then delete exactly the
    * files read plus write-marker FILES; marker DIRS stay — see
    * [[requireFlatLayout]]. Returns the rows archived. */
  private def rotate(spark: SparkSession, liveDir: String)(
      archive: (DataFrame, Long) => Unit): Long = {
    val snapshot = snapshotFiles(spark, liveDir)
    requireFlatLayout(snapshot, liveDir)
    val dataFiles = parquetOf(snapshot)
    if (dataFiles.isEmpty) return 0L
    val footers = dataFiles.flatMap(SchemaReader.footers(spark, _))
    val expected = footers.map(_.rows).sum
    archive(spark.read.schema(SchemaReader.unionSchema(footers)).parquet(dataFiles: _*), expected)
    val fs = ForkFreeLocalFileSystem.get(spark, liveDir)
    snapshot.filterNot(_.isDirectory).foreach(s => fs.delete(s.getPath, true))
    expected
  }

  /** Returns (archived path, row count). An archive that fits one
    * fan-out partition is written as one file ([[Plans.sizedForWrite]]). */
  def run(spark: SparkSession, liveDir: String, historicalDir: String,
      prefix: String, date: LocalDate = LocalDate.now()): (String, Long) = {
    val dest = s"$historicalDir/$prefix-${date.format(stampFmt)}.parquet"
    (dest, rotate(spark, liveDir) { (df, expected) =>
      ForkFreeLocalFileSystem.write(Plans.sizedForWrite(df)(identity))
        .mode("overwrite").parquet(dest)
      // verify before destroying the source (hardening vs merge_stock.py:93)
      val written = footerRows(spark, dest)
      require(written == expected, s"archive verify failed: wrote $written, expected $expected")
    })
  }

  /** Date-partitioned archival — the 100 TB layout the single dated
    * file can't provide: one `date_key=.../` hive partition per event
    * date, so readers prune at the DIRECTORY level (a day query scans
    * 1/365th of the archive — the scan's PartitionFilters, not a data
    * filter, do the work). Rotations APPEND into their partitions: a
    * date_key that reappears (same-day second rotation, late-arriving
    * data) keeps its earlier rows — a dynamic partition OVERWRITE here
    * would silently replace the whole partition and destroy them, and
    * no total-count verify can catch that before the live files are
    * deleted. The verify below counts the AFFECTED partitions before
    * and after, so the append must account for prior + new exactly.
    * Trade-off, stated honestly: append is not idempotent — a re-run
    * after a crash BETWEEN the verified write and the live delete
    * appends the live rows again (the old overwrite semantics deduped
    * that case at the price of the silent-loss bug); recover by
    * clearing live/ before re-running. Files within a partition are
    * sorted by `sortCol` for row-group min/max pruning. */
  def runPartitioned(spark: SparkSession, liveDir: String, historicalDir: String,
      dateCol: String, sortCol: String): Long = {
    import org.apache.spark.sql.functions.{col, to_date}
    rotate(spark, liveDir) { (df, expected) =>
      val keyed = df.withColumn("date_key", to_date(col(dateCol)))
      // the partition directory of each affected date_key; a null one
      // (null or unparseable dateCol) lands in Hive's default partition,
      // which the verify must count too, or it under-counts `after` and
      // throws AFTER a successful append (live files kept, re-run
      // double-appends)
      val affected = keyed.select("date_key").distinct().collect().map(_.get(0))
        .map(k => new Path(historicalDir,
          s"date_key=${Option(k).getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)}"))
      // footer row sums of those directories: no Spark job
      def affectedCount(): Long = {
        val fs = ForkFreeLocalFileSystem.get(spark, historicalDir)
        affected.filter(fs.exists).map(d => footerRows(spark, d.toString)).sum
      }
      val prior = affectedCount()
      ForkFreeLocalFileSystem.write(keyed.sortWithinPartitions(sortCol))
        .mode("append")
        .partitionBy("date_key")
        .parquet(historicalDir)
      val after = affectedCount()
      require(after == prior + expected,
        s"partitioned archive verify failed: affected partitions hold " +
          s"$after rows, expected $prior prior + $expected new")
    }
  }

  /** Targeted deletion: rewrite a parquet dir WITHOUT the rows matching
    * `predicate` (the right-to-be-forgotten / bad-source purge shape —
    * parquet files are immutable, so deletion is a filtered rewrite).
    * Same crash-safe swap as [[compact]]; the survivors are verified
    * (surviving + deleted = original) before it. Returns (rows deleted,
    * rows kept). For hive-partitioned archives run it per partition
    * path — or prune first and rewrite only partitions that can contain
    * matches. */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    // maintenance op: `dir` must be QUIESCENT — the final swap replaces
    // the whole directory, so files arriving mid-rewrite would be lost
    // (the live-ingest rotations above snapshot their file list instead)
    StoredIndex.swapRewrite(spark, dir) { tmp =>
      val df = SchemaReader.readArtifact(spark, dir)
      val total = footerRows(spark, dir)
      ForkFreeLocalFileSystem.write(df.filter(!coalesce(predicate, lit(false))))
        .mode("overwrite").parquet(tmp)
      val kept = footerRows(spark, tmp)
      val matched = df.filter(coalesce(predicate, lit(false))).count()
      require(kept + matched == total,
        s"deleteWhere verify failed: kept $kept + deleted $matched != $total")
      (matched, kept)
    }
  }

  /** Small-file compaction: rewrite a parquet dir into ~`targetRows`-row
    * files. Long-running ingestion accretes one file per micro-batch /
    * task; at archive scale the resulting millions of KB-files dominate
    * job startup (footer reads, scheduling, NameNode/liststore load), so
    * periodic compaction is a first-class maintenance op. The rewrite
    * goes through [[StoredIndex.swapRewrite]]: written and row-count
    * verified in `<dir>_tmp` before the source is touched, then swapped
    * in, and a run that finds `dir` missing after a crash mid-swap
    * finishes that swap first. Returns (files before, files after,
    * rows).
    *
    * Operates on ONE leaf directory: for a hive-partitioned archive,
    * compact each partition path individually — rewriting the root
    * would fold the partition column into the data files and destroy
    * the layout (guarded below). */
  def compact(spark: SparkSession, dir: String, targetRows: Long): (Int, Int, Long) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: String): Int =
      Option(fs.globStatus(new Path(s"$p/*.parquet"))).map(_.length).getOrElse(0)
    val (before, rows) = StoredIndex.swapRewrite(spark, dir) { tmp =>
      val partitionDirs = Option(fs.globStatus(new Path(s"$dir/*=*")))
        .getOrElse(Array.empty).filter(_.isDirectory)
      require(partitionDirs.isEmpty,
        s"$dir is hive-partitioned (${partitionDirs.head.getPath.getName}, ...); " +
          "compact each partition directory instead")
      val df = SchemaReader.readArtifact(spark, dir)
      val rows = footerRows(spark, dir)
      val nFiles = math.max(1, math.ceil(rows.toDouble / targetRows).toInt)
      // repartition(n) (round-robin) balances rows across exactly n files;
      // coalesce(n) would skip the shuffle but inherits upstream skew and
      // can't split large partitions.
      ForkFreeLocalFileSystem.write(df.repartition(nFiles)).mode("overwrite").parquet(tmp)
      val written = footerRows(spark, tmp)
      require(written == rows, s"compact verify failed: wrote $written, expected $rows")
      (parquetFiles(dir), rows)
    }
    (before, parquetFiles(dir), rows)
  }
}

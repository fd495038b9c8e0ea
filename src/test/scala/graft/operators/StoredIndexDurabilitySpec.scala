package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SchemaReader

/** Pins the round-10 durability contracts on the stored-index
  * machinery: the single-writer append lock and swapRewrite's
  * crash-recovery restore order. */
class StoredIndexDurabilitySpec extends SparkSpec {
  import spark.implicits._

  private def fs(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a held append lock makes a second appender fail loudly, not race") {
    val dir = tmpDir("lock_idx")
    // a standing lock, as if another writer is mid-append
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    fs(dir).create(lock, false).close()
    val e = intercept[IllegalStateException] {
      StoredIndex.withAppendLock(spark, dir) { fail("body must not run") }
    }
    e.getMessage should include("_append_lock")
    // the failed acquire must NOT have removed the holder's lock
    fs(dir).exists(lock) shouldBe true
    fs(dir).delete(lock, false)
    // with the lock gone the same call proceeds and releases on exit
    StoredIndex.withAppendLock(spark, dir) { 42 } shouldBe 42
    fs(dir).exists(lock) shouldBe false
  }

  test("append lock is released when the body throws") {
    val dir = tmpDir("lock_idx_throw")
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    intercept[RuntimeException] {
      StoredIndex.withAppendLock(spark, dir) { sys.error("boom") }
    }
    fs(dir).exists(lock) shouldBe false
  }

  test("swapRewrite retry restores a live dir lost between the two renames") {
    val dir = tmpDir("swap_crash") + "/idx"
    def write(path: String, tag: String): Unit =
      Seq((1L, tag)).toDF("id", "v").write.mode("overwrite").parquet(path)
    def readTag(path: String): String =
      spark.read.parquet(path).select("v").head.getString(0)

    // simulate the mid-gap crash state of a prior swap: live name
    // MISSING, complete _tmp (the new data) and _old (rollback) present
    write(dir + "_tmp", "new")
    write(dir + "_old", "old")
    // the retry must FIRST restore the live name from _tmp — the
    // pre-fix clear-leftovers-first order deleted both copies and then
    // crashed reading the missing live dir
    StoredIndex.swapRewrite(spark, dir) { tmp =>
      // a real caller reads the live dir here; assert the recovery
      // already happened and the newer copy won
      readTag(dir) shouldBe "new"
      write(tmp, "newer")
    }
    readTag(dir) shouldBe "newer"
    fs(dir).exists(new org.apache.hadoop.fs.Path(dir + "_tmp")) shouldBe false
    fs(dir).exists(new org.apache.hadoop.fs.Path(dir + "_old")) shouldBe false
  }

  test("two-writer pin: compaction fails loudly while an appender holds the lock") {
    val dir = tmpDir("lock_compact")
    Retrieval.writeRetrievalIndex(spark,
      Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // a LIVE same-host holder (our own pid): must NOT be auto-broken
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    val out = fs(dir).create(lock, false)
    out.write((s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"pid=${ProcessHandle.current.pid} t=0").getBytes("UTF-8"))
    out.close()
    intercept[IllegalStateException] { Retrieval.compactRetrievalIndex(spark, dir) }
    // the holder's lock survives the refused compaction
    fs(dir).exists(lock) shouldBe true
    fs(dir).delete(lock, false)
    Retrieval.compactRetrievalIndex(spark, dir) // and with it gone, compaction runs
    spark.read.parquet(s"$dir/postings").count() shouldBe 6L // one row per token
  }

  test("a stale same-host lock from a dead writer is broken automatically") {
    val dir = tmpDir("lock_stale")
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    // pid far above linux pid_max: ProcessHandle.of is empty => dead
    val out = fs(dir).create(lock, false)
    out.write((s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      "pid=2147483646 t=0").getBytes("UTF-8"))
    out.close()
    StoredIndex.withAppendLock(spark, dir) { 7 } shouldBe 7
    fs(dir).exists(lock) shouldBe false // broken, used, released
  }

  test("release is ownership-checked: a foreign lock is left in place") {
    val dir = tmpDir("lock_foreign")
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    StoredIndex.withAppendLock(spark, dir) {
      // simulate a whole-dir swap retiring our lock and a new writer
      // acquiring afterwards: replace the file with a foreign payload
      fs(dir).delete(lock, false)
      val out = fs(dir).create(lock, false)
      out.write("host=elsewhere pid=1 t=0".getBytes("UTF-8"))
      out.close()
    }
    // the finally must NOT have deleted the other writer's lock
    fs(dir).exists(lock) shouldBe true
    fs(dir).delete(lock, false)
  }

  test("lock acquisition finishes a crashed SUB-PATH swap before the body") {
    val dir = tmpDir("lock_subswap")
    // simulate a compaction of <dir>/data that died between its two
    // renames: data missing, the full index stranded in data_tmp
    Seq((1L, 9L), (2L, 8L)).toDF("doc_id", "simhash")
      .write.parquet(s"$dir/data_tmp")
    StoredIndex.writeMaxIdMeta(spark, dir, 2L)
    StoredIndex.withAppendLock(spark, dir) {
      // the recovery must have restored data from data_tmp BEFORE the
      // body — an append here would otherwise re-create a batch-only
      // data dir and the compaction retry would destroy the full copy
      spark.read.parquet(s"$dir/data").count() shouldBe 2L
    }
    fs(dir).exists(new org.apache.hadoop.fs.Path(s"$dir/data_tmp")) shouldBe false
  }

  test("recoverSwap refuses to finish a whole-dir swap whose holder is live") {
    val base = tmpDir("lock_inflight")
    val dir = base + "/idx"
    // mid-swap state of a LIVE holder: live name missing, complete
    // _tmp, and the holder's relocated lock (our own live pid) in _old
    Seq((1L, "new")).toDF("id", "v").write.parquet(dir + "_tmp")
    val relocated = new org.apache.hadoop.fs.Path(dir + "_old", "_append_lock")
    val out = fs(base).create(relocated, false)
    out.write((s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"pid=${ProcessHandle.current.pid} t=0").getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      StoredIndex.withAppendLock(spark, dir) { fail("body must not run") }
    }
    e.getMessage should include("IN FLIGHT")
    // the in-flight swap's artifacts are untouched
    fs(base).exists(new org.apache.hadoop.fs.Path(dir + "_tmp")) shouldBe true
    fs(base).exists(relocated) shouldBe true
    // once the holder is DEAD (dead-pid payload), recovery proceeds
    fs(base).delete(relocated, false)
    val out2 = fs(base).create(relocated, false)
    out2.write((s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      "pid=2147483646 t=0").getBytes("UTF-8"))
    out2.close()
    StoredIndex.withAppendLock(spark, dir) {
      spark.read.parquet(dir).select("v").head.getString(0) shouldBe "new"
    }
  }

  test("a swapRewrite whose write throws leaves no _tmp for a later lock to promote") {
    val dir = tmpDir("swap_throw") + "/idx"
    Seq((1L, "old")).toDF("id", "v").write.parquet(dir)
    intercept[RuntimeException] {
      StoredIndex.swapRewrite(spark, dir) { tmp =>
        Seq((1L, "partial")).toDF("id", "v").write.parquet(tmp)
        sys.error("boom")
      }
    }
    fs(dir).exists(new org.apache.hadoop.fs.Path(dir + "_tmp")) shouldBe false
    spark.read.parquet(dir).select("v").head.getString(0) shouldBe "old"
    // Artifacts.prepare deletes the live dir before a rebuild: the lock
    // must then find nothing to restore, not the partial copy
    fs(dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    StoredIndex.withAppendLock(spark, dir) {
      fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName)
        .toSeq shouldBe Seq("_append_lock")
    }
  }

  test("swapRewrite retry restores from _old when no _tmp survived") {
    val dir = tmpDir("swap_crash2") + "/idx"
    def write(path: String, tag: String): Unit =
      Seq((1L, tag)).toDF("id", "v").write.mode("overwrite").parquet(path)
    write(dir + "_old", "old")
    StoredIndex.swapRewrite(spark, dir) { tmp =>
      spark.read.parquet(dir).select("v").head.getString(0) shouldBe "old"
      write(tmp, "replacement")
    }
    spark.read.parquet(dir).select("v").head.getString(0) shouldBe "replacement"
  }

  test("a meta write that crashed between its steps fails the next append, naming dir/meta") {
    val dir = tmpDir("meta_crash")
    Dedup.writeSimhashIndex(spark, Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    def append(id: Long): Unit = Dedup.appendToSimhashIndex(spark, dir,
      Seq((id, "g h i")).toDF("doc_id", "text"), "doc_id", "text")
    val meta = new java.io.File(s"$dir/meta")
    def parts(hidden: Boolean) =
      meta.list().filter(n => n.endsWith(".parquet") && n.startsWith(".") == hidden).toSeq
    parts(hidden = false) should have size 1 // one part, no _SUCCESS
    meta.list().toSeq should not contain "_SUCCESS"

    // an append's pending step landed; its clearing write crashed after
    // writing the clean meta under its hidden name
    StoredIndex.writeMaxIdMeta(spark, dir, 3L, pending = true)
    val clean = tmpDir("meta_clean")
    StoredIndex.writeMaxIdMeta(spark, clean, 3L)
    val cleanPart = new java.io.File(s"$clean/meta").list().filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$clean/meta/$cleanPart"),
      java.nio.file.Paths.get(s"$dir/meta/.$cleanPart"))
    // readers see the old part only: the pending flag is not lost
    SchemaReader.collectArtifact(spark, s"$dir/meta").map(_.getAs[Boolean]("pending")) shouldBe
      Seq(true)
    intercept[IllegalArgumentException](append(4L)).getMessage should include(s"$dir/meta")

    // ... or crashed after removing the old part, before the rename
    parts(hidden = false).foreach(n => fs(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/meta/$n"), false))
    parts(hidden = true) should have size 1
    val e = intercept[IllegalArgumentException](append(4L))
    e.getMessage should include(s"$dir/meta")
    e.getMessage should include("0 rows")
    intercept[IllegalArgumentException](StoredIndex.storedMaxId(spark, dir))
      .getMessage should include(s"$dir/meta")

    // the repair write replaces whatever a crash left behind
    StoredIndex.writeMaxIdMeta(spark, dir, 2L)
    parts(hidden = true) shouldBe empty
    parts(hidden = false) should have size 1
    append(4L)
    StoredIndex.storedMaxId(spark, dir) shouldBe 4L
  }
}

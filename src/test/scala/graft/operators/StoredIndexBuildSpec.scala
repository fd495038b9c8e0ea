package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[StoredIndex.build]] over every watermarked stored index, one table
  * row per builder. Each row checks the four build guarantees: an
  * empty input fails naming the cause and leaves the previous index
  * whole; `meta.max_id` is the input's max id even when the builder
  * drops that row from its parts; a held lock refuses the rebuild; a
  * `write` that throws part-way leaves the previous index and no
  * `<dir>_tmp`. */
class StoredIndexBuildSpec extends SparkSpec {
  import spark.implicits._

  // ids 1..n. The max id has null text, so every text builder drops it
  // from its parts, and it sits outside the trained writers' 25% sample.
  private val n = 40L
  private lazy val corpus: DataFrame = (1L to n).map { i =>
    val text = if (i == n) null else s"w${i % 5} w${i % 7} w${i % 3} common tok$i"
    (i, text, if (i % 2 == 0) "a" else "b",
      Seq(i % 5 + 1.0, i % 7 * 0.5, i % 3 - 1.0, i * 0.1),
      Seq(i % 5 + 1, i % 7 + 1, i % 3 + 1, i + 1))
  }.toDF("id", "text", "src", "vec", "pv")
  private lazy val queries = corpus.filter(col("id") <= 3)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `parts`: the index dir's entries after a build; `maxId`: the
    * watermark the builder's input defines. */
  private case class Builder(name: String, parts: Seq[String], maxId: Long,
      build: (DataFrame, String) => Unit, probe: String => Seq[String])

  private val ivfParts = Seq("centers", "data", "meta")
  private val pqParts = Seq("centers", "codebook", "data", "meta")
  private val sigParts = Seq("data", "meta", "params")

  private lazy val builders = Seq(
    Builder("IVF deterministic", ivfParts, n,
      (df, dir) => Similarity.writeIvfIndexDeterministic(df, "id", "vec", dir, nCentroids = 4),
      dir => rows(Similarity.probeIvfIndexDeterministic(spark, dir, "id",
        queries, "id", "vec", k = 5, nProbe = 2))),
    Builder("IVF trained", ivfParts, n,
      (df, dir) => Similarity.writeIvfIndex(df, "id", "vec", dir, nCentroids = 3),
      dir => rows(Similarity.probeIvfIndex(spark, dir, "id", "vec",
        queries, "id", "vec", k = 5, nProbe = 2))),
    Builder("IVF-PQ deterministic", pqParts, n,
      (df, dir) => Similarity.writeIvfPqIndexDeterministic(df, "id", "vec", dir,
        nCentroids = 4, m = 2, k = 4),
      dir => rows(Similarity.probeIvfPqIndexDeterministic(spark, dir, "id",
        queries, "id", "vec", topK = 5, nProbe = 2))),
    Builder("IVF-PQ trained", pqParts, n,
      (df, dir) => Similarity.writeIvfPqIndex(df, "id", "vec", dir,
        nCentroids = 3, m = 2, k = 4),
      dir => rows(Similarity.probeIvfPqIndex(spark, dir, "id",
        queries, "id", "vec", topK = 5, nProbe = 2))),
    Builder("IVF micro-exact", ivfParts, n,
      (df, dir) => Similarity.writeIvfIndexMicroExact(df, "id", "vec", dir,
        nCentroids = 3, iters = 2),
      dir => rows(Similarity.probeIvfIndexMicroExact(spark, dir, "id",
        queries, "id", "vec", k = 5, nProbe = 2))),
    Builder("simhash", sigParts, n,
      (df, dir) => Dedup.writeSimhashIndex(spark, df, "id", "text", dir),
      dir => rows(Dedup.screenWithSimhashIndex(spark, dir, queries, "id", "text"))),
    Builder("minhash", sigParts, n,
      (df, dir) => Dedup.writeMinhashIndex(spark, df, "id", "text", dir),
      dir => rows(Dedup.screenWithMinhashIndex(spark, dir, queries, "id", "text"))),
    Builder("winnow", sigParts, n,
      (df, dir) => Dedup.writeWinnowIndex(spark, df, "id", "text", dir),
      dir => rows(Dedup.screenWithWinnowIndex(spark, dir, queries, "id", "text",
        maxDf = 40, minShared = 1))),
    Builder("KMV snapshot", sigParts, n,
      (df, dir) => Sketches.writeKmvSnapshot(spark, df, "id", "src", "text", 2, 16, dir),
      dir => rows(Sketches.readKmvSnapshot(spark, dir, "src"))),
    Builder("corpus stats", Seq("data", "meta"), n,
      (df, dir) => CorpusStats.writeStatsSnapshot(spark, df, "id", "text", "src", dir),
      dir => rows(CorpusStats.readStatsSnapshot(spark, dir))),
    // the retrieval watermark is over its null-text-filtered documents
    Builder("retrieval", Seq("doclens", "meta", "postings", "stats"), n - 1,
      (df, dir) => Retrieval.writeRetrievalIndex(spark, df, "id", "text", dir),
      dir => rows(Retrieval.bm25TopKStored(spark, dir, Seq("common", "w1"), 10))),
    Builder("probe registry", Seq("geometry", "meta", "probes"), n,
      (df, dir) => Multimodal.writeProbeRegistry(spark, df, "id", "pv", 4, 2, dir),
      dir => rows(Multimodal.routeAgainstProbeRegistry(spark, dir,
        // a payload whose decoded features equal pv: one char per window
        queries.select(col("id"),
          concat((0 until 4).map(i => expr(s"chr(pv[$i])")): _*).cast("binary").as("media")),
        "id", "media", maxL1 = 10L)))
  )

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The previous index is whole: same probe, no swap leftovers. */
  private def intact(b: Builder, dir: String, before: Seq[String]): Unit = {
    b.probe(dir) shouldBe before
    StoredIndex.storedMaxId(spark, dir) shouldBe b.maxId
    exists(dir + "_tmp") shouldBe false
    exists(dir + "_old") shouldBe false
  }

  test("the max-id row is dropped by every text builder and outside the training sample") {
    corpus.filter(col("id") === n).select("text").head.isNullAt(0) shouldBe true
    Sampling.deterministic(corpus, "id", 0.25).filter(col("id") === n).count() shouldBe 0L
  }

  for (b <- builders) test(s"${b.name}: one build protocol, and a failed rebuild leaves the index whole") {
    val dir = s"${tmpDir("stored_build")}/idx"
    b.build(corpus, dir)
    new java.io.File(dir).list().sorted.toSeq shouldBe b.parts
    val before = b.probe(dir)
    before should not be empty
    // (b) the watermark is the input's max id
    intact(b, dir, before)

    // (a) an empty input fails, naming the cause
    val noRows = intercept[Exception](b.build(corpus.filter(lit(false)), dir))
    noRows.getMessage.toLowerCase should include("empty")
    intact(b, dir, before)

    // (c) another writer holds the lock: the rebuild fails loudly
    val lock = new org.apache.hadoop.fs.Path(dir, "_append_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write((s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"pid=${ProcessHandle.current.pid} t=0").getBytes("UTF-8"))
    out.close()
    intercept[IllegalStateException](b.build(corpus, dir))
      .getMessage should include("_append_lock")
    fs.exists(lock) shouldBe true
    fs.delete(lock, false)
    intact(b, dir, before)

    // (d) a write that throws after its first part
    intercept[RuntimeException] {
      StoredIndex.build(dir, corpus, "id") { (rows, tmp) =>
        rows.write.parquet(s"$tmp/data")
        sys.error("boom after the first part")
      }
    }.getMessage should include("boom")
    intact(b, dir, before)

    // and a clean rebuild over the old index gives the same index
    b.build(corpus, dir)
    intact(b, dir, before)
  }

  test("build fails by name on an input whose ids are all null") {
    val dir = s"${tmpDir("stored_build_ids")}/idx"
    intercept[IllegalArgumentException] {
      StoredIndex.build(dir, Seq(Option.empty[Long], None).toDF("id"), "id") { (rows, tmp) =>
        rows.write.parquet(s"$tmp/data")
      }
    }.getMessage should include("cannot derive a max id from 'id'")
    exists(dir + "_tmp") shouldBe false
  }
}

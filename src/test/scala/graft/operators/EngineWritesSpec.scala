package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.functions.Plans
import graft.sinks.{ArchiveJob, ForkFreeLocalFileSystem}
import graft.sources.SchemaReader

/** A session's own `fs.file.impl`, counting the instances Hadoop makes. */
class CountingLocalFileSystem extends LocalFileSystem {
  CountingLocalFileSystem.made.incrementAndGet()
}
object CountingLocalFileSystem { val made = new AtomicInteger() }

/** The engine's write path: small parts written on the driver with the
  * footer and rows a Spark write gives, no forked process, and the
  * write-size gate's two branches storing the same index. */
class EngineWritesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = (1L to 40L).map { i =>
    (i, s"w${i % 5} w${i % 7} common tok$i", if (i % 2 == 0) "a" else "b",
      Seq(i % 5 + 1.0f, i % 7 * 0.5f, i % 3 - 1.0f, i * 0.1f))
  }.toDF("id", "text", "src", "vec")
  private lazy val queries = corpus.filter(col("id") <= 3)

  /** Rows as comparable strings, binary cells by content. */
  private def sortedRows(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case v => v
  }.mkString("[", ",", "]")).sorted

  private def stored(part: String): Seq[Row] = SchemaReader.collectArtifact(spark, part)

  private def one(cols: Column*): DataFrame = spark.range(1).select(cols: _*)

  /** Each part is one driver-written file (no `_SUCCESS`) with the footer
    * schema, nullability included, and the rows of the Spark write of
    * its `parent` frame. */
  private def sameAsSparkWrite(parts: Seq[(String, DataFrame)]): Unit = {
    val root = tmpDir("spark_writes")
    for (((part, parent), i) <- parts.zipWithIndex) withClue(part) {
      val ref = s"$root/$i"
      parent.write.parquet(ref)
      val footers = SchemaReader.footers(spark, part)
      footers should have size 1
      new java.io.File(part).list().filterNot(_.endsWith(".crc")).toSeq shouldBe
        Seq(new java.io.File(footers.head.path).getName)
      SchemaReader.footers(spark, ref).map(_.schema).distinct shouldBe Seq(footers.head.schema)
      sortedRows(stored(part)) shouldBe sortedRows(stored(ref))
    }
  }

  /** `dir`'s entries as Spark's reader sees them: no `.`/`_` files. */
  private def visible(dir: String): Seq[String] =
    new java.io.File(dir).list().filterNot(n => "_.".contains(n.head)).sorted.toSeq

  test("every driver-written part has the footer and rows of the Spark write it replaces") {
    val root = tmpDir("driver_parts")
    def built(name: String)(build: String => Unit): String = {
      val dir = s"$root/$name"
      build(dir)
      dir
    }
    val det = built("det")(Similarity.writeIvfIndexDeterministic(corpus, "id", "vec", _, nCentroids = 4))
    val trained = built("trained")(Similarity.writeIvfIndex(corpus, "id", "vec", _, nCentroids = 3))
    val pq = built("pq")(Similarity.writeIvfPqIndexDeterministic(corpus, "id", "vec", _,
      nCentroids = 4, m = 2, k = 4))
    val micro = built("micro")(Similarity.writeIvfIndexMicroExact(corpus, "id", "vec", _,
      nCentroids = 3, iters = 2))
    val simhash = built("simhash")(Dedup.writeSimhashIndex(spark, corpus, "id", "text", _, bits = 24))
    val minhash = built("minhash")(Dedup.writeMinhashIndex(spark, corpus, "id", "text", _,
      k = 8, shingleN = 2))
    val winnow = built("winnow")(Dedup.writeWinnowIndex(spark, corpus, "id", "text", _,
      kGram = 2, w = 3))
    val kmv = built("kmv")(Sketches.writeKmvSnapshot(spark, corpus, "id", "src", "text", 2, 16, _))
    val pending = built("pending") { d =>
      Dedup.writeSimhashIndex(spark, corpus, "id", "text", d)
      StoredIndex.writeMaxIdMeta(spark, d, 41L, pending = true)
    }

    // each part as the parent commit's Spark write built it, from
    // independently known values where the part has them
    def detCenters(n: Int) = spark.createDataFrame(java.util.Arrays.asList(
      corpus.orderBy("id").limit(n).select(col("vec").cast("array<double>")).collect().toSeq
        .zipWithIndex.map { case (r, i) => Row(i, r.getSeq[Double](0)) }: _*),
      new StructType().add("cell", "int", nullable = false)
        .add(corpus.select(col("vec").cast("array<double>").as("center")).schema.head))
    sameAsSparkWrite(Seq(
      s"$det/meta" -> one(lit(40L).as("max_id"), lit(false).as("pending")),
      s"$pending/meta" -> one(lit(41L).as("max_id"), lit(true).as("pending")),
      s"$det/centers" -> detCenters(4),
      s"$pq/centers" -> detCenters(4),
      s"$trained/centers" -> stored(s"$trained/centers")
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toDF("cell", "center"),
      s"$micro/centers" -> stored(s"$micro/centers")
        .map(r => (r.getInt(0), r.getSeq[Long](1))).toDF("cell", "center"),
      s"$pq/codebook" -> stored(s"$pq/codebook")
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toDF("j", "code", "center"),
      s"$simhash/params" -> one(lit(24).as("bits")),
      s"$minhash/params" -> one(lit(8).as("k"), lit(2).as("shingle_n")),
      s"$winnow/params" -> one(lit(2).as("k_gram"), lit(3).as("w")),
      s"$kmv/params" -> one(lit(2).as("shingle_n"), lit(16).as("k"))))
  }

  test("one-row and model parts once written by Spark jobs keep that write's footer and rows") {
    import org.apache.spark.sql.graftbridge.BloomBridge
    val root = tmpDir("moved_parts")
    /** The bloom a build aggregates over the stored `part`'s `key`. */
    def bloomOf(part: String, key: Column, fpp: Double): Array[Byte] = {
      val rows = SchemaReader.readArtifact(spark, part)
      rows.agg(BloomBridge.bloomAgg(key, rows.count(), fpp)).head().getAs[Array[Byte]](0)
    }
    val media = Multimodal.attachPayload(corpus, "text", "text")
    val decoder = lit(MediaDecoders.active.id).as("decoder")
    val ss = s"$root/ss"
    Dedup.writeSubstringScreenArtifact(spark, corpus, "text", 2, ss)
    val dc = s"$root/dc"
    Decontaminate.writeDecontamArtifact(spark, corpus, "text", 2, dc)
    val md = s"$root/md"
    Multimodal.writeMediaDupIndex(spark, media, "id", "media", 4, 2, md)
    val probes = media.filter(col("id") <= 3)
      .select(col("id"), Multimodal.stubFeaturesMicro(col("media"), 4).as("_pv"))
    val (reg, compacted) = (s"$root/reg", s"$root/reg_compacted")
    for (d <- Seq(reg, compacted)) Multimodal.writeProbeRegistry(spark, probes, "id", "_pv", 4, 2, d)
    Multimodal.compactProbeRegistry(spark, compacted, Set(1L))
    val rt = s"$root/rt"
    Retrieval.writeRetrievalIndex(spark, corpus.filter(col("id") <= 20), "id", "text", rt)
    Retrieval.appendToRetrievalIndex(spark, rt, corpus.filter(col("id") > 20), "id", "text")
    val sumDl = corpus.select(sum(functions.size(Dedup.tokens(col("text"))))).head().getLong(0)
    val cl = s"$root/cl"
    Classifier.writeModelArtifact(spark, cl, Array(5L, -3L, 0L), 7L)
    val target = col("src") === "a"
    val (iw, bg) = (s"$root/iw", s"$root/bg")
    Importance.writeBucketWeights(corpus, "text", target, 8, iw)
    Importance.writeBigramModel(corpus, "text", target, 4, bg)
    def weights(w: Array[Long], index: String): DataFrame =
      w.toSeq.zipWithIndex.map(_.swap).toDF(index, "w_micro").coalesce(1)

    sameAsSparkWrite(Seq(
      s"$ss/meta" -> one(lit(bloomOf(s"$ss/roll", col("_d"), 0.001)).as("bloom"), lit(2).as("k")),
      s"$dc/bloom" -> one(lit(bloomOf(s"$dc/grams", col("gram_hash"), 0.01)).as("bloom"),
        lit(2).as("n")),
      s"$md/meta" -> one(lit(bloomOf(s"$md/bands", xxhash64(col("_band"), col("_key")), 0.001))
        .as("bloom"), lit(4).as("dim"), lit(2).as("band_size"), decoder),
      s"$reg/geometry" -> one(lit(4).as("dim"), lit(2).as("band_size"), decoder),
      s"$compacted/geometry" -> one(lit(4).as("dim"), lit(2).as("band_size"), decoder),
      s"$rt/stats" -> one(lit(40L).as("n_docs"), lit(sumDl).as("sum_dl")),
      s"$cl/weights" -> weights(Array(5L, -3L, 0L), "bucket"),
      s"$cl/meta" -> Seq((7L, 3)).toDF("bias_micro", "n_buckets").coalesce(1),
      s"$iw/data" -> weights(Importance.bucketWeightsMicro(corpus, "text", target, 8), "bucket"),
      s"$iw/params" -> Seq(8).toDF("buckets").coalesce(1),
      s"$bg/data" -> weights(Importance.bigramWeightsMicro(corpus, "text", target, 4), "idx"),
      s"$bg/params" -> Seq(4).toDF("buckets").coalesce(1)))
  }

  test("stored-index builds, appends, probes and archives fork no process") {
    val dir = s"${tmpDir("forks")}/idx"
    val live = s"${tmpDir("forks_live")}/live"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(live)
    val ((probe, archived), starts) = processStartsDuring {
      Similarity.writeIvfIndexDeterministic(corpus, "id", "vec", dir, nCentroids = 4)
      Similarity.appendToIvfIndexDeterministic(spark, dir,
        corpus.withColumn("id", col("id") + 100), "id", "vec")
      val probe = Similarity.probeIvfIndexDeterministic(spark, dir, "id",
        queries, "id", "vec", k = 5, nProbe = 2).collect()
      (probe, ArchiveJob.run(spark, live, tmpDir("forks_hist"), "t")._2)
    }
    probe should have size 15
    archived shouldBe 2L
    hadoopShellForks(starts) shouldBe empty
    // the recording is not blind: a plain Spark write forks chmod
    // wherever Hadoop runs without its native library
    assume(!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
    val (_, plain) = processStartsDuring(corpus.write.parquet(s"${tmpDir("forks_plain")}/p"))
    hadoopShellForks(plain) should not be empty
  }

  test("a session's own fs.file.impl is kept, for task writes and driver ones") {
    val own = s"${tmpDir("own_fs")}/idx"
    val before = CountingLocalFileSystem.made.get
    withSessionConf("fs.file.impl", Some(classOf[CountingLocalFileSystem].getName)) {
      withSessionConf("fs.file.impl.disable.cache", Some("true")) {
        ForkFreeLocalFileSystem.get(spark, own) shouldBe a[CountingLocalFileSystem]
        Similarity.writeIvfIndexDeterministic(corpus, "id", "vec", own, nCentroids = 4)
      }
    }
    CountingLocalFileSystem.made.get should be > before
    Similarity.probeIvfIndexDeterministic(spark, own, "id", queries, "id", "vec",
      k = 5, nProbe = 2).collect() should have size 15
  }

  test("a deterministic IVF build runs two jobs: the centroid collect and the cells write") {
    val dir = s"${tmpDir("build_jobs")}/idx"
    val (_, jobs) = jobsDuring(
      Similarity.writeIvfIndexDeterministic(corpus, "id", "vec", dir, nCentroids = 4))
    jobs shouldBe 2
    visible(dir) shouldBe Seq("centers", "data", "meta")
  }

  test("both branches of the write-size gate store the same index") {
    // an RDD-backed input has no size statistics: the at-scale branch
    val unsized = spark.createDataFrame(corpus.rdd, corpus.schema)
    val marker = spark.range(0).toDF()
    (Plans.sizedForWrite(unsized)(_ => marker) eq marker) shouldBe true
    (Plans.sizedForWrite(corpus)(_ => marker) eq marker) shouldBe false

    def build(input: DataFrame): (String, Int) = {
      val dir = s"${tmpDir("gate")}/idx"
      val (_, jobs) = jobsDuring(Similarity.writeIvfIndexDeterministic(input, "id", "vec", dir,
        nCentroids = 4))
      (dir, jobs)
    }
    val (small, smallJobs) = build(corpus)
    val (large, largeJobs) = build(unsized)
    largeJobs should be > smallJobs // the cell exchange
    val cells = visible(s"$small/data")
    cells should have size 4
    visible(s"$large/data") shouldBe cells
    for (c <- cells) withClue(c) {
      // one file per cell on either branch, holding the same rows
      Seq(small, large).map(d => visible(s"$d/data/$c").count(_.endsWith(".parquet"))) shouldBe
        Seq(1, 1)
      sortedRows(spark.read.parquet(s"$large/data/$c").collect().toSeq) shouldBe
        sortedRows(spark.read.parquet(s"$small/data/$c").collect().toSeq)
    }
    def probe(dir: String) = sortedRows(Similarity.probeIvfIndexDeterministic(spark, dir, "id",
      queries, "id", "vec", k = 5, nProbe = 2).collect().toSeq)
    probe(large) shouldBe probe(small)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, StructField}

import graft.SparkSpec
import graft.sinks.ArchiveJob
import graft.sources.SchemaReader
import graft.streaming.StreamNearDup

/** The engine reads the parts it stored under their footer schemas: a
  * probe over a stored part is built with no schema-inference job, a
  * model-sized part is read on the driver, and a partitioned part reads,
  * collects and counts from its footers as Spark's inference reads it. */
class ArtifactReadsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = (1L to 40L).map { i =>
    (i, s"w${i % 5} w${i % 7} common tok$i", if (i % 2 == 0) "a" else "b")
  }.toDF("id", "text", "src")
  private lazy val batch = corpus.filter(col("id") <= 5)
  private lazy val media = Multimodal.attachPayload(corpus, "text", "text")

  test("probes over stored parts are built without a Spark job") {
    val root = tmpDir("stored_reads")
    def at(name: String)(write: String => Unit): String = {
      val dir = s"$root/$name"
      write(dir)
      dir
    }
    val target = col("src") === "a"
    val simhash = at("simhash")(Dedup.writeSimhashIndex(spark, corpus, "id", "text", _, bits = 32))
    val minhash = at("minhash")(Dedup.writeMinhashIndex(spark, corpus, "id", "text", _,
      k = 8, shingleN = 2))
    val winnow = at("winnow")(Dedup.writeWinnowIndex(spark, corpus, "id", "text", _,
      kGram = 2, w = 3))
    val kmv = at("kmv")(Sketches.writeKmvSnapshot(spark, corpus, "id", "src", "text", 2, 16, _))
    val stats = at("stats")(CorpusStats.writeStatsSnapshot(spark, corpus, "id", "text", "src", _))
    val dc = at("dc")(Decontaminate.writeDecontamArtifact(spark, batch, "text", 2, _))
    val cl = at("cl")(Classifier.writeModelArtifact(spark, _, Array(5L, -3L, 0L), 7L))
    val iw = at("iw")(Importance.writeBucketWeights(corpus, "text", target, 8, _))
    val bg = at("bg")(Importance.writeBigramModel(corpus, "text", target, 4, _))
    val vocab = at("vocab")(TextAnalysis.writeVocabArtifact(corpus, "text", 4, _))
    val md = at("md")(Multimodal.writeMediaDupIndex(spark, media, "id", "media", 4, 2, _))
    val probes: Seq[(String, () => Dataset[_])] = Seq(
      "simhash screen" -> (() => Dedup.screenWithSimhashIndex(spark, simhash, batch, "id", "text")),
      "simhash stream screen" -> (() => StreamNearDup.screenAgainstIndex(batch, simhash, "id", "text")),
      "minhash screen" -> (() => Dedup.screenWithMinhashIndex(spark, minhash, batch, "id", "text")),
      "winnow screen" -> (() => Dedup.screenWithWinnowIndex(spark, winnow, batch, "id", "text",
        maxDf = 10, minShared = 1)),
      "kmv snapshot" -> (() => Sketches.readKmvSnapshot(spark, kmv, "src")),
      "stats snapshot" -> (() => CorpusStats.readStatsSnapshot(spark, stats)),
      "decontamination" -> (() => Decontaminate.cleanWithStoredArtifact(spark, dc, corpus,
        "id", "text")),
      "classifier" -> (() => Classifier.scoreWithStoredModel(spark, cl, corpus, "id", "text")),
      "bucket weights" -> (() => Importance.scoreWithStoredWeights(corpus, "id", "text", iw)),
      "bigram model" -> (() => Importance.bigramXentWithStoredModel(corpus, "id", "text", bg)),
      "vocabulary" -> (() => TextAnalysis.oovScoreWithStoredVocab(corpus, "id", "text", vocab)),
      "media bands" -> (() => Multimodal.mediaNearDupStoredStream(spark, md, media, "id", "media",
        maxL1 = 50L)))
    for ((name, build) <- probes) withClue(name) {
      val (probe, jobs) = jobsDuring(build())
      jobs shouldBe 0
      probe.collect()
    }
  }

  test("a partitioned part reads, collects and counts from its footers as inference reads it") {
    val reg = s"${tmpDir("partitioned_reads")}/reg"
    def vectors(ids: Column*) = media.filter(col("id").isin(ids: _*))
      .select(col("id"), Multimodal.stubFeaturesMicro(col("media"), 4).as("_pv"))
    Multimodal.writeProbeRegistry(spark, vectors(lit(1L), lit(2L)), "id", "_pv", 4, 2, reg)
    Multimodal.appendToProbeRegistry(spark, reg, vectors(lit(3L)), "id", "_pv")
    val rt = s"${tmpDir("partitioned_reads")}/rt"
    Retrieval.writeRetrievalIndex(spark, corpus.filter(col("id") <= 20), "id", "text", rt)
    Retrieval.appendToRetrievalIndex(spark, rt, corpus.filter(col("id") > 20), "id", "text")
    val hist = s"${tmpDir("partitioned_reads")}/hist"
    val live = s"${tmpDir("partitioned_reads")}/live"
    Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 11:00:00"), (3L, null))
      .toDF("id", "ts").write.parquet(live)
    ArchiveJob.runPartitioned(spark, live, hist, "ts", "id") shouldBe 3L
    for ((path, part) <- Seq(s"$reg/probes" -> StructField("seg", IntegerType),
        s"$rt/postings" -> StructField("seg", IntegerType),
        hist -> StructField("date_key", DateType))) withClue(path) {
      val inferred = spark.read.parquet(path)
      val (read, jobs) = jobsDuring(SchemaReader.readArtifact(spark, path, Some(part)))
      jobs shouldBe 0
      read.schema shouldBe inferred.schema
      read.collect().map(_.toString).sorted shouldBe inferred.collect().map(_.toString).sorted
      val files = inferred.drop(part.name)
      val (rows, collectJobs) = jobsDuring(SchemaReader.collectArtifact(spark, path, Some(part.name)))
      collectJobs shouldBe 0
      rows.map(_.toString).sorted shouldBe files.collect().map(_.toString).sorted
      SchemaReader.footers(spark, path, Some(part.name)).map(_.rows).sum shouldBe inferred.count()
    }
  }

  test("q169 builds in 20 jobs: its meta parts are written and read on the driver") {
    // pairs of documents share a text: every odd arrival repeats an
    // even corpus document, in windows long enough for the substring screen
    val dir = tmpDir("q169_docs")
    (1L to 120L).map(i => (i, (0 until 60).map(j => s"w${(i / 2 * 7 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val (gate, jobs) = jobsDuring(graft.SparkEntry.queries("q169_ingest_gate")(spark, dir))
    jobs shouldBe 20
    gate.filter(col("dup_text")).count() shouldBe 60L
  }
}

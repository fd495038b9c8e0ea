package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EpochPlanSpec extends SparkSpec {
  import spark.implicits._

  test("targets sum to ~budget and epoch math is exact int64") {
    val docs = Seq(
      (1L, "a b c d e f g h", "big"), (2L, "a b c d e f g h", "big"),
      (3L, "a b c d e f g h", "big"), (4L, "a b", "small")
    ).toDF("doc_id", "text", "source")
    val plan = Sampling.epochPlan(docs, "source", "text", 1000L)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("tokens_target"),
          r.getAs[Long]("epochs_milli"), r.getAs[Boolean]("data_constrained"))).toMap
    val (bigT, bigTarget, bigEpochs, bigDc) = plan("big")
    val (smallT, smallTarget, smallEpochs, smallDc) = plan("small")
    bigT shouldBe 24L
    smallT shouldBe 2L
    // sqrt-temperature softening: small source gets MORE than its
    // proportional share (2/26 → ~22%), big gets less
    smallTarget.toDouble / 1000 should be > (2.0 / 26)
    (bigTarget + smallTarget).toDouble shouldBe 1000.0 +- 1.0
    bigEpochs shouldBe (1000L * bigTarget) / bigT
    smallEpochs shouldBe (1000L * smallTarget) / smallT
    // both targets exceed holdings at this budget → repetition needed
    bigDc shouldBe (bigTarget > bigT)
    smallDc shouldBe (smallTarget > smallT)
    smallDc shouldBe true
  }

  test("a budget below holdings needs no repetition") {
    val docs = (1L to 50L).map(i => (i, "w x y z", "only")).toDF("doc_id", "text", "source")
    val r = Sampling.epochPlan(docs, "source", "text", 100L).head
    r.getAs[Long]("tokens_target") shouldBe 100L // single source takes all
    r.getAs[Long]("epochs_milli") shouldBe 500L // 100 of 200 tokens = 0.5 epochs
    r.getAs[Boolean]("data_constrained") shouldBe false
  }
}

class OovVocabSpec extends SparkSpec {
  import spark.implicits._

  test("stored vocab is the deterministic top-N and scoring counts instances") {
    val docs = Seq(
      (1L, "a a a b b c"), (2L, "a b q q z")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab").toString
    TextAnalysis.writeVocabArtifact(docs, "text", 2, dir)
    // counts: a=4, b=3, c=1, q=2, z=1 → top-2 = {a, b}
    spark.read.parquet(s"$dir/vocab").select("token").as[String]
      .collect().sorted shouldBe Array("a", "b")
    val scored = TextAnalysis.oovScoreWithStoredVocab(docs, "doc_id", "text", dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_oov"), r.getAs[Double]("oov_rate"))).toMap
    scored(1L) shouldBe ((1L, 1.0 / 6)) // c
    scored(2L) shouldBe ((3L, 3.0 / 5)) // q q z
  }

  test("vocab ties break by token ascending") {
    val docs = Seq((1L, "z y x w")).toDF("doc_id", "text") // all count 1
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab2").toString
    TextAnalysis.writeVocabArtifact(docs, "text", 2, dir)
    spark.read.parquet(s"$dir/vocab").select("token").as[String]
      .collect().sorted shouldBe Array("w", "x")
  }

  test("stored-vocab scoring is stateless on a stream and equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq((1L, "a a b"), (2L, "c d a")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab3").toString
    TextAnalysis.writeVocabArtifact(docs, "text", 2, dir) // {a, b}
    val in = MemoryStream[(Long, String)]
    val q = TextAnalysis
      .oovScoreWithStoredVocab(in.toDF().toDF("doc_id", "text"), "doc_id", "text", dir)
      .writeStream.format("memory").queryName("t_oov")
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, "a a b"), (2L, "c d a"))
    q.processAllAvailable()
    in.addData((3L, "e e e")) // second micro-batch, no state carried
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_oov")
      .select("doc_id", "n_oov").as[(Long, Long)].collect().toMap
    streamed shouldBe Map(1L -> 0L, 2L -> 2L, 3L -> 3L)
  }
}

class PlansHelpersSpec extends graft.SparkSpec {
  import graft.sources.SchemaReader.footers

  private def footerRows(dir: String): Long = footers(spark, dir).map(_.rows).sum

  test("footer walk row counts (no job) equal count() on a stored artifact") {
    val dir = tmpDir("plans_rowcount")
    spark.range(1234).selectExpr("id", "id * 2 AS v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    footerRows(dir) shouldBe spark.read.parquet(dir).count()
  }

  test("footer walk fails fast on a partitioned layout (round-15 advice)") {
    val dir = tmpDir("plans_rowcount_part")
    spark.range(100).selectExpr("id", "id % 3 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    // subdirectories mean the flat sum would silently UNDERCOUNT and
    // mis-gate a broadcast — must be an error, not a wrong number
    an[IllegalArgumentException] should be thrownBy footerRows(dir)
    // a reader that declares the partition column walks its one level
    footers(spark, dir, Some("p")).map(_.rows).sum shouldBe 100L
    an[IllegalArgumentException] should be thrownBy footers(spark, dir, Some("q"))
  }

  test("footer walk skips _/. dirs as Spark's reader does, fails on k=v") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("plans_rowcount_hidden")
    spark.range(500).repartition(2).write.mode("overwrite").parquet(dir)
    // leftovers Spark's reader ignores: an interrupted write's
    // _temporary (holding a real data file that must NOT count), a file
    // sink's _spark_metadata, a dot-prefixed staging directory
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val tmp = Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    Files.copy(part, tmp.resolve(part.getFileName))
    Files.createDirectories(Paths.get(dir, "_spark_metadata"))
    Files.createDirectories(Paths.get(dir, ".staging"))
    footerRows(dir) shouldBe 500L
    // a partition directory beside the flat files is real drift
    Files.createDirectories(Paths.get(dir, "k=1"))
    an[IllegalArgumentException] should be thrownBy footerRows(dir)
  }

  test("shufflePartitions is volume-aware: floored at parallelism, capped at the session conf") {
    import graft.functions.Plans
    // spark.range(n) estimates 8 bytes a row and runs nothing here, so
    // input size alone walks the fan-out through its three regimes
    val rowsPerPart = Plans.FanoutBytesPerPartition / 8
    def fanout(rows: Long) = Plans.shufflePartitions(spark.range(rows).toDF())
    val parallelism = spark.sparkContext.defaultParallelism
    withSessionConf("spark.sql.shuffle.partitions", Some((parallelism + 8).toString)) {
      // tiny input → floor (never below core parallelism: the sized
      // stages are CPU-bound)
      fanout(10) shouldBe parallelism
      fanout(rowsPerPart * parallelism) shouldBe parallelism
      // in between, one partition per FanoutBytesPerPartition of input
      fanout(rowsPerPart * (parallelism + 3)) shouldBe parallelism + 3
      fanout(rowsPerPart * (parallelism + 3) + 1) shouldBe parallelism + 4
      // above the cap → the session's shuffle partitions
      fanout(rowsPerPart * (parallelism + 100)) shouldBe parallelism + 8
      // an estimate past 1 PiB is "unknown" → cap
      fanout(Long.MaxValue / 16) shouldBe parallelism + 8
    }
    // a session cap below core parallelism also bounds the floor
    withSessionConf("spark.sql.shuffle.partitions", Some("1")) {
      fanout(10) shouldBe 1
    }
  }
}

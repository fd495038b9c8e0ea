package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PortableRound
import graft.sources.SchemaReader

/** The deterministic IVF family routes through centroids held on the
  * driver: cell assignment and probe ranking are per-row kernels over a
  * literal centroid array. These specs pin the kernels against the
  * broadcast cross join + `max_by` and window forms they replaced, the
  * footer-schema reads of the stored parts, the jobs a probe frame
  * costs, and the empty-corpus refusal of both writers. */
class IvfRoutingSpec extends SparkSpec {
  import spark.implicits._

  /** 120 random 5-d vectors, with the edge rows the kernels must order
    * like the old forms: id 3 duplicates centroid 1 (affinity ties, so
    * cell 3 never wins), id 5 is a zero-norm centroid (a null affinity
    * for every vector), id 40 a scaled copy of centroid 1 (an exact
    * tie at 1.0 between cells 1 and 3), id 50 a zero-norm vector (null
    * affinities to every cell). */
  private def corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val vs = Array.tabulate(120)(_ => Array.fill(5)(rnd.nextFloat() * 2 - 1))
    vs(3) = vs(1).clone()
    vs(5) = Array.fill(5)(0f)
    vs(40) = vs(1).map(_ * 2)
    vs(50) = Array.fill(5)(0f)
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("vec_id", "embedding")
  }

  // the replaced cross-join forms, verbatim apart from names
  private def oldCenters(df: DataFrame, n: Int): DataFrame =
    df.orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("_cid"), col("embedding").cast("array<double>").as("_center"))
      .withColumn("_cell", row_number().over(Window.orderBy(col("_cid"))) - 1)
      .select("_cell", "_center")
  private def oldAff: Column =
    PortableRound.round4(Similarity.cosine(col("_v"), col("_center")))
  private def oldAssign(df: DataFrame, centers: DataFrame): DataFrame =
    df.select(col("vec_id").as("_id"), col("embedding").cast("array<double>").as("_v"))
      .crossJoin(broadcast(centers))
      .select(col("_id"), col("_v"), col("_cell"), oldAff.as("_aff"))
      .groupBy(col("_id"))
      .agg(max_by(struct(col("_cell"), col("_v")), struct(col("_aff"), -col("_cell"))).as("_m"))
      .select(col("_id"), col("_m._cell").as("_cell"))
  private def oldProbes(queries: DataFrame, centers: DataFrame, nProbe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("_v"))
      .crossJoin(broadcast(centers))
      .withColumn("_aff", oldAff)
      .withColumn("_pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("_aff").desc, col("_cell").asc)))
      .filter(col("_pr") <= nProbe)
      .select(col("query_id"), col("_cell"))

  test("routing kernels equal the cross-join max_by and window forms") {
    val df = corpus
    val nC = 8
    val centers = df.orderBy(col("vec_id")).limit(nC)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[java.lang.Double](0)).toSeq
    val old = oldCenters(df, nC)
    def pairs(f: DataFrame) = f.as[(Long, Int)].collect().sorted.toSeq
    val assigned = pairs(Similarity.detAssign(df, "vec_id", "embedding", centers)
      .select("_id", "_cell"))
    assigned shouldBe pairs(oldAssign(df, old))
    // the edge rows really hit the tie-breaks
    assigned.toMap.apply(40L) shouldBe 1
    assigned.toMap.apply(50L) shouldBe 0
    assigned.map(_._2) should not contain 3
    for (nProbe <- Seq(1, 3, nC, nC + 2)) withClue(s"nProbe=$nProbe: ") {
      val got = pairs(Similarity.detProbes(df, "vec_id", "embedding", centers, nProbe)
        .select("query_id", "_cell"))
      got shouldBe pairs(oldProbes(df, old, nProbe))
      got.size shouldBe 120 * math.min(nProbe, nC)
    }
  }

  test("stored IVF and IVF-PQ parts read under their footer schema, as inference reads them") {
    val df = corpus
    val dir = tmpDir("ivf_footer_schema")
    val pqDir = tmpDir("ivfpq_footer_schema")
    Similarity.writeIvfIndexDeterministic(df, "vec_id", "embedding", dir, nCentroids = 8)
    Similarity.writeIvfPqIndexDeterministic(df, "vec_id", "embedding", pqDir,
      nCentroids = 4, m = 5, k = 4)
    val cell = org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.IntegerType)
    for (d <- Seq(dir, pqDir)) {
      SchemaReader.readArtifact(spark, s"$d/data", Some(cell)).schema shouldBe
        spark.read.parquet(s"$d/data").schema
      for (part <- Seq("centers", "meta")) withClue(s"$d/$part: ") {
        val p = s"$d/$part"
        spark.read.schema(SchemaReader.unionSchema(SchemaReader.footers(spark, p)))
          .parquet(p).schema shouldBe spark.read.parquet(p).schema
        SchemaReader.collectArtifact(spark, p).map(_.toString).sorted shouldBe
          spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
      }
      // the meta's max id is the one observed during the data write
      StoredIndex.storedMaxId(spark, d) shouldBe 119L
    }
    SchemaReader.collectArtifact(spark, s"$pqDir/codebook").map(_.toString).sorted shouldBe
      spark.read.parquet(s"$pqDir/codebook").collect().map(_.toString).sorted.toSeq
    // the stored layout: cell-partitioned data, centers(cell, center)
    spark.read.parquet(s"$dir/centers").schema.map(f => (f.name, f.dataType.simpleString)) shouldBe
      Seq(("cell", "int"), ("center", "array<double>"))
    new java.io.File(s"$dir/data").list().filterNot(n => "_.".contains(n.head)).sorted.toSeq shouldBe
      spark.read.parquet(s"$dir/data").select("cell").distinct().as[Int].collect()
        .map(c => s"cell=$c").sorted.toSeq
  }

  test("a probe frame over a stored index costs one job, the probe collect") {
    val df = corpus
    val dir = tmpDir("ivf_probe_jobs")
    val pqDir = tmpDir("ivfpq_probe_jobs")
    Similarity.writeIvfIndexDeterministic(df, "vec_id", "embedding", dir, nCentroids = 8)
    Similarity.writeIvfPqIndexDeterministic(df, "vec_id", "embedding", pqDir,
      nCentroids = 4, m = 5, k = 4)
    val queries = df.filter(col("vec_id") < 3)
    val (probe, jobs) = jobsDuring(Similarity.probeIvfIndexDeterministic(spark, dir,
      "vec_id", queries, "vec_id", "embedding", k = 5, nProbe = 2))
    jobs shouldBe 1
    // running it: the rank window's shuffle and the result, no broadcast
    jobsDuring(probe.collect())._2 shouldBe 2
    probe.count() shouldBe 15L
    val (pqProbe, pqJobs) = jobsDuring(Similarity.probeIvfPqIndexDeterministic(spark, pqDir,
      "vec_id", queries, "vec_id", "embedding", topK = 5, nProbe = 2))
    pqJobs shouldBe 1
    pqProbe.count() shouldBe 15L
  }

  test("an append whose stored centers are corrupt fails before the meta goes pending") {
    val df = corpus
    val dir = tmpDir("ivf_corrupt_centers")
    Similarity.writeIvfIndexDeterministic(df.filter(col("vec_id") < 100), "vec_id",
      "embedding", dir, nCentroids = 8)
    val part = new java.io.File(s"$dir/centers").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val good = java.nio.file.Files.readAllBytes(part)
    // garble the data pages, keep the footer: only a page read sees it
    val bad = good.clone()
    for (i <- 4 until 40) bad(i) = 0x5a.toByte
    java.nio.file.Files.write(part, bad)
    val batch = df.filter(col("vec_id") >= 100)
    an[Exception] should be thrownBy
      Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    // nothing to repair: restoring the artifact is enough
    java.nio.file.Files.write(part, good)
    Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    StoredIndex.storedMaxId(spark, dir) shouldBe 119L
  }

  test("an empty corpus fails both deterministic writers before anything lands under dir") {
    val empty = corpus.limit(0)
    val ivf = s"${tmpDir("ivf_empty")}/idx"
    val pq = s"${tmpDir("ivfpq_empty")}/idx"
    intercept[IllegalArgumentException] {
      Similarity.writeIvfIndexDeterministic(empty, "vec_id", "embedding", ivf, nCentroids = 4)
    }.getMessage should include("empty corpus")
    intercept[IllegalArgumentException] {
      Similarity.writeIvfPqIndexDeterministic(empty, "vec_id", "embedding", pq,
        nCentroids = 4, m = 5, k = 4)
    }.getMessage should include("empty corpus")
    new java.io.File(ivf).exists() shouldBe false
    new java.io.File(pq).exists() shouldBe false
  }
}

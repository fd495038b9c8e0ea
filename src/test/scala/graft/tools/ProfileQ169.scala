package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** Dev-only: decompose the q169 ingest gate's WARM (probe steady
  * state) cost into its stages — media screen, substring probe,
  * quality, assembly — each timed with the noop sink so the
  * measurement is the computation, not the collect. Artifacts are
  * built once (run 1 of any q169 bench/scratch leaves them in tmpdir);
  * this tool sets graft.bench.reuseArtifacts so `Artifacts.prepare`
  * reuses them, exactly like Bench's warm sweeps. */
object ProfileQ169 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000000).selectExpr("sum(id)").collect()

    // build artifacts once (full semantics), then flip to reuse
    SparkEntry.queries("q169_ingest_gate")(spark, dir).count()
    System.setProperty("graft.bench.reuseArtifacts", "true")

    def time(label: String)(f: => Unit): Unit = {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        f
        println(f"[prof169] $label%-34s run$r ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val media = Multimodal.attachPayload(docs, "text", "text")
    val arrivals = media.filter(col("doc_id") % 2 === 1)
    val mDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_media_" +
      java.lang.Integer.toHexString(dir.hashCode)
    val sDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_ss_" +
      java.lang.Integer.toHexString(dir.hashCode)

    time("arrivals scan only") { noop(arrivals.select(col("doc_id"), col("media"))) }
    time("quality score") {
      noop(arrivals.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q")))
    }
    time("media screen-cut") {
      noop(Multimodal.mediaScreenCut(spark, mDir, arrivals, "doc_id", "media", 2000L))
    }
    time("substring probe (stored)") {
      noop(Dedup.dupSpansRollingAgainstStored(spark, sDir, arrivals, "doc_id", "text"))
    }
    time("full gate") {
      SparkEntry.queries("q169_ingest_gate")(spark, dir).count()
    }
    spark.stop()
  }
}

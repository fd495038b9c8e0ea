package graft.jobs

import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.ml.MlPipeline
import graft.operators.OneHot
import graft.sinks.{KvSink, KvStore}
import graft.streaming.{LocalCheckpointFileManager, StreamJoin, StreamParse}

/** The reference's combined streaming pipeline composed end-to-end
  * (`pyspark/stream_combined.py`): two payload streams → lenient JSON
  * parse + typed projection → one-hot feature encoding → persisted-model
  * scoring inside the streaming plan → per-side watermarks on COPIED
  * event-time columns → full-outer ±30 s interval join on date equality
  * → minute-keyed foreachBatch KV write with checkpointing.
  *
  * Every stage is the tested library operator; this object only wires
  * them in the reference's order.
  */
object StreamCombinedJob {

  case class Side(
      payload: DataFrame, // streaming frame with a `payload` column
      schema: StructType, // lenient parse target
      tsCol: String, // event-time column after parse
      suffix: String, // "weather" | "stock"
      oneHotCol: Option[String] = None,
      oneHotClasses: Seq[String] = Seq.empty,
      model: Option[GBTRegressionModel] = None,
      featureCols: Seq[String] = Seq.empty,
      watermark: String = "1 minutes")

  /** Parse → one-hot → score → watermarked side (reference order:
    * stream_combined.py:49-128 then :171-182). */
  def prepare(s: Side): DataFrame = {
    val parsed = StreamParse.parse(s.payload, "payload", s.schema)
    val encoded = s.oneHotCol.fold(parsed)(c =>
      OneHot.encode(parsed, c, s.oneHotClasses, c))
    val scored = s.model.fold(encoded)(m =>
      MlPipeline.score(m, encoded, s.featureCols)
        .withColumnRenamed("prediction", s"prediction_${s.suffix}")
        .drop("features"))
    StreamJoin.side(scored, s.tsCol, s.suffix, s.watermark)
  }

  /** Full-outer interval join of two prepared sides. */
  def joined(left: Side, right: Side, toleranceSec: Int = 30): DataFrame =
    StreamJoin.intervalJoin(prepare(left), left.suffix, prepare(right), right.suffix,
      toleranceSec, "fullOuter")

  /** Writer: minute-keyed KV families via foreachBatch + checkpoint
    * (stream_combined.py:227-256 without the driver collect). The row
    * key coalesces over the candidate event-time columns — on a
    * full-outer join either side may be null (the reference sketches the
    * same coalesce for datetime←publish_timestamp, stream_stock.py:65).
    * Checkpoint and state-store files go through
    * [[LocalCheckpointFileManager]] unless the session names its own
    * `spark.sql.streaming.checkpointFileManagerClass`. */
  def writer(df: DataFrame, keyTsCols: Seq[String], families: Map[String, Seq[String]],
      store: KvStore, checkpointDir: String): DataStreamWriter[Row] = {
    LocalCheckpointFileManager.installUnlessSet(df.sparkSession)
    val keyed = df.withColumn("row_key",
      KvSink.minuteKey(coalesce(keyTsCols.map(col): _*)))
    keyed.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(KvSink.streamWriter("row_key", families, store))
  }
}

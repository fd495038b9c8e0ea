package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TimeOps
import graft.operators.{HourlyAgg, ModeAgg}
import graft.sinks.{KvSink, KvStore}
import graft.sources.SchemaReader

/** The reference's batch-aggregate job family composed end-to-end
  * (`pyspark/batch_stock.py` / `batch_openweather.py` / `batch_tomtom.py`):
  * glob-enumerate live parquet → schema-coerced read → timezone-shifted
  * time features → hourly avg/count aggregates (+ optional per-hour mode
  * of a categorical column, joined back on the hour keys) → wide-column
  * KV write keyed `"{date}_{hour}"` ([[aggregate]] adds the sort).
  *
  * Differences from the reference, per SURVEY.md §4: one multi-path
  * vectorized scan per footer shape instead of a per-file union loop,
  * and the KV write runs on executors via foreachPartition instead of a
  * driver-side collect loop — same row-key/family/batch contract, no driver
  * materialization.
  */
object BatchAggJob {

  case class Config(
      schema: StructType,
      tsCol: String,
      measures: Seq[String],
      modeCol: Option[String] = None,
      tz: Option[String] = None, // e.g. America/New_York (batch_stock.py:71)
      skew: Option[String] = None) // e.g. "INTERVAL 20 minutes" (batch_stock.py:72)

  /** The aggregate frame (pure plan) WITHOUT the query-facing sort, for
    * the keyed KV write: the sort is a range exchange plus a job. */
  def aggregateUnsorted(spark: SparkSession, paths: Seq[String], cfg: Config): DataFrame = {
    val raw = SchemaReader.read(spark, cfg.schema, paths)
    val shifted = (cfg.tz, cfg.skew) match {
      case (Some(tz), Some(iv)) =>
        raw.withColumn(cfg.tsCol, from_utc_timestamp(col(cfg.tsCol), tz) - expr(iv))
      case (Some(tz), None) =>
        raw.withColumn(cfg.tsCol, from_utc_timestamp(col(cfg.tsCol), tz))
      case (None, Some(iv)) =>
        raw.withColumn(cfg.tsCol, col(cfg.tsCol) - expr(iv))
      case _ => raw
    }
    val hourly = HourlyAgg.hourlyStats(shifted, cfg.tsCol, cfg.measures)
    val withMode = cfg.modeCol.fold(hourly) { mc =>
      val keyed = shifted
        .withColumn("date", TimeOps.dateKey(col(cfg.tsCol)))
        .withColumn("hour", TimeOps.hourKey(col(cfg.tsCol)))
      hourly.join(
        ModeAgg.mode(keyed, Seq("date", "hour"), mc, s"mode_$mc"),
        Seq("date", "hour"))
    }
    withMode
  }

  /** The reference's query-facing shape: [[aggregateUnsorted]] plus its
    * (date, hour) ordering (`batch_stock.py` printed ordered output). */
  def aggregate(spark: SparkSession, paths: Seq[String], cfg: Config): DataFrame =
    aggregateUnsorted(spark, paths, cfg).orderBy(asc("date"), asc("hour"))

  /** Run the full job: aggregate + distributed KV write. Returns the
    * number of aggregate rows written — counted with an accumulator
    * inside the same foreachPartition pass, so the pipeline executes
    * exactly once (a trailing count() would re-run the whole
    * read→aggregate plan). */
  def run(spark: SparkSession, paths: Seq[String], cfg: Config,
      store: KvStore, family: String = "stats", batchSize: Int = 5000): Long = {
    val agg = aggregateUnsorted(spark, paths, cfg)
      .withColumn("row_key", KvSink.dateHourKey(col("date"), col("hour")))
    val valueCols = agg.columns.filterNot(Set("row_key").contains).toSeq
    val written = spark.sparkContext.longAccumulator("kv_rows_written")
    KvSink.writeBatch(agg, "row_key", Map(family -> valueCols), store, batchSize,
      onRow = () => written.add(1))
    written.value
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{ExactAgg, PortableRound, TimeOps}

/** Hourly multi-aggregate builder (capabilities A1/A4/A7/O1,
  * SURVEY.md §2.5/§2.7).
  *
  * Reference shape: `groupBy(date, hour).agg(count, round(avg(x),2)×N)`
  * then ascending sort (`pyspark/batch_stock.py:76-85`, weather ×9
  * `batch_openweather.py:91-100`). Catalyst plans this as partial
  * HashAggregate → shuffle on (date,hour) → final HashAggregate (callers
  * that show the rows add the sort; a keyed KV write needs none) —
  * map-side combine means the shuffle carries one row per (date,hour)
  * per task, not the raw events, so the shape holds at 100 TB (output
  * cardinality = dates×24, tiny regardless of input size).
  */
object HourlyAgg {

  /** Derive (date, hour) keys from `tsCol` and attach rounded avg + the
    * group count — the `batch_stock` hourly-stats query shape, unsorted
    * (callers that need `(date, hour)` order add it). */
  def hourlyStats(df: DataFrame, tsCol: String, measures: Seq[String]): DataFrame = {
    val keyed = df
      .withColumn("date", TimeOps.dateKey(col(tsCol)))
      .withColumn("hour", TimeOps.hourKey(col(tsCol)))
    val aggs: Seq[Column] =
      count(lit(1)).as("n") +:
        measures.flatMap { m =>
          Seq(
            ExactAgg.avg2(col(m)).as(s"avg_$m"),
            ExactAgg.sum2(col(m)).as(s"sum_$m"),
            PortableRound.round2(min(col(m))).as(s"min_$m"),
            PortableRound.round2(max(col(m))).as(s"max_$m"))
        }
    keyed.groupBy(col("date"), col("hour"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Conditional (null-filtered) grouped average, re-joined onto the base
    * aggregate — capability A4 (`batch_tomtom.py:94-100`): groups whose
    * measure is all-null drop out of the inner join, exactly as in the
    * reference. */
  def conditionalAvg(
      df: DataFrame,
      keys: Seq[String],
      measure: String,
      outName: String): DataFrame = {
    df.filter(col(measure).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(ExactAgg.avg2(col(measure)).as(outName))
  }

  /** Two-level rollup preserving the reference's avg-of-avgs semantics —
    * capability A5 (`batch_tomtom.py:114-117`): per-fine-key averages are
    * re-averaged per coarse key, NOT weighted by group size. */
  def avgOfAvgs(
      df: DataFrame,
      fineKeys: Seq[String],
      coarseKeys: Seq[String],
      measure: String): DataFrame = {
    val fine = df.groupBy((coarseKeys ++ fineKeys).distinct.map(col): _*)
      .agg(ExactAgg.avgExact(col(measure)).as("fine_avg"))
    fine.groupBy(coarseKeys.map(col): _*)
      .agg(
        count(lit(1)).as("n_groups"),
        ExactAgg.avg2(col("fine_avg")).as(s"avg_of_avg_$measure"))
  }
}

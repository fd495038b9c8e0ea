package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time-feature scalar surface (SURVEY.md §2.3).
  *
  * The reference derives every time feature from event-time columns:
  * UTC→local shifts (`from_utc_timestamp`, `pyspark/batch_stock.py:71`,
  * `batch_tomtom.py:86`, `ML_tomtom.py:162`), a −20-minute clock-skew
  * correction (`batch_stock.py:72`), date/hour grouping keys
  * (`batch_stock.py:73-74`), calendar features (`ML_stock.py:88-90`),
  * minute-grain join keys (`ML_stock.py:125`) and unix seconds for range
  * windows (`ML_stock.py:159`).
  *
  * All of these are Catalyst-native expressions (whole-stage-codegen'd,
  * constant-folded interval arithmetic) — no UDFs, so they stay inside
  * codegen spans and push down through the plan.
  */
object TimeOps {

  /** UTC instant → wall-clock in `tz` (`batch_stock.py:71`). */
  def toLocal(ts: Column, tz: String): Column = from_utc_timestamp(ts, tz)

  /** Reference's −20-minute feed clock-skew fix (`batch_stock.py:72`). */
  def skewCorrect(ts: Column, minutes: Int = 20): Column =
    ts - expr(s"INTERVAL $minutes minutes")

  /** (date, hour) grouping keys (`batch_stock.py:73-74`). Hour is cast
    * to long so engine output aligns with 64-bit SQL oracles. */
  def dateKey(ts: Column): Column = to_date(ts)
  def hourKey(ts: Column): Column = hour(ts).cast("long")

  /** Calendar features (`ML_stock.py:88-90`): Spark dayofweek is
    * 1=Sunday..7=Saturday. */
  def dowKey(ts: Column): Column = dayofweek(ts).cast("long")
  def monthKey(ts: Column): Column = month(ts).cast("long")

  /** Minute-grain join key (`ML_stock.py:125,173`). */
  def minuteKey(ts: Column): Column = date_trunc("minute", ts)

  /** Unix seconds for range-window frames (`ML_stock.py:159`). */
  def unixSeconds(ts: Column): Column = unix_timestamp(ts)
}

package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action of every query: row count plus an order-independent
  * hash over ALL output columns. Unlike `count()`, which lets Catalyst
  * prune every projection, this makes the plan compute each column, and
  * the same one action checks the output against the pinned value. */
object Fingerprint {

  /** Hashable form of a column: maps become key-sorted entry arrays and
    * variants their JSON text (Spark refuses to hash either directly). */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _: VariantType => c.cast(StringType)
    case _ => c
  }

  def frame(df: DataFrame): DataFrame = {
    // positional names: output columns may repeat a name or carry dots
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("n"), sum(h.cast(DecimalType(38, 0))).as("h"))
  }

  /** `rows:hash` of the single row [[frame]] returns. */
  def read(df: DataFrame): (Long, String) = {
    val r = df.collect().head
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (r.getLong(0), s"${r.getLong(0)}:$h")
  }
}

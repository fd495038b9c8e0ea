package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator`s — the engine's custom-aggregation tier (SURVEY.md
  * §7.3 named the mode Aggregator as the one optional custom aggregate;
  * the heavy-hitters sketch extends the mergeable-sketch family of
  * [[graft.operators.Sketches]] with frequency estimation).
  *
  * Both run inside Spark's ObjectHashAggregate with map-side partial
  * combine: `reduce` folds rows into a per-partition buffer, `merge`
  * combines partials across the shuffle — the buffer, not the data, is
  * what moves. Registered as Column functions via `udaf(...)`;
  * [[TypedAggs.register]] exposes them to SQL.
  */
object TypedAggs {

  private def mapEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()

  /** Grouped mode with the engine-wide tie-break (max count, then max
    * value — the reference's argmax-struct semantic,
    * `batch_openweather.py:16-18`). Null inputs are skipped. Buffer =
    * value→count map; per-group distinct-value cardinality bounds the
    * buffer, and partials pre-combine map-side exactly like the
    * two-aggregate struct formulation. */
  object ModeAggregator extends Aggregator[String, Map[String, Long], String] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) b else b.updated(v, b.getOrElse(v, 0L) + 1L)
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      if (a.size < b.size) merge(b, a)
      else b.foldLeft(a) { case (acc, (v, c)) => acc.updated(v, acc.getOrElse(v, 0L) + c) }
    override def finish(m: Map[String, Long]): String =
      if (m.isEmpty) null
      else m.maxBy { case (v, c) => (c, v) }._1 // (count, value) — ties → greatest value
    override def bufferEncoder: Encoder[Map[String, Long]] = mapEncoder
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Misra–Gries heavy hitters with `k` counters: every item whose true
    * frequency exceeds n/k is GUARANTEED present, and each reported
    * count undercounts by at most n/k (merge preserves the bound —
    * Agarwal et al., "Mergeable Summaries"). The bounded buffer is the
    * point: frequent-token stats over a 100 TB corpus in O(k) state per
    * group, vs a full vocabulary aggregate's unbounded one.
    *
    * Output: (item, count) pairs sorted count desc, item asc. Estimates
    * are lower bounds; callers needing exact counts re-count just the
    * reported items (a semi-join — candidate set is ≤ k). */
  class HeavyHittersAggregator(k: Int)
      extends Aggregator[String, Map[String, Long], Seq[(String, Long)]] {
    require(k > 1, "k must be > 1")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) b
      else if (b.contains(v) || b.size < k) b.updated(v, b.getOrElse(v, 0L) + 1L)
      else { // full and new: decrement-all, drop zeros (one MG step)
        b.collect { case (i, c) if c > 1L => i -> (c - 1L) }
      }

    /** Merged-MG: sum counts; if over capacity subtract the (k+1)-th
      * largest combined count from everything and drop non-positives. */
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val combined = b.foldLeft(a) { case (acc, (v, c)) =>
        acc.updated(v, acc.getOrElse(v, 0L) + c)
      }
      if (combined.size <= k) combined
      else {
        val d = combined.values.toSeq.sorted(Ordering[Long].reverse)(k)
        combined.collect { case (i, c) if c > d => i -> (c - d) }
      }
    }

    override def finish(m: Map[String, Long]): Seq[(String, Long)] =
      m.toSeq.sortBy { case (i, c) => (-c, i) }

    override def bufferEncoder: Encoder[Map[String, Long]] = mapEncoder
    override def outputEncoder: Encoder[Seq[(String, Long)]] = ExpressionEncoder()
  }

  /** The k smallest DISTINCT long values per group, as an ascending
    * sequence — the KMV sketch state computed as ONE partial-combined
    * aggregate (round 16, guide §2.3 "aggregate before you shuffle").
    * The windowed form it replaces for [[graft.operators.Sketches]]
    * paid a global `(g, h)` distinct exchange plus TWO whole-bucket
    * Window sorts (salt stage + merge stage, 3 exchanges total); this
    * buffer is ≤ k longs per group per map task, so only
    * tasks × groups × k longs ever shuffle and nothing is globally
    * sorted. Values are exact set minima (a java.util.TreeSet — dedupe
    * and ordering are the set's), so the result is BIT-IDENTICAL to
    * the windowed form (SketchesSpec pins it). Null inputs skipped. */
  class KmvMinsAggregator(k: Int)
      extends Aggregator[java.lang.Long, java.util.TreeSet[java.lang.Long], Seq[Long]] {
    require(k >= 2, s"KMV needs k >= 2, got $k")

    override def zero: java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    private def insert(b: java.util.TreeSet[java.lang.Long],
        v: java.lang.Long): java.util.TreeSet[java.lang.Long] = {
      if (b.size < k) b.add(v)
      else if (v < b.last) { if (b.add(v)) b.pollLast() }
      b
    }

    override def reduce(b: java.util.TreeSet[java.lang.Long],
        v: java.lang.Long): java.util.TreeSet[java.lang.Long] =
      if (v == null) b else insert(b, v)

    override def merge(a: java.util.TreeSet[java.lang.Long],
        b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      val it = b.iterator()
      var go = true
      while (go && it.hasNext) {
        val v = it.next()
        // b iterates ascending: once v can't enter, nothing after it can
        if (a.size >= k && v >= a.last) go = false else insert(a, v)
      }
      a
    }

    override def finish(b: java.util.TreeSet[java.lang.Long]): Seq[Long] = {
      val out = new scala.collection.mutable.ArrayBuffer[Long](b.size)
      b.forEach(v => out += v)
      out.toSeq
    }

    override def bufferEncoder: Encoder[java.util.TreeSet[java.lang.Long]] =
      Encoders.kryo[java.util.TreeSet[java.lang.Long]]
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** KMV minima as a Column aggregate: ascending ≤k distinct minima. */
  def kmvMinsOf(c: Column, k: Int): Column =
    udaf(new KmvMinsAggregator(k)).apply(c)

  /** Session-level SQL registration:
    * `SELECT mode_agg(c), heavy_hitters_16(c) FROM ...`. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("mode_agg", udaf(ModeAggregator))
    spark.udf.register("heavy_hitters_16", udaf(new HeavyHittersAggregator(16)))
  }
}

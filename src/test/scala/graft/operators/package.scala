package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, PortableHash}

/** Parity twins for the specs in `graft.operators`: the composed forms
  * that native expressions replaced in main, kept beside the specs as
  * the references those specs pin the native forms against. Each twin
  * extends its operator's object, so a spec calls it as
  * `Dedup.simhashAggComposed(...)`. */
package object operators {

  implicit class DedupTwins(private val dedup: Dedup.type) {

    /** The explode → shuffle → k-column min AGGREGATION form
      * `Dedup.minhashFrom` replaced — the parity reference the row-local
      * form is property-tested against. */
    def minhashFromAggComposed(df: DataFrame, idCol: String,
        units: Column, k: Int): DataFrame = {
      val exploded = df
        .select(col(idCol), explode(units).as("u"))
        .withColumn("h", PortableHash.md5Hash32(col("u")))
      val mins = (0 until k).map(i => min(PortableHash.permuted(col("h"), i)).as(s"mh$i"))
      exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    }

    /** The explode → shuffle → bits-column conditional-sum AGGREGATION
      * form [[Dedup.simhash]] replaced — the parity reference the
      * row-local forms are property-tested against. */
    def simhashAggComposed(df: DataFrame, idCol: String,
        textCol: String, bits: Int = 16): DataFrame = {
      // md5Hash32 provides 32 hash bits; beyond that every fingerprint
      // bit is constant 0 and the banded join silently degenerates
      require(bits >= 1 && bits <= 32, s"simhash needs 1 <= bits <= 32, got $bits")
      val exploded = df
        .select(col(idCol), explode(Dedup.distinctTokens(col(textCol))).as("tok"))
        .withColumn("h", PortableHash.md5Hash32(col("tok")))
      val bitSums = (0 until bits).map { j =>
        sum(when(shiftright(col("h"), j) % 2 === 1, 1L).otherwise(-1L)).as(s"b$j")
      }
      val sums = exploded.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      val fp: Column = (0 until bits)
        .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
        .reduce(_ + _)
      sums.select(col(idCol), fp.as("simhash"))
    }

    /** The interpreted bits-pass composition [[Dedup.simhashExpr]]
      * replaced (bits `aggregate` folds per document) — the row-local
      * parity reference, property-tested equal to the native expression
      * and to [[simhashAggComposed]]. */
    def simhashExprComposed(text: Column, bits: Int = 16): Column = {
      val hs = transform(Dedup.distinctTokens(text), t => PortableHash.md5Hash32(t))
      val fp: Column = (0 until bits).map { j =>
        val bitSum = aggregate(hs, lit(0L), (acc, h) =>
          acc + when(shiftright(h, j) % 2 === 1, lit(1L)).otherwise(lit(-1L)))
        when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      // Null text propagates to a NULL fingerprint rather than silently
      // collapsing to 0 (the naive evaluation: aggregate over a null
      // array → null bitSum → otherwise(0) for every bit), which would
      // make all null-text docs mutually "identical" and collide with any
      // doc whose true fingerprint is 0. Matches the aggregation form,
      // where a null-text row produces no fingerprint at all.
      when(text.isNotNull, fp)
    }

    /** The composed form `Dedup.rollingWindowDigests` natively replaces.
      * The `aggregate` fold here runs k interpreted multiply-adds per
      * position (O(n·k) per document, boxed accumulators); the native
      * expression computes identical values in O(n + k) via the
      * backward rolling recurrence. The hash lines MUST stay equal to
      * [[graft.functions.RollingHashWindows]]'s constants. */
    def rollingWindowDigestsComposed(textCol: String, k: Int): Column = {
      val (m1, m2) = (2147483647L, 2147483629L)
      def pows(c: Long, m: Long): Seq[Long] =
        Iterator.iterate(1L)(x => x * c % m).take(k).toSeq
      val pw1 = typedLit(pows(1000003L, m1))
      val pw2 = typedLit(pows(1000033L, m2))
      ArrayOps.bind(
        transform(Dedup.tokens(col(textCol)), t => PortableHash.md5Hash32(t))) { h =>
        when(size(h) >= k,
          transform(sequence(lit(1), size(h) - (k - 1)), p => {
            def line(pw: Column, m: Long): Column =
              aggregate(sequence(lit(0), lit(k - 1)), lit(0L),
                (acc, j) =>
                  acc + element_at(h, p + j) % m * element_at(pw, j + 1) % m) % m
            line(pw1, m1) * lit(4294967296L) + line(pw2, m2)
          }))
          .otherwise(array().cast("array<bigint>"))
      }
    }

    /** The composed form [[Dedup.winnowFingerprintArray]] natively
      * replaces. The gram strings and the O(n·w) interpreted
      * least()-chain here are what the native one-pass deque form
      * removes. Each gram is packed as comb = h·2^31 + pos, so one
      * window `min` picks the minimum hash, ties → leftmost position. */
    def winnowFingerprintArrayComposed(text: Column, kGram: Int, w: Int): Column =
      ArrayOps.bind(Dedup.tokens(text)) { toks =>
        val combs = when(size(toks) >= kGram,
          transform(sequence(lit(0), size(toks) - kGram),
            i => PortableHash.md5Hash32(concat_ws(" ", slice(toks, i + 1, lit(kGram))))
              * 2147483648L + i.cast("long")))
          .otherwise(array().cast("array<bigint>"))
        ArrayOps.bind(combs) { cs =>
          val ng = size(cs)
          val starts = when(ng >= w, sequence(lit(0), ng - w))
            .otherwise(when(ng >= 1, array(lit(0)))
              .otherwise(array().cast("array<int>")))
          // window min as least() over w try_element_at probes — no
          // per-window array allocation; for the single clipped window of
          // a short document the out-of-range probes are null and least()
          // skips nulls
          array_distinct(transform(starts,
            s => shiftright(
              least((1 to w).map(j => try_element_at(cs, s + j)): _*), 31)))
        }
      }
  }

  implicit class RetrievalTwins(private val retrieval: Retrieval.type) {

    /** The window-form decode `Retrieval.decodeSegments` replaced
      * (running sum over the posexploded posting stream — Exchange +
      * Sort + Window per probe). */
    def decodeSegmentsComposed(posts: DataFrame): DataFrame = {
      val segCol = if (posts.columns.contains("seg")) col("seg") else lit(0L)
      posts
        .withColumn("_seg", segCol)
        .select(col("token"), col("_seg"), col("df_t"),
          posexplode(col("postings")).as(Seq("_pos", "_p")))
        .withColumn("id", sum(col("_p.gap"))
          .over(Window.partitionBy(col("token"), col("_seg")).orderBy(col("_pos"))))
        .select(col("token"), col("id"), col("_p.tf").as("tf"), col("df_t"),
          col("_seg"))
    }
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

import graft.functions.Plans
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** BM25 full-text retrieval — inline over a corpus frame, and against a
  * persisted retrieval index (postings with term frequencies + document
  * lengths + corpus stats) so repeated queries read only the query
  * terms' postings instead of the corpus.
  *
  * Capability shape from the reference's search surface (ranked keyword
  * retrieval feeding decontamination / inspection tooling); the
  * Okapi/Lucene BM25 scoring itself is standard published IR.
  *
  * Oracle discipline: the only non-correctly-rounded op in BM25 is the
  * idf log. It is computed ONCE per query term over small integer
  * inputs and quantized to integer micro-units (the q98 DSIR pattern);
  * everything per-row is IEEE mul/div/add in a fixed expression shape,
  * which Spark and the SQL oracle round identically, followed by an
  * exact floor to int64. Per-document totals are integer sums —
  * order-free, engine-portable.
  */
object Retrieval {

  /** Okapi BM25 constants, written as source literals (1.2 / 0.75 /
    * 2.2 / 0.25 parse to the same IEEE doubles in Scala and SQL — never
    * derive 2.2 as 1.2+1.0, which is a different double). */
  val K1 = 1.2
  val B = 0.75

  private val MICRO = 1000000L

  /** Quantized idf per query term: ⌊ln((N − df + ½)/(df + ½) + 1)·10⁶ + ½⌋
    * (the Lucene positive-idf variant). Driver-side over two bounded
    * scalars per term. */
  def idfMicro(nDocs: Long, dfT: Long): Long =
    math.floor(math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1) * 1e6 + 0.5).toLong

  /** Per-(doc, term) BM25 partial in integer micro-units. `tf`, `dl`,
    * `n`, `sumdl` are int64 columns/literals; the expression shape is
    * mirrored EXACTLY in the SQL oracle (same op order → same doubles →
    * exact floor). */
  private def scoreMicro(idf: Long, tf: org.apache.spark.sql.Column,
      dl: org.apache.spark.sql.Column, n: Long, sumdl: Long) =
    when(tf > 0L,
      floor(lit(idf) * tf * lit(2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dl * lit(n) / lit(sumdl)))) +
        lit(0.5)))
      .otherwise(0L)

  /** Ranked BM25 top-k for a fixed term set, computed inline over the
    * corpus. ONE bounded stats action (a single row: N, Σdl, df per
    * term), then a MAP-ONLY scoring pass — per-term tf is an array-side
    * filter count in fixed term order, partials are int64 and sum
    * order-free — followed by a global top-k (TakeOrdered, no full
    * sort). Text never shuffles; at 100 TB the corpus pass is the
    * irreducible cost and everything else is metadata-sized. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32, "1..32 query terms")
    require(terms.distinct.size == terms.size,
      "duplicate query terms: the stored index scores a term once per " +
        "posting while the inline sum would count it per list entry")
    val toks = Dedup.tokens(col(textCol))
    val base = df.filter(col(textCol).isNotNull)
    // ONE token walk per row for every term's tf (native TermCounts —
    // identical values to the per-term filter()/array_contains walks it
    // replaced; RetrievalSpec pins it), materialized as a column so the
    // stats aggregate and the scoring projection each evaluate it once
    val statsBase = base.select(size(toks).cast("long").as("_dl"),
      graft.functions.TermCounts.of(toks, terms).as("_tc"))
    val statsCols =
      count(lit(1)).cast("long").as("n") +:
        sum(col("_dl")).cast("long").as("sumdl") +:
        terms.indices.map { i =>
          sum(when(element_at(col("_tc"), i + 1) > 0L, 1L).otherwise(0L)).as(s"df_$i")
        }
    // one row, |terms|+2 columns — bounded at any scale
    val statsRow = statsBase.agg(statsCols.head, statsCols.tail: _*).head()
    val n = statsRow.getAs[Long]("n")
    val sumdl = statsRow.getAs[Long]("sumdl")
    val idfs = terms.indices.map(i => idfMicro(n, statsRow.getAs[Long](s"df_$i")))

    val dl = size(toks).cast("long")
    val score = graft.functions.ArrayOps.bind(
      graft.functions.TermCounts.of(toks, terms)) { tc =>
      terms.indices.zip(idfs).map { case (i, idf) =>
        scoreMicro(idf, element_at(tc, i + 1), dl, n, sumdl)
      }.reduce(_ + _)
    }
    base
      .select(col(idCol), dl.as("n_tokens"),
        score.cast("long").as("score_micro"))
      .filter(col("score_micro") > 0L)
      .withColumn("bm25", col("score_micro").cast("double") / lit(1000000.0))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }

  private def tokensFrame(df: DataFrame, idCol: String, textCol: String) =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        Dedup.tokens(col(textCol)).as("_toks"))

  /** Gap-encode a (token, id, tf) frame into one postings segment:
    * (token, df_t, id-sorted gap-encoded postings). Deltas are
    * array-side (one transform after the per-token collect — no second
    * shuffle after the irreducible (token, id) aggregate). SHARED by
    * the build ([[postingsSegment]]) and the merge
    * ([[compactRetrievalIndex]]) so the two encodings cannot drift. */
  private def encodeSegment(tokIdTf: DataFrame) =
    tokIdTf
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_t"),
        sort_array(collect_list(struct(col("id"), col("tf")))).as("_post"))
      .withColumn("postings",
        transform(col("_post"), (x, i) => struct(
          when(i === 0, x.getField("id"))
            .otherwise(x.getField("id") -
              col("_post")(i - lit(1)).getField("id")).as("gap"),
          x.getField("tf").as("tf"))))
      .select(col("token"), col("df_t"), col("postings"))

  /** One postings SEGMENT from a document frame. */
  private def postingsSegment(base: DataFrame) =
    encodeSegment(base
      .select(col("id"), explode(col("_toks")).as("token"))
      .groupBy(col("token"), col("id"))
      .agg(count(lit(1)).as("tf")))

  /** Score a batch OR STREAMING document frame against the stored
    * index's corpus statistics for a fixed term set — the ingest-time
    * routing/alerting form of retrieval (no top-k: append-mode streams
    * cannot globally sort; callers threshold `score_micro`). The
    * bounded artifacts (1 stats row + ≤|terms| df rows) are read at
    * plan-build time and folded into a MAP-ONLY row expression, so each
    * micro-batch scores against the frozen statistics with no state
    * store — the stored-weights/vocab shape. Identical per-document
    * scores to [[bm25TopK]] over the indexed corpus by construction
    * (RetrievalSpec proves stream ≡ inline). */
  def bm25ScoreStream(df: DataFrame, idCol: String, textCol: String,
      dir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32, "1..32 query terms")
    require(terms.distinct.size == terms.size, "duplicate query terms")
    val spark = df.sparkSession
    val stats = SchemaReader.collectArtifact(spark, s"$dir/stats").head
    val n = stats.getAs[Long]("n_docs")
    val sumdl = stats.getAs[Long]("sum_dl")
    val dfByTerm = postings(spark, dir)
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("df_t")).as("df_t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = Dedup.tokens(col(textCol))
    val dl = size(toks).cast("long")
    // one native token walk for all present terms' tfs (bm25TopK's
    // TermCounts discipline) — identical per-term counts, one bind so
    // the walk runs once per row
    val present = terms.filter(dfByTerm.contains)
    val total =
      if (present.isEmpty) lit(0L)
      else graft.functions.ArrayOps.bind(
        graft.functions.TermCounts.of(toks, present)) { tc =>
        present.zipWithIndex.map { case (t, i) =>
          scoreMicro(idfMicro(n, dfByTerm(t)), element_at(tc, i + 1), dl, n, sumdl)
        }.reduce(_ + _)
      }.cast("long")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), dl.as("n_tokens"), total.as("score_micro"))
      .withColumn("bm25", col("score_micro").cast("double") / lit(1000000.0))
  }

  /** INGEST-TIME hybrid routing — the stream face of the q160/q161
    * stack: each arriving document scores LEXICALLY against the frozen
    * query terms using the STORED index's corpus statistics (df/N/Σdl
    * read once at stream start — [[bm25ScoreStream]]'s discipline) and
    * SEMANTICALLY against a FROZEN query-vector set by the same exact
    * rounded cosine the batch rerank uses, emitting one
    * `(query_id, id, n_tokens, score_micro, cos_sim)` row per
    * (lexically-matching doc × query): "which stored query does this
    * document serve", decided at ingest. Entirely STATELESS and narrow
    * — stats and the query batch are driver-collected bounded literals,
    * the per-query fan-out is an explode of a model-sized array — so
    * the same call runs unchanged on a readStream (no state store, no
    * watermark) and is row-for-row equal to the batch form
    * (StreamingSpec pins it). Membership matches the batch shortlist
    * rule: only docs with a positive lexical score route. */
  def hybridRouteStream(df: DataFrame, idCol: String, textCol: String,
      vecCol: String, dir: String, terms: Seq[String],
      queries: Seq[(Long, Array[Double])]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32, "1..32 query terms")
    require(terms.distinct.size == terms.size, "duplicate query terms")
    require(queries.nonEmpty, "at least one frozen query vector")
    val spark = df.sparkSession
    val stats = SchemaReader.collectArtifact(spark, s"$dir/stats").head
    val n = stats.getAs[Long]("n_docs")
    val sumdl = stats.getAs[Long]("sum_dl")
    val dfByTerm = postings(spark, dir)
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("df_t")).as("df_t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = Dedup.tokens(col(textCol))
    val dl = size(toks).cast("long")
    // one native token walk for all present terms' tfs (bm25TopK's
    // TermCounts discipline) — identical per-term counts, one bind so
    // the walk runs once per row
    val present = terms.filter(dfByTerm.contains)
    val total =
      if (present.isEmpty) lit(0L)
      else graft.functions.ArrayOps.bind(
        graft.functions.TermCounts.of(toks, present)) { tc =>
        present.zipWithIndex.map { case (t, i) =>
          scoreMicro(idfMicro(n, dfByTerm(t)), element_at(tc, i + 1), dl, n, sumdl)
        }.reduce(_ + _)
      }.cast("long")
    val qlit = array(queries.map { case (qid, qv) =>
      struct(lit(qid).as("query_id"), typedLit(qv.toSeq).as("qv"))
    }: _*)
    df.filter(col(textCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), dl.as("n_tokens"), total.as("score_micro"),
        col(vecCol).cast("array<double>").as("_v"))
      .filter(col("score_micro") > 0L)
      .select(col(idCol), col("n_tokens"), col("score_micro"),
        explode(qlit).as("_q"), col("_v"))
      .select(col("_q.query_id").as("query_id"), col(idCol),
        col("n_tokens"), col("score_micro"),
        graft.functions.PortableRound.round4(
          Similarity.cosine(col("_v"), col("_q.qv"))).as("cos_sim"))
  }

  /** Persist the retrieval index for [[bm25TopKStored]]:
    *  - `dir/postings/seg=0`: (token, df_t, postings array<struct<gap,tf>>)
    *    — the first LOG-STRUCTURED SEGMENT (the Lucene layout:
    *    [[appendToRetrievalIndex]] adds segments, never rewrites one);
    *  - `dir/doclens`: (id, dl) — the length table the scorer joins;
    *  - `dir/stats`: one row (n_docs, sum_dl);
    *  - `dir/meta`: max indexed id ([[StoredIndex]] append discipline).
    */
  def writeRetrievalIndex(spark: SparkSession, df: DataFrame, idCol: String,
      textCol: String, dir: String): Unit = {
    // checkpointed: three consumers (postings, doclens, stats) — each
    // would otherwise re-scan and re-tokenize the whole corpus. The
    // parts score as ONE unit (BM25 mixes df_t from postings with
    // n_docs / sum_dl / dl from the others), which the build's
    // whole-dir swap keeps consistent; it also clears stale appended
    // segments (seg=1+).
    val base = tokensFrame(df, idCol, textCol).localCheckpoint()
    StoredIndex.build(dir, base, "id") { (base, tmp) =>
      ForkFreeLocalFileSystem.write(postingsSegment(base)).parquet(s"$tmp/postings/seg=0")
      ForkFreeLocalFileSystem.write(base.select(col("id"), size(col("_toks")).cast("long").as("dl")))
        .parquet(s"$tmp/doclens")
      ForkFreeLocalFileSystem.write(base.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("_toks"))).cast("long").as("sum_dl")))
        .parquet(s"$tmp/stats")
    }
  }

  /** Incremental ingest: index `batch` as a NEW segment — existing
    * segment files are never rewritten (the log-structured merge
    * discipline; probes read all segments and df/tf totals add because
    * the [[StoredIndex]] append-only id rule keeps segment id ranges
    * disjoint). Doclens gains the batch's rows; stats are re-derived
    * from old stats + one bounded batch aggregate. Per append, work is
    * BATCH-sized — the indexed corpus is never touched. */
  def appendToRetrievalIndex(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): Unit = {
    // checkpointed: three consumers (segment, doclens, stats delta)
    val base = tokensFrame(batch, idCol, textCol).localCheckpoint()
    StoredIndex.guardedAppend(spark, dir, base, "id") {
      // fail-fast prepare phase, OUTSIDE the pending window: a segment
      // listing failure or a missing/corrupt stats file must not strand
      // the meta in pending when no data file has landed. Hadoop FS,
      // not java.io.File: the index dir is not necessarily local.
      val postsPath = new org.apache.hadoop.fs.Path(s"$dir/postings")
      val segs = postsPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(postsPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("seg="))
        .map(_.stripPrefix("seg=").toLong)
      (segs.max + 1, SchemaReader.collectArtifact(spark, s"$dir/stats").head)
    } { case (nextSeg, old) =>
      ForkFreeLocalFileSystem.write(postingsSegment(base))
        .mode("errorifexists").parquet(s"$dir/postings/seg=$nextSeg")
      ForkFreeLocalFileSystem.write(base.select(col("id"), size(col("_toks")).cast("long").as("dl")))
        .mode("append").parquet(s"$dir/doclens")
      val add = base.agg(count(lit(1)).cast("long"),
        sum(size(col("_toks"))).cast("long")).head
      SchemaReader.writeRows(spark, s"$dir/stats", Seq(
        "n_docs" -> (old.getAs[Long]("n_docs") + add.getLong(0)),
        "sum_dl" -> (old.getAs[Long]("sum_dl") + add.getLong(1))))
    }
  }

  /** Compact all postings segments into one (the merge half of the
    * log-structured design — run when segment count starts to tax probe
    * fan-in). Disjoint id ranges make the merge a re-aggregate of the
    * decoded union; probes before and after are identical by
    * construction (RetrievalSpec asserts it). */
  def compactRetrievalIndex(spark: SparkSession, dir: String): Unit =
    // single-writer: a segment appended between the (lazy) segment read
    // below and the swap would otherwise vanish from the merged index
    // while doclens/stats/meta still count its rows
    StoredIndex.withAppendLock(spark, dir) {
      // crash fence: merging postings while a crashed append's partial
      // segment sits behind a pending meta would commit the partial
      // batch and erase the evidence (round-14 advice, all compactions)
      StoredIndex.requireNotPending(spark, dir)
      val merged = decodeSegments(postings(spark, dir))
        .select(col("id"), col("token"), col("tf"))
      val seg = encodeSegment(merged
        .groupBy(col("token"), col("id"))
        .agg(sum(col("tf")).as("tf")))
      // durable swap: the merged segment is fully on disk before the old
      // postings are deleted (the previous checkpoint-then-delete held
      // the only copy in non-durable executor blocks mid-rewrite)
      StoredIndex.swapRewrite(spark, s"$dir/postings") { tmp =>
        ForkFreeLocalFileSystem.write(seg).parquet(s"$tmp/seg=0")
      }
    }

  /** Every stored postings segment, `seg` included. */
  private def postings(spark: SparkSession, dir: String): DataFrame =
    SchemaReader.readArtifact(spark, s"$dir/postings", Some(StructField("seg", IntegerType)))

  /** Rebuild (token, id, tf) from stored segments: per-token running
    * sum over the posting-sized exploded stream restores absolute ids.
    * The window partitions by (token, seg) so gaps decode within their
    * own segment. */
  private[graft] def decodeSegments(posts: DataFrame): DataFrame = {
    val segCol = if (posts.columns.contains("seg")) col("seg") else lit(0L)
    // In-row native prefix scan ([[graft.functions.GapDecodePostings]]):
    // the running sum is confined to one row's postings array — the
    // (token, seg) window partition key IS the row key — so decoding
    // before the explode removes the window's Exchange + Sort from
    // every stored-retrieval probe. Values identical (same
    // left-to-right integer prefix sum; parity pinned in RetrievalSpec
    // against the window-form twin decodeSegmentsComposed).
    posts
      .withColumn("_seg", segCol)
      .select(col("token"), col("_seg"), col("df_t"),
        explode(graft.functions.GapDecodePostings.of(col("postings"))).as("_p"))
      .select(col("token"), col("_p.id").as("id"), col("_p.tf").as("tf"),
        col("df_t"), col("_seg"))
  }

  /** BM25 top-k against the PERSISTED index: reads the query terms'
    * postings (token-predicate pushdown on the postings parquet — at
    * 100 TB a query reads Σdf(term) posting entries, not the corpus),
    * rebuilds absolute ids with a per-token running sum over the
    * posting-sized exploded stream, and joins document lengths against
    * the doclens table — broadcasting the posting side when it fits,
    * shuffling when it does not (see the gate below). Identical
    * score definition to [[bm25TopK]] by construction — one oracle
    * serves both. */
  def bm25TopKStored(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32, "1..32 query terms")
    require(terms.distinct.size == terms.size, "duplicate query terms")
    val stats = SchemaReader.collectArtifact(spark, s"$dir/stats").head
    val n = stats.getAs[Long]("n_docs")
    val sumdl = stats.getAs[Long]("sum_dl")
    val posts = postings(spark, dir)
      .filter(col("token").isin(terms: _*))
    // df per present term: per-segment dfs ADD (disjoint id ranges) —
    // bounded (≤ |terms|·segments rows)
    val dfByTerm = posts.groupBy(col("token"))
      .agg(sum(col("df_t")).as("df_t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val decoded = decodeSegments(posts)
      .select(col("token"), col("id"), col("tf"))
    val idfExpr = terms.filter(dfByTerm.contains)
      .foldLeft(lit(0L)) { (acc, t) =>
        when(col("token") === t, lit(idfMicro(n, dfByTerm(t)))).otherwise(acc)
      }
    val doclens = SchemaReader.readArtifact(spark, s"$dir/doclens")
    // Size-gate the posting-side broadcast. The decoded side has exactly
    // Σdf(term) rows — already on the driver in dfByTerm, so the gate is
    // free. Selective terms → a tiny side → broadcasting it removes the
    // doclens shuffle entirely. A head token (stopword) makes Σdf
    // corpus-sized, and broadcasting that is an executor/driver OOM at
    // 100 TB — above the session's autoBroadcastJoinThreshold (at ~64 B
    // per decoded entry: token text + id/tf/_idf int64s, hashed-relation
    // overhead included) the hint is dropped and the join shuffles on id
    // instead. Correctness is gate-independent (RetrievalSpec pins both
    // sides to identical rows); PlanContractsSpec pins the plan shapes.
    val postingRows = dfByTerm.values.sum
    val scored = decoded.withColumn("_idf", idfExpr)
    Plans.broadcastHint(scored, postingRows, 64L)
      .join(doclens, Seq("id"))
      .select(col("id"), col("dl").as("n_tokens"),
        when(col("tf") > 0L,
          floor(col("_idf") * col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl") * lit(n) / lit(sumdl)))) + lit(0.5)))
          .otherwise(0L).as("_micro"))
      .groupBy(col("id"), col("n_tokens"))
      .agg(sum(col("_micro")).cast("long").as("score_micro"))
      .filter(col("score_micro") > 0L)
      .withColumn("bm25", col("score_micro").cast("double") / lit(1000000.0))
      .orderBy(col("score_micro").desc, col("id"))
      .limit(k)
  }
}

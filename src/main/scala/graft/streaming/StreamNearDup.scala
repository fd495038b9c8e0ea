package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.Dedup
import graft.sources.SchemaReader

/** One banded fingerprint occurrence flowing into the stateful stage. */
case class BandEvent(docId: Long, sim: Long, bandId: Int, bandVal: Long)

/** A detected near-duplicate: `docId` collided with the earlier-seen
  * `dupOf` in band `bandId` at the given hamming distance. A document
  * within `maxHamming` of an earlier one emits one collision per
  * agreeing band (pigeonhole: at least one) — consumers wanting one
  * row per document take the min per docId downstream. */
case class Collision(docId: Long, dupOf: Long, hamming: Long, bandId: Int)

/** A shared rare winnowed fingerprint between a stream document and an
  * indexed corpus document ([[StreamNearDup.screenAgainstWinnowIndex]]).
  * One row per shared fingerprint — shared-count aggregation and
  * best-match selection happen downstream. */
case class FpMatch(docId: Long, matchId: Long, fp: Long)

/** STREAMING near-duplicate suppression — the ingest-time face of the
  * batch SimHash pipeline (`Dedup.simhashNearDupPairs`): detect
  * documents within `maxHamming` bits of anything already seen on the
  * stream, across micro-batch boundaries.
  *
  * Shape: the fingerprint is the ROW-LOCAL [[Dedup.simhashExpr]] (a
  * narrow projection — no aggregation precedes the stateful stage),
  * banded by the same pigeonhole split as the batch operator, then
  * `flatMapGroupsWithState` keyed by (bandId, bandVal) keeps the
  * first-seen fingerprints per bucket and emits a [[Collision]] for
  * every arriving doc that matches one. State lives in the executor
  * state stores, checkpointed with the query; per-bucket memory is
  * bounded by `maxKeptPerBucket` (beyond it the bucket stops ADMITTING
  * new fingerprints but still detects collisions against the kept
  * ones — for a crawl stream, dup-heavy buckets are exactly where the
  * early entries are the templates worth matching).
  *
  * Within one micro-batch, events are processed in docId order, so
  * collisions are deterministic: `dupOf` is the (closest, lowest-id)
  * earlier fingerprint, earlier = lower docId or an earlier batch.
  */
object StreamNearDup {

  /** Banding expression shared by every face: one (bandId, bandVal)
    * struct per band of the `sim` column. */
  private def bandStructsFor(sim: org.apache.spark.sql.Column,
      nBands: Int, bandBits: Int): org.apache.spark.sql.Column = {
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map { b =>
      struct(lit(b).as("bandId"),
        shiftright(sim, b * bandBits).bitwiseAND(lit(mask)).as("bandVal"))
    }: _*)
  }

  /** Shared stream-side projection: row-local simhash, banded. Null
    * text (no fingerprint) and null/uncastable ids are dropped — either
    * would NPE the non-nullable BandEvent/Collision encodings. */
  private def bandedStream(df: DataFrame, idCol: String, textCol: String,
      bits: Int, bandBits: Int): DataFrame =
    df.filter(col(textCol).isNotNull && col(idCol).cast("long").isNotNull)
      .select(col(idCol).cast("long").as("docId"),
        Dedup.simhashExpr(col(textCol), bits).as("sim"))
      .select(col("docId"), col("sim"),
        explode(bandStructsFor(col("sim"), bits / bandBits, bandBits)).as("band"))
      .select(col("docId"), col("sim"),
        col("band.bandId").as("bandId"), col("band.bandVal").as("bandVal"))


  def collisions(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16, bandBits: Int = 4, maxHamming: Int = 3,
      maxKeptPerBucket: Int = 64): Dataset[Collision] = {
    require(bits % bandBits == 0, "bits must be divisible by bandBits")
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"pigeonhole completeness needs maxHamming < $nBands bands; got $maxHamming")
    val spark = df.sparkSession
    import spark.implicits._
    val events = bandedStream(df, idCol, textCol, bits, bandBits).as[BandEvent]
    events
      .groupByKey(e => (e.bandId, e.bandVal))
      .flatMapGroupsWithState[List[(Long, Long)], Collision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[Collision]
          // docId order makes within-batch matching deterministic
          it.toSeq.sortBy(_.docId).foreach { e =>
            val hit = seen.iterator
              // id0 != docId: an at-least-once source redelivering a doc
              // must not match it against its own stored fingerprint
              // (a self-collision would suppress the only copy)
              .filter { case (id0, _) => id0 != e.docId }
              .map { case (id0, sim0) =>
                (id0, java.lang.Long.bitCount(e.sim ^ sim0).toLong) }
              .filter(_._2 <= maxHamming)
              .reduceOption((a, b) =>
                if (a._2 < b._2 || (a._2 == b._2 && a._1 <= b._1)) a else b)
            hit.foreach { case (id0, d) =>
              out += Collision(e.docId, id0, d, e.bandId) }
            if (seen.size < maxKeptPerBucket && !seen.exists(_._1 == e.docId))
              seen = seen :+ ((e.docId, e.sim))
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** STORED-INDEX screening for streams: match stream documents against
    * the PERSISTED signature index ([[Dedup.writeSimhashIndex]]) with a
    * stateless stream-static equi-join — the streaming face of the
    * batch [[Dedup.screenWithSimhashIndex]], and the ingest-time
    * composition of the q97 artifact: fingerprints are row-local
    * ([[Dedup.simhashExpr]]), bands are pigeonhole-complete for the
    * hamming bound, the first-agreeing-band filter emits each
    * (stream doc, corpus doc) match exactly once, and NO state store is
    * involved — the corpus side is the stored artifact (re-read per
    * restart; appends land on the next query start). Emits one
    * [[Collision]] per matching corpus doc; consumers wanting a single
    * best match per document take the (hamming, dupOf) min downstream
    * (same convention as [[collisions]]). At scale the signature side
    * is the corpus's ~0.01% shadow — broadcast it while it fits,
    * pre-bucket it when it doesn't. */
  def screenAgainstIndex(stream: DataFrame, indexDir: String, idCol: String,
      textCol: String, maxHamming: Int = 3,
      bandBits: Int = 8): Dataset[Collision] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val bits = SchemaReader.collectArtifact(spark, s"$indexDir/params")
      .head.getAs[Number]("bits").intValue()
    require(bits % bandBits == 0, "stored bits must be divisible by bandBits")
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"pigeonhole completeness needs maxHamming < $nBands bands; got $maxHamming")
    val mask = (1L << bandBits) - 1
    val corpus = SchemaReader.readArtifact(spark, s"$indexDir/data")
      .select(col(idCol).cast("long").as("_cid"), col("simhash").as("_csim"))
      .select(col("_cid"), col("_csim"),
        explode(bandStructsFor(col("_csim"), nBands, bandBits)).as("band"))
      .select(col("_cid"), col("_csim"),
        col("band.bandId").as("bandId"), col("band.bandVal").as("bandVal"))
    val events = bandedStream(stream, idCol, textCol, bits, bandBits)
    val noEarlierAgreement = (0 until nBands - 1)
      .map(j => lit(j) >= col("bandId") ||
        shiftright(col("sim"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("_csim"), j * bandBits).bitwiseAND(lit(mask)))
      .reduceOption(_ && _).getOrElse(lit(true))
    events
      .join(graft.functions.Plans.broadcastHint(corpus), Seq("bandId", "bandVal"))
      .filter(noEarlierAgreement)
      .withColumn("hamming",
        bit_count(col("sim").bitwiseXOR(col("_csim"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("docId"), col("_cid").as("dupOf"), col("hamming"),
        col("bandId").cast("int").as("bandId"))
      .as[Collision]
  }

  /** STORED-INDEX winnow screening for streams — the streaming face of
    * the batch [[Dedup.screenWithWinnowIndex]] and the substring-robust
    * sibling of [[screenAgainstIndex]]: stream documents fingerprint
    * ROW-LOCALLY ([[Dedup.winnowFingerprintArray]] — array expressions,
    * no aggregation precedes the join) and equi-join the PERSISTED
    * fingerprint index on the fingerprint value. Stateless: no state
    * store; the corpus side is the stored shadow (re-read per restart;
    * appends land on the next query start). The corpus-df cut (> maxDf
    * docs ⇒ boilerplate) is MATERIALIZED once at query build
    * (localCheckpoint), so no per-trigger full-index aggregation runs. Emits one [[FpMatch]] per shared rare fingerprint;
    * consumers aggregate shared counts / best match downstream (e.g. in
    * foreachBatch), exactly like [[Collision]] consumers. */
  def screenAgainstWinnowIndex(stream: DataFrame, indexDir: String,
      idCol: String, textCol: String, maxDf: Int): Dataset[FpMatch] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val p = SchemaReader.collectArtifact(spark, s"$indexDir/params").head
    val (kGram, w) =
      (p.getAs[Number]("k_gram").intValue(), p.getAs[Number]("w").intValue())
    val corpus = SchemaReader.readArtifact(spark, s"$indexDir/data")
      .select(col(idCol).cast("long").as("matchId"), col("fp"))
    val rare = corpus.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDf).select("fp")
    // materialize the cut ONCE at query build: stream-static sides are
    // re-executed per micro-batch, so without this the full-index
    // groupBy + semi-join would re-run on every trigger (restart the
    // query to refresh appends — same contract as the re-read note)
    val kept = corpus.join(rare, Seq("fp"), "left_semi").localCheckpoint()
    stream
      .filter(col(textCol).isNotNull && col(idCol).cast("long").isNotNull)
      .select(col(idCol).cast("long").as("docId"),
        explode(Dedup.winnowFingerprintArray(col(textCol), kGram, w)).as("fp"))
      .join(graft.functions.Plans.broadcastHint(kept), Seq("fp"))
      .select(col("docId"), col("matchId"), col("fp"))
      .as[FpMatch]
  }
}

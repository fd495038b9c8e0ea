package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct, plus partition-wise decode /
  * feature-extract stages.
  *
  * The Spark-side machinery here is REAL and tested — schema contract,
  * batched per-partition iteration, feature-vector shape — but the codec
  * itself is a STUB: this container has no image/audio libraries, so
  * the default [[MediaDecoder]] ([[MediaDecoders.WindowSums]])
  * substitutes a deterministic byte-window signature in place of a
  * JPEG/PCM decoder. Every decode site consumes [[MediaDecoders.active]]
  * — the pluggable seam — so a real codec lands as ONE MediaDecoder
  * class plus one JVM property; the distributed plumbing (the part
  * Spark owns) is unchanged, and stored artifacts record the decoder id
  * so an index banded under one codec can never be silently probed
  * under another.
  *
  * Scale notes: the decode stage is a narrow mapPartitions — no shuffle,
  * parallelism = input splits; binary payloads never serialize to the
  * driver; metadata extraction is a codegen'd projection.
  */
object Multimodal {

  /** Metadata schema attached alongside every media column. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("size_bytes", LongType),
    StructField("content_hash", StringType)))

  /** Wrap a string column as a binary media payload (test/fixture path:
    * real pipelines land binary directly from the source). */
  def attachPayload(df: DataFrame, srcCol: String, kind: String): DataFrame =
    df.withColumn("media", encode(col(srcCol), "UTF-8"))
      .withColumn("media_meta", struct(
        lit(kind).as("kind"),
        octet_length(col("media")).cast("long").as("size_bytes"),
        md5(col("media")).as("content_hash")))

  /** STUB DECODER — the default [[MediaDecoder]]'s float face
    * ([[MediaDecoders.WindowSums]], where the body now lives):
    * "decodes" a binary payload into a `dim`-float feature vector by
    * averaging `dim` equal byte windows (values scaled to [0,1]). A
    * real codec lands as ONE [[MediaDecoder]] class (activated via
    * `-Dgraft.media.decoder=...`); this alias stays pinned to the stub
    * so parity specs compare against a fixed reference. */
  def stubDecode(bytes: Array[Byte], dim: Int): Array[Float] =
    MediaDecoders.WindowSums.decode(bytes, dim)

  /** Partition-wise decode → feature column. Dataset-typed
    * `mapPartitions` carrying the FULL input row through: no re-join on
    * id, no extra shuffle, one narrow stage — each partition streams
    * through the codec and appends the feature vector in place. The
    * result schema is the input schema plus `features`; `idCol` is kept
    * for signature stability (real codecs often key side outputs) but
    * the plumbing no longer needs it. The codec is the ACTIVE
    * [[MediaDecoder]], resolved once at plan build and shipped to the
    * tasks (the trait is Serializable) — the seam a real library codec
    * plugs into. */
  def fakeDecodeFeatures(df: DataFrame, idCol: String, binCol: String, dim: Int): DataFrame = {
    df.schema.fieldIndex(idCol) // fail fast on a bad id column, like binCol below
    val outSchema = df.schema.add(StructField("features", ArrayType(FloatType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val dec = MediaDecoders.active
    df.mapPartitions { it =>
      it.map { row =>
        val bytes =
          if (row.isNullAt(binIdx)) Array.emptyByteArray
          else row.getAs[Array[Byte]](binIdx)
        Row.fromSeq(row.toSeq :+ dec.decode(bytes, dim).toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Exact-INTEGER twin of [[stubDecode]] for the dedup path: the
    * payload's decoded character stream is cut into `dim` fixed windows
    * (window = max(1, ⌊len/dim⌋), tail beyond dim·window ignored —
    * [[stubDecode]]'s window rule without its float mean) and each
    * window's character-code SUM is emitted as int64. On the
    * text-fixture payloads (ASCII, [[attachPayload]]) chars == bytes,
    * so this is a byte-window content signature; a real codec replaces
    * the character stream with decoded samples, and the banding /
    * verify machinery downstream is unchanged. All-integer → the whole
    * near-dup face mirrors exactly into SQL (q164). Pinned alias of
    * [[MediaDecoders.WindowSums]]'s integer face (parity specs need a
    * fixed reference); the MACHINERY consumes [[MediaDecoders.active]]
    * instead, so a real codec swaps in without touching it. */
  def stubFeaturesMicro(payload: Column, dim: Int): Column =
    MediaDecoders.WindowSums.featuresMicro(payload, dim)

  /** Banded NEAR-DUP pairs over media payloads — the media column
    * family's answer to the text near-dup suite: candidates are pairs
    * sharing at least one of `dim/bandSize` exact feature BANDS
    * (equi-join on (band_id, band slice) — the SimHash-band discipline,
    * never all-pairs), verified by exact integer L1 distance over the
    * full [[stubFeaturesMicro]] vector. Output
    * `(id_a, id_b, l1, same_content)` for verified pairs with
    * `l1 <= maxL1`; `same_content` (content-hash equality) splits exact
    * dups (l1 = 0, hash-equal) from aligned near-edits.
    *
    * Scale shape: the band rows CARRY the full feature vector and
    * content hash, so the verify is computed INLINE on the band-join
    * output — no pair-keyed `distinct()` (the exchange+hash-aggregate
    * that melts first when dup clusters grow quadratically) and no
    * re-join against a feature table. A pair agreeing on several bands
    * is emitted from its FIRST agreeing band only: earlier band keys
    * are recomputable by slicing the carried vectors (the
    * [[Dedup.simhashNearDupPairs]] discipline), so the filter needs no
    * shuffled state at all. The build side broadcasts only while the
    * estimated band-frame size fits `autoBroadcastJoinThreshold`
    * (the [[Retrieval.bm25TopKStored]] size-gate discipline); a session
    * with broadcasting off (threshold ≤ 0) always takes the shuffle
    * path. */
  def mediaNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      dim: Int, bandSize: Int, maxL1: Long, quantShift: Int = 0): DataFrame = {
    require(dim % bandSize == 0, s"bandSize $bandSize must divide dim $dim")
    // checkpointed: the self-join's two sides would otherwise decode
    // every payload twice; the count for the broadcast gate is then a
    // free metadata pass over the materialized partitions
    val feats =
      featsFrame(df, idCol, binCol, dim, quantShift).localCheckpoint()
    val bands = bandsFrame(feats, dim, bandSize)
    bandJoinVerify(
      sideA(bands),
      broadcastBands(sideB(bands), feats.count(), dim, bandSize),
      dim, bandSize, maxL1, col("id_a") < col("id_b"))
  }

  /** (id, content hash, integer feature vector) for every non-null
    * payload — the shared front end of all media-dedup faces. Features
    * come from the ACTIVE [[MediaDecoder]] (default: the window-sum
    * stub), so a real codec flows through every banded face from here.
    *
    * `quantShift > 0` right-shifts every feature before anything
    * downstream sees it — COARSE banding (and L1 in coarse units):
    * exact-integer band equality is the right discipline for lossless
    * edits (a localized change leaves other bands bit-equal), but a
    * LOSSY RE-ENCODE (JPEG quality change) drifts EVERY cell a little,
    * so no exact band survives and the pair is invisible at any L1
    * threshold — the classic quantize-then-band LSH answer is to band
    * on `x >> k`, trading k bits of discrimination for re-encode
    * tolerance, with the L1 verify still gating in the quantized
    * space. Features are non-negative for every decoder (sums /
    * micro-units), so the arithmetic shift is a clean bucket divide. */
  private def featsFrame(df: DataFrame, idCol: String, binCol: String,
      dim: Int, quantShift: Int = 0): DataFrame = {
    val raw = MediaDecoders.active.featuresMicro(col(binCol), dim)
    val f = if (quantShift == 0) raw
      else transform(raw, x => shiftright(x, quantShift))
    df.filter(col(binCol).isNotNull)
      .select(col(idCol).as("_id"),
        md5(col(binCol)).as("_h"),
        f.as("_f"))
  }

  /** Exploded (id, full vector, content hash, band index, band slice)
    * rows — the LSH-band key space the candidate equi-joins run on.
    * `_f`/`_h` ride along (dim int64s + one hash per row) so the L1
    * verify and the first-agreeing-band filter are row-local on the
    * join output: the denormalization is what buys the dedup-free,
    * re-join-free plan. */
  private def bandsFrame(feats: DataFrame, dim: Int, bandSize: Int): DataFrame =
    feats.select(col("_id"), col("_f"), col("_h"),
      posexplode(transform(sequence(lit(0), lit(dim / bandSize - 1)),
        b => slice(col("_f"), b * bandSize + lit(1), lit(bandSize)))))
      .select(col("_id"), col("_f"), col("_h"),
        col("pos").as("_band"), col("col").as("_key"))

  private def sideA(bands: DataFrame): DataFrame =
    bands.select(col("_id").as("id_a"), col("_f").as("_fa"),
      col("_h").as("_ha"), col("_band"), col("_key"))

  private def sideB(bands: DataFrame): DataFrame =
    bands.select(col("_id").as("id_b"), col("_f").as("_fb"),
      col("_h").as("_hb"), col("_band"), col("_key"))

  /** Band-frame broadcast size gate ([[Retrieval.bm25TopKStored]]'s
    * discipline): ~8 B per carried vector/key element plus id + hash +
    * hashed-relation overhead per band row, against the session's
    * `autoBroadcastJoinThreshold`. Forced broadcasts above the limit
    * are the driver-OOM class the gate exists to prevent. The
    * threshold read and compare are [[graft.functions.Plans.broadcastHint]]'s
    * (one gate definition engine-wide); only the per-band-row byte
    * model is media-specific. */
  private def broadcastBands(side: DataFrame, nDocs: Long, dim: Int,
      bandSize: Int): DataFrame =
    graft.functions.Plans.broadcastHint(side,
      nDocs * (dim / bandSize), 64L + (dim + bandSize) * 8L)

  /** THE first-agreeing-band rule, in one place (every banded face —
    * pair enumeration, stored-index probe, ingest routing — keeps a
    * candidate pair only at its FIRST agreeing band, re-slicing the
    * earlier keys from the carried vectors instead of a pair-keyed
    * distinct): true iff no band strictly before `_band` also agrees
    * between the two carried vectors. */
  private def noEarlierAgreement(fa: Column, fb: Column,
      nBands: Int, bandSize: Int): Column =
    (0 until nBands - 1)
      .map(j => lit(j) >= col("_band") ||
        slice(fa, j * bandSize + 1, bandSize) =!=
          slice(fb, j * bandSize + 1, bandSize))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** Row-local exact integer L1 between two carried feature vectors —
    * the verify metric every banded candidate passes through. */
  private def l1Dist(fa: Column, fb: Column): Column =
    aggregate(zip_with(fa, fb, (x, y) => abs(x - y)),
      lit(0L), (acc, x) => acc + x)

  /** How many of the `nBands` exact bands agree between two carried
    * vectors — the routing faces report it alongside the L1. */
  private def bandsHit(fa: Column, fb: Column,
      nBands: Int, bandSize: Int): Column =
    size(filter(sequence(lit(0), lit(nBands - 1)),
      b => slice(fa, b * bandSize + lit(1), lit(bandSize)) ===
        slice(fb, b * bandSize + lit(1), lit(bandSize)))).cast("long")

  /** Shared tail of every media near-dup face: equi-join two band
    * frames on (band index, band key), keep each pair at its FIRST
    * agreeing band ([[noEarlierAgreement]]), verify by row-local exact
    * integer L1 ([[l1Dist]]). */
  private def bandJoinVerify(aBands: DataFrame, bBands: DataFrame,
      dim: Int, bandSize: Int, maxL1: Long, pairPred: Column): DataFrame = {
    val nBands = dim / bandSize
    aBands.join(bBands, Seq("_band", "_key"))
      .filter(pairPred &&
        noEarlierAgreement(col("_fa"), col("_fb"), nBands, bandSize))
      .select(col("id_a"), col("id_b"),
        l1Dist(col("_fa"), col("_fb")).as("l1"),
        (col("_ha") === col("_hb")).as("same_content"))
      .filter(col("l1") <= maxL1)
  }

  /** Persist the media-dup index for [[mediaNearDupAgainstStored]] and
    * the stream pre-screen — [[graft.operators.Dedup.writeSubstringScreenArtifact]]'s
    * discipline for the media modality, built once per frozen corpus:
    * `dir/feats` = (id, content hash, integer feature vector) — the
    * compact per-document table; `dir/bands` = the exploded band rows
    * CARRYING the vector and hash ([[bandsFrame]]'s denormalization),
    * so a probe's verify is row-local on the band join — the stored
    * side is scanned once and never re-joined; `dir/meta` = one row
    * (dim, band_size + a serialized bloom over xxhash64(band, key) for
    * the stateless ingest pre-screen). */
  def writeMediaDupIndex(spark: org.apache.spark.sql.SparkSession,
      ref: DataFrame, idCol: String, binCol: String,
      dim: Int, bandSize: Int, dir: String, fpp: Double = 0.001): Unit = {
    require(dim % bandSize == 0, s"bandSize $bandSize must divide dim $dim")
    import org.apache.spark.sql.graftbridge.BloomBridge
    val feats = featsFrame(ref, idCol, binCol, dim)
      .localCheckpoint() // feeds the feats write, the bands write AND the bloom
    // fail fast on an empty reference: bloom_filter_agg over zero rows
    // is null — the substring-screen artifact's NullType-literal trap
    val bands = bandsFrame(feats, dim, bandSize).localCheckpoint()
    val nBands = bands.count()
    require(nBands > 0, "reference has no media payloads to index")
    ForkFreeLocalFileSystem.write(feats).mode("overwrite").parquet(s"$dir/feats")
    ForkFreeLocalFileSystem.write(bands).mode("overwrite").parquet(s"$dir/bands")
    val bloom = bands
      .agg(BloomBridge.bloomAgg(xxhash64(col("_band"), col("_key")), nBands, fpp))
      .head().getAs[Array[Byte]](0)
    SchemaReader.writeRows(spark, s"$dir/meta", Seq("bloom" -> bloom, "dim" -> dim,
      "band_size" -> bandSize,
      // decoder identity is part of the artifact contract: probing
      // under a different codec would band-miss every payload
      "decoder" -> MediaDecoders.active.id))
  }

  /** Banded near-dup of a PROBE batch against the STORED media index —
    * "is this incoming payload a near-dup of anything in the frozen
    * corpus": the probe's band rows equi-join the stored band table,
    * each pair is kept at its FIRST agreeing band (no pair-keyed
    * distinct) and verified by exact integer L1 row-locally — the
    * stored band rows carry their vector/hash, so the index is scanned
    * ONCE and never re-joined. Output `(id_a = probe id, id_b =
    * indexed id, l1, same_content)`. Scale shape: the STORED side is
    * the big one — the probe batch broadcasts into the stored band
    * scan while it fits the size gate (a corpus-sized probe, or a
    * session with broadcasting off, takes the shuffle path), so per
    * ingest batch the index is scanned, never shuffled. */
  def mediaNearDupAgainstStored(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, binCol: String,
      maxL1: Long): DataFrame = {
    val (_, dim, bandSize) = readScreenMeta(spark, dir)
    nearDupAgainstStoredBands(spark, dir, df, idCol, binCol, maxL1, dim, bandSize)
  }

  /** [[mediaNearDupAgainstStored]] under geometry the caller has
    * already read from the index `meta` (and fenced). */
  private def nearDupAgainstStoredBands(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, binCol: String,
      maxL1: Long, dim: Int, bandSize: Int): DataFrame = {
    val probeF = featsFrame(df, idCol, binCol, dim).localCheckpoint()
    bandJoinVerify(
      broadcastBands(sideA(bandsFrame(probeF, dim, bandSize)),
        probeF.count(), dim, bandSize),
      sideB(SchemaReader.readArtifact(spark, s"$dir/bands")),
      dim, bandSize, maxL1, lit(true))
  }

  /** STREAMING face of [[mediaNearDupAgainstStored]] — media ingest
    * routing against the frozen index: the same band-join + first-
    * agreeing-band + row-local L1 plan with the probe side a STREAM.
    * A stream-static inner equi-join is STATELESS in Structured
    * Streaming (no watermark, no state store — the static side is
    * re-planned per micro-batch), so this runs in append mode and is
    * row-for-row equal to the batch form on the same arrivals
    * (StreamingSpec pins it). Per micro-batch the work is
    * batch-sized: band keys decode row-locally on the stream side and
    * probe the stored band scan. */
  def mediaNearDupStoredStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, idCol: String, binCol: String,
      maxL1: Long): DataFrame = {
    val (_, dim, bandSize) = readScreenMeta(spark, dir)
    bandJoinVerify(
      sideA(bandsFrame(featsFrame(stream, idCol, binCol, dim), dim, bandSize)),
      sideB(SchemaReader.readArtifact(spark, s"$dir/bands")),
      dim, bandSize, maxL1, lit(true))
  }

  /** END-TO-END media ingest decision — the media twin of the
    * substring screen→verify→cut stack (q156/q158/q159): one row per
    * arriving document, `(id, action, dup_of, l1)`.
    *
    *  1. SCREEN: the stored index's band bloom probes row-locally
    *     ([[streamMediaScreenBloom]]'s predicate). No band hit ⇒ the
    *     payload provably shares no band with the corpus (blooms have
    *     zero false negatives) ⇒ `keep` with no verify work — at a
    *     healthy dup rate this short-circuits almost every arrival.
    *  2. VERIFY: bloom survivors (true collisions + fpp-rate false
    *     positives) run [[mediaNearDupAgainstStored]]'s exact banded
    *     L1 verify; bloom false positives die here, so the OUTPUT is
    *     bloom-independent — the declared query hash-checks against a
    *     bloom-free oracle.
    *  3. CUT: each verified doc reports its best corpus match
    *     (lowest L1, ties to the lowest indexed id — a keyed
    *     min-struct, no window) and is marked `cut`; everything else
    *     (no band hit, verify miss, null payload) is `keep`. */
  def mediaScreenCut(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, binCol: String,
      maxL1: Long): DataFrame = {
    val (bloom, dim, bandSize) = readScreenMeta(spark, dir)
    val suspects = df.filter(col(binCol).isNotNull &&
      bloomHit(col(binCol), bloom, dim, bandSize))
    val best = nearDupAgainstStoredBands(spark, dir, suspects, idCol, binCol, maxL1,
        dim, bandSize)
      .groupBy(col("id_a"))
      .agg(min(struct(col("l1"), col("id_b"))).as("_b"))
      .select(col("id_a").as(idCol),
        col("_b.id_b").as("dup_of"), col("_b.l1").as("l1"))
    df.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("dup_of").isNotNull, lit("cut")).otherwise(lit("keep"))
          .as("action"),
        col("dup_of"), col("l1"))
  }

  /** Read the stored screen's meta ONCE — the stream-start discipline
    * for [[streamMediaScreenBloom]], and [[mediaScreenCut]]'s batch
    * entry: (bloom bytes, dim, band_size), WITH the decoder-identity
    * fence. The raw bloom predicate decodes arrivals under the ACTIVE
    * decoder, so a bloom built under another codec would never hit —
    * silent 100% false negatives on the screen face while the banded
    * verify faces throw loudly on the same artifact (round-15 review
    * finding). Every consumer of the raw (filterBytes, dim, bandSize)
    * form must obtain them through here, so the fence travels with
    * the bytes. */
  def readScreenMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Byte], Int, Int) = {
    val (meta, dim, bandSize) = stampedGeometry(spark, s"$dir/meta")
    (meta.getAs[Array[Byte]]("bloom"), dim, bandSize)
  }

  /** The one row of a media artifact's stamped part (an index `meta`, a
    * registry `geometry`) and its (dim, band_size), behind the decoder
    * fence every such read shares: bands written under another codec
    * would silently never collide (100% false negatives) — fail here
    * instead. Artifacts written before the stamp read as window-sums
    * (correct by construction). */
  private def stampedGeometry(spark: org.apache.spark.sql.SparkSession,
      part: String): (Row, Int, Int) = {
    val row = SchemaReader.collectArtifact(spark, part).head
    MediaDecoders.requireMatch(
      if (row.schema.fieldNames.contains("decoder"))
        Option(row.getAs[String]("decoder"))
      else None,
      MediaDecoders.active, s"media artifact $part")
    (row, row.getAs[Number]("dim").intValue(), row.getAs[Number]("band_size").intValue())
  }

  /** STREAMING media pre-screen — [[graft.operators.Dedup.streamSubstringScreenBloom]]'s
    * discipline for the media modality: drop stream payloads with ANY
    * feature band hitting the stored index's band bloom. Entirely
    * row-local (the feature decode, the band keys, and the bloom probe
    * are one narrow codegen'd projection: no state, no join, no
    * watermark). Zero false negatives — every payload that would band-
    * collide with the frozen corpus drops; bloom false positives
    * over-drop at the fpp — the ingest-side trade; batch exactness,
    * when needed, reruns [[mediaNearDupAgainstStored]]'s L1 verify over
    * the retained batch. Null payloads PASS THROUGH (no bands → no
    * hit; nullity screening is a separate upstream gate — the
    * substring screen's convention). */
  def streamMediaScreenBloom(stream: DataFrame, binCol: String,
      filterBytes: Array[Byte], dim: Int, bandSize: Int): DataFrame =
    stream.filter(col(binCol).isNull ||
      !bloomHit(col(binCol), filterBytes, dim, bandSize))

  /** Row-local "any feature band hits the stored index's bloom"
    * predicate — the screen stage shared by [[streamMediaScreenBloom]]
    * and [[mediaScreenCut]]. The feature decode is LET-BOUND
    * ([[graft.functions.ArrayOps.bind]]): codegen's subexpression
    * elimination does not reach inside higher-order-function lambdas,
    * so an unbound form re-runs the whole payload decode once per band
    * — dim/bandSize× the dominant cost, in the ingest hot path. Bound,
    * the vector is computed ONCE per row and each band slices it
    * (StreamingSpec counts exactly one `char_window_sums` in the plan). */
  private[graft] def bloomHit(payload: Column, filterBytes: Array[Byte],
      dim: Int, bandSize: Int): Column = {
    require(dim % bandSize == 0, s"bandSize $bandSize must divide dim $dim")
    import org.apache.spark.sql.graftbridge.BloomBridge
    // (band index, key) hashes must match the writer's
    // xxhash64(_band, _key): posexplode's pos and the sequence values
    // are both 0-based ints
    graft.functions.ArrayOps.bind(
        MediaDecoders.active.featuresMicro(payload, dim)) { f =>
      exists(transform(sequence(lit(0), lit(dim / bandSize - 1)),
        b => BloomBridge.mightContain(filterBytes,
          xxhash64(b, slice(f, b * bandSize + lit(1), lit(bandSize))))),
        hit => hit)
    }
  }

  /** INGEST-TIME media routing — [[graft.operators.Retrieval.hybridRouteStream]]'s
    * discipline for the media modality: each arriving payload decodes
    * ONCE and scores against a FROZEN probe batch (exemplar feature
    * vectors chosen by the operator — e.g. canonical assets whose
    * variants should be tagged at ingest), emitting one
    * `(probe_id, <id>, bands_hit, l1)` row per (arrival × matching
    * probe): "which stored exemplar does this payload serve", decided
    * at ingest. Membership follows the banded candidate rule the batch
    * faces use — a payload routes to a probe only if at least one of
    * the `dim/bandSize` exact feature bands agrees — and survivors
    * verify by exact integer L1 (`l1 <= maxL1`), so the output is a
    * row-for-row subset of what [[mediaNearDupPairs]] would emit for
    * the same (arrival, probe) pairs. Entirely STATELESS and narrow:
    * the decode geometry comes from the stored index's meta (read once
    * at stream start — [[Retrieval.bm25ScoreStream]]'s discipline), the
    * probe batch is a driver-collected bounded literal, and the
    * per-probe fan-out is an explode of a model-sized array — no state
    * store, no watermark, no join — so the same call runs unchanged on
    * a readStream and is row-for-row equal to the batch form
    * (StreamingSpec pins it — a stream-static equi-join against a
    * local relation is stateless in append mode, the
    * [[mediaNearDupStoredStream]] discipline).
    *
    * Plan shape: arrivals decode ONCE (the decode projection sits
    * below the band Generate — StreamingSpec counts exactly one
    * `char_window_sums`), explode to `nBands` band rows, and
    * equi-join the probe batch's banded rows (a broadcast hash
    * relation — probes × nBands rows, bounded by the 1024-probe gate),
    * so each arrival costs nBands hash lookups REGARDLESS of probe
    * count — never an arrivals × probes cross (the first cut of this
    * operator exploded the whole probe batch per arrival and melted
    * 10× at sf0.1 when the probe rule scaled with the corpus). Pairs
    * keep their FIRST agreeing band only (earlier keys re-sliced from
    * the carried vectors — [[bandJoinVerify]]'s dedup-free discipline),
    * then `bands_hit` and the exact L1 verify are row-local on the
    * joined pair. */
  def mediaRouteStream(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, idCol: String, binCol: String,
      probes: Seq[(Long, Array[Long])], maxL1: Long): DataFrame = {
    val (_, dim, bandSize) = readScreenMeta(spark, dir)
    routeProbes(spark, dim, bandSize, stream, idCol, binCol, probes, maxL1)
  }

  /** The geometry-explicit core of [[mediaRouteStream]] /
    * [[routeAgainstProbeRegistry]] — both faces share one routing
    * plan; only where the geometry and the probe batch COME FROM
    * differs (a media-dup index's meta + a caller literal vs the
    * registry artifact's own geometry + probe segments). */
  private def routeProbes(spark: org.apache.spark.sql.SparkSession,
      dim: Int, bandSize: Int, stream: DataFrame, idCol: String,
      binCol: String, probes: Seq[(Long, Array[Long])],
      maxL1: Long): DataFrame = {
    require(probes.nonEmpty && probes.size <= 1024,
      s"1..1024 frozen probes, got ${probes.size}")
    require(probes.map(_._1).distinct.size == probes.size,
      "duplicate probe ids")
    probes.foreach { case (pid, v) =>
      require(v.length == dim,
        s"probe $pid has ${v.length} features, index dim is $dim")
    }
    val nBands = dim / bandSize
    import spark.implicits._
    val probeBands = broadcast(
      probes.flatMap { case (pid, pv) =>
        (0 until nBands).map(b =>
          (pid, pv.toSeq, b, pv.slice(b * bandSize, (b + 1) * bandSize).toSeq))
      }.toDF("probe_id", "_pv", "_band", "_key"))
    // Arrival side: the bandsFrame explode minus the content hash (the
    // routing faces never compare content, and an md5 per arrival
    // would be wasted stream hot-path work). The pair predicates are
    // the SHARED band-discipline expressions — the first-agreeing-band
    // rule lives only in [[noEarlierAgreement]].
    val aBands = stream.filter(col(binCol).isNotNull)
      .select(col(idCol),
        MediaDecoders.active.featuresMicro(col(binCol), dim).as("_f"))
      .select(col(idCol), col("_f"),
        posexplode(transform(sequence(lit(0), lit(nBands - 1)),
          b => slice(col("_f"), b * bandSize + lit(1), lit(bandSize)))))
      .select(col(idCol), col("_f"), col("pos").as("_band"),
        col("col").as("_key"))
    aBands.join(probeBands, Seq("_band", "_key"))
      .filter(noEarlierAgreement(col("_f"), col("_pv"), nBands, bandSize))
      .select(col("probe_id"), col(idCol),
        bandsHit(col("_f"), col("_pv"), nBands, bandSize).as("bands_hit"),
        l1Dist(col("_f"), col("_pv")).as("l1"))
      .filter(col("l1") <= maxL1)
  }

  /** PROBE REGISTRY — closes the "register a query once, route every
    * future batch" ingest loop (round-13 backlog item 4): where
    * [[mediaRouteStream]] freezes a caller-supplied probe batch per
    * call, the registry PERSISTS registered exemplar vectors under the
    * [[StoredIndex]] append discipline, and every future arrival batch
    * routes against the full registered set via
    * [[routeAgainstProbeRegistry]]. Layout:
    *  - `dir/probes/seg=N` — (probe_id, _pv): each registration batch
    *    is a new log-structured segment
    *    ([[Retrieval.appendToRetrievalIndex]]'s pattern — a
    *    registration never rewrites an earlier one);
    *  - `dir/geometry` — one row (dim, band_size): the decode geometry
    *    every registered vector and every routed arrival must share;
    *  - `dir/meta` — the [[StoredIndex]] max-id watermark + pending
    *    flag (registrations are append-only in probe id, so the
    *    registry contents are order-independent and a rebuild over the
    *    union is bit-identical).
    * The registry is a bounded EXEMPLAR set — at most 1024 probes
    * cumulatively, enforced at write AND append — which is what makes
    * the route side's driver collect model-sized and the routing plan
    * a bounded-broadcast equi-join at any corpus scale. */
  def writeProbeRegistry(spark: org.apache.spark.sql.SparkSession,
      probes: DataFrame, idCol: String, vecCol: String,
      dim: Int, bandSize: Int, dir: String): Unit = {
    require(dim % bandSize == 0, s"bandSize $bandSize must divide dim $dim")
    val seg = validatedProbeSeg(probes, idCol, vecCol, dim, maxNew = 1024)
    StoredIndex.build(dir, seg, "probe_id") { (seg, tmp) =>
      ForkFreeLocalFileSystem.write(seg).parquet(s"$tmp/probes/seg=0")
      writeGeometry(spark, tmp, dim, bandSize)
    }
  }

  /** Register another exemplar batch: a NEW probe segment under the
    * full [[StoredIndex.guardedAppend]] discipline (ascending
    * ids, no duplicates, pending-meta crash fence) — existing segments
    * are never rewritten. Geometry/bound validation runs in the
    * fail-fast prepare phase, OUTSIDE the pending window. */
  def appendToProbeRegistry(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir,
      batch.select(col(idCol).cast("long").as("probe_id")), "probe_id") {
      val (dim, _) = registryGeometry(spark, dir)
      val nExisting = SchemaReader.footers(spark, s"$dir/probes", Some("seg")).map(_.rows).sum
      val seg = validatedProbeSeg(batch, idCol, vecCol, dim,
        maxNew = 1024 - nExisting)
      val probesPath = new org.apache.hadoop.fs.Path(s"$dir/probes")
      val nextSeg = probesPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(probesPath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("seg="))
        .map(_.stripPrefix("seg=").toLong).max + 1
      (seg, nextSeg)
    } { case (seg, nextSeg) =>
      ForkFreeLocalFileSystem.write(seg).mode("errorifexists").parquet(s"$dir/probes/seg=$nextSeg")
    }

  /** Route an arrival batch (or readStream — the plan is stateless)
    * against EVERYTHING registered so far: [[mediaRouteStream]]'s
    * exact routing plan with the probe batch read from the registry's
    * segments (bounded by the 1024-probe registration contract, so the
    * read is a model-sized driver collect — [[Retrieval.bm25ScoreStream]]'s
    * stored-stats discipline) and the geometry from the registry's own
    * meta. Per arrival the cost is `dim/band_size` hash lookups
    * against the banded broadcast relation, independent of both probe
    * count and corpus size. */
  def routeAgainstProbeRegistry(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, binCol: String,
      maxL1: Long): DataFrame = {
    val (dim, bandSize) = registryGeometry(spark, dir)
    routeProbes(spark, dim, bandSize, df, idCol, binCol,
      readRegistryProbes(spark, dir), maxL1)
  }

  /** The registry's full probe set as a driver-local seq — model-sized
    * by the 1024-probe registration contract, shared by the route and
    * stats faces so each pays exactly one registry read. */
  private def readRegistryProbes(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Array[Long])] =
    SchemaReader.collectArtifact(spark, s"$dir/probes", Some("seg"))
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Seq[Long]]("_pv").toArray)
      .sortBy(_._1)

  /** Deregister probes and fold the survivors into ONE segment — the
    * registry's lifecycle tail (exemplar sets churn: a probe that
    * stops earning routes should stop costing its nBands broadcast
    * rows). Runs under the single-writer lock with the whole-dir
    * [[StoredIndex.swapRewrite]] crash contract (at every instant
    * either the old registry or a complete `_tmp` exists); geometry
    * and the max-id watermark carry over, so future appends still
    * validate against the HISTORICAL watermark — a deregistered id
    * can never be re-registered, which is what keeps any registry
    * state reachable by (write + appends + deregisters) bit-identical
    * to a fresh write of the surviving set. Routing before and after
    * a pure compaction (empty `dropIds`) is identical by construction
    * (the spec pins it). */
  def compactProbeRegistry(spark: org.apache.spark.sql.SparkSession,
      dir: String, dropIds: Set[Long] = Set.empty): Unit =
    StoredIndex.withAppendLock(spark, dir) {
      // crash fence FIRST: folding dir/probes while a crashed append's
      // partial segment sits there would commit the partial batch and
      // erase the pending evidence (round-14 advice)
      StoredIndex.requireNotPending(spark, dir)
      val (dim, bandSize) = registryGeometry(spark, dir)
      val survivors = SchemaReader.readArtifact(spark, s"$dir/probes",
          Some(StructField("seg", IntegerType)))
        .select(col("probe_id"), col("_pv"))
        .filter(!col("probe_id").isin(dropIds.toSeq: _*))
        .localCheckpoint() // sever lineage from the dir being swapped
      require(survivors.count() > 0,
        "deregistering every probe would leave an unroutable registry — " +
          "delete the directory instead")
      val maxId = StoredIndex.storedMaxId(spark, dir)
      StoredIndex.swapRewrite(spark, dir) { tmp =>
        ForkFreeLocalFileSystem.write(survivors).parquet(s"$tmp/probes/seg=0")
        // registryGeometry's decoder fence passed above, so the active
        // id IS the stored id — the stamp carries over
        writeGeometry(spark, tmp, dim, bandSize)
        // historical watermark, NOT the surviving max: append-only ids
        // must stay monotone across deregistration or an append of a
        // recycled id would diverge from the rebuild-equivalence rule
        StoredIndex.writeMaxIdMeta(spark, tmp, maxId)
      }
    }

  /** Per-probe ROUTING STATS over an arrival batch — the MEASURE step
    * that closes the registry lifecycle (register → route → measure →
    * deregister): one row per REGISTERED probe with its route count,
    * band-agreement mass and best (min) verified L1 over the batch.
    * Zero-route probes surface with `n_routes = 0` and a null `min_l1`
    * — exactly the operational signal [[compactProbeRegistry]]'s
    * deregistration decision needs ("which exemplars stopped earning
    * routes"), produced from the same single routing pass a production
    * ingest tick already runs. Scale shape: the routing plan is
    * [[routeAgainstProbeRegistry]]'s (nBands hash lookups per arrival
    * against the bounded banded broadcast relation); the stats are one
    * probe-keyed partial-combined aggregate whose output is bounded by
    * the 1024-probe registration contract, left-joined back onto the
    * (model-sized) registered id set so absent probes report zero. */
  def probeRegistryRouteStats(spark: org.apache.spark.sql.SparkSession,
      dir: String, df: DataFrame, idCol: String, binCol: String,
      maxL1: Long): DataFrame = {
    val (dim, bandSize) = registryGeometry(spark, dir)
    // ONE registry read feeds both the routing relation and the
    // registered-id side of the stats join (the stats face runs every
    // production ingest tick — a second distributed parquet scan for a
    // ≤1024-row set already in driver memory was pure hot-path waste)
    val probes = readRegistryProbes(spark, dir)
    val routed = routeProbes(spark, dim, bandSize, df, idCol, binCol,
      probes, maxL1)
    val stats = routed.groupBy("probe_id").agg(
      count(lit(1)).as("n_routes"),
      sum(col("bands_hit")).as("sum_bands"),
      min(col("l1")).as("min_l1"))
    import spark.implicits._
    probes.map(_._1).toDF("probe_id")
      .join(stats, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_routes"), lit(0L)).as("n_routes"),
        coalesce(col("sum_bands"), lit(0L)).as("sum_bands"),
        col("min_l1"))
  }

  /** `dir/geometry`: the one row (dim, band_size, decoder) a registry
    * is decoded under. Registered vectors must come from the decoder
    * that decodes arrivals at route time, so the active one is stamped. */
  private def writeGeometry(spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int, bandSize: Int): Unit =
    SchemaReader.writeRows(spark, s"$dir/geometry", Seq("dim" -> dim,
      "band_size" -> bandSize, "decoder" -> MediaDecoders.active.id))

  private def registryGeometry(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int) = {
    val (_, dim, bandSize) = stampedGeometry(spark, s"$dir/geometry")
    (dim, bandSize)
  }

  /** Normalize + validate a registration batch: (probe_id, _pv) with
    * every id non-null and unique, every vector non-null and exactly
    * `dim` wide, and the batch within the remaining registry capacity.
    * The id checks matter on the WRITE path (round-14 advice): the
    * append path re-validates ids through
    * [[StoredIndex.validateAppendBatch]], but an initial write batch
    * with a null or duplicate probe_id would otherwise persist a
    * registry that only fails at route time (routeProbes' distinct-ids
    * require, or an NPE in the route collect) with no hint the stored
    * artifact itself is corrupt — violating the registry's "every
    * violation fails LOUDLY at registration" contract. Registration
    * batches are exemplar-sized, so the validating count is bounded by
    * contract. */
  private def validatedProbeSeg(probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, maxNew: Long): DataFrame = {
    val seg = probes.select(col(idCol).cast("long").as("probe_id"),
      col(vecCol).cast("array<long>").as("_pv"))
    val r = seg.agg(count(lit(1)),
      count(when(col("_pv").isNull || size(col("_pv")) =!= dim, 1)),
      count(when(col("probe_id").isNull, 1)),
      count_distinct(col("probe_id"))).head
    val (n, bad, nullIds, distinctIds) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    require(bad == 0,
      s"$bad probe vector(s) null or not dim=$dim — refusing to register")
    require(nullIds == 0,
      s"$nullIds probe id(s) null — refusing to register")
    require(distinctIds == n - nullIds,
      s"${n - nullIds - distinctIds} duplicate probe id(s) — refusing to register")
    require(n > 0 && n <= maxNew,
      s"registration batch of $n exceeds remaining registry capacity " +
        s"$maxNew (the 1024-probe exemplar bound) or is empty")
    seg
  }

  /** Frame/chunk sampler: split a payload into fixed-size byte chunks and
    * keep every `stride`-th one (the video-frame-sampling shape), as a
    * codegen-friendly generator — explode over a computed chunk index. */
  def sampleChunks(df: DataFrame, idCol: String, binCol: String,
      chunkBytes: Int, stride: Int): DataFrame = {
    val nChunks = ceil(octet_length(col(binCol)).cast("double") / chunkBytes).cast("int")
    df.select(col(idCol), col(binCol), posexplode(sequence(lit(0), greatest(nChunks - 1, lit(0)))))
      .filter(col("pos") % stride === 0)
      .select(
        col(idCol),
        col("pos").as("chunk_id"),
        substring(col(binCol), col("pos") * chunkBytes + 1, lit(chunkBytes)).as("chunk"))
  }
}

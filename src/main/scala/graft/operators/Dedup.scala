package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Plans, PortableHash, PortableRound}
import graft.sinks.ForkFreeLocalFileSystem
import graft.sources.SchemaReader

/** Document deduplication suite for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Design notes for 100 TB:
  *  - Exact dedup is a single hash-shuffle on the text digest (we group
  *    by md5, never by the full text — shuffling 100 TB of raw text on
  *    the group key would dwarf the job; 16-byte digests shuffle fine).
  *  - MinHash signatures are computed in ONE pass: explode distinct
  *    tokens → one partial-aggregated groupBy(doc) with k min()s. The
  *    LSH band join then only shuffles (band_key, doc_id) pairs — never
  *    documents — and candidate verification happens on the small
  *    candidate set.
  *  - SimHash is a pure aggregation (k bit-sums per doc), no joins.
  *  - n-gram Jaccard is quadratic per blocking group, so it is only run
  *    WITHIN blocks (e.g. language) — at scale the LSH variant is the
  *    candidate generator and Jaccard the verifier.
  */
object Dedup {

  /** Whitespace tokens; the engine's canonical tokenizer (documents are
    * space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Distinct n-token shingles (w-shingling): overlapping windows of
    * `n` consecutive tokens joined by a space. Shingles preserve local
    * word order, so MinHash over shingles detects near-dups that
    * bag-of-tokens misses (same vocabulary, different text). Documents
    * shorter than `n` tokens produce no shingles. */
  def distinctShingles(text: Column, n: Int): Column =
    // let-bind the token array: the shingle lambda references it per
    // element, and codegen CSE does not reach inside lambdas — unbound,
    // split() re-runs once per shingle start (3× slower end-to-end).
    graft.functions.ArrayOps.bind(tokens(text)) { toks =>
      array_distinct(shinglesOf(toks, n))
    }

  /** All n-token shingles of an already-bound token array, WITH
    * duplicates (multiset form — what within-document repetition
    * metrics count; [[distinctShingles]] is the set form). */
  private[operators] def shinglesOf(toks: Column, n: Int): Column = {
    // sequence(1, 0) counts DOWN in Spark, so guard the short-doc case
    // explicitly to yield an empty shingle set.
    val starts = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(starts, i => concat_ws(" ", slice(toks, i, lit(n))))
  }

  /** Shared minhash pipeline, ROW-LOCAL: all k min-permutations in one
    * native walk per document ([[graft.functions.MinhashMins]]) — a
    * narrow projection, no explode, no exchange. `nonEmpty` must be the
    * cheap row predicate equivalent to "the unit array is non-empty":
    * it preserves the aggregation form's row set (explode of an empty
    * or null unit array produced no group) without evaluating the unit
    * expression twice. The k column extractions share the single
    * signature walk through codegen subexpression elimination.
    *
    * UNIQUE-ID PRECONDITION (round-15 advice): the row-local form
    * emits one signature row PER INPUT ROW, where the aggregation form
    * merged duplicate ids into one signature over the UNION of their
    * units. Every engine caller feeds a primary-key id (doc_id /
    * vec_id — the testdata invariant the parity specs cover); on a
    * corpus with repeated ids, dedupe ids first, or downstream band
    * joins see inflated duplicate signature rows. */
  private def minhashFrom(df: DataFrame, idCol: String, units: Column, k: Int,
      nonEmpty: Column): DataFrame =
    df.filter(nonEmpty)
      .select(col(idCol),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.MinhashMins(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(units), k))
          .as("_mh"))
      .select(col(idCol) +: (0 until k).map(i => col("_mh")(i).as(s"mh$i")): _*)

  /** MinHash signature over n-token shingles — the shingle→minhash
    * stage of the canonical near-dup pipeline. A document shorter than
    * `shingleN` tokens has no shingles, hence no signature row (the
    * aggregation form's row-set rule, as a cheap token-count test). */
  def minhashSignatureShingled(df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int): DataFrame =
    minhashFrom(df, idCol, distinctShingles(col(textCol), shingleN), k,
      col(textCol).isNotNull && size(tokens(col(textCol))) >= shingleN)

  /** Exact dedup: group by content digest, keep min id as the canonical
    * representative. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // null texts are not duplicates of each other: md5(null) = null and
    // GROUP BY treats nulls as equal, so unfiltered they'd collapse
    // into one "duplicate" group and a keep-only-keep_id pass would
    // delete distinct documents that merely lack text
    df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash signature: one row per doc with k min-permutation columns
    * mh0..mh{k-1}. Non-null text always splits into at least one token,
    * so the null filter is exactly the aggregation form's row-set rule. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    minhashFrom(df, idCol, distinctTokens(col(textCol)), k,
      col(textCol).isNotNull)

  /** Source-level overlap matrix: estimated token-set Jaccard between
    * every pair of corpus partitions (sources / dumps / snapshots) via
    * per-GROUP MinHash signatures — the governance view that answers
    * "which sources are feeding me the same content?" before any
    * doc-level dedup runs.
    *
    * A group's signature component i is min over the UNION of its docs'
    * token sets of permutation i — and min is idempotent, so the
    * group aggregate folds PER-DOCUMENT minima: each doc computes its
    * row-local native signature ([[graft.functions.MinhashMins]], one
    * walk, no explode) and the group min-agg runs over doc-count rows
    * of k longs instead of token-count exploded rows — same values
    * (min of mins = min of the union), far fewer shuffled bytes.
    * The estimate is (agreeing components)/k in exact integer
    * milli-units. Scale: the corpus contributes one narrow projection
    * + one group-keyed min-agg (group-cardinality rows out); the pair
    * matrix is groups², enumerated over the group-sized signature
    * frame only — at 100 TB with thousands of dumps that is millions
    * of cheap rows, never a corpus join. */
  def sourceOverlapMinhash(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    // non-null text → ≥1 token → every kept doc has a full signature,
    // and every agg-form group (≥1 exploded unit) is represented
    val perDoc = minhashFrom(
      df.filter(col(textCol).isNotNull), groupCol,
      distinctTokens(col(textCol)), k, lit(true))
    val mins = (0 until k).map(i => min(col(s"mh$i")).as(s"mh$i"))
    val sig = perDoc.groupBy(col(groupCol)).agg(mins.head, mins.tail: _*)
    val a = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"a_$c"))
    val b = sig.columns.foldLeft(sig)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val agree = (0 until k)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col(s"a_$groupCol") < col(s"b_$groupCol"))
      .select(col(s"a_$groupCol").as("source_a"),
        col(s"b_$groupCol").as("source_b"),
        agree.as("agree"))
      .withColumn("jaccard_milli", expr(s"(agree * 1000) div $k"))
  }

  /** Band rows carrying the doc's FULL key vector: (id, band_id,
    * band_key, keys[0..nBands)). The keys array is what makes dedup-free
    * pair enumeration possible (see [[minhashCandidates]]). */
  private def lshBandsKeyed(sig: DataFrame, idCol: String, k: Int, bandSize: Int): DataFrame = {
    require(k % bandSize == 0, "k must be divisible by bandSize")
    val keys = (0 until k / bandSize).map { b =>
      concat_ws("-", (0 until bandSize).map(j => col(s"mh${b * bandSize + j}")): _*)
    }
    sig.select(col(idCol), array(keys: _*).as("keys"))
      .select(col(idCol), col("keys"), posexplode(col("keys")).as(Seq("band_id", "band_key")))
  }

  /** Candidate near-dup pairs: docs sharing ≥1 LSH band, each pair
    * exactly once. Only ids and band keys shuffle. The probe side is
    * broadcast: band rows are tiny relative to the corpus, so the
    * self-join runs as a broadcast hash join with stream-side
    * parallelism instead of hash-partitioning on band keys (which skews
    * badly on large near-dup clusters, where one hot band key funnels
    * the whole cluster's candidate explosion into a single task).
    * Cross-band duplicates are eliminated by the first-collision filter
    * ([[graft.functions.NoEarlierCollision]] — the pair survives only
    * in the first band where the docs collide, tested with raw-byte
    * key comparisons) instead of a pair-keyed shuffle+distinct — the
    * dominant cost of the naive formulation (the pair stream is
    * ~nBands× the distinct pair count). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bandSize: Int = 4): DataFrame = {
    // Signature-sized checkpoint (docs × k+1 columns): (a) the
    // self-join's two sides read the per-doc signature walk ONCE — the
    // materialization role the aggregation form's groupBy exchange used
    // to play; (b) it fences InferFiltersFromGenerate's size(keys) > 0
    // filter, which pushdown would otherwise substitute through the
    // row-local projection into a scan-side filter carrying one
    // minhash_mins copy PER BAND COLUMN (measured 10× on the verified-
    // pair family — the same fence the winnow/digest families use).
    // Checkpoints.stable (round-16, round-15 verdict item 7): the fence
    // is DELIBERATELY eager (both consumers need the materialization)
    // and executor-local by default; setting spark.graft.checkpointDir
    // switches every fence in this family to a RELIABLE DFS checkpoint
    // so an executor loss at cluster scale costs a task retry, not the
    // query (results identical — CheckpointsSpec pins both modes).
    val bands = lshBandsKeyed(
      Checkpoints.stable(minhashSignature(df, idCol, textCol, k)),
      idCol, k, bandSize)
    // Explicit-N repartition: the stream side is byte-tiny but each row's
    // probe fans out quadratically inside hot bands — AQE's byte-based
    // coalescing would serialize it (SURVEY.md §8.1).
    val a = bands.select(col(idCol).as("id_a"), col("band_id"), col("band_key"),
      col("keys").as("keys_a")).repartition(Plans.shufflePartitions(df))
    val b = bands.select(col(idCol).as("id_b"), col("band_id"), col("band_key"),
      col("keys").as("keys_b"))
    a.join(Plans.broadcastHint(b), Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b") &&
        graft.functions.ArrayOps.noEarlierCollision(
          col("keys_a"), col("keys_b"), col("band_id")))
      .select("id_a", "id_b")
  }

  /** The 100 TB dedup pipeline: LSH candidate generation
    * ([[minhashCandidates]]) followed by exact Jaccard verification of
    * ONLY the candidate pairs. The verifier joins candidates back to
    * token sets by doc id — at scale these are two broadcast-or-shuffle
    * hash joins on ids, never an all-pairs product; pair count is
    * bounded by the LSH collision rate, not n². */
  /** Shared candidate→token-set scaffold for the LSH verifier family:
    * [[minhashCandidates]]' first-collision pairs joined back to each
    * side's sorted distinct-token array + size — the two id-keyed
    * broadcast-or-shuffle hash joins both verifiers run before their
    * scoring tails ([[lshVerifiedPairs]]'s Jaccard, [[containmentPairs]]'
    * containment). One definition so the candidate-join discipline
    * cannot drift between them. */
  private def candidateTokenJoin(df: DataFrame, idCol: String, textCol: String,
      k: Int, bandSize: Int): DataFrame = {
    val toks = df.select(col(idCol).as("_tid"),
      array_sort(distinctTokens(col(textCol))).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
    minhashCandidates(df, idCol, textCol, k, bandSize)
      .join(Plans.broadcastHint(toks.select(col("_tid").as("id_a"),
        col("_toks").as("toks_a"), col("_n").as("n_a"))), Seq("id_a"))
      .join(Plans.broadcastHint(toks.select(col("_tid").as("id_b"),
        col("_toks").as("toks_b"), col("_n").as("n_b"))), Seq("id_b"))
  }

  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, bandSize: Int, threshold: Double): DataFrame = {
    // Candidate generation is [[minhashCandidates]]' dedup-free
    // first-collision join, so candidates flow STRAIGHT into the
    // verification joins — zero shuffles between enumeration and verify
    // (everything after the signature aggregate is one fused
    // broadcast-probe pipeline).
    // Size-ratio prefilter ([[jaccardPairs]]' derivation, verbatim):
    // jaccard <= min(|A|,|B|)/max(|A|,|B|), and round4(j) >= t only if
    // j >= t - 5e-5, so candidates failing
    // 20000*min >= (20000*t - 1)*max cannot pass the threshold — the
    // O(|A|+|B|) intersection merge is skipped for them with the row
    // set provably unchanged. At a tight threshold (q104's 0.95) this
    // prunes almost every non-near-equal-size candidate.
    val tScaled = math.round(threshold * 20000) - 1
    withJaccard(
      candidateTokenJoin(df, idCol, textCol, k, bandSize)
        .filter(least(col("n_a"), col("n_b")) * 20000L >=
          greatest(col("n_a"), col("n_b")) * tScaled),
      Seq.empty, threshold)
  }

  /** CONTAINMENT detection over LSH candidates: flags pairs where the
    * smaller document's token set is (nearly) a subset of the larger's —
    * containment = |A∩B| / min(|A|,|B|). Symmetric Jaccard MISSES
    * doc-inside-doc (a short doc quoted whole inside a long one has
    * |A∩B|/|A∪B| ≈ |A|/|B|, arbitrarily small), which is exactly the
    * quote/subset duplication a curation pass wants to catch.
    *
    * Candidates come from the same dedup-free first-collision LSH join
    * as [[lshVerifiedPairs]] ([[minhashCandidates]]). Recall caveat,
    * stated honestly: minhash collision probability tracks JACCARD, so
    * a containment-high/Jaccard-low pair (tiny doc inside huge doc)
    * collides with lower probability — at scale, shorter/more bands
    * raise the floor, and the exact fast path for verbatim quotes is
    * chunk-digest dedup ([[TextAnalysis.cdcChunks]] digests): CDC
    * chunks of the quoted region are identical in both docs regardless
    * of size ratio. This operator is the fuzzy-containment middle.
    *
    * Same verify fence discipline as [[withJaccard]] (the verifier runs
    * on candidates only; the fence keeps the non-deterministic-looking
    * filter from being split and pushed through the broadcast joins). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, bandSize: Int, threshold: Double): DataFrame = {
    candidateTokenJoin(df, idCol, textCol, k, bandSize)
      .select(col("id_a"), col("id_b"),
        graft.functions.ArrayOps.sortedIntersectSize(col("toks_a"), col("toks_b"))
          .cast("long").as("n_int"),
        least(col("n_a"), col("n_b")).as("n_min"),
        monotonically_increasing_id().as("_mid"))
      .withColumn("containment",
        PortableRound.round4(col("n_int").cast("double") / col("n_min")))
      .filter(when(col("_mid") >= 0, col("containment")) >= threshold)
      .drop("_mid")
  }

  /** Exact dedup with "keep the best" canonicalization: per content
    * digest, the surviving row is the argmax of (`score` desc, id asc) —
    * one hash-shuffle on the digest via the argmax-struct trick (the
    * engine-wide tie-break pattern, SURVEY.md §2.5 A3), no ranking
    * window, no second pass. `idCol` must be numeric (the id tie-break
    * inverts it so `max` picks the smallest). */
  def keepBest(df: DataFrame, idCol: String, textCol: String, score: Column): DataFrame =
    df.filter(col(textCol).isNotNull) // same null rule as [[exact]]
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(
        max(struct(
          score.as("s"),
          // ~id reverses the order with NO overflow (MaxValue - id
          // overflowed for negative ids: ANSI abort, or an inverted
          // tie-break with ANSI off)
          bitwise_not(col(idCol).cast("long")).as("inv"),
          col(idCol).cast("long").as("kid"))).as("best"),
        count(lit(1)).as("dup_count"))
      .select(
        col("digest"),
        col("best.kid").as("keep_id"),
        col("best.s").as("best_score"),
        col("dup_count"))

  /** SimHash near-duplicate pairs: all (a, b), a < b, with
    * hamming(simhash_a, simhash_b) ≤ `maxHamming`.
    *
    * Scale path is pigeonhole banding: split the `bits`-bit fingerprint
    * into `bits / bandBits` chunks; a pair within `maxHamming` (when
    * maxHamming < number of chunks) must agree on at least one whole
    * chunk, so the candidate join is an equi-join on (band_id,
    * band_value) — COMPLETE (no recall loss, unlike MinHash LSH) and
    * never all-pairs. Verification is one xor+popcount per candidate. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16, maxHamming: Int = 3, bandBits: Int = 4): DataFrame = {
    require(bits % bandBits == 0, "bits must be divisible by bandBits")
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"pigeonhole completeness needs maxHamming < $nBands bands; got $maxHamming")
    val sig = simhash(df, idCol, textCol, bits)
    val mask = (1L << bandBits) - 1
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("band_val"))
    }
    val exploded = sig.select(col(idCol), col("simhash"),
      explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("simhash"), col("band.band_id"), col("band.band_val"))
    // Explicit-N repartition: byte-tiny stream side, quadratic probe
    // fan-out — AQE coalescing would serialize it (SURVEY.md §8.1).
    val a = exploded.select(col(idCol).as("id_a"), col("simhash").as("sim_a"),
      col("band_id"), col("band_val")).repartition(Plans.shufflePartitions(df))
    val b = exploded.select(col(idCol).as("id_b"), col("simhash").as("sim_b"),
      col("band_id"), col("band_val"))
    // A candidate repeats once per agreeing band; emit it only from the
    // FIRST agreeing band. Earlier bands are recomputable from the two
    // fingerprints (shift+mask), so — unlike the MinHash variant — the
    // filter needs no carried key array, and no pair-keyed
    // shuffle+distinct at all.
    val noEarlierAgreement = (0 until nBands - 1)
      .map(j => lit(j) >= col("band_id") ||
        shiftright(col("sim_a"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("sim_b"), j * bandBits).bitwiseAND(lit(mask)))
      .reduceOption(_ && _).getOrElse(lit(true))
    a.join(Plans.broadcastHint(b), Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b") && noEarlierAgreement)
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** INCREMENTAL near-dup: screen a NEW batch of documents against an
    * already-ingested corpus — the dedup move an ever-growing training
    * set actually runs (dedup-against-what-we-already-have, not
    * all-pairs over the union; within-batch duplicates are the separate
    * [[simhashNearDupPairs]] pass). Returns one row per batch doc:
    * `(idCol, dup_of, hamming)` where `dup_of` is the corpus doc it
    * duplicates — the (lowest-hamming, lowest-id) one — or NULL for a
    * genuinely new document.
    *
    * Shape mirrors [[simhashNearDupPairs]]: pigeonhole banding makes
    * candidate generation an equi-join on (band, value) — complete for
    * the hamming bound, never batch×corpus — and each candidate pair is
    * verified with one xor+popcount, emitted from its FIRST agreeing
    * band only. At 100 TB the corpus side's banded signatures are a
    * stored artifact (append-only, like the IVF indexes): screening a
    * daily batch shuffles only batch-sized data against them. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, bits: Int = 32, maxHamming: Int = 3,
      bandBits: Int = 8): DataFrame = {
    val cs = simhash(corpus, idCol, textCol, bits)
      .select(col(idCol).as("_cid"), col("simhash").as("_csim"))
    val bs = simhash(batch, idCol, textCol, bits)
      .select(col(idCol).as(idCol), col("simhash").as("_bsim"))
    bestBandedMatch(cs, bs, batch, idCol, bits, maxHamming, bandBits)
  }

  /** Core of the incremental screen, shared by [[incrementalNearDup]]
    * (signatures computed in-flight) and [[screenWithSimhashIndex]]
    * (corpus signatures read from the stored artifact): pigeonhole-
    * banded equi-join, first-agreeing-band dedup, one xor+popcount per
    * candidate, keyed min-struct best match per batch doc.
    * `cs` = (_cid, _csim), `bs` = (idCol, _bsim); `batch` is the RAW
    * batch frame — the one-row-per-batch-doc contract joins from it,
    * not from the signature frame, so null-text docs (which have no
    * signature) still surface with null match columns like the
    * minhash/winnow screens. */
  private def bestBandedMatch(cs: DataFrame, bs: DataFrame, batch: DataFrame,
      idCol: String, bits: Int, maxHamming: Int, bandBits: Int): DataFrame = {
    require(bits % bandBits == 0, "bits must be divisible by bandBits")
    val nBands = bits / bandBits
    require(maxHamming < nBands,
      s"pigeonhole completeness needs maxHamming < $nBands bands; got $maxHamming")
    val mask = (1L << bandBits) - 1
    def banded(df: DataFrame, id: String, sim: String) = {
      val bands = (0 until nBands).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col(sim), b * bandBits).bitwiseAND(lit(mask)).as("band_val"))
      }
      df.select(col(id), col(sim), explode(array(bands: _*)).as("band"))
        .select(col(id), col(sim), col("band.band_id"), col("band.band_val"))
    }
    // first-agreeing-band filter (same trick as simhashNearDupPairs):
    // earlier bands are recomputable from the two fingerprints, so a
    // pair is verified exactly once with no pair-keyed distinct
    val noEarlierAgreement = (0 until nBands - 1)
      .map(j => lit(j) >= col("band_id") ||
        shiftright(col("_bsim"), j * bandBits).bitwiseAND(lit(mask)) =!=
          shiftright(col("_csim"), j * bandBits).bitwiseAND(lit(mask)))
      .reduceOption(_ && _).getOrElse(lit(true))
    val best = banded(bs, idCol, "_bsim")
      .join(banded(cs, "_cid", "_csim"), Seq("band_id", "band_val"))
      .filter(noEarlierAgreement)
      .withColumn("_h", bit_count(col("_bsim").bitwiseXOR(col("_csim"))).cast("long"))
      .filter(col("_h") <= maxHamming)
      .groupBy(col(idCol))
      .agg(min(struct(col("_h"), col("_cid"))).as("_b"))
      .select(col(idCol), col("_b._cid").as("dup_of"), col("_b._h").as("hamming"))
    batch.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"), col("hamming"))
  }

  /** Persist a corpus's simhash signatures as the stored append-only
    * artifact [[incrementalNearDup]]'s scale story names: `dir/data` =
    * (idCol, simhash) parquet — 16-ish bytes per document at rest, a
    * ~0.01% shadow of the corpus, so every later batch screen shuffles
    * signature metadata instead of recomputing fingerprints over
    * 100 TB of text — `dir/params` = fingerprint geometry, `dir/meta`
    * = max indexed id (the append-discipline handle shared with the
    * ANN indexes, [[StoredIndex]]). */
  def writeSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, idCol: String, textCol: String, dir: String,
      bits: Int = 32): Unit = {
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      ForkFreeLocalFileSystem.write(simhash(rows, idCol, textCol, bits)).parquet(s"$tmp/data")
      SchemaReader.writeRows(spark, s"$tmp/params", Seq("bits" -> bits))
    }
  }

  /** Incremental ingest into a stored signature index: fingerprint the
    * new batch with the STORED geometry and append — the per-ingest
    * maintenance move (touches only the batch; existing files are
    * untouched). Validates the append-only id discipline against the
    * stored meta, mirroring the ANN index appends. */
  def appendToSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // params read fails fast BEFORE the meta goes pending
      SchemaReader.collectArtifact(spark, s"$dir/params").head
        .getAs[Number]("bits").intValue()
    } { bits =>
      ForkFreeLocalFileSystem.write(simhash(batch, idCol, textCol, bits))
        .mode("append").parquet(s"$dir/data")
    }

  /** [[incrementalNearDup]] against the STORED signature index: the
    * corpus side reads (id, simhash) rows — never corpus text — and the
    * batch fingerprints with the stored geometry, so screening a daily
    * batch against a 100 TB corpus touches the signature shadow plus
    * batch-sized data only. Semantics identical to recomputing
    * signatures in-flight (asserted in DedupSpec). */
  def screenWithSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bandBits: Int = 8): DataFrame = {
    val bits = SchemaReader.collectArtifact(spark, s"$dir/params").head
      .getAs[Number]("bits").intValue()
    val cs = SchemaReader.readArtifact(spark, s"$dir/data")
      .select(col(idCol).as("_cid"), col("simhash").as("_csim"))
    val bs = simhash(batch, idCol, textCol, bits)
      .select(col(idCol).as(idCol), col("simhash").as("_bsim"))
    bestBandedMatch(cs, bs, batch, idCol, bits, maxHamming, bandBits)
  }

  /** Persist a corpus's shingle-MinHash signatures as a stored
    * append-only artifact — the Jaccard-estimate twin of
    * [[writeSimhashIndex]] (simhash screens by Hamming distance on one
    * fingerprint; minhash screens by ESTIMATED JACCARD, the measure the
    * LSH dedup family thresholds on). `dir/data` = (idCol, mh0..mh{k-1}),
    * `dir/params` = signature geometry, `dir/meta` = max indexed id. */
  def writeMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int = 16, shingleN: Int = 3): Unit = {
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      ForkFreeLocalFileSystem.write(minhashSignatureShingled(rows, idCol, textCol, k, shingleN))
        .parquet(s"$tmp/data")
      SchemaReader.writeRows(spark, s"$tmp/params", Seq("k" -> k, "shingle_n" -> shingleN))
    }
  }

  /** Incremental ingest into the stored minhash index: sign the batch
    * with the STORED geometry and append (batch-sized work; existing
    * files untouched; append-only id discipline validated). */
  def appendToMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // params read fails fast BEFORE the meta goes pending
      SchemaReader.collectArtifact(spark, s"$dir/params").head
    } { p =>
      ForkFreeLocalFileSystem.write(minhashSignatureShingled(batch, idCol, textCol,
          p.getAs[Number]("k").intValue(), p.getAs[Number]("shingle_n").intValue()))
        .mode("append").parquet(s"$dir/data")
    }

  /** Screen a batch against the STORED minhash index: banded equi-join
    * (complete for any pair agreeing on a full band — the standard LSH
    * guarantee), then the Jaccard ESTIMATE from signature agreement,
    * `est_milli` = ⌊1000·(agreeing components)/k⌋ — pure int64, no text
    * on the corpus side, ever. Pairs colliding in several bands emit
    * several candidate rows; they collapse in the per-batch-doc
    * best-match aggregate (inflation bounded by the band count), so no
    * pair-keyed distinct is needed. Returns every batch id with its
    * best match (highest estimate, then lowest corpus id) or nulls. */
  def screenWithMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      bandSize: Int = 4, minEstMilli: Long = 500L): DataFrame = {
    val p = SchemaReader.collectArtifact(spark, s"$dir/params").head
    val k = p.getAs[Number]("k").intValue()
    val shingleN = p.getAs[Number]("shingle_n").intValue()
    require(k % bandSize == 0, "stored k must be divisible by bandSize")
    val nBands = k / bandSize
    def banded(sig: DataFrame, id: String, prefix: String) = {
      val bands = (0 until nBands).map { b =>
        struct(lit(b).as("band_id"),
          concat_ws("-", (b * bandSize until (b + 1) * bandSize)
            .map(j => col(s"mh$j")): _*).as("band_key"))
      }
      sig.select(
        col(id) +: (0 until k).map(j => col(s"mh$j").as(s"$prefix$j")) :+
          explode(array(bands: _*)).as("_band"): _*)
        .select(col(id) +: (0 until k).map(j => col(s"$prefix$j")) :+
          col("_band.band_id").as("band_id") :+
          col("_band.band_key").as("band_key"): _*)
    }
    val cs = banded(SchemaReader.readArtifact(spark, s"$dir/data")
      .withColumnRenamed(idCol, "_cid"), "_cid", "_c")
    val bs = banded(minhashSignatureShingled(batch, idCol, textCol, k, shingleN),
      idCol, "_b")
    val agree = (0 until k)
      .map(j => when(col(s"_b$j") === col(s"_c$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val best = bs.join(cs, Seq("band_id", "band_key"))
      .withColumn("_agree", agree)
      .withColumn("_est", expr(s"(1000 * _agree) DIV $k"))
      .filter(col("_est") >= minEstMilli)
      .groupBy(col(idCol))
      .agg(min(struct((-col("_est")).as("_n"), col("_cid"))).as("_b"))
      .select(col(idCol), col("_b._cid").as("dup_of"), (-col("_b._n")).as("est_milli"))
    batch.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"), col("est_milli"))
  }

  /** SimHash fingerprint over the low `bits` bits of the token hash:
    * per-bit ±1 sums, sign → bit. Returns (id, simhash). Same
    * unique-id precondition as [[minhashFrom]]: one row per input row —
    * duplicate ids are not merged the way the aggregation form did. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    // Row-local native fingerprint: no explode, no exchange — the
    // signature stage is a narrow projection. The null-text filter
    // preserves the aggregation form's row set (explode of a null
    // token array produced no group); values are identical (integer
    // ±1 sums are fold-order-free; equality with the aggregation form
    // pinned in spec).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), simhashExpr(col(textCol), bits).as("simhash"))

  /** ROW-LOCAL SimHash: the same fingerprint as [[simhash]] computed
    * entirely inside one projection (array HOFs over the distinct
    * tokens, no explode, no aggregation) — equality with the
    * aggregation form is property-tested. This is the form a STREAMING
    * pipeline needs: a per-row narrow expression imposes no stateful
    * aggregation before the fingerprint exists, so the only stream
    * state is whatever the consumer keeps (see StreamNearDup). Also the
    * cheaper batch shape when each document is one row: no
    * explode-shuffle-agg round trip at all. */
  def simhashExpr(text: Column, bits: Int = 16): Column =
    // Native one-walk fingerprint ([[graft.functions.SimhashFingerprint]]):
    // null text → null token array → null fingerprint (the expression
    // is null-strict), matching the composed form's null algebra.
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SimhashFingerprint(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          distinctTokens(text)), bits))

  /** Edit-distance near-duplicate pairs within a blocking key: all
    * (a, b), a < b, with levenshtein(s_a, s_b) ≤ `maxDist` — the fuzzy
    * title/short-string dedup family (token-set Jaccard is blind to
    * intra-word typos). Plan shape matches [[jaccardPairs]]: broadcast
    * build side, explicit-N stream repartition. Two exactness-preserving
    * prunings: the length filter (|len_a − len_b| ≤ maxDist is implied
    * by the distance bound) skips pairs for free, and the in-condition
    * distance uses Spark's THRESHOLDED levenshtein — banded O(n·k) DP
    * instead of O(n²), returning −1 past the bound, which the condition
    * treats as no-match. Survivors recompute the plain distance once in
    * the projection (q29's pattern: cheaper than materializing every
    * candidate). The cheap conjuncts sit inside a `when` guard so the
    * optimizer cannot reorder the DP before them (SURVEY §9.4). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val s = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(strCol).as("s"), length(col(strCol)).as("len"))
    val nPart = Plans.shufflePartitions(df)
    val a = s.repartition(nPart).select(col("block"), col("id").as("id_a"),
      col("s").as("s_a"), col("len").as("len_a"))
    val b = s.select(col("block"), col("id").as("id_b"),
      col("s").as("s_b"), col("len").as("len_b"))
    // banded levenshtein returns −1 iff the distance exceeds maxDist,
    // so `>= 0` is the complete bound check with ONE DP evaluation
    // (an `x >= 0 && x <= k` form would re-run the DP per conjunct —
    // the §9.4 duplication trap)
    val banded = levenshtein(col("s_a"), col("s_b"), maxDist)
    val inRange = when(
      col("id_a") < col("id_b") && abs(col("len_a") - col("len_b")) <= maxDist,
      banded).otherwise(lit(null))
    a.as("A").join(Plans.broadcastHint(b.as("B")),
        col("A.block") === col("B.block") && inRange >= 0)
      .select(col("A.block").as("block"), col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
  }

  /** Exact token-set Jaccard over candidate pairs within a blocking key
    * (quadratic per block — the verifier stage, not the generator).
    *
    * Plan shape: the build side is broadcast, because a shuffle join on
    * the block key caps parallelism at the number of distinct blocks and
    * funnels each block's full quadratic work into one task. With a
    * broadcast the stream side keeps its scan partitioning and every
    * task enumerates only its rows' pairs. A size-ratio prefilter
    * (jaccard ≤ min(|A|,|B|)/max(|A|,|B|), and round4(j) ≥ t ⟺
    * j ≥ t − 5e-5) skips the O(|A|+|B|) intersection for pairs that
    * cannot reach the threshold — exactness is preserved. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // Sorted once per document so the per-pair intersection is a
    // zero-allocation merge count ([[ArrayOps.sortedIntersectSize]])
    // instead of array_intersect's per-call hash set + result array.
    val toks = df.select(
      col(blockCol).as("block"),
      col(idCol).as("id"),
      array_sort(distinctTokens(col(textCol))).as("toks"))
    // The pair-enumeration work is quadratic while the input bytes are
    // tiny, so AQE would coalesce a plain shuffle to one partition;
    // an explicit-N round-robin repartition is exempt from coalescing
    // and spreads the stream side across all cores.
    val nPart = Plans.shufflePartitions(df)
    val a = toks.repartition(nPart).select(col("block"), col("id").as("id_a"),
      col("toks").as("toks_a"), size(col("toks")).cast("long").as("n_a"))
    val b = toks.select(col("block"), col("id").as("id_b"),
      col("toks").as("toks_b"), size(col("toks")).cast("long").as("n_b"))
    // round4(j) >= threshold requires j >= threshold - 0.00005; j is at
    // most min/max, so prune on 20000*min >= (20000*threshold - 1)*max.
    val tScaled = math.round(threshold * 20000) - 1
    val joined = a.as("A").join(Plans.broadcastHint(b.as("B")),
      col("A.block") === col("B.block") &&
        col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) * 20000L >= greatest(col("n_a"), col("n_b")) * tScaled)
    withJaccard(joined, Seq(col("A.block").as("block")), threshold)
  }

  /** Shared verification tail: compute n_int/n_uni/jaccard over joined
    * pair rows and apply the exact threshold — with the intersection
    * merge evaluated EXACTLY ONCE per pair. Without a fence, predicate
    * pushdown substitutes the jaccard alias through the projections and
    * into the join condition, re-deriving the (dominant)
    * `sorted_intersect_size` merge 3× per candidate. The fence:
    * Catalyst refuses to push any predicate through a projection with a
    * non-deterministic field — so the filter runs on the materialized
    * n_int attribute. The fence needs BOTH halves: the non-det `_mid`
    * column makes the projection unpushable-through, and the filter
    * referencing `_mid` keeps column pruning from removing it (an
    * unused column is pruned, dissolving the fence; a non-det conjunct
    * alone is split off and the deterministic rest pushed;
    * `_mid.isNotNull` would fold to `true` — the `>= 0` guard is
    * runtime-true but not statically foldable).
    * Expects columns toks_a/toks_b/n_a/n_b/id_a/id_b on `joined`. */
  private[operators] def withJaccard(joined: DataFrame, leading: Seq[Column],
      threshold: Double): DataFrame =
    joined
      .select(leading ++ Seq(col("id_a"), col("id_b"),
        graft.functions.ArrayOps.sortedIntersectSize(col("toks_a"), col("toks_b"))
          .cast("long").as("n_int"),
        (col("n_a") + col("n_b")).as("_s"),
        monotonically_increasing_id().as("_mid")): _*)
      .withColumn("n_uni", col("_s") - col("n_int"))
      .withColumn("jaccard", PortableRound.round4(col("n_int").cast("double") / col("n_uni")))
      .filter(when(col("_mid") >= 0, col("jaccard")) >= threshold)
      .drop("_s", "_mid")

  /** Cross-document duplicated-SPAN analysis — the k-gram-granular form
    * of exact-substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": repeated substrings,
    * not just whole-document dups, are what inflate memorization; a
    * suffix-array pass is the exact tool, k-token window hashing is its
    * scalable streaming approximation).
    *
    * A position's k-token window is "duplicated" when its hash occurs
    * in ≥2 DISTINCT documents (within-document repetition is a
    * different signal — see repetition rules). Per document,
    * overlapping-or-contiguous duplicated windows merge into maximal
    * spans (gaps-and-islands over window starts: a window starting at
    * `pos` extends [pos, pos+k−1], so it merges with a predecessor
    * whenever pos ≤ prev_pos + k).
    *
    * Output per document (null-text docs dropped): `n_spans`,
    * `dup_tokens` (tokens covered by ≥1 duplicated window),
    * `n_tokens`, `dup_frac` (rounded 4dp) — the cut list a span-removal
    * pass would consume, and the corpus-health metric on its own.
    *
    * Scale shape (100 TB): windows shuffle as (digest, id, pos)
    * triples — never gram text; the duplicated-digest set is found by
    * one keyed count (map-side combined) and returns via an id-keyed
    * semi-join; the island merge is a per-document window over only the
    * DUPLICATED positions (dup-rate-sized, not corpus-sized). Gram
    * identity is the FULL 128-bit md5 — a 32-bit hash would birthday-
    * collide at ~10^5 distinct grams and mark unrelated text as
    * duplicated, which an operator that CUTS text cannot tolerate
    * (minhash/simhash absorb collisions statistically; this must not). */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    import org.apache.spark.sql.expressions.Window
    val docs = df.filter(col(textCol).isNotNull)
    // ordered (non-distinct) k-gram window digests with 1-based start
    // positions — exactWindowHashes IS md5-of-each-shingle (same values
    // as the shinglesOf + md5 composition this replaced; the native
    // Md5HexGram inside it skips the per-window gram-string build)
    val w = docs
      .select(col(idCol), posexplode(exactWindowHashes(textCol, k)).as(Seq("_p0", "_h")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("_h"))
      .transform(Checkpoints.stable) // feeds the dup-digest count AND the semi-join —
      // without it the tokenize+hash pass runs twice
    val dupHashes = w.groupBy("_h")
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("_h")
    spanStats(docs, idCol, textCol, w.join(dupHashes, Seq("_h"), "left_semi"), k)
  }

  /** Shared tail of the duplicated-span family: merge verified
    * duplicated window starts (`dupPos`: (idCol, pos)) into maximal
    * per-document spans (gaps-and-islands) and emit the per-document
    * stats row — (idCol, n_spans, dup_tokens, n_tokens, dup_frac). */
  private def spanStats(docs: DataFrame, idCol: String, textCol: String,
      dupPos: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("_new", when(
        lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1L).otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(byDoc))
      .groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("_s"), (max(col("pos")) + k - 1).as("_e"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("_e") - col("_s") + 1).cast("long").as("dup_tokens"))
    docs
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("n_tokens"),
        PortableRound.round4(
          coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_frac"))
  }

  /** [[dupSpans]] rebuilt for HEAVY window widths — the ≥50-token
    * exact-substring dedup class (Lee et al. 2021's suffix-array pass;
    * the span family's winnowing/CDC members approximate it, this
    * computes it exactly). Output is BIT-IDENTICAL to `dupSpans(k)`
    * (spec-pinned); the construction differs where naive window
    * hashing stops scaling in k:
    *
    *  - CANDIDATES by double polynomial hashing over per-token
    *    md5-derived 32-bit values: each position's k-window folds to
    *    `Σ h[p+j]·C^j mod M` under two independent (C, M) pairs packed
    *    into one int64 — ~2k integer multiply-adds per position
    *    against `dupSpans`' md5 over the k-token gram STRING (~6k
    *    bytes digested per position at k=50, a 300× CPU blowup that
    *    is the whole cost of the naive form at heavy widths). A
    *    distributed suffix array finds the same ≥k-token repeats but
    *    needs O(log n) sort rounds; one hash pass + one verify pass
    *    is two shuffles total.
    *  - VERIFY on the dup-rate-sized survivor set only: positions
    *    whose packed hash occurs in ≥2 distinct docs join back to
    *    their documents (doc-keyed, candidate-sized) and re-hash with
    *    the full 128-bit md5 of the actual gram text — a 62-bit
    *    birthday collision (~4% expected ONCE corpus-wide at 600M
    *    windows) therefore cannot mark unrelated text as duplicated;
    *    the exact digest has the final word, the rolling hash only
    *    nominates. No false negatives: equal windows hash equal, so
    *    every true dup position reaches (and survives) the verify.
    *
    * Scale shape (100 TB): one corpus-sized shuffle of (digest, id,
    * pos) int64 triples for the candidate count, then everything is
    * dup-rate-sized — the verify's md5 work included. Within-document
    * repeats don't qualify (≥2 DISTINCT docs), mirroring dupSpans. */
  /** Per-document array of packed double-polynomial k-window digests
    * (index i ⇒ the window starting at 1-based token position i) — the
    * candidate-nomination hash shared by [[dupSpansRolling]] and
    * [[cutDupSpansRolling]]. Two fixed public-constant hash lines:
    * Mersenne-ish primes below 2^31 keep every product under 2^62 and
    * the k-term sum under 2^37 before its reduction — all exact int64,
    * all DuckDB-mirrorable (though the oracles use the plain
    * every-window md5 definition — the rolling hash only NOMINATES). */
  private[operators] def rollingWindowDigests(textCol: String, k: Int): Column =
    rollingWindowDigestsOf(tokens(col(textCol)), k)

  /** [[rollingWindowDigests]] over an ALREADY-BOUND token array — for
    * callers that let-bind the tokenization once and derive both the
    * digests and the exact gram md5s from the same walk. */
  private[operators] def rollingWindowDigestsOf(toks: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.RollingHashWindows(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks), k))

  def dupSpansRolling(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    import graft.functions.ArrayOps
    val docs = df.filter(col(textCol).isNotNull)
    val digests = rollingWindowDigests(textCol, k)
    val rollPos = docs
      .select(col(idCol), posexplode(digests).as(Seq("_p0", "_d")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("_d"))
      .transform(Checkpoints.stable) // feeds the dup count AND the semi-join (the
      // dupSpans discipline) — without it the hash pass runs twice
    val dupRoll = rollPos.groupBy("_d")
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("_d")
    // candidate starts folded to one array per doc: the verify join
    // back into the corpus is then doc-keyed and dup-rate-sized
    val cand = rollPos.join(dupRoll, Seq("_d"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("_ps"))
    val exact = docs.join(cand, Seq(idCol))
      .select(col(idCol), ArrayOps.bind(tokens(col(textCol))) { toks =>
        transform(col("_ps"), p => struct(p.as("pos"),
          graft.functions.Md5HexGram.of(toks, p, k).as("_h")))
      }.as("_pe"))
      .select(col(idCol), explode(col("_pe")).as("_x"))
      .select(col(idCol), col("_x.pos").as("pos"), col("_x._h").as("_h"))
      .transform(Checkpoints.stable) // candidate-sized; feeds count + semi-join
    val dupExact = exact.groupBy("_h")
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("_h")
    spanStats(docs, idCol, textCol, exact.join(dupExact, Seq("_h"), "left_semi"), k)
  }

  /** Duplicated-span REMOVAL — the cut [[dupSpans]] only measures: every
    * cross-document duplicated k-token window keeps its copy in the
    * LOWEST-id document containing it and is cut from every other
    * (keep-first, the Lee et al. 2021 convention: exactly one copy of
    * each repeated substring survives the corpus). The keeper doc keeps
    * ALL its occurrences — within-document repetition is a separate
    * signal ([[graft.operators.TextAnalysis.repeatedNgrams]]).
    *
    * Output per document: `n_kept`, `n_cut`, `clean_digest` (md5 of the
    * rebuilt text — digest, not text, so the verified output stays
    * narrow; the rebuild itself is the same collect-sort fold a
    * text-emitting variant would run).
    *
    * Scale shape: identical to
    * [[graft.operators.TextAnalysis.stripBoilerplate]] (grams carry
    * md5-derived hashes, never gram text; the per-hash keeper frame is
    * one keyed agg; covered positions are (doc, pos)-keyed; the rebuild
    * is a doc-keyed aggregate) — nothing funnels through the driver. */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    val docs = df.filter(col(textCol).isNotNull)
    // FULL md5 gram identity (see [[dupSpans]] — a cutting operator
    // cannot absorb 32-bit collisions), array let-bound so split() runs
    // once per document, not once per gram
    val gramStructs = graft.functions.ArrayOps.bind(tokens(col(textCol))) { toks =>
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => struct(i.cast("long").as("start"),
            graft.functions.Md5HexGram.of(toks, i + 1, k).as("h"))))
        .otherwise(array().cast("array<struct<start:bigint,h:string>>"))
    }
    val grams = docs
      .select(col(idCol).as("doc_id"), explode(gramStructs).as("sg"))
      .select(col("doc_id"), col("sg.start").as("start"), col("sg.h").as("h"))
      .transform(Checkpoints.stable) // feeds keepers AND covered — hash once
    cutFromGrams(docs, idCol, textCol, grams, k)
  }

  /** Shared tail of the span-CUT family: given the exact md5 gram
    * shadow (`doc_id`, 0-based `start`, `h`) — complete for
    * [[cutDupSpans]], candidate-restricted for [[cutDupSpansRolling]]
    * (restriction is lossless: every occurrence of a cross-doc dup
    * hash is a rolling candidate) — pick keepers, expand covered
    * positions, rebuild each doc without them. */
  private def cutFromGrams(docs: DataFrame, idCol: String, textCol: String,
      grams: DataFrame, k: Int): DataFrame = {
    val keepers = grams
      .groupBy("h")
      .agg(min(col("doc_id")).as("_keeper"), countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("h", "_keeper")
    val covered = grams
      .join(keepers, Seq("h"))
      .filter(col("doc_id") =!= col("_keeper"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("pos"))
      .distinct()
    rebuildWithout(docs, idCol, textCol, covered)
  }

  /** Shared rebuild of the span-CUT family: drop every (doc_id, 0-based
    * pos) in `covered` from each doc's token stream and emit the
    * keep/cut accounting row — (doc_id, n_kept, n_cut, clean_digest). */
  private def rebuildWithout(docs: DataFrame, idCol: String, textCol: String,
      covered: DataFrame): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val rebuilt = toks
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")))).as("clean_digest"))
    docs
      .select(col(idCol).as("doc_id"), size(tokens(col(textCol))).cast("long").as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("clean_digest"), md5(lit(""))).as("clean_digest"))
  }

  /** [[cutDupSpans]] at heavy window widths — the CUT action paired
    * with [[dupSpansRolling]]'s measurement, same construction: the
    * rolling digests nominate candidate starts (O(k) integer ops per
    * position), only the dup-rate-sized survivors re-hash with the
    * full md5 that decides keepers and covered positions. Output is
    * BIT-IDENTICAL to `cutDupSpans(k)` (spec-pinned): the exact-gram
    * keeper choice (min doc_id) and coverage are computed over a
    * candidate set that provably contains every occurrence of every
    * cross-doc dup gram. */
  def cutDupSpansRolling(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    import graft.functions.ArrayOps
    val docs = df.filter(col(textCol).isNotNull)
    val rollPos = docs
      .select(col(idCol).as("doc_id"),
        posexplode(rollingWindowDigests(textCol, k)).as(Seq("_p0", "_d")))
      .select(col("doc_id"), col("_p0").cast("long").as("start"), col("_d"))
      .transform(Checkpoints.stable) // feeds the dup count AND the semi-join
    val dupRoll = rollPos.groupBy("_d")
      .agg(countDistinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select("_d")
    val cand = rollPos.join(dupRoll, Seq("_d"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_list(col("start")).as("_ss"))
    val grams = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .join(cand, Seq("doc_id"))
      .select(col("doc_id"), ArrayOps.bind(col("_toks")) { toks =>
        transform(col("_ss"), s0 => struct(s0.as("start"),
          graft.functions.Md5HexGram.of(toks, s0 + 1, k).as("h")))
      }.as("_pe"))
      .select(col("doc_id"), explode(col("_pe")).as("_x"))
      .select(col("doc_id"), col("_x.start").as("start"), col("_x.h").as("h"))
      .transform(Checkpoints.stable) // candidate-sized; feeds keepers AND covered
    cutFromGrams(docs, idCol, textCol, grams, k)
  }

  /** Every-window exact md5 array (index i ⇒ the window starting at
    * 1-based token position i) — the verify-line identity the rolling
    * digests only nominate for. Used on the REFERENCE side of the
    * cross-corpus pair, where the corpus is benchmark-sized and hashing
    * every window outright is cheaper than a nomination round trip. */
  private def exactWindowHashes(textCol: String, k: Int): Column =
    graft.functions.ArrayOps.bind(tokens(col(textCol))) { toks =>
      when(size(toks) >= k,
        transform(sequence(lit(1), size(toks) - (k - 1)),
          p => graft.functions.Md5HexGram.of(toks, p, k)))
        .otherwise(array().cast("array<string>"))
    }

  /** Shared front of the cross-corpus substring pair: a position in
    * `df` qualifies when its exact k-token window occurs ANYWHERE in
    * `ref`. Returns (df's non-null docs, verified (idCol, 1-based pos,
    * _h) positions).
    *
    * Construction: `ref` is the benchmark/held-out side — ingest-sized
    * by the problem statement (mirrors [[Decontaminate.clean]]'s
    * test-gram design) — so it is digested BOTH ways up front: the
    * rolling line nominates, the every-window exact md5 line verifies,
    * each folded to a distinct broadcast-joinable set. The 100 TB `df`
    * side then needs ONE narrow pass: O(k) integer ops per position for
    * the rolling digests, a broadcast semi-join against the ref digest
    * set (no shuffle of df at all), and the full md5 re-hash only at
    * the match-rate-sized surviving positions, where the exact digest
    * set has the final word. A 62-bit rolling collision can nominate a
    * false candidate but never flag one (the md5 line rejects it);
    * equal windows hash equal on both lines, so no true contamination
    * is missed. */
  private def crossVerifiedPositions(df: DataFrame, ref: DataFrame,
      idCol: String, textCol: String, k: Int): (DataFrame, DataFrame) = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    val docs = df.filter(col(textCol).isNotNull)
    val refDocs = ref.filter(col(textCol).isNotNull)
    val refRollSet = refDocs
      .select(explode(rollingWindowDigests(textCol, k)).as("_d")).distinct()
    val refExactSet = refDocs
      .select(explode(exactWindowHashes(textCol, k)).as("_h")).distinct()
    (docs, crossVerifiedFromSets(docs, idCol, textCol, k,
      Plans.broadcastHint(refRollSet), Plans.broadcastHint(refExactSet)))
  }

  /** The screen itself, reference sets given: nominate `docs` positions
    * against the rolling-digest set, exact-verify the survivors against
    * the window-md5 set — shared by the inline pair (sets built from a
    * ref frame) and the stored probe (sets read from an artifact). The
    * sets are the one-column `_d` / `_h` frames; any broadcast hint on
    * them is the caller's. */
  private def crossVerifiedFromSets(docs: DataFrame, idCol: String,
      textCol: String, k: Int, refRollSet: DataFrame,
      refExactSet: DataFrame): DataFrame = {
    import graft.functions.ArrayOps
    val cand = docs
      .select(col(idCol), posexplode(rollingWindowDigests(textCol, k)).as(Seq("_p0", "_d")))
      .select(col(idCol), (col("_p0") + 1).as("pos"), col("_d"))
      .join(refRollSet, Seq("_d"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("pos")).as("_ps"))
    val exact = docs.join(cand, Seq(idCol))
      .select(col(idCol), ArrayOps.bind(tokens(col(textCol))) { toks =>
        transform(col("_ps"), p => struct(p.as("pos"),
          graft.functions.Md5HexGram.of(toks, p, k).as("_h")))
      }.as("_pe"))
      .select(col(idCol), explode(col("_pe")).as("_x"))
      .select(col(idCol), col("_x.pos").as("pos"), col("_x._h").as("_h"))
    exact.join(refExactSet, Seq("_h"), "left_semi")
  }

  /** Persist the substring-screen reference (a benchmark's k-token
    * windows) as a reusable artifact —
    * [[Decontaminate.writeDecontamArtifact]]'s discipline at substring
    * granularity, built once per benchmark release: `dir/roll` =
    * distinct rolling nomination digests, `dir/exact` = distinct exact
    * window md5s (hashes only — the benchmark text never ships to
    * consumers), `dir/meta` = one row (k + a serialized bloom over the
    * rolling digests for the stateless ingest pre-screen). */
  def writeSubstringScreenArtifact(spark: SparkSession, ref: DataFrame,
      textCol: String, k: Int, dir: String, fpp: Double = 0.001): Unit = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    import org.apache.spark.sql.graftbridge.BloomBridge
    val refDocs = ref.filter(col(textCol).isNotNull)
    val roll = refDocs
      .select(explode(rollingWindowDigests(textCol, k)).as("_d")).distinct()
      .transform(Checkpoints.stable) // feeds the parquet write, the count, AND the bloom
    // fail fast on a degenerate reference: bloom_filter_agg over zero
    // rows is null, which would land a NullType `bloom` literal in meta
    // (an unrelated-looking write-time analysis error) and NPE every
    // stream pre-screen consumer
    val nRoll = roll.count()
    require(nRoll > 0, s"reference has no $k-token windows " +
      "(empty/all-null ref, or every doc shorter than k tokens)")
    ForkFreeLocalFileSystem.write(roll).mode("overwrite").parquet(s"$dir/roll")
    ForkFreeLocalFileSystem.write(
      refDocs.select(explode(exactWindowHashes(textCol, k)).as("_h")).distinct())
      .mode("overwrite").parquet(s"$dir/exact")
    val bloom = roll
      .agg(BloomBridge.bloomAgg(col("_d"), nRoll, fpp))
      .head().getAs[Array[Byte]](0)
    SchemaReader.writeRows(spark, s"$dir/meta", Seq("bloom" -> bloom, "k" -> k))
  }

  /** [[dupSpansRollingAgainst]] against the STORED artifact: the same
    * screen with the reference sets read from `dir` instead of
    * recomputed — bit-identical to the inline pair for the artifact's
    * benchmark by construction (both sets are deterministic
    * projections of it; spec-pinned). The probe reads only the two
    * hash-set frames — benchmark text is not in the artifact.
    *
    * The digest sets broadcast only under the size gate
    * ([[Plans.underBroadcastGate]], ~48 B per hashed digest row — int64
    * hash + id + hashed-relation overhead — with row counts from the
    * parquet footers, no job): a benchmark-sized holdout passes, while
    * a corpus-sized reference (q169's half of the corpus at scale)
    * falls back to Catalyst's shuffle join instead of forcing a
    * corpus-sized build into every executor. */
  def dupSpansRollingAgainstStored(spark: SparkSession, dir: String,
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val meta = SchemaReader.collectArtifact(spark, s"$dir/meta").head
    val k = meta.getAs[Number]("k").intValue()
    val docs = df.filter(col(textCol).isNotNull)
    val nRef = Seq("roll", "exact")
      .flatMap(a => SchemaReader.footers(spark, s"$dir/$a")).map(_.rows).sum
    val verified =
      if (Plans.underBroadcastGate(nRef, 48L)) {
        // ROW-LOCAL bloom nomination (round 16, guide §2.4): under the
        // broadcast gate the artifact's rolling-digest bloom (dir/meta,
        // sized for the full digest set) nominates candidate POSITIONS
        // inside one projection — replacing the probe's
        // posexplode → broadcast-semi-join → groupBy(collect_list) →
        // join-back-to-docs round trip (an Exchange + two joins) with
        // ~one bloom probe per window. Output is IDENTICAL: the bloom
        // has zero false negatives over the digest set it was built
        // from, so every position the semi-join nominated is
        // nominated here; false positives (bloom fpp + rolling
        // collisions) only add md5 work, and the exact window-md5
        // semi-join — unchanged — has the final word either way.
        // Above the gate (corpus-sized reference) the bloom literal
        // would ship with every task, so the shuffle-join path below
        // stays the scale shape.
        import graft.functions.ArrayOps
        val bloom = meta.getAs[Array[Byte]]("bloom")
        val pe = ArrayOps.bind(tokens(col(textCol))) { toks =>
          ArrayOps.bind(rollingWindowDigestsOf(toks, k)) { ds =>
            val starts = when(size(ds) >= 1, sequence(lit(1), size(ds)))
              .otherwise(array().cast("array<int>"))
            transform(
              filter(starts, p =>
                org.apache.spark.sql.graftbridge.BloomBridge
                  .mightContain(bloom, element_at(ds, p))),
              p => struct(p.as("pos"),
                graft.functions.Md5HexGram.of(toks, p, k).as("_h")))
          }
        }
        docs.select(col(idCol), explode(pe).as("_x"))
          .select(col(idCol), col("_x.pos").as("pos"), col("_x._h").as("_h"))
          .join(broadcast(SchemaReader.readArtifact(spark, s"$dir/exact").select(col("_h"))),
            Seq("_h"), "left_semi")
      } else crossVerifiedFromSets(docs, idCol, textCol, k,
        SchemaReader.readArtifact(spark, s"$dir/roll"),
        SchemaReader.readArtifact(spark, s"$dir/exact"))
    spanStats(docs, idCol, textCol, verified, k)
  }

  /** STREAMING substring pre-screen —
    * [[Decontaminate.streamCleanBloom]]'s discipline at window
    * granularity: drop stream documents with ANY k-token window
    * hitting the artifact's rolling-digest bloom. Entirely row-local
    * (the digest array and the `exists` probe are one narrow codegen'd
    * projection: no state, no join, no watermark). Zero false
    * negatives — every truly contaminated document drops; false
    * positives at the bloom fpp + the 62-bit rolling collision rate
    * over-drop clean docs — the ingest-side trade; batch exactness,
    * when needed, reruns [[dupSpansRollingAgainstStored]]'s exact
    * verify over the retained corpus. Null-text rows PASS THROUGH (no
    * windows → no bloom hit → the not-exists filter keeps them; same
    * keep behavior as streamCleanBloom — nullity screening is a
    * separate upstream quality gate, not this screen's job). */
  def streamSubstringScreenBloom(stream: DataFrame, textCol: String,
      filterBytes: Array[Byte], k: Int): DataFrame =
    stream.filter(!substringBloomHit(textCol, filterBytes, k))

  /** Row-local "any k-token window hits the artifact's rolling bloom"
    * predicate — [[streamSubstringScreenBloom]]'s screen in its
    * positive form, for consumers that route HITS (suspects) rather
    * than drop them: zero false negatives, so restricting
    * [[dupSpansRollingAgainstStored]] to hitting docs is
    * output-identical for any `n_spans >= 1` consumer. Per-ARRIVAL
    * stream discipline only: the filter bytes ride the closure into
    * every task and a doc probes once per window (per-window fpp
    * compounds per doc), so batch-wide gating with a corpus-sized
    * bloom measured slower than the exact digest join it was meant to
    * save (q169 records the measurement). */
  def substringBloomHit(textCol: String, filterBytes: Array[Byte],
      k: Int): Column = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    import org.apache.spark.sql.graftbridge.BloomBridge
    exists(rollingWindowDigests(textCol, k),
      d => BloomBridge.mightContain(filterBytes, d))
  }

  /** Cross-corpus exact-substring CONTAMINATION spans —
    * [[dupSpansRolling]] re-aimed at train/test decontamination: a
    * position in `df` is contaminated when its exact k-token window
    * occurs anywhere in `ref` (the held-out benchmark). The n-gram
    * family ([[Decontaminate.clean]]) flags whole documents at small
    * gram widths; this localizes the shared text at the heavy widths
    * (k ≈ 50) real pipelines screen at, so the cut can surgically
    * remove the overlap instead of dropping the document. Output
    * contract = [[dupSpans]] over df's docs (n_spans, dup_tokens,
    * n_tokens, dup_frac); within-`df` duplication does NOT qualify —
    * that is [[dupSpansRolling]]'s signal. Scale shape: see
    * [[crossVerifiedPositions]] — the train side never shuffles. */
  def dupSpansRollingAgainst(df: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val (docs, verified) = crossVerifiedPositions(df, ref, idCol, textCol, k)
    spanStats(docs, idCol, textCol, verified, k)
  }

  /** The decontamination CUT: remove EVERY copy in `df` of any k-token
    * window occurring in `ref` — no keeper, unlike
    * [[cutDupSpansRolling]]'s keep-first (benchmark text must not
    * survive in the train corpus at all). Output contract =
    * [[cutDupSpans]] over df's docs (doc_id, n_kept, n_cut,
    * clean_digest). */
  def cutDupSpansRollingAgainst(df: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val (docs, verified) = crossVerifiedPositions(df, ref, idCol, textCol, k)
    val covered = verified
      .select(col(idCol).as("doc_id"),
        explode(sequence((col("pos") - 1).cast("long"),
          (col("pos") + (k - 2)).cast("long"))).as("pos"))
      .distinct()
    rebuildWithout(docs, idCol, textCol, covered)
  }

  /** Row-local winnowed fingerprint array of ONE document (Schleimer,
    * Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm): hash every
    * k-token gram, slide a window of `w` consecutive gram hashes, keep
    * each window's minimum (ties → leftmost, via the h·2^31+pos
    * packing), dedupe. Entirely array higher-order functions — no
    * explode, no per-document window exchange — so the fingerprint
    * step is a codegen'd projection, usable unchanged in streaming
    * selects (the [[simhashExpr]] property). Documents with fewer than
    * `w` grams contribute their single overall minimum (one clipped
    * window); documents shorter than a gram contribute none. */
  def winnowFingerprintArray(text: Column, kGram: Int, w: Int): Column =
    graft.functions.WinnowMinFingerprints.of(tokens(text), kGram, w)

  /** Winnowed fingerprints as rows: (idCol, fp), distinct per document.
    * Guarantees: any shared run of ≥ w+k-1 tokens between two documents
    * yields a shared fingerprint, while only ~2/(w+1) of the grams are
    * kept — the SAMPLED scale twin of [[dupSpans]]' exhaustive
    * every-gram join. Scale shape: fingerprinting is map-only
    * ([[winnowFingerprintArray]] is row-local; the per-doc dedupe is
    * `array_distinct` inside the projection), so the first exchange in
    * any winnowing pipeline is the one keyed on the fingerprint. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(winnowFingerprintArray(col(textCol), k, w)).as("fp"))
  }

  /** Persist a corpus's winnowed fingerprints as a stored append-only
    * index — the substring-robust member of the signature-index family
    * (simhash screens by Hamming distance, minhash by estimated Jaccard,
    * winnowing by SHARED FINGERPRINT COUNT, which detects a long copied
    * span inside an otherwise-different document — the case whole-doc
    * signatures dilute away). `dir/data` = (idCol, fp), `dir/params` =
    * (k_gram, w), `dir/meta` = max indexed id. The fingerprint shadow is
    * ~2/(w+1) longs per gram — a small fraction of corpus bytes. */
  def writeWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, idCol: String, textCol: String, dir: String,
      kGram: Int = 3, w: Int = 4): Unit = {
    StoredIndex.build(dir, corpus, idCol) { (rows, tmp) =>
      ForkFreeLocalFileSystem.write(winnowFingerprints(rows, idCol, textCol, kGram, w))
        .parquet(s"$tmp/data")
      SchemaReader.writeRows(spark, s"$tmp/params", Seq("k_gram" -> kGram, "w" -> w))
    }
  }

  /** Incremental ingest into the stored winnow index: fingerprint the
    * batch with the STORED geometry and append (batch-sized work;
    * existing files untouched; append-only id discipline validated). */
  def appendToWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
    StoredIndex.guardedAppend(spark, dir, batch, idCol) {
      // params read fails fast BEFORE the meta goes pending
      SchemaReader.collectArtifact(spark, s"$dir/params").head
    } { p =>
      ForkFreeLocalFileSystem.write(winnowFingerprints(batch, idCol, textCol,
          p.getAs[Number]("k_gram").intValue(), p.getAs[Number]("w").intValue()))
        .mode("append").parquet(s"$dir/data")
    }

  /** Screen a batch against the STORED winnow index: fingerprints whose
    * corpus document frequency exceeds `maxDf` are cut (boilerplate,
    * bounding the join at maxDf per key), then each batch doc reports
    * its best corpus match — most shared fingerprints, ties to the
    * lowest corpus id — or nulls. Corpus side reads only the
    * fingerprint shadow; batch text never joins corpus text. */
  def screenWithWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      maxDf: Int, minShared: Int): DataFrame = {
    val p = SchemaReader.collectArtifact(spark, s"$dir/params").head
    val corpus = SchemaReader.readArtifact(spark, s"$dir/data")
      .select(col(idCol).as("_cid"), col("fp"))
    val rare = corpus.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDf).select("fp")
    val cs = corpus.join(rare, Seq("fp"), "left_semi")
    val bs = winnowFingerprints(batch, idCol, textCol,
      p.getAs[Number]("k_gram").intValue(), p.getAs[Number]("w").intValue())
    val best = bs.join(cs, Seq("fp"))
      .groupBy(col(idCol), col("_cid"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared") >= minShared)
      .groupBy(col(idCol))
      .agg(min(struct((-col("_shared")).as("_n"), col("_cid"))).as("_b"))
      .select(col(idCol), col("_b._cid").as("dup_of"), (-col("_b._n")).as("shared"))
    batch.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"), col("shared"))
  }

  /** Cross-document near-dup pairs from winnowed fingerprints: documents
    * sharing ≥ `minShared` fingerprints, with fingerprints appearing in
    * more than `maxDf` documents dropped first (boilerplate/stopword
    * grams — the standard MOSS common-fingerprint cut, and the bound
    * that keeps the fingerprint self-join ≤ maxDf² per key at any
    * corpus size). Output: (doc_a, doc_b, shared), doc_a < doc_b.
    * The fingerprint frame is locally checkpointed (three consumers);
    * at corpus scale prefer the STORED form — [[writeWinnowIndex]] +
    * [[screenWithWinnowIndex]] — which persists that frame as the
    * reusable index instead of re-materializing it per run.
    *
    * Scale shape vs [[dupSpans]]: the same hash-keyed join discipline,
    * but over the ~2/(w+1) winnowed sample instead of every gram — the
    * shuffle shrinks by the sampling factor while matches of length
    * ≥ w+k-1 tokens are still guaranteed to collide. */
  def winnowedDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int, minShared: Int): DataFrame = {
    // referenced three times below (df cut + both join sides) — without
    // a checkpoint the md5 fingerprint projection re-runs per reference
    // and dominates the whole pipeline (~3x measured at sf0.1)
    val fp = Checkpoints.stable(winnowFingerprints(df, idCol, textCol, k, w))
    // fp is distinct per (doc, fp) so count(*) is the document frequency
    val rare = fp.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select("fp")
    val keep = fp.join(rare, Seq("fp"), "left_semi")
    val a = keep.select(col("fp"), col(idCol).as("doc_a"))
    val b = keep.select(col("fp"), col(idCol).as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }
}

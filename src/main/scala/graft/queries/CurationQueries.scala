package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{ExactAgg, PortableHash, PortableRound}
import graft.operators.{Bpe, Classifier, Decontaminate, Dedup, Importance, Multimodal, Redact, Retrieval, Sampling, Sketches, TextAnalysis}
import graft.queries.Tables.t
import graft.sources.SchemaReader

/** Round-3 coverage widening, part 2 — the corpus-curation stages a
  * training-data pipeline runs between dedup and tokenization:
  * train/test decontamination, per-domain quota capping, vocabulary
  * building, fixed-size sequence chunking — plus two relational-surface
  * completions (exact-sum second-moment statistics, CUBE). Oracle
  * discipline unchanged: portable hashes, exact decimal sums, total
  * ORDER BYs, deterministic tie-breaks.
  */
object CurationQueries {

  /** n=5 w-shingle list in DuckDB (q31's pattern generalized). */
  private def shingleListSql(toks: String, n: Int): String = {
    val parts = (0 until n).map(j => s"$toks[i+$j]").mkString(", ")
    s"""CASE WHEN len($toks) >= $n
       THEN list_transform(range(1, len($toks) - ${n - 2}), i -> concat_ws(' ', $parts))
       ELSE [] END"""
  }

  /** Train/test decontamination: corpus docs (doc_id % 53 ≠ 0) that
    * share NO 5-gram with the held-out split (doc_id % 53 = 0). */
  /** The q44 decontamination oracle (doc_id % 53 holdout split) —
    * shared verbatim by q124, whose stored-artifact path must produce
    * the identical clean set by construction. */
  private def decontamOracleSql(n: Int): String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 53 <> 0),
      ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
      cg AS (SELECT doc_id, ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM ct),
      tt AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 53 = 0),
      tg AS (SELECT DISTINCT ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM tt),
      bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN tg USING (gram_hash))
      SELECT doc_id, lang, source FROM corpus c
      WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = c.doc_id)
      ORDER BY doc_id""".replaceAll("\\s+", " ")

  private val q44 = {
    val n = 5
    Q(
      "q44_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.clean(
          docs.filter(col("doc_id") % 53 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 53 === 0), "text", n)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(decontamOracleSql(n)))
  }

  /** Per-source quota: at most 15 docs per source, hash-priority
    * deterministic survivors. */
  private val q45 = Q(
    "q45_domain_quota",
    (s, dir) => Sampling.capPerGroup(t(s, dir, "documents"), "source", "doc_id", 15)
      .select("doc_id", "source")
      .orderBy("doc_id"),
    Some(s"""WITH r AS (SELECT doc_id, source,
        row_number() OVER (PARTITION BY source
          ORDER BY ${PortableHash.md5Hash32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        FROM documents)
      SELECT doc_id, source FROM r WHERE rn <= 15 ORDER BY doc_id"""
      .replaceAll("\\s+", " ")))

  /** Corpus vocabulary: top-100 terms by document frequency with stable
    * ids (df desc, term asc). */
  private val q46 = Q(
    "q46_vocab_topn",
    (s, dir) => TextAnalysis.vocabulary(t(s, dir, "documents"), "doc_id", "text", 100)
      .orderBy("vocab_id"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      pd AS (SELECT tok, doc_id, count(*) AS tf_d FROM toks GROUP BY 1, 2),
      st AS (SELECT tok, CAST(sum(tf_d) AS BIGINT) AS tf, count(*) AS df_t FROM pd GROUP BY 1),
      r AS (SELECT tok, tf, df_t,
        CAST(row_number() OVER (ORDER BY df_t DESC, tok) AS BIGINT) AS vocab_id FROM st)
      SELECT vocab_id, tok, tf, df_t FROM r WHERE vocab_id <= 100 ORDER BY vocab_id"""
      .replaceAll("\\s+", " ")))

  /** Exact-sum second moments per group: stddev/variance/covariance/
    * correlation, bitwise-portable via decimal sums + identical double
    * trees (see ExactAgg) — the built-ins' streaming merge formulas are
    * association-order-dependent and NOT portable. */
  private val q47 = Q(
    "q47_stats_moments",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        ExactAgg.stddevSamp2(col("l_quantity")).as("std_qty"),
        ExactAgg.varSamp2(col("l_quantity")).as("var_qty"),
        ExactAgg.covarSamp2(col("l_quantity"), col("l_extendedprice")).as("covar_qp"),
        ExactAgg.corr4(col("l_quantity"), col("l_extendedprice")).as("corr_qp"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag, count(*) AS n,
      ${ExactAgg.stddevSamp2Sql("l_quantity")} AS std_qty,
      ${ExactAgg.varSamp2Sql("l_quantity")} AS var_qty,
      ${ExactAgg.covarSamp2Sql("l_quantity", "l_extendedprice")} AS covar_qp,
      ${ExactAgg.corr4Sql("l_quantity", "l_extendedprice")} AS corr_qp
      FROM lineitem GROUP BY 1 ORDER BY 1""".replaceAll("\\s+", " ")))

  /** Fixed 32-token sequence chunking (context-window packing). */
  private val q48 = Q(
    "q48_fixed_chunks",
    (s, dir) => TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text", 32)
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      p AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos, unnest(toks) AS tok FROM t)
      SELECT doc_id, pos // 32 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM p GROUP BY doc_id, pos // 32
      ORDER BY doc_id, chunk_id""".replaceAll("\\s+", " ")))

  /** CUBE over (o_orderstatus, o_orderpriority): all four grouping
    * levels in one Expand pass — completes q34's ROLLUP. */
  private val q49 = Q(
    "q49_cube",
    (s, dir) => t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        ExactAgg.sum2(col("o_totalprice")).as("sum_price"))
      .select(
        col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
        col("n"), col("sum_price"))
      .orderBy("gid", "st", "pri"),
    Some(s"""SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pri,
      count(*) AS n, ${ExactAgg.sum2Sql("o_totalprice")} AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY 1, 2, 3""".replaceAll("\\s+", " ")))

  /** Boilerplate 5-grams: shingles shared by ≥3 distinct documents.
    * minDocs=3 (not 5) so the oracle is NON-VACUOUS at every test SF —
    * df_g ≥ 5 yields 0 rows at sf0.01, which hash-matches trivially and
    * verifies nothing (round-7 verdict item); at ≥3 the sf0.001/0.01/0.1
    * oracles return 91/74/550 rows. Operator semantics unchanged. */
  private val q50 = {
    val (n, minDocs) = (5, 3L)
    Q(
      "q50_repeated_ngrams",
      (s, dir) => TextAnalysis.repeatedNgrams(t(s, dir, "documents"), "doc_id", "text", n, minDocs)
        .orderBy("gram"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(${shingleListSql("toks", n)})) AS gram FROM tk)
        SELECT gram, CAST(count(*) AS BIGINT) AS df_g FROM g
        GROUP BY 1 HAVING count(*) >= $minDocs ORDER BY gram"""
        .replaceAll("\\s+", " ")))
  }

  /** Token-budget shard packing: per-language greedy sequential layout
    * into ~1000-token shards. Runs the SCALABLE two-pass variant so the
    * oracle validates the distributed implementation, not just the
    * single-task window reference. */
  private val q51 = Q(
    "q51_pack_shards",
    (s, dir) => TextAnalysis
      .packShardsScalable(t(s, dir, "documents"), "lang", "doc_id", "text", 1000L)
      .orderBy("doc_id"),
    Some("""WITH tk AS (SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      c AS (SELECT doc_id, lang, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tk)
      SELECT doc_id, lang, n_tokens, (cum - n_tokens) // 1000 AS shard_id
      FROM c ORDER BY doc_id""".replaceAll("\\s+", " ")))

  /** Per-label embedding centroids: exact component-wise means. The
    * centroid array is emitted as a comma-joined DECIMAL(18,4) string —
    * the harness's comparator sorts rows in pandas, which cannot order
    * raw array cells, so complex outputs serialize to strings on BOTH
    * engines (values bit-identical before the cast, so the fixed-scale
    * decimal rendering agrees). */
  private val q52 = Q(
    "q52_cluster_centroids",
    (s, dir) => graft.operators.Embeddings.centroids(t(s, dir, "embeddings"), "label", "embedding")
      .withColumn("centroid",
        array_join(transform(col("centroid"),
          x => x.cast("decimal(18,4)").cast("string")), ","))
      .orderBy("label"),
    Some(s"""WITH e AS (SELECT label, r.i AS pos,
        CAST(embedding[r.i + 1] AS DOUBLE) AS c
        FROM embeddings CROSS JOIN range(0, 64) r(i)),
      s AS (SELECT label, pos, ${PortableRound.sql4(ExactAgg.avgExactSql("c"))} AS m,
        count(*) AS n_pos FROM e GROUP BY 1, 2)
      SELECT label, CAST(max(n_pos) AS BIGINT) AS n,
        string_agg(CAST(CAST(m AS DECIMAL(18,4)) AS VARCHAR), ',' ORDER BY pos) AS centroid
      FROM s GROUP BY label ORDER BY label""".replaceAll("\\s+", " ")))

  /** Corpus report card per source: doc/token/language/length stats in
    * one pass — includes the engine's only count-DISTINCT aggregate. */
  private val q53 = Q(
    "q53_source_report",
    (s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(txt)).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          ExactAgg.avg2(col("n_chars")).as("avg_chars"),
          max(TextAnalysis.tokenCount(txt)).as("max_tokens"))
        .orderBy("source")
    },
    Some(s"""SELECT source, count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      ${ExactAgg.avg2Sql("n_chars")} AS avg_chars,
      CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
      FROM documents GROUP BY 1 ORDER BY 1""".replaceAll("\\s+", " ")))

  /** Gopher-style within-document repetition metrics: top-unigram and
    * top-bigram mass fractions plus the distinct-token ratio, with a
    * composite keep/drop flag — the repetition family of quality rules
    * (complementing q27's length/character/stopword family). Two narrow
    * explode→count→argmax aggregations, joined per doc; at corpus scale
    * each is one partial-aggregated shuffle on (doc_id, gram). */
  private val q58 = {
    val thrUni = 0.2; val thrBi = 0.3; val thrDistinct = 0.3
    Q(
      "q58_repetition_rules",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bigrams = graft.functions.ArrayOps.bind(TextAnalysis.tokens(col("text"))) { toks =>
          when(size(toks) >= 2,
            transform(sequence(lit(1), size(toks) - 1),
              i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
            .otherwise(array().cast("array<string>"))
        }
        val uni = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(
            max(col("c")).as("top_uni"), sum(col("c")).as("n_uni"),
            count(lit(1)).as("n_distinct"))
        val bi = docs.select(col("doc_id"), explode(bigrams).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(
            max(col("c")).as("top_bi"), sum(col("c")).as("n_bi"))
        val uniFrac = PortableRound.round4(col("top_uni").cast("double") / col("n_uni"))
        val biFrac = PortableRound.round4(col("top_bi").cast("double") / col("n_bi"))
        val distinctRatio = PortableRound.round4(col("n_distinct").cast("double") / col("n_uni"))
        uni.join(bi, Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            uniFrac.as("top_uni_frac"),
            biFrac.as("top_bi_frac"),
            distinctRatio.as("distinct_ratio"),
            (uniFrac <= thrUni && biFrac <= thrBi && distinctRatio >= thrDistinct)
              .as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        u AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
        us AS (SELECT doc_id, max(c) AS top_uni, sum(c) AS n_uni,
          count(*) AS n_distinct FROM uc GROUP BY 1),
        b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
          i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg FROM d),
        bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
        bs AS (SELECT doc_id, max(c) AS top_bi, sum(c) AS n_bi FROM bc GROUP BY 1),
        j AS (SELECT us.doc_id,
          ${PortableRound.sql4("CAST(top_uni AS DOUBLE) / n_uni")} AS top_uni_frac,
          ${PortableRound.sql4("CAST(top_bi AS DOUBLE) / n_bi")} AS top_bi_frac,
          ${PortableRound.sql4("CAST(n_distinct AS DOUBLE) / n_uni")} AS distinct_ratio
          FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id)
        SELECT doc_id, top_uni_frac, top_bi_frac, distinct_ratio,
          (top_uni_frac <= $thrUni AND top_bi_frac <= $thrBi
            AND distinct_ratio >= $thrDistinct) AS keep
        FROM j ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** Fuzzy short-string dedup: language-blocked title pairs within
    * levenshtein distance 3 (title = first 3 tokens). Completes the
    * dedup family with the intra-word-typo case token-set methods
    * miss; the engine side runs the banded thresholded DP. */
  private val q77 = Q(
    "q77_edit_distance_pairs",
    (s, dir) => {
      val titled = t(s, dir, "documents").withColumn("title",
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)))
      graft.operators.Dedup.editDistancePairs(titled, "doc_id", "title", "lang", 3)
        .orderBy("block", "id_a", "id_b")
    },
    Some("""WITH d AS (SELECT doc_id, lang,
        array_to_string(string_split(text, ' ')[1:3], ' ') AS title FROM documents)
      SELECT a.lang AS block, a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE levenshtein(a.title, b.title) <= 3
      ORDER BY 1, 2, 3""".replaceAll("\\s+", " ")))

  /** Temperature-sampled (α = 0.5) source-mixture weights — the
    * up-weight-the-tail mixing computation run before training-data
    * sampling. √ keeps the exponent portable (IEEE sqrt is correctly
    * rounded; pow is not); the normalizer sums in decimal. */
  private val q78 = Q(
    "q78_mixture_weights",
    (s, dir) => Sampling.temperatureWeights(t(s, dir, "documents"), "source", "text")
      .orderBy("source"),
    Some(s"""WITH g AS (SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1),
      w AS (SELECT source, n_docs, n_tokens,
        TRY_CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS sd,
        sum(TRY_CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6))) OVER () AS tot
        FROM g)
      SELECT source, n_docs, n_tokens,
        ${PortableRound.sql4("(CAST(sd AS DOUBLE) / CAST(tot AS DOUBLE))")} AS weight
      FROM w ORDER BY source""".replaceAll("\\s+", " ")))

  /** PII scrub: pseudonymize the user key (keyed sha-256 — salted, so
    * the sequential id space can't be recovered by precomputing digests
    * of '1','2',…) and redact numeric literals inside the free-form
    * JSON props — chained rules, the narrow pattern first so the broad
    * one can't re-match inside its replacement. Map-only narrow stage;
    * the only exchange is the deterministic ORDER BY. Patterns stay in
    * the Java-regex ∩ RE2 portable subset (Redact.scala scaladoc). The
    * salt is a fixed literal HERE so the oracle can mirror it; a real
    * deployment injects it from a secret store. */
  private val q85 = {
    val salt = "graft-pipeline-salt"
    val rules = Seq(
      Redact.Rule("[0-9]{3,}", "[NUM]"),
      Redact.Rule("[0-9]+", "#"))
    Q(
      "q85_pii_scrub",
      (s, dir) =>
        t(s, dir, "events")
          .select(
            col("event_id"),
            Redact.pseudonym(col("user_id"), salt).as("pseudonym"),
            Redact.scrub(col("props"), rules).as("scrubbed"),
            Redact.hitCount(col("props"), rules).as("n_hits"))
          .orderBy("event_id"),
      Some(s"""SELECT event_id, sha256('$salt:' || CAST(user_id AS VARCHAR)) AS pseudonym,
        regexp_replace(regexp_replace(props, '[0-9]{3,}', '[NUM]', 'g'), '[0-9]+', '#', 'g') AS scrubbed,
        CAST(len(regexp_extract_all(props, '[0-9]{3,}'))
           + len(regexp_extract_all(regexp_replace(props, '[0-9]{3,}', '[NUM]', 'g'), '[0-9]+')) AS BIGINT) AS n_hits
        FROM events ORDER BY event_id""".replaceAll("\\s+", " ")))
  }

  /** Corpus boilerplate stripping: 3-grams present in ≥5 distinct docs
    * are template debris; every covered token position is masked and the
    * doc rebuilt (digest-not-text, q39's trick). The threshold is
    * absolute — the synthetic corpus is dup-heavy at every SF, so the
    * boilerplate set is non-trivial at sf0.001/0.01/0.1 alike. */
  private val q86 = {
    val (n, minDocs) = (3, 5)
    Q(
      "q86_boilerplate_strip",
      (s, dir) => TextAnalysis
        .stripBoilerplate(t(s, dir, "documents"), "doc_id", "text", n, minDocs)
        .orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        toks AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos, unnest(toks) AS tok FROM base),
        gr AS (SELECT doc_id, CAST(unnest(range(len(toks) - ${n - 1})) AS BIGINT) AS start,
               unnest(list_transform(range(1, len(toks) - ${n - 2}),
                 i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i+$j]").mkString(", ")}))) AS gram
               FROM base WHERE len(toks) >= $n),
        bp AS (SELECT gram FROM gr GROUP BY gram HAVING count(DISTINCT doc_id) >= $minDocs),
        cov AS (SELECT DISTINCT g.doc_id, g.start + o.off AS pos
                FROM gr g JOIN bp USING (gram)
                CROSS JOIN (SELECT CAST(unnest(range($n)) AS BIGINT) AS off) o),
        kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
                 WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_digest
                FROM kept GROUP BY doc_id)
        SELECT b.doc_id, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
          CAST(len(b.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_masked,
          COALESCE(a.clean_digest, md5('')) AS clean_digest
        FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".replaceAll("\\s+", " ")))
  }

  /** Graded decontamination: q44's any-hit rule upgraded to the
    * overlap-FRACTION judgment most pipelines actually ship (dirty =
    * ≥ 10% of a doc's distinct 3-grams appear in the held-out split).
    * Same corpus/test split as q44 so the two rules are directly
    * comparable row-for-row; 3-grams (vs q44's 5) because the fraction
    * rule tolerates — and should see — the incidental short overlaps
    * the any-hit rule would over-trigger on. */
  private val q93 = {
    val n = 3
    val threshold = 0.1
    Q(
      "q93_contamination_frac",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Decontaminate.contaminationFraction(
          docs.filter(col("doc_id") % 53 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 53 === 0), "text", n, threshold)
          .orderBy("doc_id")
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 53 <> 0),
        ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        totals AS (SELECT doc_id, CAST(len(list_distinct(${shingleListSql("toks", n)})) AS BIGINT) AS n_grams FROM ct),
        cg AS (SELECT doc_id, ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM ct),
        tt AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 53 = 0),
        tg AS (SELECT DISTINCT ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM tt),
        hits AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_hit
                 FROM cg WHERE EXISTS (SELECT 1 FROM tg WHERE tg.gram_hash = cg.gram_hash)
                 GROUP BY cg.doc_id)
        SELECT t.doc_id, t.n_grams, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
          ${PortableRound.sql4("CASE WHEN t.n_grams > 0 THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams ELSE 0.0 END")} AS hit_frac,
          ${PortableRound.sql4("CASE WHEN t.n_grams > 0 THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams ELSE 0.0 END")} >= $threshold AS contaminated
        FROM totals t LEFT JOIN hits h USING (doc_id)
        ORDER BY t.doc_id""".replaceAll("\\s+", " ")))
  }

  /** The composed curation FUNNEL — the end-to-end report every corpus
    * build ships: survivors after each stage of
    * raw → lang-ID (en) → quality ≥ 0.5 → exact dedup → decontamination,
    * as one row of stage counts. One corpus pass computes the row-local
    * stage flags (lang, quality); the dedup survivors and contaminated
    * ids are bounded side frames joined back by id — the corpus text is
    * never shuffled, so the funnel costs one scan plus id-keyed joins
    * at any scale. Holdout split (doc_id % 53 = 0) matches q44/q93. */
  private val q94 = {
    val n = 5
    val qmin = 0.5
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    def hitsSql(lang: String): String = {
      val words = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($words)))"
    }
    def scoreSql(lang: String): String =
      PortableRound.sql4(s"CAST(${hitsSql(lang)} AS DOUBLE) / len(string_split(text, ' '))")
    val ordered = langs.sorted.reverse
    val langCase = ordered.init.map { lang =>
      val conds = langs.filter(_ != lang).map(m => s"score_$lang >= score_$m").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    val qualitySql = PortableRound.sql4(
      s"""0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')))
        + 0.3 * least(1.0, CAST(${hitsSql("en")} AS DOUBLE) / len(string_split(text, ' ')) * 5.0)""")
    Q(
      "q94_curation_funnel",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val holdout = docs.filter(col("doc_id") % 53 === 0)
        val flagged = docs.filter(col("doc_id") % 53 =!= 0)
          .withColumn("_lang_ok", TextAnalysis.langId(col("text")) === "en")
          .withColumn("_q_ok",
            col("_lang_ok") && TextAnalysis.qualityScore(col("text")) >= qmin)
        // dedup survivors among quality passers: min id per content
        // digest — survivor-sized, so the join back is id-keyed (NOT
        // broadcast; at scale this frame is corpus-sized)
        val keepIds = flagged.filter(col("_q_ok"))
          .groupBy(md5(col("text")).as("_digest"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), lit(true).as("_kept"))
        // contaminated ids among quality passers: contamination-rate-
        // sized → broadcast back
        val dirtyIds = Decontaminate.contaminatedIds(
            flagged.filter(col("_q_ok")), "doc_id", "text", holdout, "text", n)
          .select(col("doc_id"), lit(true).as("_dirty"))
        flagged
          .join(keepIds, Seq("doc_id"), "left")
          .join(broadcast(dirtyIds), Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_raw"),
            sum(when(col("_lang_ok"), 1L).otherwise(0L)).as("n_lang"),
            sum(when(col("_q_ok"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("_kept").isNotNull, 1L).otherwise(0L)).as("n_dedup"),
            sum(when(col("_kept").isNotNull && col("_dirty").isNull, 1L)
              .otherwise(0L)).as("n_clean"))
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 53 <> 0),
        sc AS (SELECT doc_id, text,
                 ${langs.map(l => s"${scoreSql(l)} AS score_$l").mkString(", ")},
                 $qualitySql AS quality FROM corpus),
        f AS (SELECT doc_id, text,
                (CASE $langCase ELSE '${ordered.last}' END) = 'en' AS lang_ok,
                ((CASE $langCase ELSE '${ordered.last}' END) = 'en')
                  AND quality >= $qmin AS q_ok
              FROM sc),
        keep AS (SELECT min(doc_id) AS doc_id FROM f WHERE q_ok GROUP BY md5(text)),
        qt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM f WHERE q_ok),
        cg AS (SELECT doc_id, ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM qt),
        tt AS (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 53 = 0),
        tg AS (SELECT DISTINCT ${PortableHash.md5Hash32Sql("unnest(list_distinct(" + shingleListSql("toks", n) + "))")} AS gram_hash FROM tt),
        dirty AS (SELECT DISTINCT cg.doc_id FROM cg
                  WHERE EXISTS (SELECT 1 FROM tg WHERE tg.gram_hash = cg.gram_hash))
        SELECT CAST(count(*) AS BIGINT) AS n_raw,
          CAST(count(*) FILTER (WHERE lang_ok) AS BIGINT) AS n_lang,
          CAST(count(*) FILTER (WHERE q_ok) AS BIGINT) AS n_quality,
          CAST(count(*) FILTER (WHERE f.doc_id IN (SELECT doc_id FROM keep)) AS BIGINT) AS n_dedup,
          CAST(count(*) FILTER (WHERE f.doc_id IN (SELECT doc_id FROM keep)
            AND f.doc_id NOT IN (SELECT doc_id FROM dirty)) AS BIGINT) AS n_clean
        FROM f""".replaceAll("\\s+", " ")))
  }

  /** DSIR importance weights: target = English documents, raw = the
    * whole corpus; 64 hashed unigram buckets. Scores are integer
    * micro-unit sums (see [[graft.operators.Importance]]) so the only
    * cross-engine float surface is ln over small integers, quantized. */
  /** Shared by q98 (inline) and q101 (stored artifact) — identical
    * semantics by construction, so one oracle serves both. */
  private def dsirOracleSql(b: Int): String =
    s"""WITH tb AS (SELECT doc_id, lang,
            ${PortableHash.md5Hash32Sql("unnest(string_split(text, ' '))")} % $b AS bucket
          FROM documents WHERE text IS NOT NULL),
        cnt AS (SELECT bucket, count(*) AS r,
            count(*) FILTER (WHERE lang = 'en') AS tc
          FROM tb GROUP BY 1),
        tot AS (SELECT CAST(sum(r) AS BIGINT) AS rt, CAST(sum(tc) AS BIGINT) AS tt FROM cnt),
        lr AS (SELECT bucket,
            CAST(floor((ln(tc + 1) + ln(rt + $b) - ln(r + 1) - ln(tt + $b))
              * 10000 + 0.5) AS BIGINT) AS w
          FROM cnt CROSS JOIN tot)
        SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) / 10000.0 AS dsir_score
        FROM tb JOIN lr USING (bucket)
        GROUP BY tb.doc_id ORDER BY tb.doc_id""".replaceAll("\\s+", " ")

  private val q98 = Q(
    "q98_dsir_weights",
    (s, dir) => Importance.dsirWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en", 64)
      .orderBy("doc_id"),
    Some(dsirOracleSql(64)))

  /** q98 through the persisted weight artifact: train the bucket
    * distribution once, write it, score against the stored copy. Same
    * oracle — stored scoring must be indistinguishable from inline. */
  private val q101 = Q(
    "q101_dsir_stored",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val wDir = s"${System.getProperty("java.io.tmpdir")}/graft_q101_dsir_${java.lang.Integer.toHexString(dir.hashCode)}"
      Artifacts.prepare(s, wDir) {
        Importance.writeBucketWeights(docs, "text", col("lang") === "en", 64, wDir)
      }
      Importance.scoreWithStoredWeights(docs, "doc_id", "text", wDir)
        .orderBy("doc_id")
    },
    Some(dsirOracleSql(64)))

  /** The duplicated-span oracle, shared by q99 (k = 5) and q155
    * (k = 50): md5 over EVERY k-token window — the straightforward
    * exact definition, which the engine's rolling-candidate + exact-
    * verify construction must reproduce bit-for-bit. */
  private def dupSpansOracleSql(k: Int): String = {
    val gramSql = (1 to k).map(j => s"toks[i+${j - 1}]").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        w AS (SELECT doc_id,
            unnest(range(1, len(toks) - ${k - 2})) AS pos,
            unnest(list_transform(range(1, len(toks) - ${k - 2}),
              i -> md5(concat_ws(' ', $gramSql)))) AS h
          FROM tk WHERE len(toks) >= $k),
        dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        dp AS (SELECT doc_id, pos FROM w JOIN dup USING (h)),
        fl AS (SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w1 IS NULL
              OR pos > lag(pos) OVER w1 + $k THEN 1 ELSE 0 END AS nf
          FROM dp WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
        il AS (SELECT doc_id, pos,
            sum(nf) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM fl),
        sp AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + ${k - 1} AS e
          FROM il GROUP BY 1, 2),
        ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1),
        nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk)
        SELECT nt.doc_id,
          CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
          CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
          n_tokens,
          ${PortableRound.sql4("CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens")} AS dup_frac
        FROM nt LEFT JOIN ag USING (doc_id) ORDER BY nt.doc_id""".replaceAll("\\s+", " ")
  }

  /** Cross-document duplicated spans: 5-token windows occurring in ≥2
    * distinct docs, merged per doc into maximal spans (the k-gram form
    * of exact-substring dedup). */
  private val q99 = {
    val k = 5
    Q(
      "q99_dup_spans",
      (s, dir) => Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", k)
        .orderBy("doc_id"),
      Some(dupSpansOracleSql(k)))
  }

  /** Exact-substring dedup at the HEAVY window width (50 tokens — the
    * Lee et al. 2021 suffix-array class, round-10 verdict item 6):
    * [[Dedup.dupSpansRolling]]'s double-polynomial rolling candidates
    * + candidate-sized md5 verify, hash-checked against the oracle's
    * straightforward every-window md5 form. Same output contract as
    * q99; the operator exists because the naive construction's md5
    * cost grows 10× from k=5 to k=50 while the rolling candidates
    * stay O(k) integer ops per position. */
  private val q155 = {
    val k = 50
    Q(
      "q155_substring_dedup_50",
      (s, dir) => Dedup.dupSpansRolling(t(s, dir, "documents"), "doc_id", "text", k)
        .orderBy("doc_id"),
      Some(dupSpansOracleSql(k)))
  }

  /** Duplicated-span removal: q99's spans actually cut, keep-first
    * (lowest doc_id keeps its copy). Digest output keeps the verified
    * frame narrow. */
  /** The cut-action oracle, shared by q100 (k = 5) and q156 (k = 50):
    * keeper = min doc_id per cross-doc-duplicated window hash,
    * non-keepers cut the union of covered positions. */
  private def cutDupSpansOracleSql(k: Int): String = {
    val gramSql = (1 to k).map(j => s"toks[i+${j - 1}]").mkString(", ")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        tks AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
            unnest(toks) AS tok FROM base),
        gr AS (SELECT doc_id, CAST(unnest(range(len(toks) - ${k - 1})) AS BIGINT) AS start,
            unnest(list_transform(range(1, len(toks) - ${k - 2}),
              i -> md5(concat_ws(' ', $gramSql)))) AS h
          FROM base WHERE len(toks) >= $k),
        kp AS (SELECT h, min(doc_id) AS keeper FROM gr GROUP BY h
          HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT DISTINCT g.doc_id, g.start + o.off AS pos
          FROM gr g JOIN kp USING (h)
          CROSS JOIN (SELECT CAST(unnest(range($k)) AS BIGINT) AS off) o
          WHERE g.doc_id <> kp.keeper),
        kept AS (SELECT t.doc_id, t.pos, t.tok FROM tks t
          WHERE NOT EXISTS (SELECT 1 FROM cov c
            WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_digest
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
          CAST(len(b.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_cut,
          COALESCE(a.clean_digest, md5('')) AS clean_digest
        FROM base b LEFT JOIN agg a USING (doc_id)
        ORDER BY b.doc_id""".replaceAll("\\s+", " ")
  }

  private val q100 = Q(
    "q100_cut_dup_spans",
    (s, dir) => Dedup.cutDupSpans(t(s, dir, "documents"), "doc_id", "text", 5)
      .orderBy("doc_id"),
    Some(cutDupSpansOracleSql(5)))

  /** q155's CUT action: remove every non-keeper copy of a 50-token
    * cross-doc duplicated window (keep-first), through the rolling-
    * candidate + exact-verify construction. Completes the heavy-width
    * substring-dedup pair the way q100 completes q99. */
  private val q156 = Q(
    "q156_cut_substring_dedup_50",
    (s, dir) => Dedup.cutDupSpansRolling(t(s, dir, "documents"), "doc_id", "text", 50)
      .orderBy("doc_id"),
    Some(cutDupSpansOracleSql(50)))

  /** The cross-corpus contamination oracle (q157): md5 over EVERY
    * k-token window of BOTH splits (q44's doc_id % 53 holdout split) —
    * the straightforward exact definition the engine's broadcast-
    * nominated rolling construction must reproduce bit-for-bit. Same
    * island-merge tail as [[dupSpansOracleSql]], restricted to train
    * docs and to windows present in the holdout set. */
  private def crossSpansOracleSql(k: Int): String = {
    val gramSql = (1 to k).map(j => s"toks[i+${j - 1}]").mkString(", ")
    val winList = s"list_transform(range(1, len(toks) - ${k - 2}), i -> md5(concat_ws(' ', $gramSql)))"
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL AND doc_id % 53 <> 0),
        w AS (SELECT doc_id,
            unnest(range(1, len(toks) - ${k - 2})) AS pos,
            unnest($winList) AS h
          FROM tr WHERE len(toks) >= $k),
        hw AS (SELECT DISTINCT unnest($winList) AS h
          FROM (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE text IS NOT NULL AND doc_id % 53 = 0)
          WHERE len(toks) >= $k),
        dp AS (SELECT doc_id, pos FROM w JOIN hw USING (h)),
        fl AS (SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w1 IS NULL
              OR pos > lag(pos) OVER w1 + $k THEN 1 ELSE 0 END AS nf
          FROM dp WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)),
        il AS (SELECT doc_id, pos,
            sum(nf) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM fl),
        sp AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + ${k - 1} AS e
          FROM il GROUP BY 1, 2),
        ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
            CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1),
        nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tr)
        SELECT nt.doc_id,
          CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
          CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
          n_tokens,
          ${PortableRound.sql4("CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens")} AS dup_frac
        FROM nt LEFT JOIN ag USING (doc_id) ORDER BY nt.doc_id""".replaceAll("\\s+", " ")
  }

  /** Substring-level train/test DECONTAMINATION, measure face: spans of
    * train text (doc_id % 53 ≠ 0) exactly repeated in the held-out
    * split (doc_id % 53 = 0) at the heavy 50-token width — the overlap
    * screen the n-gram family (q44/q93/q124) applies per-document,
    * localized to the shared substrings so the cut face (q158) can
    * remove just the overlap. Broadcast-nominated rolling candidates +
    * exact md5 verify; the train side never shuffles. */
  private val q157 = {
    val k = 50
    Q(
      "q157_substring_decontam_50",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.dupSpansRollingAgainst(
          docs.filter(col("doc_id") % 53 =!= 0),
          docs.filter(col("doc_id") % 53 === 0), "doc_id", "text", k)
          .orderBy("doc_id")
      },
      Some(crossSpansOracleSql(k)))
  }

  /** The q158 cut-action oracle: every train window present in the
    * holdout set cuts ALL its covered positions — no keeper (contrast
    * [[cutDupSpansOracleSql]]): benchmark text must not survive in the
    * train corpus at all. */
  private def crossCutOracleSql(k: Int): String = {
    val gramSql = (1 to k).map(j => s"toks[i+${j - 1}]").mkString(", ")
    val winList = s"list_transform(range(1, len(toks) - ${k - 2}), i -> md5(concat_ws(' ', $gramSql)))"
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL AND doc_id % 53 <> 0),
        tks AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
            unnest(toks) AS tok FROM base),
        gr AS (SELECT doc_id, CAST(unnest(range(len(toks) - ${k - 1})) AS BIGINT) AS start,
            unnest($winList) AS h
          FROM base WHERE len(toks) >= $k),
        hw AS (SELECT DISTINCT unnest($winList) AS h
          FROM (SELECT string_split(text, ' ') AS toks FROM documents
            WHERE text IS NOT NULL AND doc_id % 53 = 0)
          WHERE len(toks) >= $k),
        cov AS (SELECT DISTINCT g.doc_id, g.start + o.off AS pos
          FROM gr g JOIN hw USING (h)
          CROSS JOIN (SELECT CAST(unnest(range($k)) AS BIGINT) AS off) o),
        kept AS (SELECT t.doc_id, t.pos, t.tok FROM tks t
          WHERE NOT EXISTS (SELECT 1 FROM cov c
            WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
            md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_digest
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
          CAST(len(b.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_cut,
          COALESCE(a.clean_digest, md5('')) AS clean_digest
        FROM base b LEFT JOIN agg a USING (doc_id)
        ORDER BY b.doc_id""".replaceAll("\\s+", " ")
  }

  /** HYBRID retrieval (lexical shortlist → semantic rerank): q112's
    * BM25 top-N shortlists on keyword terms, then each query VECTOR
    * reranks the shortlist by exact cosine — the retrieval stack RAG
    * and training-retrieval pipelines compose from the two stages this
    * surface already ships separately (q112 lexical, q90 semantic).
    * Lexical score rides along for fusion/audit. The oracle nests
    * q112's BM25 statement as a CTE and mirrors the cosine. (lazy:
    * declared before `bmTerms`/`bm25OracleSql` in file order, forced
    * by `all` after both initialize.) */
  private val hybridTopN = 100
  private val hybridKTop = 10

  /** The q160/q161 oracle: q112's BM25 statement nested as a CTE, the
    * exact rounded cosine of each shortlist doc against each query
    * vector, top-k per query by cosine (ties → lowest doc). Shared by
    * the inline (q160) and stored-index (q161) faces, which compute the
    * same ranking by construction. */
  private def cosSql(v: String, q: String): String =
    PortableRound.sql4(
      s"list_dot_product($v, $q) / NULLIF(sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($q, $q)), 0)")

  private lazy val hybridOracleSql: String = {
    s"""WITH bm AS (${bm25OracleSql(bmTerms, hybridTopN)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 3),
      rr AS (SELECT q.query_id, bm.doc_id, bm.score_micro,
          ${cosSql("e.v", "q.qv")} AS cos_sim
        FROM bm JOIN e ON e.vec_id = bm.doc_id CROSS JOIN q)
      SELECT query_id, doc_id, score_micro, cos_sim FROM (
        SELECT query_id, doc_id, score_micro, cos_sim,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, doc_id) AS r
        FROM rr) WHERE r <= $hybridKTop
      ORDER BY query_id, cos_sim DESC, doc_id""".replaceAll("\\s+", " ")
  }

  /** Shared rerank tail of the hybrid pair: given the (doc_id,
    * score_micro) lexical shortlist, rerank per query vector. */
  private def hybridTail(s: org.apache.spark.sql.SparkSession, dir: String,
      short: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.operators.Similarity.hybridRerank(
      short, "doc_id", "score_micro", emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", hybridKTop)
      .orderBy(col("query_id"), col("cos_sim").desc, col("doc_id"))
  }

  private lazy val q160 = Q(
    "q160_hybrid_retrieval",
    (s, dir) => hybridTail(s, dir,
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text", bmTerms, hybridTopN)
        .select(col("doc_id"), col("score_micro"))),
    Some(hybridOracleSql))

  /** q160 with the lexical stage served by q113's PERSISTED retrieval
    * index: the shortlist comes from the stored postings (token
    * pushdown — a query reads Σdf(term) posting entries, not the
    * corpus), then the same exact-cosine rerank. Identical ranking by
    * construction, so q160's oracle serves both. */
  /** The q161/q165 stored lexical stage: one persisted retrieval index
    * per data dir (both stored faces share the Artifacts.prepare slot),
    * shortlist read through the size-gated [[Retrieval.bm25TopKStored]]
    * probe. */
  private def storedShortlist(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val iDir = s"${System.getProperty("java.io.tmpdir")}/graft_q161_bm25_" +
      java.lang.Integer.toHexString(dir.hashCode)
    Artifacts.prepare(s, iDir) {
      Retrieval.writeRetrievalIndex(
        s, t(s, dir, "documents"), "doc_id", "text", iDir)
    }
    Retrieval.bm25TopKStored(s, iDir, bmTerms, hybridTopN)
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), col("score_micro"))
  }

  private lazy val q161 = Q(
    "q161_hybrid_retrieval_stored",
    (s, dir) => hybridTail(s, dir, storedShortlist(s, dir)),
    Some(hybridOracleSql))

  /** The q162 oracle: q160's ranked (query, doc) grid, integer ranks
    * under each signal, the floored RRF addends summed, top-k by the
    * fused score. row_number ties break on doc_id in both engines. */
  private lazy val hybridRrfOracleSql: String = {
    s"""WITH bm AS (${bm25OracleSql(bmTerms, hybridTopN)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 3),
      rr AS (SELECT q.query_id, bm.doc_id, bm.score_micro,
          ${cosSql("e.v", "q.qv")} AS cos_sim
        FROM bm JOIN e ON e.vec_id = bm.doc_id CROSS JOIN q),
      rk AS (SELECT query_id, doc_id, score_micro, cos_sim,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r_lex,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS r_sem
        FROM rr),
      f AS (SELECT *, CAST(floor(1000000.0 / (60 + r_lex)) +
          floor(1000000.0 / (60 + r_sem)) AS BIGINT) AS rrf_micro FROM rk)
      SELECT query_id, doc_id, score_micro, cos_sim, r_lex, r_sem, rrf_micro
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_micro DESC, doc_id) AS r FROM f)
      WHERE r <= $hybridKTop
      ORDER BY query_id, rrf_micro DESC, doc_id""".replaceAll("\\s+", " ")
  }

  /** RECIPROCAL-RANK FUSION of the hybrid pair — q160 keeps only the
    * semantic order after the rerank; q162 ranks by the fused
    * 1/(60+r_lex) + 1/(60+r_sem) signal (floored micro-unit addends →
    * integer-exact), the form production hybrid retrieval actually
    * ships. Same broadcast-bounded |queries|·N fusion grid. */
  private lazy val q162 = Q(
    "q162_hybrid_rrf_fusion",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.hybridRrfTopK(
        Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          bmTerms, hybridTopN).select(col("doc_id"), col("score_micro")),
        "doc_id", "score_micro", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", hybridKTop)
        .orderBy(col("query_id"), col("rrf_micro").desc, col("doc_id"))
    },
    Some(hybridRrfOracleSql))

  /** q162 with the lexical stage served by the PERSISTED index — the
    * stored face of the fused ranking, completing the inline/stored
    * matrix the hybrid family keeps (q160/q161 ↔ q162/q165). Identical
    * ranking by construction (the stored probe is rank-equal to the
    * inline scorer), so q162's oracle serves both. */
  private lazy val q165 = Q(
    "q165_hybrid_rrf_stored",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.hybridRrfTopK(
        storedShortlist(s, dir),
        "doc_id", "score_micro", emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", hybridKTop)
        .orderBy(col("query_id"), col("rrf_micro").desc, col("doc_id"))
    },
    Some(hybridRrfOracleSql))

  /** q157's CUT action: surgically remove every 50-token window of
    * train text that appears in the held-out split — the substring-
    * granular alternative to q44's whole-document drop. */
  private val q158 = Q(
    "q158_cut_substring_decontam_50",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.cutDupSpansRollingAgainst(
        docs.filter(col("doc_id") % 53 =!= 0),
        docs.filter(col("doc_id") % 53 === 0), "doc_id", "text", 50)
        .orderBy("doc_id")
    },
    Some(crossCutOracleSql(50)))

  /** q157's screen through a PERSISTED artifact (q124's discipline at
    * substring granularity): the holdout's window-hash sets are written
    * once per benchmark release, then the train side probes the frozen
    * copy — identical span stats by construction, so q157's oracle
    * serves both. */
  private val q159 = Q(
    "q159_substring_decontam_stored",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val aDir = s"${System.getProperty("java.io.tmpdir")}/graft_q159_ss_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Artifacts.prepare(s, aDir) {
        Dedup.writeSubstringScreenArtifact(
          s, docs.filter(col("doc_id") % 53 === 0), "text", 50, aDir)
      }
      Dedup.dupSpansRollingAgainstStored(
          s, aDir, docs.filter(col("doc_id") % 53 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(crossSpansOracleSql(50)))

  /** Content-defined chunking: rolling-hash boundaries (token hash ≡ 0
    * mod 8, expected chunk ≈ 8 tokens), digests per chunk — the
    * insertion-robust sub-document dedup unit. */
  private val q102 = {
    val m = 8
    Q(
      "q102_cdc_chunks",
      (s, dir) => TextAnalysis.cdcChunks(t(s, dir, "documents"), "doc_id", "text", m)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        seg AS (SELECT doc_id, toks,
            list_filter(range(1, len(toks) + 1),
              i -> ${PortableHash.md5Hash32Sql("toks[i]")} % $m = 0) AS b
          FROM base),
        se AS (SELECT doc_id, toks,
            list_prepend(1, list_transform(b, x -> x + 1)) AS starts,
            list_append(b, len(toks)) AS ends FROM seg),
        ch AS (SELECT doc_id,
            unnest(range(1, len(starts) + 1)) AS j,
            unnest(list_transform(range(1, len(starts) + 1),
              j -> ends[j] - starts[j] + 1)) AS n,
            unnest(list_transform(range(1, len(starts) + 1),
              j -> md5(array_to_string(toks[starts[j]:ends[j]], ' ')))) AS d
          FROM se)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY j) AS BIGINT) AS chunk_id,
          CAST(n AS BIGINT) AS n_tokens, d AS chunk_digest
        FROM ch WHERE n >= 1
        ORDER BY doc_id, chunk_id""".replaceAll("\\s+", " ")))
  }

  /** Chunk-level corpus dedup over q102's CDC segments, keep-first:
    * any chunk digest already seen at a smaller (doc_id, chunk_id) is
    * cut; documents are rebuilt from their surviving chunks. The oracle
    * reproduces the boundaries relationally and picks winners with the
    * same (doc_id, position) row_number the engine's digest-keyed
    * window uses, so the rebuilt-text digests must agree byte-for-byte. */
  private val q119 = {
    val m = 8
    Q(
      "q119_chunk_dedup",
      (s, dir) => TextAnalysis.dedupCdcChunks(t(s, dir, "documents"), "doc_id", "text", m)
        .orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        seg AS (SELECT doc_id, toks,
            list_filter(range(1, len(toks) + 1),
              i -> ${PortableHash.md5Hash32Sql("toks[i]")} % $m = 0) AS b
          FROM base),
        se AS (SELECT doc_id, toks,
            list_prepend(1, list_transform(b, x -> x + 1)) AS starts,
            list_append(b, len(toks)) AS ends FROM seg),
        ch AS (SELECT doc_id,
            unnest(range(1, len(starts) + 1)) AS j,
            unnest(list_transform(range(1, len(starts) + 1),
              j -> ends[j] - starts[j] + 1)) AS n,
            unnest(list_transform(range(1, len(starts) + 1),
              j -> array_to_string(toks[starts[j]:ends[j]], ' '))) AS ct
          FROM se),
        rn AS (SELECT doc_id, j, n, ct,
            row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id, j) AS rn
          FROM ch WHERE n >= 1),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(coalesce(count(*) FILTER (WHERE rn > 1), 0) AS BIGINT) AS n_cut_chunks,
            CAST(coalesce(sum(n) FILTER (WHERE rn = 1), 0) AS BIGINT) AS n_kept_tokens,
            coalesce(md5(string_agg(ct, ' ' ORDER BY j) FILTER (WHERE rn = 1)),
              md5('')) AS clean_digest
          FROM rn GROUP BY doc_id)
        SELECT doc_id, n_chunks, n_cut_chunks, n_kept_tokens, clean_digest
        FROM agg ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** BPE trainer statistics: the adjacent character-pair frequency pass
    * (weighted by word frequency) whose argmax is the trainer's next
    * merge. Top-50 merge candidates under a total deterministic order.
    * Pair generation is array-side per DISTINCT word, so the aggregate
    * input is vocabulary-sized — the corpus contributes exactly one
    * token explode. */
  private val q120 = {
    val topN = 50
    Q(
      "q120_bpe_pair_stats",
      (s, dir) => Bpe.pairStats(t(s, dir, "documents"), "text")
        .orderBy(col("pair_count").desc, col("a"), col("b")).limit(topN),
      Some(s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
          FROM documents WHERE text IS NOT NULL),
        wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w),
        pr AS (SELECT n,
            unnest(list_transform(range(1, length(w)),
              i -> substring(w, CAST(i AS INT), 1))) AS a,
            unnest(list_transform(range(1, length(w)),
              i -> substring(w, CAST(i AS INT) + 1, 1))) AS b
          FROM wc WHERE length(w) >= 2)
        SELECT a, b, CAST(sum(n) AS BIGINT) AS pair_count FROM pr
        GROUP BY a, b ORDER BY pair_count DESC, a, b
        LIMIT $topN""".replaceAll("\\s+", " ")))
  }

  /** Rule-based multi-label topic tagging (taxonomy routing): the SQL
    * mirror builds the same alphabetically-ordered candidate list from
    * the same rule map, so tag strings agree byte-for-byte. */
  private val q121 = {
    val cases = TextAnalysis.topicRules.toSeq.sortBy(_._1).map { case (tag, kws) =>
      s"CASE WHEN list_has_any(toks, [${kws.map(k => s"'$k'").mkString(", ")}]) " +
        s"THEN '$tag' END"
    }.mkString(", ")
    Q(
      "q121_topic_tags",
      (s, dir) => TextAnalysis.tagTopics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        tg AS (SELECT doc_id, list_filter([$cases], x -> x IS NOT NULL) AS tl FROM tk)
        SELECT doc_id, array_to_string(tl, ',') AS tags,
          CAST(len(tl) AS BIGINT) AS n_tags
        FROM tg ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** Incremental per-source corpus accounting: build the stats snapshot
    * on the first third, fold two more batches in as log-structured
    * segments, read the merged snapshot. Mergeable aggregates make the
    * fold provably equal to the full recompute the oracle runs. */
  private val q122 = {
    Q(
      "q122_stats_snapshot",
      (s, dir) => {
        import graft.operators.CorpusStats
        val docs = t(s, dir, "documents")
        val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
        val (cut1, cut2) = (mx / 3, mx * 2 / 3)
        val sDir = s"${System.getProperty("java.io.tmpdir")}/graft_q122_cs_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, sDir) {
          CorpusStats.writeStatsSnapshot(
            s, docs.filter(col("doc_id") <= cut1), "doc_id", "text", "source", sDir)
          CorpusStats.appendToStatsSnapshot(
            s, sDir, docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
            "doc_id", "text", "source")
          CorpusStats.appendToStatsSnapshot(
            s, sDir, docs.filter(col("doc_id") > cut2), "doc_id", "text", "source")
        }
        CorpusStats.readStatsSnapshot(s, sDir).orderBy("source")
      },
      Some("""SELECT source,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
          CAST(sum(length(text)) AS BIGINT) AS n_chars,
          CAST(min(doc_id) AS BIGINT) AS min_doc_id,
          CAST(max(doc_id) AS BIGINT) AS max_doc_id,
          CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_doc_tokens
        FROM documents WHERE text IS NOT NULL
        GROUP BY source ORDER BY source""".replaceAll("\\s+", " ")))
  }

  /** Deterministic interleaved training order: stride scheduling by
    * token mass — pos_key = src_rank·10⁹ ÷ source_tokens, exact int64,
    * so sorting by pos_key mixes sources proportionally throughout the
    * epoch instead of concatenating them. */
  private val q123 = Q(
    "q123_interleave_order",
    (s, dir) => Sampling.interleaveByTokens(t(s, dir, "documents"),
        "source", "doc_id", "text")
      .orderBy("pos_key", "source", "doc_id"),
    Some("""WITH g AS (SELECT source,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS gt
        FROM documents WHERE text IS NOT NULL GROUP BY source),
      r AS (SELECT doc_id, source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
          AS src_rank
        FROM documents)
      SELECT r.doc_id, r.source, r.src_rank,
        CAST((r.src_rank * 1000000000) // g.gt AS BIGINT) AS pos_key
      FROM r JOIN g USING (source)
      ORDER BY pos_key, source, doc_id""".replaceAll("\\s+", " ")))

  /** q44's decontamination through a PERSISTED artifact: the test gram
    * set + its bloom are written once, then the corpus is screened
    * against the frozen copy — identical clean set by construction, so
    * q44's oracle serves both. */
  private val q124 = {
    val n = 5
    Q(
      "q124_decontam_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val aDir = s"${System.getProperty("java.io.tmpdir")}/graft_q124_dc_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, aDir) {
          Decontaminate.writeDecontamArtifact(
            s, docs.filter(col("doc_id") % 53 === 0), "text", n, aDir)
        }
        Decontaminate.cleanWithStoredArtifact(
            s, aDir, docs.filter(col("doc_id") % 53 =!= 0), "doc_id", "text")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(decontamOracleSql(n)))
  }

  /** Per-source adaptive quality gate (FineWeb's per-dump percentile
    * thresholding): keep each source's top quality quartile; the
    * survivor rule is integer rank arithmetic, so membership can't flip
    * on a float percentile boundary. */
  /** DuckDB mirror of [[TextAnalysis.qualityScore]] — shared by q125
    * (exact per-source rank gate) and q128 (its histogram-quantile
    * 100 TB twin). */
  private lazy val qualityScoreSql: String = {
    val stop = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    PortableRound.sql4(
      s"""0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')))
        + 0.3 * least(1.0, CAST(len(list_filter(string_split(text, ' '),
            t -> t IN ($stop))) AS DOUBLE)
            / len(string_split(text, ' ')) * 5.0)""")
  }

  private val q125 = {
    val qualitySql = qualityScoreSql
    Q(
      "q125_adaptive_quality_gate",
      (s, dir) => Sampling.adaptiveQualityFilter(t(s, dir, "documents"),
          "source", "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH sc AS (SELECT doc_id, source, $qualitySql AS quality
          FROM documents WHERE text IS NOT NULL),
        r AS (SELECT doc_id, source, quality,
            CAST(row_number() OVER (PARTITION BY source ORDER BY quality, doc_id)
              AS BIGINT) AS src_rank,
            CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS src_n
          FROM sc)
        SELECT doc_id, source, quality, src_rank, src_n FROM r
        WHERE 4 * (src_rank - 1) >= 3 * (src_n - 1)
        ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** CCNet-style perplexity quality filter: score every document's
    * cross-entropy under an add-one-smoothed conditional bigram model
    * (hashed vocab, 32 word classes) trained on the English subset.
    * Low xent = reads like the target domain. The per-bucket-pair
    * log-probs are integer micro-units (see
    * [[graft.operators.Importance.bigramWeightsMicro]]), so per-doc
    * sums are exact long arithmetic and the only float surface is ln
    * over small integers plus two IEEE divisions, shared verbatim with
    * the oracle. */
  private val bigramBuckets = 32
  private lazy val bigramXentOracleSql: String = {
    val b = bigramBuckets
    s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        pr AS (SELECT doc_id, lang,
            unnest(list_transform(range(1, len(toks)),
              i -> ${PortableHash.md5Hash32Sql("toks[i]")} % $b)) AS b1,
            unnest(list_transform(range(1, len(toks)),
              i -> ${PortableHash.md5Hash32Sql("toks[i+1]")} % $b)) AS b2
          FROM tk WHERE len(toks) >= 2),
        c AS (SELECT b1, b2, count(*) AS c12 FROM pr WHERE lang = 'en' GROUP BY 1, 2),
        cc AS (SELECT b1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
        w AS (SELECT c.b1, c.b2,
            CAST(floor((ln(c12 + 1) - ln(c1 + $b)) * 10000 + 0.5) AS BIGINT) AS wv
          FROM c JOIN cc ON c.b1 = cc.b1),
        d AS (SELECT b1, CAST(floor((0 - ln(c1 + $b)) * 10000 + 0.5) AS BIGINT) AS dw
          FROM cc),
        s AS (SELECT doc_id, CAST(sum(coalesce(w.wv, d.dw,
              CAST(floor((0 - ln($b)) * 10000 + 0.5) AS BIGINT))) AS BIGINT) AS micro
          FROM pr LEFT JOIN w ON pr.b1 = w.b1 AND pr.b2 = w.b2
                  LEFT JOIN d ON pr.b1 = d.b1
          GROUP BY doc_id),
        nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
          FROM tk WHERE len(toks) >= 2)
        SELECT nt.doc_id, nt.n_tokens, nt.n_tokens - 1 AS n_bigrams,
          CAST(-micro AS DOUBLE) / 10000.0 / (nt.n_tokens - 1) AS bigram_xent
        FROM nt JOIN s USING (doc_id) ORDER BY nt.doc_id""".replaceAll("\\s+", " ")
  }

  private val q105 = Q(
    "q105_bigram_xent",
    (s, dir) => Importance.bigramXent(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
        bigramBuckets)
      .orderBy("doc_id"),
    Some(bigramXentOracleSql))

  /** q105 through the persisted LM artifact: train the hashed bigram
    * model once on the English subset, freeze it, score the corpus
    * against the stored copy — stored scoring must be indistinguishable
    * from inline, so q105's oracle serves both (the discipline that
    * closed the stored-artifact family for DSIR/vocab/decontam/NB:
    * q101/q115/q124/q129). */
  private val q132 = Q(
    "q132_bigram_xent_stored",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val mDir = s"${System.getProperty("java.io.tmpdir")}/graft_q132_lm_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Artifacts.prepare(s, mDir) {
        Importance.writeBigramModel(
          docs, "text", col("lang") === "en", bigramBuckets, mDir)
      }
      Importance.bigramXentWithStoredModel(docs, "doc_id", "text", mDir)
        .orderBy("doc_id")
    },
    Some(bigramXentOracleSql))

  /** k-anonymity by suppression over the (lang, source) quasi-identifier
    * — the release-side privacy gate on top of q85's content-side PII
    * scrub: any QI combination shared by fewer than k = 5 documents is
    * masked to '*', so every released combination identifies a crowd of
    * ≥ 5. The group-count relation is QI-cardinality-sized and
    * broadcasts; the corpus never shuffles (map-side join only — the
    * single exchange in the plan is the deterministic ORDER BY). */
  private val q107 = {
    val k = 5
    Q(
      "q107_k_anonymity",
      (s, dir) => graft.operators.Anonymize
        .kAnonymize(t(s, dir, "documents"), Seq("lang", "source"), k)
        .select("doc_id", "lang", "source", "suppressed")
        .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, source, count(*) AS n
          FROM documents GROUP BY 1, 2)
        SELECT d.doc_id,
          CASE WHEN c.n < $k THEN '*' ELSE d.lang END AS lang,
          CASE WHEN c.n < $k THEN '*' ELSE d.source END AS source,
          c.n < $k AS suppressed
        FROM documents d JOIN c USING (lang, source)
        ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** Inverted index build: token → (document frequency, gap-encoded
    * sorted posting list) — the retrieval structure behind exact-match
    * decontamination lookups and corpus search. Deltas are computed
    * array-side in one `transform` after the per-token collect (no
    * second shuffle); the oracle reaches the same gaps via lag() +
    * ordered string_agg. */
  // shared by q108 and its salted twin q135 — they reuse one oracle, so
  // the engine parameter must be a single constant (the bigramBuckets
  // discipline)
  private val invIndexMinDf = 3

  private val q108 = {
    val minDf = invIndexMinDf
    Q(
      "q108_inverted_index",
      (s, dir) => TextAnalysis
        .invertedIndex(t(s, dir, "documents"), "doc_id", "text", minDf)
        .orderBy("token"),
      Some(s"""WITH g AS (SELECT DISTINCT doc_id, token FROM
          (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
        p AS (SELECT token, doc_id,
            row_number() OVER (PARTITION BY token ORDER BY doc_id) AS pos,
            doc_id - coalesce(lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id), 0) AS delta
          FROM g)
        SELECT token, CAST(count(*) AS BIGINT) AS df_t,
          string_agg(CAST(delta AS VARCHAR), ',' ORDER BY pos) AS deltas
        FROM p GROUP BY token HAVING count(*) >= $minDf
        ORDER BY token""".replaceAll("\\s+", " ")))
  }

  /** q108's skew-proof twin: the salted two-stage inverted-index build
    * ([[TextAnalysis.invertedIndexSalted]]) — a df-heavy token's
    * posting stream splits over (token, salt) reducers instead of
    * landing on one. Bit-identical output, so q108's oracle serves
    * both; the hash match is the proof the salting is semantics-free. */
  private val q135 = {
    val minDf = invIndexMinDf
    Q(
      "q135_inverted_index_salted",
      (s, dir) => TextAnalysis
        .invertedIndexSalted(t(s, dir, "documents"), "doc_id", "text", minDf)
        .orderBy("token"),
      q108.oracle)
  }

  /** Collocation mining: window-2 co-occurrence pairs scored by the
    * Dice coefficient in integer micro-units — exact int64 arithmetic
    * end to end, so the score is engine-portable (PMI's log would
    * drift). Pair generation is array-side (token array zipped with its
    * shifted self), never a positions self-join; only (a, b) pairs
    * shuffle. */
  private val q109 = {
    val (win, minN) = (2, 50L)
    Q(
      "q109_collocations",
      (s, dir) => TextAnalysis
        .collocations(t(s, dir, "documents"), "text", win, minN)
        .orderBy("tok_a", "tok_b"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        p AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
            unnest(toks) AS tok, toks FROM tk),
        pairs AS (
          SELECT tok AS tok_a, toks[CAST(pos + 2 AS INT)] AS tok_b
            FROM p WHERE pos + 2 <= len(toks)
          UNION ALL
          SELECT tok, toks[CAST(pos + 3 AS INT)] FROM p WHERE pos + 3 <= len(toks)),
        pc AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
          FROM pairs GROUP BY 1, 2 HAVING count(*) >= $minN),
        uc AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM
          (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1)
        SELECT tok_a, tok_b, n_ab, a.n AS n_a, b.n AS n_b,
          (2000000 * n_ab) // (a.n + b.n) AS dice_micro
        FROM pc JOIN uc a ON pc.tok_a = a.token JOIN uc b ON pc.tok_b = b.token
        ORDER BY tok_a, tok_b""".replaceAll("\\s+", " ")))
  }

  /** Token-budget selection per source: keep documents in deterministic
    * hash-priority order until each source's cumulative token count
    * reaches 800 — the sampling step that turns q78's mixture weights
    * into an actual row subset (greedy prefix, may overshoot by one doc,
    * same contract as q51's packing). Selection is stable under appends:
    * a new doc never reorders the kept prefix hashed before it. */
  // shared by q110 and its bounded twin q136 — one oracle, so the
  // engine parameter must be a single constant (the invIndexMinDf
  // discipline)
  private val tokenBudget = 800L

  private val q110 = {
    val budget = tokenBudget
    Q(
      "q110_token_budget",
      (s, dir) => Sampling
        .tokenBudgetPerGroup(t(s, dir, "documents"), "source", "doc_id", "text", budget)
        .select("doc_id", "source", "n_tokens", "tokens_before")
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
          ${PortableHash.md5Hash32Sql("CAST(doc_id AS VARCHAR)")} AS h
          FROM documents),
        c AS (SELECT doc_id, source, nt,
          CAST(coalesce(sum(nt) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
          FROM d)
        SELECT doc_id, source, nt AS n_tokens, tokens_before
        FROM c WHERE tokens_before < $budget
        ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** q110's skew-proof twin: the bounded token-budget selection
    * ([[Sampling.tokenBudgetPerGroupBounded]]) — a giant source's row
    * stream is hash-cutoff pre-filtered to ~budget-sized candidates
    * per group before the running-sum window, with an exact per-group
    * fallback if the cutoff under-captures. Bit-identical output, so
    * q110's oracle serves both; the hash match is the proof the
    * pre-filter is semantics-free. */
  private val q136 = Q(
    "q136_token_budget_bounded",
    (s, dir) => Sampling
      .tokenBudgetPerGroupBounded(t(s, dir, "documents"), "source",
        "doc_id", "text", tokenBudget)
      .select("doc_id", "source", "n_tokens", "tokens_before")
      .orderBy("doc_id"),
    q110.oracle)

  /** Within-document repetition metrics (Gopher-style quality gates):
    * top-token multiplicity, longest consecutive run, repeated n-gram
    * instance counts and the ratio forms thresholds bind to. The engine
    * side is ONE map-only projection (sorted-array run-length folds +
    * multiset-vs-set shingle counts, all array-side); the oracle
    * reaches the same numbers relationally (lockstep unnest + the
    * gaps-and-islands run trick). */
  private val q111 = {
    def repSql(n: Int): String =
      s"""CAST((CASE WHEN len(toks) >= $n THEN len(toks) - ${n - 1} ELSE 0 END)
         - len(list_distinct(${shingleListSql("toks", n)})) AS BIGINT)"""
    Q(
      "q111_repetition",
      (s, dir) => TextAnalysis
        .repetitionProfile(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE text IS NOT NULL),
        tok AS (SELECT doc_id, unnest(toks) AS tok,
          generate_subscripts(toks, 1) AS pos FROM tk),
        tc AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
        top AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_tok_n FROM tc GROUP BY 1),
        runs AS (SELECT doc_id, tok,
          pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS isl FROM tok),
        mr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_run FROM
          (SELECT doc_id, count(*) AS c FROM runs GROUP BY doc_id, tok, isl)
          GROUP BY doc_id),
        rep AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          ${repSql(2)} AS rep2, ${repSql(3)} AS rep3, ${repSql(5)} AS rep5,
          CAST(CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END AS BIGINT) AS g3
          FROM tk)
        SELECT r.doc_id, r.n_tokens, top.top_tok_n, mr.max_run,
          r.rep2, r.rep3, r.rep5,
          top.top_tok_n / r.n_tokens AS top_frac,
          CASE WHEN r.g3 > 0 THEN r.rep3 / r.g3 ELSE 0.0 END AS rep3_frac
        FROM rep r JOIN top USING (doc_id) JOIN mr USING (doc_id)
        ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** Shared BM25 oracle for q112 (inline) and q113 (stored index) —
    * identical score definition by construction. The idf log is the
    * only non-correctly-rounded op and is quantized to micro-units over
    * small integers (the q98 pattern); the per-row expression shape is
    * mirrored exactly, so partials floor to identical int64 and the
    * per-doc total is an order-free integer sum. */
  private def bm25OracleSql(terms: Seq[String], k: Int): String = {
    val ti = terms.zipWithIndex
    val dfCols = ti.map { case (t, i) =>
      s"CAST(count(*) FILTER (WHERE list_contains(toks, '$t')) AS BIGINT) AS df_$i"
    }.mkString(", ")
    val idfCols = ti.map { case (_, i) =>
      s"CAST(floor(ln((n - df_$i + 0.5) / (df_$i + 0.5) + 1) * 1000000 + 0.5) AS BIGINT) AS idf_$i"
    }.mkString(", ")
    val tfCols = ti.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(", ")
    val partials = ti.map { case (_, i) =>
      s"""(CASE WHEN tf_$i > 0 THEN CAST(floor(idf_$i * tf_$i * 2.2 /
         (tf_$i + 1.2 * (0.25 + 0.75 * (dl * n / sumdl))) + 0.5) AS BIGINT)
         ELSE 0 END)"""
    }.mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(len(toks)) AS BIGINT) AS sumdl, $dfCols FROM tk),
      idf AS (SELECT n, sumdl, $idfCols FROM st),
      tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tfCols FROM tk),
      sc AS (SELECT doc_id, dl AS n_tokens,
        CAST($partials AS BIGINT) AS score_micro FROM tf CROSS JOIN idf)
      SELECT doc_id, n_tokens, score_micro,
        CAST(score_micro AS DOUBLE) / 1000000.0 AS bm25
      FROM sc WHERE score_micro > 0
      ORDER BY score_micro DESC, doc_id LIMIT $k""".replaceAll("\\s+", " ")
  }

  private val bmTerms = Seq("spark", "vector", "customer")

  /** Ranked BM25 keyword retrieval, inline over the corpus: one bounded
    * stats action, then a map-only scoring pass (array-side tf per
    * term) and a global top-k — text never shuffles. */
  private val q112 = Q(
    "q112_bm25",
    (s, dir) => Retrieval
      .bm25TopK(t(s, dir, "documents"), "doc_id", "text", bmTerms, 25),
    Some(bm25OracleSql(bmTerms, 25)))

  /** q112 through the PERSISTED retrieval index (tf postings + doclens
    * + corpus stats): the probe reads the query terms' postings
    * (token-predicate pushdown), not the corpus — at 100 TB a query
    * costs Σdf(term) posting entries plus a broadcast join into the
    * length table. Same oracle as q112: stored scoring must be
    * indistinguishable from inline. */
  private val q113 = Q(
    "q113_bm25_stored",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val iDir = s"${System.getProperty("java.io.tmpdir")}/graft_q113_bm25_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Artifacts.prepare(s, iDir) {
        Retrieval.writeRetrievalIndex(s, docs, "doc_id", "text", iDir)
      }
      Retrieval.bm25TopKStored(s, iDir, bmTerms, 25)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql(bmTerms, 25)))

  /** Data-constrained epoch planning: q78's temperature shares turned
    * into per-source token targets against a global budget, with the
    * implied epoch count (how many passes over the source the target
    * needs) in exact milli-units. Portable surface = q78's sqrt/decimal
    * trick + one mirrored floor + pure int64 division; the whole
    * output is source-cardinality-sized. */
  private val q114 = {
    val budget = 50000L
    Q(
      "q114_epoch_plan",
      (s, dir) => Sampling
        .epochPlan(t(s, dir, "documents"), "source", "text", budget)
        .orderBy("source"),
      Some(s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        w AS (SELECT source, n_docs, n_tokens,
          TRY_CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS sd,
          sum(TRY_CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(18,6))) OVER () AS tot
          FROM g),
        p AS (SELECT source, n_docs, n_tokens,
          CAST(floor(CAST(sd AS DOUBLE) / CAST(tot AS DOUBLE) * $budget + 0.5) AS BIGINT) AS tokens_target
          FROM w)
        SELECT source, n_docs, n_tokens, tokens_target,
          (1000 * tokens_target) // n_tokens AS epochs_milli,
          tokens_target > n_tokens AS data_constrained
        FROM p ORDER BY source""".replaceAll("\\s+", " ")))
  }

  /** OOV-rate scoring against a PERSISTED top-N vocabulary: the frozen
    * token inventory is a bounded stored artifact (the q101 shape), so
    * scoring is map-only and stream-safe, and the gate can't drift as
    * the raw corpus grows. Deterministic vocabulary tie-break
    * (count desc, token asc) on both sides. */
  private val q115 = {
    val topN = 20
    Q(
      "q115_oov_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vDir = s"${System.getProperty("java.io.tmpdir")}/graft_q115_vocab_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, vDir) {
          TextAnalysis.writeVocabArtifact(docs, "text", topN, vDir)
        }
        TextAnalysis.oovScoreWithStoredVocab(docs, "doc_id", "text", vDir)
          .orderBy("doc_id")
      },
      Some(s"""WITH vc AS (SELECT token FROM
          (SELECT unnest(string_split(text, ' ')) AS token FROM documents
           WHERE text IS NOT NULL)
          GROUP BY token ORDER BY count(*) DESC, token LIMIT $topN),
        vl AS (SELECT list(token) AS v FROM vc),
        tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
          WHERE text IS NOT NULL)
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_filter(toks, x -> NOT list_contains(v, x))) AS BIGINT) AS n_oov,
          len(list_filter(toks, x -> NOT list_contains(v, x))) / len(toks) AS oov_rate
        FROM tk CROSS JOIN vl ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** The retrieval index's INCREMENTAL ingest path: index the first
    * two-thirds of the corpus, append the rest as a second
    * log-structured segment (existing segment files never rewritten;
    * per-append work is batch-sized), then probe. Same oracle as q112 —
    * a segmented index must be indistinguishable from inline scoring
    * over the full corpus, which is exactly what the disjoint-id-range
    * df/tf additivity guarantees. */
  private val q116 = Q(
    "q116_bm25_segmented",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val iDir = s"${System.getProperty("java.io.tmpdir")}/graft_q116_bm25_" +
        java.lang.Integer.toHexString(dir.hashCode)
      // appends accumulate state — prepare starts from a clean dir
      Artifacts.prepare(s, iDir) {
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 2 / 3
        Retrieval.writeRetrievalIndex(
          s, docs.filter(col("doc_id") <= cut), "doc_id", "text", iDir)
        Retrieval.appendToRetrievalIndex(
          s, iDir, docs.filter(col("doc_id") > cut), "doc_id", "text")
      }
      Retrieval.bm25TopKStored(s, iDir, bmTerms, 25)
        .withColumnRenamed("id", "doc_id")
    },
    Some(bm25OracleSql(bmTerms, 25)))

  /** Token-distribution entropy gate (low-entropy = keyword-stuffing /
    * template spam that q111's run- and n-gram-repetition metrics can
    * miss). Inner sum is quantized-ln int64 arithmetic; the plan is
    * ONE map-only projection (sorted-array run-length fold — zero
    * exchanges, spec-asserted). */
  private val q127 = Q(
    "q127_token_entropy",
    (s, dir) => TextAnalysis.entropyProfile(t(s, dir, "documents"),
        "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
      c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM tk GROUP BY 1, 2),
      n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS nd
        FROM c GROUP BY 1),
      ent AS (SELECT c.doc_id,
          CAST(sum(c.c * (CAST(floor(ln(n.n) * 1000000 + 0.5) AS BIGINT)
            - CAST(floor(ln(c.c) * 1000000 + 0.5) AS BIGINT))) AS BIGINT) AS emic
        FROM c JOIN n USING (doc_id) GROUP BY 1)
      SELECT n.doc_id, n.n AS n_tokens, n.nd AS n_distinct,
        CAST(ent.emic AS DOUBLE) / (CAST(n.n AS DOUBLE) * 1000000.0)
          AS entropy_nats,
        CASE WHEN n.nd > 1 THEN CAST(ent.emic AS DOUBLE)
          / (CAST(n.n AS DOUBLE) * floor(ln(n.nd) * 1000000 + 0.5))
          ELSE 0.0 END AS norm_entropy
      FROM n JOIN ent USING (doc_id) ORDER BY doc_id""".replaceAll("\\s+", " ")))

  /** Histogram-quantile adaptive gate — q125's 100 TB twin: the
    * per-source quartile threshold comes from a bounded integer
    * histogram + broadcast join-back instead of a per-source full-sort
    * window; survivors are decided at 4-dp bin resolution (threshold-
    * bin ties all survive, documented on the operator). */
  private val q128 = Q(
    "q128_hist_quality_gate",
    (s, dir) => Sampling.histogramQualityFilter(t(s, dir, "documents"),
        "source", "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""WITH sc AS (SELECT doc_id, source, $qualityScoreSql AS quality
        FROM documents WHERE text IS NOT NULL),
      b AS (SELECT doc_id, source, quality,
          CAST(floor(quality * 10000 + 0.5) AS BIGINT) AS bin FROM sc),
      h AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2),
      cw AS (SELECT source, bin, cnt,
          CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM h),
      th AS (SELECT source, CAST(min(bin) AS BIGINT) AS thresh_bin,
          CAST(min(n) AS BIGINT) AS src_n
        FROM cw WHERE 4 * cum >= 3 * n GROUP BY source)
      SELECT b.doc_id, b.source, b.quality, b.bin, th.thresh_bin, th.src_n
      FROM b JOIN th USING (source) WHERE b.bin >= th.thresh_bin
      ORDER BY b.doc_id""".replaceAll("\\s+", " ")))

  /** Model-based quality classifier (the GPT-3 / DCLM reference-corpus
    * filter): NB log-odds over hashed unigram buckets, FIT on the
    * labeled train split (doc_id % 3 = 0; positive = curated sources
    * src0–src4), persisted as a stored artifact, then APPLIED to the
    * held-out documents — keep ⟺ posterior odds favor the reference
    * class. Distinct from q98 (DSIR): supervised labels, train/apply
    * separation, decision output. Scoring is map-only against the
    * frozen B+1-integer model. */
  private val q129 = {
    val buckets = 64
    val posSql = "source IN ('src0', 'src1', 'src2', 'src3', 'src4')"
    Q(
      "q129_quality_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val posPred = col("source").isin("src0", "src1", "src2", "src3", "src4")
        val mDir = s"${System.getProperty("java.io.tmpdir")}/graft_q129_clf_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, mDir) {
          val (w, bias) = Classifier.trainNbMicro(
            docs.filter(col("doc_id") % 3 === 0), "text", posPred, buckets)
          Classifier.writeModelArtifact(s, mDir, w, bias)
        }
        Classifier.scoreWithStoredModel(
            s, mDir, docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""WITH tr AS (SELECT text, ($posSql) AS pos
          FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0),
        tb AS (SELECT pos, ${PortableHash.md5Hash32Sql("unnest(string_split(text, ' '))")} % $buckets AS b FROM tr),
        cnt AS (SELECT b, CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS p,
            CAST(count(*) FILTER (WHERE NOT pos) AS BIGINT) AS n
          FROM tb GROUP BY 1),
        cnt0 AS (SELECT r.range AS b, COALESCE(cnt.p, 0) AS p,
            COALESCE(cnt.n, 0) AS n
          FROM range(0, $buckets) r LEFT JOIN cnt ON r.range = cnt.b),
        tot AS (SELECT CAST(sum(p) AS BIGINT) AS pt, CAST(sum(n) AS BIGINT) AS nt
          FROM cnt0),
        w AS (SELECT b,
            (CAST(floor(ln(p + 1) * 10000 + 0.5) AS BIGINT)
              - CAST(floor(ln(pt + $buckets) * 10000 + 0.5) AS BIGINT))
            - (CAST(floor(ln(n + 1) * 10000 + 0.5) AS BIGINT)
              - CAST(floor(ln(nt + $buckets) * 10000 + 0.5) AS BIGINT)) AS w
          FROM cnt0 CROSS JOIN tot),
        dc AS (SELECT CAST(count(*) FILTER (WHERE $posSql) AS BIGINT) AS dp,
            CAST(count(*) FILTER (WHERE NOT ($posSql)) AS BIGINT) AS dn
          FROM documents WHERE text IS NOT NULL AND doc_id % 3 = 0),
        bs AS (SELECT CAST(floor(ln(dp + 1) * 10000 + 0.5) AS BIGINT)
            - CAST(floor(ln(dn + 1) * 10000 + 0.5) AS BIGINT) AS bias FROM dc),
        tt AS (SELECT doc_id, ${PortableHash.md5Hash32Sql("unnest(string_split(text, ' '))")} % $buckets AS b
          FROM documents WHERE text IS NOT NULL AND doc_id % 3 <> 0),
        ds AS (SELECT tt.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(w.w) AS BIGINT) AS s
          FROM tt JOIN w USING (b) GROUP BY 1)
        SELECT ds.doc_id, ds.n_tokens,
          CAST(bs.bias + ds.s AS DOUBLE) / 10000.0 AS clf_score,
          (bs.bias + ds.s) > 0 AS keep
        FROM ds CROSS JOIN bs ORDER BY ds.doc_id""".replaceAll("\\s+", " ")))
  }

  /** Shared KMV oracle: per-source k-minimum-values over the n-gram
    * universe — q139 and q141 differ only in geometry (n, k); one
    * template keeps the twins in lockstep. */
  private def kmvOracleSql(n: Int, k: Int): String =
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
      g AS (SELECT source, unnest(${shingleListSql("toks", n)}) AS gram FROM t),
      h AS (SELECT DISTINCT source, ${PortableHash.md5Hash32Sql("gram")} AS hv FROM g),
      rk AS (SELECT source, hv,
          row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
      sk AS (SELECT source, CAST(count(*) AS BIGINT) AS k_used,
          CAST(max(hv) AS BIGINT) AS kth_min
        FROM rk WHERE rn <= $k GROUP BY source)
      SELECT source, k_used, kth_min,
        CASE WHEN k_used < $k THEN CAST(k_used AS DOUBLE)
          ELSE CAST(${(k - 1).toLong * (1L << 32)} AS DOUBLE) / CAST(kth_min AS DOUBLE)
          END AS est_distinct
      FROM sk ORDER BY source""".replaceAll("\\s+", " ")

  /** KMV distinct-cardinality sketch: per-source estimate of the
    * distinct 3-gram universe from the k=128 smallest portable hashes —
    * the ORACLE-EXACT mergeable twin of HLL approx-distinct (whose
    * binary registers no second engine can reproduce; see
    * [[graft.operators.Sketches]]). The estimate itself hash-matches
    * DuckDB: sketch state is plain integers, the estimator is one IEEE
    * division of exactly-representable ints. Salted two-stage top-k
    * bounds every per-task sort (q135's discipline). */
  private val q139 = {
    val k = 128
    Q(
      "q139_kmv_distinct",
      (s, dir) => Sketches.kmvDistinct(t(s, dir, "documents"), "source", "text", 3, k)
        .orderBy("source"),
      Some(kmvOracleSql(3, k)))
  }

  /** Stored KMV sketch snapshot — q139's incremental form under the
    * q122 log-structured segment discipline: sketch the first third,
    * fold two more batches in as appended segments, read the merged
    * estimate. Merge ≡ sketch-of-union (KmvSketchSpec), so the folded
    * output hash-matches the oracle's FULL recompute — the stored path
    * proves per-day partials at 100 TB estimate cardinality without
    * ever re-reading raw text. Bigram universe, k=64 (distinct geometry
    * from q139's 3-gram/k=128). */
  private val q141 = {
    val (n, k) = (2, 64)
    Q(
      "q141_kmv_sketch_stored",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
        val (cut1, cut2) = (mx / 3, mx * 2 / 3)
        val sDir = s"${System.getProperty("java.io.tmpdir")}/graft_q141_kmv_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, sDir) {
          Sketches.writeKmvSnapshot(
            s, docs.filter(col("doc_id") <= cut1), "doc_id", "source", "text",
            n, k, sDir)
          Sketches.appendToKmvSnapshot(
            s, sDir, docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
            "doc_id", "source", "text")
          Sketches.appendToKmvSnapshot(
            s, sDir, docs.filter(col("doc_id") > cut2),
            "doc_id", "source", "text")
        }
        Sketches.readKmvSnapshot(s, sDir, "source").orderBy("source")
      },
      Some(kmvOracleSql(n, k)))
  }

  /** THE COMPOSED INGEST GATE — the per-arrival decision a training-data
    * pipeline actually makes, fusing the engine's three stored screens
    * into ONE row per arriving document against a FROZEN corpus (the
    * already-ingested even half): exact 50-token substring overlap
    * (`dup_text` — the q159 artifact), banded media near-dup with best
    * corpus match (`dup_of`/`l1` — the q167 machinery), and the
    * row-local heuristic quality score. The decision is a priority
    * chain — empty > dup_text (substring-exact, the strongest signal) >
    * dup_media > low_quality > keep — with every signal kept in the
    * row so downstream can re-gate under a different policy without
    * re-screening.
    *
    * Scale shape: both reference sets are STORED artifacts (window-
    * digest sets ~0.01% of corpus bytes; band rows carrying their
    * vectors) — arrivals are screened per batch while the corpus is
    * read, never shuffled; the media pre-screen is the row-local band
    * bloom, the substring probe joins broadcast digest sets, quality is
    * one narrow projection, and the two signal joins are
    * arrival-subset-sized. Nothing in the plan grows faster than the
    * ingest batch. */
  private val (gDim, gBs, gMaxL1, gK) = (16, 4, 2000L, 50)
  private val gQThresh = 0.42

  /** The q169 gate oracle as a reusable CTE chain ending in `gateq`
    * (no ORDER BY) — shared verbatim by q169 (orders it) and q170
    * (packs its keepers), so the two stay definitionally consistent. */
  private lazy val ingestGateCtes: String = {
    val gramSql = (1 to gK).map(j => s"toks[i+${j - 1}]").mkString(", ")
    val winList = s"list_transform(range(1, len(toks) - ${gK - 2}), " +
      s"i -> md5(concat_ws(' ', $gramSql)))"
    s"""arr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      d AS (SELECT doc_id, text, len(text) AS n
        FROM documents WHERE text IS NOT NULL),
      co AS (SELECT doc_id, n, greatest(1, n // $gDim) AS w,
          list_transform(range(1, n + 1),
            i -> CAST(ascii(text[i:i]) AS BIGINT)) AS codes
        FROM d),
      f AS (SELECT doc_id,
          list_transform(range(0, $gDim), j -> COALESCE(list_sum(
            list_slice(codes, CAST(j*w+1 AS BIGINT),
              CAST(least((j+1)*w, n) AS BIGINT))), 0)) AS feats
        FROM co),
      bands AS (SELECT doc_id, b AS band,
          list_slice(feats, b*$gBs+1, b*$gBs+$gBs) AS key
        FROM f, range(0, ${gDim / gBs}) r(b)),
      cand AS (SELECT DISTINCT p.doc_id AS id_a, r.doc_id AS id_b
        FROM bands p JOIN bands r
        ON p.band = r.band AND p.key = r.key
        AND p.doc_id % 2 = 1 AND r.doc_id % 2 = 0),
      v AS (SELECT c.id_a, c.id_b,
          list_sum(list_transform(list_zip(fa.feats, fb.feats),
            z -> abs(z[1] - z[2]))) AS l1
        FROM cand c JOIN f fa ON fa.doc_id = c.id_a
        JOIN f fb ON fb.doc_id = c.id_b),
      best AS (SELECT id_a, id_b AS dup_of, CAST(l1 AS BIGINT) AS l1
        FROM (SELECT *, row_number() OVER (PARTITION BY id_a
            ORDER BY l1, id_b) AS rn FROM v WHERE l1 <= $gMaxL1)
        WHERE rn = 1),
      tr AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM arr WHERE text IS NOT NULL),
      hw AS (SELECT DISTINCT unnest($winList) AS h FROM
        (SELECT string_split(text, ' ') AS toks FROM documents
          WHERE text IS NOT NULL AND doc_id % 2 = 0)
        WHERE len(toks) >= $gK),
      dupt AS (SELECT DISTINCT doc_id FROM
        (SELECT doc_id, unnest($winList) AS h FROM tr
          WHERE len(toks) >= $gK) w JOIN hw USING (h)),
      qual AS (SELECT doc_id, $qualityScoreSql AS quality
        FROM arr WHERE text IS NOT NULL),
      gateq AS (SELECT a.doc_id, (t.doc_id IS NOT NULL) AS dup_text,
          b.dup_of, b.l1, q.quality,
          CASE WHEN a.text IS NULL THEN 'empty'
               WHEN t.doc_id IS NOT NULL THEN 'dup_text'
               WHEN b.dup_of IS NOT NULL THEN 'dup_media'
               WHEN q.quality < $gQThresh THEN 'low_quality'
               ELSE 'keep' END AS reason
        FROM arr a LEFT JOIN best b ON b.id_a = a.doc_id
        LEFT JOIN dupt t ON t.doc_id = a.doc_id
        LEFT JOIN qual q ON q.doc_id = a.doc_id)"""
  }

  private val q169 = {
    val (dim, bs, maxL1, k) = (gDim, gBs, gMaxL1, gK)
    val qThresh = gQThresh
    Q(
      "q169_ingest_gate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = Multimodal.attachPayload(docs, "text", "text")
        val corpus = media.filter(col("doc_id") % 2 === 0)
        val arrivals = media.filter(col("doc_id") % 2 === 1)
        val mDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_media_" +
          java.lang.Integer.toHexString(dir.hashCode)
        val sDir = s"${System.getProperty("java.io.tmpdir")}/graft_q169_ss_" +
          java.lang.Integer.toHexString(dir.hashCode)
        Artifacts.prepare(s, mDir) {
          Multimodal.writeMediaDupIndex(s, corpus, "doc_id", "media",
            dim, bs, mDir)
        }
        Artifacts.prepare(s, sDir) {
          Dedup.writeSubstringScreenArtifact(s, corpus, "text", k, sDir)
        }
        val mediaBest = Multimodal.mediaScreenCut(
            s, mDir, arrivals, "doc_id", "media", maxL1)
          .filter(col("action") === "cut")
          .select(col("doc_id"), col("dup_of"), col("l1"))
        // the exact digest join runs over the WHOLE batch: a bloom
        // pre-screen was measured SLOWER here (the corpus-sized filter
        // literal ships with every task, and at ~700 windows/doc the
        // per-window fpp compounds to a ~50% per-doc false-positive
        // rate at the artifact's default sizing) — the row-local bloom
        // is the per-arrival STREAM discipline, not the batch one.
        // Unlike q159's benchmark-sized holdout, THIS reference is half
        // the corpus, so the probe's own size gate decides whether its
        // digest sets broadcast
        val dupText = Dedup.dupSpansRollingAgainstStored(
            s, sDir, arrivals, "doc_id", "text")
          .filter(col("n_spans") >= 1)
          .select(col("doc_id"), lit(true).as("_dup_text"))
        arrivals
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(mediaBest, Seq("doc_id"), "left")
          .join(dupText, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_dup_text"), lit(false)).as("dup_text"),
            col("dup_of"), col("l1"), col("quality"),
            when(col("text").isNull, "empty")
              .when(col("_dup_text").isNotNull, "dup_text")
              .when(col("dup_of").isNotNull, "dup_media")
              .when(col("quality") < qThresh, "low_quality")
              .otherwise("keep").as("reason"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $ingestGateCtes
          SELECT doc_id, dup_text, dup_of, l1, quality, reason
          FROM gateq ORDER BY doc_id""".replaceAll("\\s+", " ")))
  }

  /** The gate's MATERIALIZATION tail — what a pipeline does with the
    * q169 decisions: the kept arrivals (reason = 'keep') are laid out
    * into ~1000-token per-language training shards by the scalable
    * two-pass packer (q51's distributed variant). Composing the two
    * pins the contract BETWEEN stages: the packer sees exactly the
    * gate's keep set, so shard assignments shift when (and only when)
    * a screen decision changes. Scale shape = q169's (the gate) plus
    * one arrival-sized equi-join and q51's two-pass layout (parallel
    * within-task windows + a plan-stats-sized offset collect). */
  /** The pack tail both gate→pack faces share: shard the gate's keep
    * set into ~1000-token per-language training shards (q51's layout).
    * q170 and q172 differ ONLY in where the keep set comes from
    * (inline gate vs materialized decision artifact), so they share
    * one oracle text by construction. */
  private val gatePackSql = s"""WITH $ingestGateCtes,
      kp AS (SELECT doc_id FROM gateq WHERE reason = 'keep'),
      tk2 AS (SELECT d2.doc_id, d2.lang,
          CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d2 JOIN kp USING (doc_id)),
      c2 AS (SELECT doc_id, lang, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tk2)
      SELECT doc_id, lang, n_tokens, (cum - n_tokens) // 1000 AS shard_id
      FROM c2 ORDER BY doc_id""".replaceAll("\\s+", " ")

  private def packKeepers(s: org.apache.spark.sql.SparkSession, dir: String,
      keepers: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextAnalysis.packShardsScalable(
      t(s, dir, "documents").join(keepers, Seq("doc_id")),
      "lang", "doc_id", "text", 1000L)
      .orderBy("doc_id")

  private val q170 = Q(
    "q170_gate_then_pack",
    (s, dir) => packKeepers(s, dir,
      q169.build(s, dir)
        .filter(col("reason") === "keep").select(col("doc_id"))),
    Some(gatePackSql))

  /** q170's PRODUCTION-BOUNDARY twin (round-13 verdict item 5): the
    * gate's decisions are MATERIALIZED once (one parquet artifact —
    * the real pipeline-stage boundary between curation and layout),
    * and the pack stage reads the decision set back instead of
    * recomputing the whole gate inline. Same declared output as q170
    * by construction (one shared oracle); what changes is the plan —
    * CurationSpec pins that the pack side contains a scan of the
    * decision parquet and NONE of the gate's screen machinery (no
    * decode, no rolling-hash windows), which is exactly the "decide
    * once, consume many times" shape a 100-TB curation pipeline needs:
    * re-packing (different shard size, different consumer) costs a
    * keep-set scan, not a corpus re-screen. */
  private val q172 = Q(
    "q172_gate_pack_stored",
    (s, dir) => {
      val dDir = s"${System.getProperty("java.io.tmpdir")}/graft_q172_decisions_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Artifacts.prepare(s, dDir) {
        q169.build(s, dir).write.mode("overwrite").parquet(dDir)
      }
      packKeepers(s, dir,
        SchemaReader.readArtifact(s, dDir)
          .filter(col("reason") === "keep").select(col("doc_id")))
    },
    Some(gatePackSql))

  val all: Seq[Q] = Seq(q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q58,
    q77, q78, q85, q86, q93, q94, q98, q99, q100, q101, q102, q105, q107,
    q108, q109, q110, q111, q112, q113, q114, q115, q116, q119, q120,
    q121, q122, q123, q124, q125, q127, q128, q129, q132, q135, q136, q139,
    q141, q155, q156, q157, q158, q159, q160, q161, q162, q165, q169, q170,
    q172)
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Redact, Sampling, TextAnalysis}

/** Round-3 curation operators: decontamination, quota capping,
  * vocabulary, chunking, exact-sum moments. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "a b c d e f g h"),        // shares 5-gram "a b c d e" with test
    (2L, "x y z w v u t s"),        // clean
    (3L, "b c d e f qq r s t"),     // shares "b c d e f"
    (4L, "short doc"),              // < 5 tokens: never flagged
    (5L, "p q r s t u v w x y z")   // clean
  ).toDF("doc_id", "text")

  private val testSet = Seq(
    (100L, "a b c d e f zz"),
    (101L, "mm nn oo pp qq")
  ).toDF("doc_id", "text")

  test("decontaminate drops exactly the docs sharing an n-gram") {
    val clean = Decontaminate.clean(corpus, "doc_id", "text", testSet, "text", 5)
      .select("doc_id").as[Long].collect().sorted
    clean shouldBe Array(2L, 4L, 5L) // 1 shares "a b c d e", 3 shares "b c d e f"
    val bad = Decontaminate.contaminatedIds(corpus, "doc_id", "text", testSet, "text", 5)
      .as[Long].collect().sorted
    bad shouldBe Array(1L, 3L)
    withBroadcastThreshold("-1") {
      val off = Decontaminate.contaminatedIds(corpus, "doc_id", "text", testSet, "text", 5)
      off.as[Long].collect().sorted shouldBe bad
      off.queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
    }
  }

  test("contaminationFraction matches hand-computed per-doc overlap") {
    val got = Decontaminate.contaminationFraction(
        corpus, "doc_id", "text", testSet, "text", n = 5, threshold = 0.5)
      .select("doc_id", "n_grams", "n_hit", "hit_frac", "contaminated")
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    // doc 1: 4 distinct 5-grams, hits "a b c d e" + "b c d e f" → 2/4
    // doc 3: 5 grams, hits "b c d e f" → 1/5; doc 4: too short → 0 grams
    got shouldBe Array(
      (1L, 4L, 2L, 0.5, true),
      (2L, 4L, 0L, 0.0, false),
      (3L, 5L, 1L, 0.2, false),
      (4L, 0L, 0L, 0.0, false),
      (5L, 7L, 0L, 0.0, false))
    // the any-hit rule is the threshold→0 limit of the fraction rule
    val anyHit = Decontaminate.contaminatedIds(
      corpus, "doc_id", "text", testSet, "text", 5).as[Long].collect().toSet
    got.filter(_._3 > 0).map(_._1).toSet shouldBe anyHit
  }

  test("bloom-prescreened decontamination equals the exact result") {
    val exact = Decontaminate.clean(corpus, "doc_id", "text", testSet, "text", 5)
      .select("doc_id").as[Long].collect().sorted
    val bloomed = Decontaminate.cleanBloomExact(corpus, "doc_id", "text", testSet, "text", 5)
      .select("doc_id").as[Long].collect().sorted
    bloomed shouldBe exact
  }

  test("curation funnel counts are monotone non-increasing stage to stage") {
    val row = SparkEntry.queries("q94_curation_funnel")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].head()
    val stages = List(row._1, row._2, row._3, row._4, row._5)
    stages.sliding(2).foreach { case List(a, b) => b should be <= a }
    row._1 should be > 0L   // raw corpus is non-empty
    row._5 should be > 0L   // something survives the whole funnel
  }

  test("capPerGroup keeps at most the cap, deterministically across partitionings") {
    val df = (0L until 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val a = Sampling.capPerGroup(df.repartition(7), "grp", "id", 10)
    val b = Sampling.capPerGroup(df.repartition(2), "grp", "id", 10)
    val rowsA = a.select("id").as[Long].collect().sorted
    rowsA shouldBe b.select("id").as[Long].collect().sorted
    a.groupBy("grp").count().select("count").as[Long].collect().foreach(_ shouldBe 10L)
  }

  test("diversitySample covers every non-empty cell and caps dense ones") {
    val rnd = new scala.util.Random(83)
    // skewed embedding space: 70% of vectors share one sign pattern
    val rows = (1L to 400L).map { id =>
      val v =
        if (id <= 280) Array(1f, 1f, 1f, 1f) // the dense cell (bits 0-3 set)
        else Array.fill(4)(rnd.nextFloat() * 2 - 1)
      (id, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Sampling.diversitySample(df, "vec_id", "embedding", 4, 3)
      .as[(Long, Long, Long, Long)].collect()
    val byCell = got.groupBy(_._2)
    // cap holds everywhere, including the dense cell
    byCell.values.foreach(_.length should be <= 3)
    byCell(15L).length shouldBe 3 // dense cell (all 4 bits) present, capped
    byCell(15L).head._3 should be >= 280L // its population is reported
    // every non-empty cell is represented — the diversity property
    val allCells = df
      .select(graft.operators.Similarity.signBucket(col("embedding"), 4).as("c"))
      .distinct().as[Long].collect().toSet
    byCell.keySet shouldBe allCells
    // deterministic across partitionings
    val again = Sampling.diversitySample(df.repartition(7), "vec_id", "embedding", 4, 3)
      .as[(Long, Long, Long, Long)].collect()
    again.sortBy(r => (r._2, r._4)) shouldBe got.sortBy(r => (r._2, r._4))
  }

  test("hashSplit is stable across partitionings and append-invariant") {
    import org.apache.spark.sql.functions.col
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val df = (1L to 2000L).toDF("id")
    val a = Sampling.hashSplit(df.repartition(7), "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(df.repartition(2), "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    a shouldBe b
    // proportions land near the weights (hash-uniform over 2000 ids)
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    frac("train") shouldBe 0.8 +- 0.05
    frac("val") shouldBe 0.1 +- 0.03
    frac("test") shouldBe 0.1 +- 0.03
    // append-invariance: growing the input never moves an old row
    val grown = Sampling.hashSplit((1L to 4000L).toDF("id"), "id", splits)
      .filter(col("id") <= 2000).select("id", "split")
      .as[(Long, String)].collect().toMap
    grown shouldBe a
    // weights must sum to 1
    an[IllegalArgumentException] should be thrownBy
      Sampling.hashSplit(df, "id", Seq(("a", 0.5), ("b", 0.4)))
  }

  test("vocabulary ranks by document frequency with term tie-break") {
    val df = Seq(
      (1L, "cat dog cat"), (2L, "cat fish"), (3L, "dog ape")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, "doc_id", "text", 3)
      .orderBy("vocab_id")
      .as[(Long, String, Long, Long)].collect()
    // df: cat=2, dog=2, ape=1, fish=1 → cat, dog, ape
    v.map(_._2) shouldBe Array("cat", "dog", "ape")
    v.map(_._4) shouldBe Array(2L, 2L, 1L)  // df_t
    v.map(_._3) shouldBe Array(3L, 2L, 1L)  // tf with multiplicity
  }

  test("chunking reassembles to the original text and respects the size") {
    val df = Seq((1L, (1 to 70).map(i => s"t$i").mkString(" ")), (2L, "a b"))
      .toDF("doc_id", "text")
    val c = TextAnalysis.chunk(df, "doc_id", "text", 32)
    val byDoc = c.orderBy("doc_id", "chunk_id")
      .select("doc_id", "n_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().groupBy(_._1)
    byDoc(1L).map(_._2) shouldBe Array(32L, 32L, 6L)
    byDoc(1L).map(_._3).mkString(" ") shouldBe (1 to 70).map(i => s"t$i").mkString(" ")
    byDoc(2L).map(_._3).mkString(" ") shouldBe "a b"
    c.filter(col("n_tokens") > 32).count() shouldBe 0L
  }

  test("exact-sum moments agree with Spark's built-ins to rounding tolerance") {
    val df = (1 to 500).map(i => (i % 7, i * 0.5 + (i % 13), i * 1.5 - (i % 11)))
      .toDF("g", "x", "y")
    val ours = df.groupBy("g").agg(
      graft.functions.ExactAgg.stddevSamp2(col("x")).as("sd"),
      graft.functions.ExactAgg.varSamp2(col("x")).as("va"),
      graft.functions.ExactAgg.covarSamp2(col("x"), col("y")).as("cv"),
      graft.functions.ExactAgg.corr4(col("x"), col("y")).as("co"))
    val ref = df.groupBy("g").agg(
      stddev_samp(col("x")).as("sd_r"),
      var_samp(col("x")).as("va_r"),
      covar_samp(col("x"), col("y")).as("cv_r"),
      corr(col("x"), col("y")).as("co_r"))
    ours.join(ref, "g").collect().foreach { r =>
      math.abs(r.getDouble(1) - r.getDouble(5)) should be <= 0.01
      math.abs(r.getDouble(2) - r.getDouble(6)) should be <= 0.01
      math.abs(r.getDouble(3) - r.getDouble(7)) should be <= 0.01
      math.abs(r.getDouble(4) - r.getDouble(8)) should be <= 0.001
    }
  }

  test("repeatedNgrams finds exactly the cross-document shingles") {
    val df = Seq(
      (1L, "a b c d e tail1"),
      (2L, "a b c d e tail2"),
      (3L, "a b c d e a b c d e"), // duplicate shingle inside ONE doc: df=1
      (4L, "u v w x y z")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedNgrams(df, "doc_id", "text", 5, 3L)
      .as[(String, Long)].collect().toMap
    got shouldBe Map("a b c d e" -> 3L)
    // minDocs above any df → empty
    TextAnalysis.repeatedNgrams(df, "doc_id", "text", 5, 5L).count() shouldBe 0L
  }

  test("packShards assigns documents to shards by starting token offset") {
    val df = Seq(
      (1L, "en", "t1 t2 t3 t4"),    // offset 0  → shard 0
      (2L, "en", "t1 t2 t3"),       // offset 4  → shard 0
      (3L, "en", "t1 t2 t3 t4 t5"), // offset 7  → shard 0 (spans into 1)
      (4L, "en", "t1 t2"),          // offset 12 → shard 1
      (5L, "de", "t1 t2 t3")        // own partition, offset 0 → shard 0
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.packShards(df, "lang", "doc_id", "text", 10L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L)
  }

  test("packShardsScalable equals packShards across partitionings") {
    val rnd = new scala.util.Random(41)
    val df = (1L to 300L)
      .map(i => (i, s"lang${rnd.nextInt(4)}",
        (1 to 1 + rnd.nextInt(20)).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val simple = TextAnalysis.packShards(df, "lang", "doc_id", "text", 50L)
      .orderBy("doc_id").collect().toSeq
    Seq(df.repartition(1), df.repartition(13)).foreach { d =>
      val scalable = TextAnalysis
        .packShardsScalable(d, "lang", "doc_id", "text", 50L)
        .orderBy("doc_id").collect().toSeq
      scalable shouldBe simple
    }
  }

  test("centroids compute exact per-label component means") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)),
      (1, Seq(10.0f, -2.0f))
    ).toDF("label", "embedding")
    val got = graft.operators.Embeddings.centroids(df, "label", "embedding")
      .orderBy("label")
      .as[(Int, Long, Seq[Double])].collect()
    got shouldBe Array(
      (0, 2L, Seq(2.0, 4.0)),
      (1, 1L, Seq(10.0, -2.0)))
  }

  test("temperatureWeights: sqrt-proportional, ordered by mass, summing to ~1") {
    val df = Seq(
      ("big", "a b c d e f g h i j k l m n o p"), // 16 tokens -> sqrt 4
      ("mid", "a b c d e f g h i"),               // 9 tokens  -> sqrt 3
      ("tiny", "a")                               // 1 token   -> sqrt 1
    ).toDF("source", "text")
    val got = graft.operators.Sampling.temperatureWeights(df, "source", "text")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    got("big") shouldBe 0.5 // 4 / (4+3+1)
    got("mid") shouldBe 0.375
    got("tiny") shouldBe 0.125
    got.values.sum shouldBe 1.0 +- 1e-9
    // temperature flattens: big's share (0.5) < its proportional share (16/26)
    got("big") should be < 16.0 / 26.0
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("Redact.scrub applies rules in order; hitCount counts chained matches") {
    val rules = Seq(Redact.Rule("[0-9]{3,}", "[NUM]"), Redact.Rule("[0-9]+", "#"))
    val df = Seq("id 12345 and 67", "no digits", "99 1234 5").toDF("text")
    val got = df.select(
      Redact.scrub(col("text"), rules).as("s"),
      Redact.hitCount(col("text"), rules).as("n")).as[(String, Long)].collect()
    got(0) shouldBe ("id [NUM] and #", 2L)
    got(1) shouldBe ("no digits", 0L)
    got(2) shouldBe ("# [NUM] #", 3L)
    // order matters: the broad rule first would eat the long runs too
    val broadFirst = df.select(Redact.scrub(col("text"), rules.reverse).as("s"))
      .as[String].collect()
    broadFirst(0) shouldBe "id # and #"
  }

  test("Redact.pseudonym is a deterministic keyed sha-256 of the decimal id") {
    val got = Seq(42L, 42L, 7L).toDF("id")
      .select(Redact.pseudonym(col("id"), "s3cret")).as[String].collect()
    got(0) shouldBe sha256hex("s3cret:42")
    got(0) shouldBe got(1)
    got(2) should not be got(0)
    // the key participates: a different salt yields unrelated pseudonyms,
    // so an unsalted rainbow table over the sequential id space is useless
    val other = Seq(42L).toDF("id")
      .select(Redact.pseudonym(col("id"), "other")).as[String].collect()
    other(0) should not be got(0)
    an[IllegalArgumentException] should be thrownBy Redact.pseudonym(col("id"), "")
  }

  test("stripBoilerplate masks exactly the positions covered by frequent grams") {
    val docs = Seq(
      (1L, "a b c X Y"),
      (2L, "d e f X Y"),
      (3L, "g h X Y z"),
      (4L, "unique tokens only"),
      (5L, "X Y X Y")
    ).toDF("doc_id", "text")
    // n=2, minDocs=3: only "X Y" (docs 1,2,3,5) is boilerplate
    val got = TextAnalysis.stripBoilerplate(docs, "doc_id", "text", 2, 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    got(0) shouldBe ((1L, 3L, 2L, md5hex("a b c")))
    got(1) shouldBe ((2L, 3L, 2L, md5hex("d e f")))
    got(2) shouldBe ((3L, 3L, 2L, md5hex("g h z")))
    got(3) shouldBe ((4L, 3L, 0L, md5hex("unique tokens only")))
    // overlapping occurrences (pos 0-1 and 2-3) mask the whole doc
    got(4) shouldBe ((5L, 0L, 4L, md5hex("")))
  }

  test("dupSpans merges overlapping cross-doc windows into maximal spans") {
    import graft.operators.Dedup
    // docs 1 and 2 share tokens 1..4 ("a b c d") → with k=3, windows at
    // pos 1 ("a b c") and pos 2 ("b c d") are cross-doc dups; they
    // overlap, so each doc reports ONE span covering 4 tokens. Doc 3's
    // repeated "q q q" occurs only within doc 3 → not a dup. Doc 4 is
    // too short for any window.
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "p a b c d r"),
      (3L, "q q q q q"),
      (4L, "t u")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect()
    got(0) shouldBe ((1L, 1L, 4L, 7L, 0.5714))
    got(1) shouldBe ((2L, 1L, 4L, 6L, 0.6667))
    got(2) shouldBe ((3L, 0L, 0L, 5L, 0.0))
    got(3) shouldBe ((4L, 0L, 0L, 2L, 0.0))
  }

  test("cutDupSpans keeps the lowest-id copy and cuts every other") {
    import graft.operators.Dedup
    // k=3: docs 1,2 share windows "a b c" and "b c d"; doc 1 is the
    // keeper (min id) so it cuts nothing; doc 2 cuts the union of its
    // dup windows (0-based positions 1..4), keeping "p r". Doc 3's
    // repeats are within-doc only → untouched.
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "p a b c d r"),
      (3L, "q q q q q")
    ).toDF("doc_id", "text")
    val got = Dedup.cutDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    got(0) shouldBe ((1L, 7L, 0L, md5hex("a b c d x y z")))
    got(1) shouldBe ((2L, 2L, 4L, md5hex("p r")))
    got(2) shouldBe ((3L, 5L, 0L, md5hex("q q q q q")))
  }

  test("dupSpans separates non-contiguous duplicated regions into distinct spans") {
    import graft.operators.Dedup
    // "a b c" (pos 1) and "x y z" (pos 7) both duplicated across docs,
    // with 3 non-duplicated tokens between → two spans of 3 tokens each
    val docs = Seq(
      (1L, "a b c m1 m2 m3 x y z"),
      (2L, "a b c n1 n2 n3 x y z")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect()
    got.map(_._2) shouldBe Array(2L, 2L)   // two spans per doc
    got.map(_._3) shouldBe Array(6L, 6L)   // 3 + 3 covered tokens
  }

  test("dupSpansRolling equals dupSpans bit-for-bit (incl. randomized corpus)") {
    import graft.operators.Dedup
    // The rolling-candidate + exact-verify construction is an internal
    // rewrite; its output contract is "dupSpans at this k". Fixture
    // corpus plus a randomized one with planted shared substrings,
    // short docs, within-doc repeats, and a null text.
    val fixed = Seq(
      (1L, "a b c d x y z"),
      (2L, "p a b c d r"),
      (3L, "q q q q q"),
      (4L, "t u")
    ).toDF("doc_id", "text")
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 40).map(i => s"w$i")
    val planted = Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rndDocs = (10L until 40L).map { i =>
      val body = Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 3 == 0) (body.take(5) :+ planted) ++ body.drop(5) mkString " "
        else body.mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
      .unionByName(Seq((99L, Option.empty[String])).toDF("doc_id", "text"))
    for ((docs, k) <- Seq((fixed, 3), (rndDocs, 4), (rndDocs, 8))) {
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect().toSeq
      withClue(s"k=$k: ") {
        rows(Dedup.dupSpansRolling(docs, "doc_id", "text", k)) shouldBe
          rows(Dedup.dupSpans(docs, "doc_id", "text", k))
      }
    }
    // the planted 8-token substring is actually detected at k=8
    val det = Dedup.dupSpansRolling(rndDocs, "doc_id", "text", 8)
    det.filter(col("n_spans") > 0).count() should be >= 2L
  }

  test("cutDupSpansRolling equals cutDupSpans bit-for-bit") {
    import graft.operators.Dedup
    val fixed = Seq(
      (1L, "a b c d x y z"),
      (2L, "p a b c d r"),
      (3L, "q q q q q")
    ).toDF("doc_id", "text")
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 40).map(i => s"w$i")
    val planted = Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rndDocs = (10L until 40L).map { i =>
      val body = Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 3 == 0) (body.take(5) :+ planted) ++ body.drop(5) mkString " "
        else body.mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
      .unionByName(Seq((99L, Option.empty[String])).toDF("doc_id", "text"))
    for ((docs, k) <- Seq((fixed, 3), (rndDocs, 4), (rndDocs, 8))) {
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
      withClue(s"k=$k: ") {
        rows(Dedup.cutDupSpansRolling(docs, "doc_id", "text", k)) shouldBe
          rows(Dedup.cutDupSpans(docs, "doc_id", "text", k))
      }
    }
  }

  test("dupSpansRollingAgainst flags only cross-corpus overlap, in every train copy") {
    import graft.operators.Dedup
    val k = 3
    // "a b c" is benchmark text present in train docs 1 AND 2 (both must
    // flag — no keeper in decontamination); "m n o" is duplicated
    // within train only (docs 3+31: NOT contamination); doc 4 is clean;
    // the null-text doc drops.
    val train = Seq(
      (1L, "a b c x1 x2 x3"),
      (2L, "y1 a b c y2 y3"),
      (3L, "m n o z1 z2 z3"),
      (31L, "w1 w2 m n o w3"),
      (4L, "u1 u2 u3 u4 u5 u6")
    ).toDF("doc_id", "text")
      .unionByName(Seq((99L, Option.empty[String])).toDF("doc_id", "text"))
    val ref = Seq((100L, "h1 a b c h2")).toDF("doc_id", "text")
    val got = Dedup.dupSpansRollingAgainst(train, ref, "doc_id", "text", k)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect()
    got.map(_._1) shouldBe Array(1L, 2L, 3L, 4L, 31L)
    got.map(_._2) shouldBe Array(1L, 1L, 0L, 0L, 0L)      // spans
    got.map(_._3) shouldBe Array(3L, 3L, 0L, 0L, 0L)      // covered tokens
  }

  test("dupSpansRollingAgainst matches an independent naive cross computation (randomized)") {
    import graft.operators.Dedup
    val k = 4
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 30).map(i => s"w$i")
    val planted = Seq.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val train = (10L until 40L).map { i =>
      val body = Seq.fill(15 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 4 == 0) (body.take(3) :+ planted) ++ body.drop(3) mkString " "
        else body.mkString(" ")
      (i, text)
    }
    val refTexts = Seq(
      s"r1 r2 $planted r3",
      Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // independent implementation: set of ref windows, scan train
    // positions, merge islands with the pos <= prev + k rule
    val refSet = refTexts.flatMap(_.split(" ").sliding(k).filter(_.size == k)
      .map(_.mkString(" "))).toSet
    val expected = train.map { case (id, text) =>
      val toks = text.split(" ")
      val hits = toks.sliding(k).zipWithIndex
        .collect { case (w, i) if w.size == k && refSet(w.mkString(" ")) => i + 1 }
        .toSeq
      var spans = 0L; var covered = 0L
      var start = -1; var end = -1
      (hits :+ Int.MaxValue).foreach { p =>
        if (start < 0) { start = p; end = p }
        else if (p <= end + k) end = p
        else {
          spans += 1; covered += end + k - 1 - start + 1
          start = p; end = p
        }
      }
      if (hits.nonEmpty) (id, spans, covered, toks.length.toLong)
      else (id, 0L, 0L, toks.length.toLong)
    }.sortBy(_._1)
    val got = Dedup.dupSpansRollingAgainst(
      train.toDF("doc_id", "text"),
      refTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"),
      "doc_id", "text", k)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSeq
    got shouldBe expected
  }

  test("cutDupSpansRollingAgainst cuts every train copy — no keeper") {
    import graft.operators.Dedup
    val k = 3
    val train = Seq(
      (1L, "a b c x1 x2 x3"),
      (2L, "y1 a b c y2 y3"),
      (3L, "m n o z1 z2 z3")
    ).toDF("doc_id", "text")
    val ref = Seq((100L, "h1 a b c h2")).toDF("doc_id", "text")
    val got = Dedup.cutDupSpansRollingAgainst(train, ref, "doc_id", "text", k)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // contamination cuts BOTH copies (contrast cutDupSpansRolling's
    // keep-first, where doc 1 would keep its occurrence)
    got(0) shouldBe ((1L, 3L, 3L, md5hex("x1 x2 x3")))
    got(1) shouldBe ((2L, 3L, 3L, md5hex("y1 y2 y3")))
    got(2) shouldBe ((3L, 6L, 0L, md5hex("m n o z1 z2 z3")))
  }

  test("hybridRerank: cosine reorders the lexical shortlist, shortlist bounds membership") {
    import graft.operators.Similarity
    // doc 1 outranks doc 2 lexically but is orthogonal to the query;
    // doc 3 is perfectly aligned yet OUTSIDE the shortlist — semantic
    // score must never resurrect a lexically-filtered doc
    val short = Seq((1L, 900L), (2L, 800L)).toDF("doc_id", "score_micro")
    val corpus = Seq(
      (1L, Array(0f, 1f, 0f)),
      (2L, Array(1f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val qs = Seq((100L, Array(2f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.hybridRerank(short, "doc_id", "score_micro",
      corpus, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
      .orderBy(col("cos_sim").desc, col("doc_id"))
      .as[(Long, Long, Long, Double)].collect()
    got.map(_._2) shouldBe Array(2L, 1L)          // semantic order, not lexical
    got.map(_._3) shouldBe Array(800L, 900L)      // lexical score rides along
    got.map(_._4) shouldBe Array(1.0, 0.0)
    got.map(_._1).distinct shouldBe Array(100L)
  }

  test("hybridRrfTopK: fusion reorders against BOTH single-signal rankings") {
    import graft.operators.Similarity
    // lexical order: 1,2,3,4 — semantic order: 3,4,2,1. RRF(c=60) sums
    // floor(1e6/(60+r)) addends (16393/16129/15873/15625 for r=1..4):
    //   d1: 16393+15625=32018  d2: 16129+15873=32002
    //   d3: 15873+16393=32266  d4: 15625+16129=31754
    // fused order 3,1,2,4 differs from lexical AND semantic.
    val short = Seq((1L, 900L), (2L, 800L), (3L, 700L), (4L, 600L))
      .toDF("doc_id", "score_micro")
    val corpus = Seq(
      (1L, Array(0f, 1f)), (2L, Array(1f, 1f)),
      (3L, Array(1f, 0f)), (4L, Array(2f, 0.5f))
    ).toDF("vec_id", "embedding")
    val qs = Seq((100L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.hybridRrfTopK(short, "doc_id", "score_micro",
      corpus, "vec_id", "embedding", qs, "vec_id", "embedding", 10)
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .select("doc_id", "r_lex", "r_sem", "rrf_micro")
      .as[(Long, Long, Long, Long)].collect()
    got.map(_._1) shouldBe Array(3L, 1L, 2L, 4L) // neither input order
    got.map(_._1) should not be Array(1L, 2L, 3L, 4L) // lexical
    got.map(_._1) should not be Array(3L, 4L, 2L, 1L) // semantic
    got.map(_._4) shouldBe Array(32266L, 32018L, 32002L, 31754L)
    // ranks are dense 1..N under each signal
    got.map(_._2).sorted shouldBe Array(1L, 2L, 3L, 4L)
    got.map(_._3).sorted shouldBe Array(1L, 2L, 3L, 4L)
    // k bounds the fused output per query
    Similarity.hybridRrfTopK(short, "doc_id", "score_micro",
      corpus, "vec_id", "embedding", qs, "vec_id", "embedding", 2)
      .count() shouldBe 2L
  }

  test("stored substring-screen artifact probes bit-equal to the inline screen") {
    import graft.operators.Dedup
    val k = 4
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 30).map(i => s"w$i")
    val planted = Seq.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val train = (10L until 40L).map { i =>
      val body = Seq.fill(15 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 4 == 0) (body.take(3) :+ planted) ++ body.drop(3) mkString " "
        else body.mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val ref = Seq(
      (100L, s"r1 r2 $planted r3"),
      (101L, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ss_art").toString
    Dedup.writeSubstringScreenArtifact(spark, ref, "text", k, dir)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect().toSeq
    def probe() = Dedup.dupSpansRollingAgainstStored(spark, dir, train, "doc_id", "text")
    val stored = rows(probe())
    stored shouldBe rows(Dedup.dupSpansRollingAgainst(train, ref, "doc_id", "text", k))
    // above the size gate (the digest sets × 48 B exceed 256 B) the
    // probe drops the row-local bloom nomination for the shuffle-join
    // screen (its collect_list regroup) — same rows
    withBroadcastThreshold("256") {
      val above = probe()
      above.queryExecution.optimizedPlan.toString should include("collect_list")
      rows(above) shouldBe stored
    }
    probe().queryExecution.optimizedPlan.toString should not include "collect_list"
    stored.count(_._2 > 0) should be >= 2 // planted contamination detected
    // the artifact ships hashes only — no benchmark text anywhere in it
    spark.read.parquet(s"$dir/exact").columns shouldBe Array("_h")
    spark.read.parquet(s"$dir/roll").columns shouldBe Array("_d")
  }

  test("cdcChunks reassembles losslessly and localizes edits to one boundary region") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    val baseToks = Seq.fill(120)(vocab(rnd.nextInt(vocab.size)))
    val edited = (baseToks.take(60) :+ "INSERTED") ++ baseToks.drop(60)
    val docs = Seq((1L, baseToks.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.cdcChunks(docs, "doc_id", "text", 8)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, Long, String)].collect()
    val byDoc = chunks.groupBy(_._1)
    // lossless: chunk token counts sum to the doc's token count
    byDoc(1L).map(_._3).sum shouldBe 120L
    byDoc(2L).map(_._3).sum shouldBe 121L
    // edit locality: the digest MULTISETS differ in at most 2 chunks
    // (the edited chunk, plus its neighbor if the insert created or
    // destroyed a boundary) — fixed windows would shift every chunk
    // after the edit
    val d1 = byDoc(1L).map(_._4).groupBy(identity).view.mapValues(_.size).toMap
    val d2 = byDoc(2L).map(_._4).groupBy(identity).view.mapValues(_.size).toMap
    val onlyIn1 = d1.map { case (d, c) => d -> (c - d2.getOrElse(d, 0)) }.values.filter(_ > 0).sum
    val onlyIn2 = d2.map { case (d, c) => d -> (c - d1.getOrElse(d, 0)) }.values.filter(_ > 0).sum
    onlyIn1 should be <= 2
    onlyIn2 should be <= 2
    // and the shared chunks dominate
    byDoc(1L).length - onlyIn1 should be >= byDoc(1L).length - 2
  }

  test("dedupCdcChunks keep-first equals a brute-force reference rebuild") {
    import graft.operators.TextAnalysis
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val m = 8
    val rnd = new scala.util.Random(19)
    val vocab = (0 until 25).map(i => s"w$i")
    // every third doc embeds a verbatim 30-token shared block
    val shared = Seq.fill(30)(vocab(rnd.nextInt(vocab.size)))
    val docs = (1L to 12L).map { id =>
      val own = Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      val toks = if (id % 3 == 0) own.take(10) ++ shared ++ own.drop(10) else own
      (id, toks.mkString(" "))
    }
    def chunksOf(text: String): Seq[String] = {
      val out = scala.collection.mutable.Buffer[Seq[String]]()
      var cur = scala.collection.mutable.Buffer[String]()
      text.split(" ", -1).foreach { t =>
        cur += t
        if (h32(t) % m == 0) { out += cur.toSeq; cur = scala.collection.mutable.Buffer[String]() }
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.map(_.mkString(" ")).toSeq
    }
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, text) =>
      val cs = chunksOf(text)
      val kept = cs.filter { c =>
        val d = md5hex(c); if (seen(d)) false else { seen += d; true }
      }
      (id, cs.size.toLong, (cs.size - kept.size).toLong,
        kept.map(_.split(" ", -1).length.toLong).sum, md5hex(kept.mkString(" ")))
    }
    val got = TextAnalysis.dedupCdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text", m)
      .orderBy("doc_id").as[(Long, Long, Long, Long, String)].collect().toSeq
    got shouldBe expected
    got.map(_._3).sum should be > 0L // the shared blocks actually deduped
  }

  test("bpe pairStats, trainMerges, and countBpeTokens agree with hand-computed BPE") {
    import graft.operators.Bpe
    // corpus: "abab" ×3 docs of 2 words, "cd" ×2 — pair (a,b) count =
    // 2 occurrences/word × 6 words = 12, (b,a) = 6, (c,d) = 2
    val docs = Seq((1L, "abab abab"), (2L, "abab abab"), (3L, "abab abab"),
      (4L, "cd cd")).toDF("doc_id", "text")
    val m = Bpe.pairStats(docs, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    m(("a", "b")) shouldBe 12L
    m(("b", "a")) shouldBe 6L
    m(("c", "d")) shouldBe 2L
    // training: merge 1 = (a,b); then "abab" = [ab, ab] so merge 2 =
    // (ab, ab); then merge 3 = (c,d) with count 2
    val merges = Bpe.trainMerges(docs, "text", nMerges = 5)
    merges.take(3) shouldBe Seq(("a", "b"), ("ab", "ab"), ("c", "d"))
    merges.length shouldBe 3 // nothing left with count >= 2
    // encoding: full table collapses "abab" to one symbol, "cd" to one
    val rank = merges.zipWithIndex.toMap
    Bpe.encodeWord("abab", rank) shouldBe Vector("abab")
    Bpe.encodeWord("cd", rank) shouldBe Vector("cd")
    Bpe.encodeWord("ababx", rank) shouldBe Vector("abab", "x")
    // concatenation invariant on arbitrary words
    Bpe.encodeWord("xyzzy", rank).mkString shouldBe "xyzzy"
    val counts = Bpe.countBpeTokens(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    counts shouldBe Array((1L, 2L, 2L), (2L, 2L, 2L), (3L, 2L, 2L), (4L, 2L, 2L))
    // fewer merges -> more tokens, monotone
    val counts1 = Bpe.countBpeTokens(docs, "doc_id", "text", merges.take(1))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    counts1.head shouldBe ((1L, 2L, 4L)) // [ab,ab] per word
  }

  test("tagTopics routes docs to every matching tag in sorted order; stateless on streams") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "join the window now"),       // relational + analytics
      (2L, "nothing matches here"),      // no tags
      (3L, "stream vector join agg")     // 4 tags: all rules hit
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tagTopics(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    got shouldBe Array(
      (1L, "analytics,relational", 2L),
      (2L, "", 0L),
      (3L, "analytics,relational,retrieval,streaming", 4L))
    // map-only: no exchange anywhere in the plan
    val plan = TextAnalysis.tagTopics(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("stats snapshot segment-fold equals full recompute; appends validated") {
    import graft.operators.CorpusStats
    val rnd = new scala.util.Random(23)
    val docs = (1L to 90L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(10))(s"w${rnd.nextInt(20)}").mkString(" "),
        s"s${id % 4}")
    }
    val df = docs.toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("cstats").toString
    CorpusStats.writeStatsSnapshot(spark,
      df.filter(col("doc_id") <= 30), "doc_id", "text", "source", dir)
    CorpusStats.appendToStatsSnapshot(spark, dir,
      df.filter(col("doc_id") > 30 && col("doc_id") <= 55), "doc_id", "text", "source")
    CorpusStats.appendToStatsSnapshot(spark, dir,
      df.filter(col("doc_id") > 55), "doc_id", "text", "source")
    val got = CorpusStats.readStatsSnapshot(spark, dir)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val F = org.apache.spark.sql.functions
    val full = df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(F.size(F.split(col("text"), " "))).cast("long").as("n_tokens"),
        sum(F.length(col("text"))).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc_id"), max(col("doc_id")).as("max_doc_id"),
        (sum(F.size(F.split(col("text"), " "))).cast("double") /
          count(lit(1)).cast("double")).as("avg_doc_tokens"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    got shouldBe full
    // re-appending already-counted rows is refused (double counting)
    an[IllegalArgumentException] should be thrownBy
      CorpusStats.appendToStatsSnapshot(spark, dir,
        df.filter(col("doc_id") <= 5), "doc_id", "text", "source")
  }

  test("interleaveByTokens stride-schedules sources proportionally to token mass") {
    import graft.operators.Sampling
    // source A: 4 docs × 10 tokens (mass 40); source B: 2 docs × 10 (mass 20)
    val docs = ((1L to 4L).map(i => (i, "A", Seq.fill(10)("w").mkString(" "))) ++
      (5L to 6L).map(i => (i, "B", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val got = Sampling.interleaveByTokens(docs, "source", "doc_id", "text")
      .orderBy("pos_key", "source", "doc_id")
      .as[(Long, String, Long, Long)].collect()
    // keys: A docs at k·1e9/40, B docs at k·1e9/20
    got.map(r => (r._1, r._4)).toMap shouldBe Map(
      1L -> 25000000L, 2L -> 50000000L, 3L -> 75000000L, 4L -> 100000000L,
      5L -> 50000000L, 6L -> 100000000L)
    // read order interleaves B inside A at the 2:1 token ratio
    got.map(_._1).toSeq shouldBe Seq(1L, 2L, 5L, 3L, 4L, 6L)
  }

  test("adaptiveQualityFilter keeps each source's top quality quartile by integer rank") {
    import graft.operators.{Sampling, TextAnalysis}
    val rnd = new scala.util.Random(31)
    val docs = (1L to 40L).map { id =>
      val n = 3 + rnd.nextInt(60)
      (id, s"s${id % 2}", Seq.fill(n)(s"w${rnd.nextInt(25)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "source", "text")
    val got = Sampling.adaptiveQualityFilter(df, "source", "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Double, Long, Long)].collect()
    // brute force from the engine's own scores (portability of the
    // score itself is q27/q125's oracle concern)
    val scores = df.select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, String, Double)].collect()
    val expected = scores.groupBy(_._2).toSeq.flatMap { case (_, grp) =>
      val ranked = grp.sortBy(r => (r._3, r._1)).zipWithIndex
      val n = grp.length
      ranked.collect { case ((id, _, _), i) if 4 * i >= 3 * (n - 1) => id }
    }.toSet
    got.map(_._1).toSet shouldBe expected
    got.length should be < 40 // it actually filters
    // every survivor's rank satisfies the rule
    got.foreach { case (_, _, _, r, n) => (4 * (r - 1)) should be >= (3 * (n - 1)) }
  }

  test("fused native qualityScore is bit-identical to the three-pass composition") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(37)
    val vocab = (0 until 30).map(i => s"w$i") ++ TextAnalysis.stopwords("en")
    val docs: Seq[(Long, String)] = (1L to 120L).map { id =>
      (id, Seq.fill(1 + rnd.nextInt(140))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (200L, ""),                         // one empty token
      (201L, "  the  a "),                // empty tokens + stopwords
      (202L, "the the the the"),          // stopword-only, repeated
      (203L, "z"), (204L, null))          // single token; null text
    val pairs = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("fused"),
        TextAnalysis.qualityScoreComposed(col("text")).as("composed"))
      .as[(Long, Option[Double], Option[Double])].collect()
    pairs.foreach { case (id, f, c) => withClue(s"doc=$id") { f shouldBe c } }
  }

  test("stored decontamination artifact screens identically to the inline path") {
    import graft.operators.Decontaminate
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 40).map(i => s"w$i")
    val leak = "l1 l2 l3 l4 l5 l6" // shared phrase: contaminates %3==0 docs
    val docs = (1L to 60L).map { id =>
      val base = Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val toks = if (id % 3 == 0) base :+ leak else base
      (id, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val test5 = df.filter(col("doc_id") % 7 === 0)
    val corpus = df.filter(col("doc_id") % 7 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("decart").toString
    Decontaminate.writeDecontamArtifact(spark, test5, "text", 5, dir)
    val stored = Decontaminate.cleanWithStoredArtifact(spark, dir, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val inline = Decontaminate.clean(corpus, "doc_id", "text", test5, "text", 5)
      .select("doc_id").as[Long].collect().sorted
    stored shouldBe inline
    inline.length should be < corpus.count().toInt // something was screened
  }

  test("dsirWeights scores target-vocabulary docs above raw-vocabulary docs") {
    import graft.operators.Importance
    // target docs use t-words, the rest use r-words; a fresh doc built
    // from t-words must outscore one built from r-words, and scores are
    // exact micro-unit sums (additive in tokens)
    val docs = (
      (1L to 20L).map(i => (i, Seq.fill(8)(s"t${i % 5}").mkString(" "), true)) ++
      (21L to 40L).map(i => (i, Seq.fill(8)(s"r${i % 7}").mkString(" "), false)) ++
      Seq((41L, "t0 t1 t2 t3", false), (42L, "r0 r1 r2 r3", false))
    ).toDF("doc_id", "text", "is_target")
    val got = Importance.dsirWeights(docs, "doc_id", "text", col("is_target"), 32)
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    got(41L) should be > got(42L)
    // additivity: doubling a doc's tokens doubles its micro score
    val d2 = Seq((1L, "t0 t1"), (2L, "t0 t1 t0 t1")).toDF("doc_id", "text")
    val w = Importance.dsirWeights(
      docs.select("doc_id", "text", "is_target").unionByName(
        d2.withColumn("is_target", lit(false)).withColumn("doc_id", col("doc_id") + 100)),
      "doc_id", "text", col("is_target"), 32)
      .select("doc_id", "dsir_score").as[(Long, Double)].collect().toMap
    math.abs(w(102L) - 2 * w(101L)) should be < 1e-9
  }

  test("bigramXent ranks target-like word order below scrambled/rare text") {
    import graft.operators.Importance
    // the target subset repeats the transition a→b→c→d; a doc following
    // that transition structure must score LOWER cross-entropy than one
    // built from pairs the model never saw
    val docs = (
      (1L to 20L).map(i => (i, "a b c d a b c d a b c d", true)) ++
      Seq(
        (41L, "a b c d a b c d", false),   // in-model transitions
        (42L, "zz qq ww ee rr tt", false)  // unseen vocab/transitions
      )
    ).toDF("doc_id", "text", "is_target")
    val got = Importance.bigramXent(docs, "doc_id", "text", col("is_target"), 32)
      .select("doc_id", "bigram_xent").as[(Long, Double)].collect().toMap
    got(41L) should be < got(42L)
    // short docs (< 2 tokens) are excluded — no bigrams to score
    val one = Seq((1L, "solo", false)).toDF("doc_id", "text", "is_target")
    Importance.bigramXent(
      docs.unionByName(one.withColumn("doc_id", col("doc_id") + 200)),
      "doc_id", "text", col("is_target"), 32)
      .filter(col("doc_id") === 201L).count() shouldBe 0L
  }

  test("semanticScreen flags same-bucket pairs over threshold; bucket bound documented") {
    import graft.operators.Decontaminate
    // 4-dim vectors; nBits=2 buckets on the sign of the first 2 dims.
    // test vec t0 = (+,+,...); train:
    //  a: same bucket, cosine ~1      -> flagged (the paraphrase case)
    //  b: same bucket, low cosine     -> not flagged (verifier rejects)
    //  c: DIFFERENT bucket, cosine .9 -> missed by design (recall bound)
    val test = Seq((0L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Array(0.9f, 1.1f, 0.1f, 0f)),   // a
      (11L, Array(0.1f, 0.1f, -5f, 5f)),    // b: same signs on dims 1-2
      (12L, Array(1f, -0.001f, 0f, 0f)))    // c: dim-2 sign flips bucket
      .toDF("vec_id", "embedding")
    val out = Decontaminate.semanticScreen(
      train, "vec_id", "embedding", test, "vec_id", "embedding",
      threshold = 0.6, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((0L, 10L))
    // the missed cross-bucket pair really does clear the threshold —
    // pins that the miss is the declared generator bound, not the verifier
    val exact = graft.operators.Similarity.cosine(
      lit(Array(1.0, 1.0, 0.0, 0.0)), lit(Array(1.0, -0.001, 0.0, 0.0)))
    spark.range(1).select(exact).head.getDouble(0) should be > 0.6
  }

  test("semanticScreenAuto equals the fixed-width screen at the matched width") {
    import graft.operators.{Decontaminate, Similarity}
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val train = (0 until 120).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val test = (200 until 215).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    val nb = Similarity.autoSignBits(train, "embedding", targetBucket = 16)
    nb shouldBe 3 // ceil(120/16)=8 -> 3 bits; pins the width the twin ran at
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("test_id", "train_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    rows(Decontaminate.semanticScreenAuto(
      train, "vec_id", "embedding", test, "vec_id", "embedding", 0.3, 16)) shouldBe
      rows(Decontaminate.semanticScreen(
        train, "vec_id", "embedding", test, "vec_id", "embedding", 0.3, nb))
  }

  test("q172 packs from the MATERIALIZED decision artifact — provably no gate re-screen") {
    // the production stage boundary (round-13 verdict item 5): q170
    // recomputes the whole q169 gate inline (the declared
    // composition); q172 materializes the decisions once and the pack
    // side must only READ them. The pack stage checkpoints its
    // tokenized input (the two-pass layout), so a plan-string pin
    // can't see the parquet scan — instead this proves the boundary
    // BEHAVIORALLY: with the decisions materialized, the gate's screen
    // artifacts are DELETED outright, and q172 must still produce
    // q170's exact output without recreating them. A cosmetic boundary
    // (any re-screen) would either fail on the missing artifacts or
    // rebuild them.
    val dir = "/root/testdata/sf0.001"
    val b = graft.SparkEntry.queries("q170_gate_then_pack")(spark, dir)
      .collect().toSeq
    // materialize the decision artifact once (cold path)
    graft.SparkEntry.queries("q172_gate_pack_stored")(spark, dir).count()
    val hex = java.lang.Integer.toHexString(dir.hashCode)
    val tmp = System.getProperty("java.io.tmpdir")
    val gateArtifacts = Seq(s"$tmp/graft_q169_media_$hex", s"$tmp/graft_q169_ss_$hex")
    gateArtifacts.foreach { d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    }
    System.setProperty("graft.bench.reuseArtifacts", "true")
    try {
      val a = graft.SparkEntry.queries("q172_gate_pack_stored")(spark, dir)
        .collect().toSeq
      a shouldBe b
    } finally System.clearProperty("graft.bench.reuseArtifacts")
    // the pack never touched the gate's screens
    gateArtifacts.foreach(d => new java.io.File(d).exists() shouldBe false)
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Winnowing fingerprints (q140 family): parity with a from-scratch
  * single-doc reference implementation, the SIGMOD-2003 detection
  * guarantee, sampling density, and the common-fingerprint cut. */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3 // tokens per gram
  private val W = 4 // grams per window

  /** Independent reference: same md5-derived hash, explicit per-window
    * (min hash, leftmost) selection — no DataFrames involved. */
  private def referenceFingerprints(text: String): Set[Long] = {
    val toks = text.split(" ", -1)
    if (toks.length < K) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = toks.sliding(K).map { g =>
      val hex = md.digest(g.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }.toArray
    val g = hashes.length
    val starts = if (g < W) Seq(0) else 0 to (g - W)
    starts.map { s =>
      (s until math.min(s + W, g)).map(j => (hashes(j), j)).min._1
    }.toSet
  }

  private val rnd = new scala.util.Random(97)
  private def randTokens(n: Int): Seq[String] =
    Seq.fill(n)(s"t${rnd.nextInt(200)}")

  test("winnowFingerprints matches the reference implementation per document") {
    val docs = ((1 to 60).map(i => (i.toLong, randTokens(5 + rnd.nextInt(60)).mkString(" "))) :+
      (98L, "a b") :+ // shorter than a gram: no fingerprints
      (99L, "a b c d")) // 2 grams < W: one clipped window
      .toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, "doc_id", "text", K, W)
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      got.getOrElse(id, Set.empty) shouldBe referenceFingerprints(text)
    }
  }

  test("native winnow fingerprints equal the composed form bit-for-bit, order included") {
    val docs = ((1 to 80).map(i => (i.toLong, randTokens(rnd.nextInt(80)).mkString(" "))) :+
      (96L, "") :+ (97L, "a") :+ (98L, "a b") :+ (99L, "a b c d") :+
      (100L, "r r r r r r r r r")) // repeated token: equal gram hashes, tie → leftmost
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((K, W), (2, 2), (5, 8))) {
      val diff = docs.select(
          Dedup.winnowFingerprintArray(col("text"), k, w).as("native"),
          Dedup.winnowFingerprintArrayComposed(col("text"), k, w).as("composed"))
        .filter(!(col("native") <=> col("composed")))
      withClue(s"k=$k w=$w: ") { diff.count() shouldBe 0L }
    }
  }

  test("native gram hashes equal the shinglesOf + md5Hash32 composition") {
    val docs = ((1 to 60).map(i => (i.toLong, randTokens(rnd.nextInt(50)).mkString(" "))) :+
      (97L, "") :+ (98L, "a") :+ (99L, "x  y   z")) // empty tokens from multi-space
      .toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5)) {
      val diff = docs.select(
          graft.functions.GramHash32Windows.of(split(col("text"), " "), n).as("native"),
          graft.functions.ArrayOps.bind(split(col("text"), " ")) { toks =>
            transform(Dedup.shinglesOf(toks, n),
              g => graft.functions.PortableHash.md5Hash32(g))
          }.as("composed"))
        .filter(!(col("native") <=> col("composed")))
      withClue(s"n=$n: ") { diff.count() shouldBe 0L }
    }
  }

  test("a shared run of w+k-1 tokens guarantees a shared fingerprint") {
    // 40 doc pairs, each sharing exactly one (w+k-1)-token run at a
    // random offset inside otherwise-disjoint token streams
    val docs = (0 until 40).flatMap { p =>
      val run = (0 until W + K - 1).map(j => s"run${p}_$j")
      def host(side: String) = {
        val filler = (0 until 30).map(j => s"f$side${p}_$j")
        val at = rnd.nextInt(filler.size + 1)
        (filler.take(at) ++ run ++ filler.drop(at)).mkString(" ")
      }
      Seq((p * 2L, host("a")), (p * 2L + 1, host("b")))
    }.toDF("doc_id", "text")
    val pairs = Dedup.winnowedDupPairs(docs, "doc_id", "text", K, W,
        maxDf = Int.MaxValue, minShared = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    (0 until 40).foreach { p =>
      pairs should contain((p * 2L, p * 2L + 1))
    }
  }

  test("fingerprint density is bounded: every selection covers at most w windows") {
    val docs = (1 to 30).map(i => (i.toLong, randTokens(80).mkString(" ")))
      .toDF("doc_id", "text")
    val counts = Dedup.winnowFingerprints(docs, "doc_id", "text", K, W)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val nWindows = 80 - K + 1 - W + 1
    counts.values.foreach { n =>
      n should be >= (nWindows.toLong / W) // each pick is min of ≤ w windows
      n should be <= nWindows.toLong
    }
  }

  test("stored winnow index: build + append screens identically to in-flight recompute") {
    val corpus = (1 to 80).map(i => (i.toLong, randTokens(40).mkString(" ")))
      .toDF("doc_id", "text")
    // batch docs embed a copied span from a corpus doc inside new filler
    val copied = corpus.as[(Long, String)].collect().take(10).map {
      case (id, text) =>
        val span = text.split(" ").slice(5, 5 + W + K - 1).mkString(" ")
        (100 + id, s"n${id}a n${id}b $span n${id}c")
    }
    val batch = (copied.toSeq ++ (150 to 160).map(i => (i.toLong, randTokens(30).mkString(" "))))
      .toDF("doc_id", "text")
    val dir = tmpDir("winnow_idx")
    Dedup.writeWinnowIndex(spark,
      corpus.filter(col("doc_id") <= 40), "doc_id", "text", dir, K, W)
    Dedup.appendToWinnowIndex(spark,
      dir, corpus.filter(col("doc_id") > 40), "doc_id", "text")
    val screened = Dedup.screenWithWinnowIndex(
        spark, dir, batch, "doc_id", "text", maxDf = 50, minShared = 1)
      .orderBy("doc_id").collect()
    // every copied-span doc found its source (guarantee carries over)
    val hits = screened.filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 10).foreach { id => hits.get(100L + id) shouldBe Some(id.toLong) }
    // screen ≡ the same match computed from in-flight fingerprints
    val cfp: Map[Long, Seq[Long]] = Dedup.winnowFingerprints(corpus, "doc_id", "text", K, W)
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._2).map { case (fp, rows) => fp -> rows.map(_._1) }
    val bfp = Dedup.winnowFingerprints(batch, "doc_id", "text", K, W)
      .as[(Long, Long)].collect().toSeq
    val sharedCounts: Map[(Long, Long), Int] = bfp
      .flatMap { case (b, fp) =>
        cfp.getOrElse(fp, Seq.empty).filter(_ => cfp(fp).size <= 50).map(c => (b, c))
      }
      .groupBy(p => p).map { case (p, hits) => p -> hits.length }
    val expect: Map[Long, (Long, Int)] = sharedCounts.toSeq
      .groupBy(_._1._1)
      .map { case (b, m) =>
        b -> m.map { case ((_, c), n) => (c, n) }.maxBy { case (c, n) => (n, -c) }
      }
    screened.foreach { r =>
      expect.get(r.getLong(0)) match {
        case Some((c, n)) =>
          r.getLong(1) shouldBe c
          r.getLong(2) shouldBe n.toLong
        case None => r.isNullAt(1) shouldBe true
      }
    }
  }

  test("fingerprints above maxDf are cut before pairing") {
    // one long boilerplate run shared by ALL 10 docs + a rare run
    // shared by exactly two. (A fingerprint can still legitimately slip
    // under maxDf when boundary windows select it in only a few docs —
    // winnowing selection is context-dependent — so the contract to pin
    // is weakening, not disappearance, of the boilerplate pairs.)
    val boiler = (0 until 3 * (W + K)).map(j => s"b$j").mkString(" ")
    val rare = (0 until W + K - 1).map(j => s"r$j").mkString(" ")
    val docs = ((1 to 10).map(i => (i.toLong, s"$boiler u${i}x u${i}y u${i}z")) ++
      Seq((20L, s"$rare v20a v20b"), (21L, s"$rare v21a v21b")))
      .toDF("doc_id", "text")
    def pairs(maxDf: Int) = Dedup.winnowedDupPairs(
        docs, "doc_id", "text", K, W, maxDf, minShared = 1)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val uncut = pairs(Int.MaxValue)
    val cut = pairs(5)
    // rare pair survives the cut with its shared count intact
    cut.keySet should contain((20L, 21L))
    cut((20L, 21L)) shouldBe uncut((20L, 21L))
    // all 45 boilerplate pairs collide without the cut…
    val boilerPairs = for (i <- 1 to 10; j <- i + 1 to 10) yield (i.toLong, j.toLong)
    boilerPairs.foreach(p => uncut.keySet should contain(p))
    // …and the df>5 fingerprints (the shared-prefix selections, present
    // in all 10 docs) are gone from every surviving boilerplate pair
    boilerPairs.foreach { p =>
      cut.getOrElse(p, 0L) should be < uncut(p)
    }
  }
}

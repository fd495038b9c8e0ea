package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ModeAggSpec extends SparkSpec {
  import spark.implicits._

  test("mode picks most frequent value per group") {
    val df = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"),
      ("g2", "x"), ("g2", "y"), ("g2", "y")).toDF("k", "v")
    val got = ModeAgg.mode(df, Seq("k"), "v", "mode_v")
      .orderBy("k").as[(String, String)].collect()
    got shouldBe Array(("g1", "a"), ("g2", "y"))
  }

  test("count ties break to the lexically greatest value (reference semantics)") {
    val df = Seq(("g", "a"), ("g", "b"), ("g", "z"), ("g", "z"), ("g", "b")).toDF("k", "v")
    // b:2, z:2, a:1 → tie between b and z → z wins (max struct compares value second)
    ModeAgg.mode(df, Seq("k"), "v", "m").as[(String, String)].collect() shouldBe
      Array(("g", "z"))
  }

  test("mode equals brute force on random data") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((s"g${rnd.nextInt(5)}", s"v${rnd.nextInt(4)}"))
    val df = rows.toDF("k", "v")
    val expected = rows.groupBy(_._1).map { case (k, vs) =>
      val counts = vs.groupBy(_._2).view.mapValues(_.size).toMap
      // argmax by (count, value) — the reference's struct-max tie-break
      k -> counts.maxBy { case (v, c) => (c, v) }._1
    }
    val got = ModeAgg.mode(df, Seq("k"), "v", "m").as[(String, String)].collect().toMap
    got shouldBe expected
  }
}

class HourlyAggSpec extends SparkSpec {
  import spark.implicits._

  private val events = Seq(
    ("2024-01-01 10:05:00", 1.0),
    ("2024-01-01 10:55:00", 2.0),
    ("2024-01-01 11:10:00", 10.0),
    ("2024-01-02 10:00:00", 4.0)
  ).toDF("ts_s", "v").withColumn("ts", to_timestamp(col("ts_s")))

  test("hourlyStats groups by (date, hour) with count/avg/sum/min/max") {
    val got = HourlyAgg.hourlyStats(events, "ts", Seq("v")).orderBy("date", "hour")
      .select("date", "hour", "n", "avg_v", "sum_v", "min_v", "max_v")
      .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    got shouldBe Array(
      ("2024-01-01", 10L, 2L, 1.5, 3.0, 1.0, 2.0),
      ("2024-01-01", 11L, 1L, 10.0, 10.0, 10.0, 10.0),
      ("2024-01-02", 10L, 1L, 4.0, 4.0, 4.0, 4.0))
  }

  test("conditionalAvg filters nulls before averaging") {
    val df = Seq(("a", Some(2.0)), ("a", None), ("a", Some(4.0)), ("b", None))
      .toDF("k", "m")
    val got = HourlyAgg.conditionalAvg(df, Seq("k"), "m", "avg_m")
      .as[(String, Double)].collect().toMap
    got shouldBe Map("a" -> 3.0) // group b vanishes: all-null
  }

  test("avgOfAvgs is unweighted (reference batch_tomtom semantics)") {
    // fine groups: (c, f1) avg=1.0 over 3 rows; (c, f2) avg=5.0 over 1 row
    // weighted mean would be 2.0; avg-of-avgs must be 3.0
    val df = Seq(("c", "f1", 1.0), ("c", "f1", 1.0), ("c", "f1", 1.0), ("c", "f2", 5.0))
      .toDF("coarse", "fine", "m")
    val got = HourlyAgg.avgOfAvgs(df, Seq("fine"), Seq("coarse"), "m")
      .select("coarse", "n_groups", "avg_of_avg_m")
      .as[(String, Long, Double)].collect()
    got shouldBe Array(("c", 2L, 3.0))
  }
}

class RollingWindowSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Seq(0L, 1000L, 2000L, 3600L, 4000L, 8000L)
  private val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t, 1.0 * (i + 1)) }
    .toDF("id", "ts_unix", "v")

  private def expectedSum(windowSec: Long): Map[Long, Double] =
    ts.zipWithIndex.map { case (t, i) =>
      i.toLong -> ts.zipWithIndex
        .filter { case (u, _) => u >= t && u <= t + windowSec }
        .map { case (_, j) => 1.0 * (j + 1) }.sum
    }.toMap

  test("forwardGlobal sum matches per-row filtered sums") {
    val got = RollingWindow.forwardGlobal(df, "ts_unix", 3600L, ("sum", "v"))
      .select("id", "sum_v_3600s").as[(Long, Double)].collect().toMap
    got shouldBe expectedSum(3600L)
  }

  test("partitioned variant returns exactly the global result across bucket boundaries") {
    // the scale path (partitioned by time bucket + feed of the next
    // bucket's rows) must be result-identical to the global window;
    // bucketSeconds == frame length forces frames to span buckets
    val global = RollingWindow.forwardGlobal(df, "ts_unix", 3600L, ("sum", "v"))
      .select("id", "sum_v_3600s").as[(Long, Double)].collect().toMap
    val partitioned = RollingWindow
      .forwardPartitioned(df, "ts_unix", 3600L, "sum", "v", bucketSeconds = 3600L)
      .select("id", "sum_v_3600s").as[(Long, Double)].collect().toMap
    partitioned shouldBe global
  }
}

class OneHotSpec extends SparkSpec {
  import spark.implicits._

  test("encode emits per-class indicators plus residual") {
    val df = Seq("US", "DE", "XX", null).map(Tuple1(_)).toDF("cc")
    val got = OneHot.encode(df, "cc", Seq("US", "DE"), "cc")
      .select("cc_us", "cc_de", "cc_other")
      .as[(Long, Long, Long)].collect()
    got shouldBe Array((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (0L, 0L, 1L))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "en", "the quick brown fox"),
    (2L, "en", "the quick brown fox"), // exact dup of 1
    (3L, "en", "the quick brown wolf"), // near dup
    (4L, "de", "der schnelle braune fuchs")
  ).toDF("doc_id", "lang", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().sortBy(_._1)
    got shouldBe Array((1L, 2L), (3L, 1L), (4L, 1L))
  }

  test("native gram md5 equals md5(concat_ws(slice)) bit-for-bit, incl. tails") {
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 25).map(i => s"w$i") ++ Seq("déjà", "漢字", "")
    val docs = ((0L until 40L).map { i =>
      (i, Seq.fill(rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((90L, ""), (91L, "a"), (92L, "x  y   z"))).toDF("doc_id", "text")
    for (kk <- Seq(2, 5, 50)) {
      // probe every position from 1 past the end (empty-slice tail) so
      // the native expression's short-tail and empty-gram semantics are
      // pinned against the composition it replaces
      val got = docs.select(
          graft.functions.ArrayOps.bind(split(col("text"), " ")) { toks =>
            transform(sequence(lit(1), org.apache.spark.sql.functions.size(toks) + 2), p => struct(
              graft.functions.Md5HexGram.of(toks, p, kk).as("native"),
              md5(concat_ws(" ", slice(toks, p, lit(kk)))).as("composed")))
          }.as("pairs"))
        .select(explode(col("pairs")).as("p"))
        .filter(col("p.native") =!= col("p.composed"))
      withClue(s"k=$kk: ") { got.count() shouldBe 0L }
    }
  }

  test("native rolling window digests equal the composed form bit-for-bit") {
    // the native RollingHashWindows expression replaces an interpreted
    // O(n·k) HOF fold with an O(n) backward recurrence — same values by
    // construction; this pins it over random docs, short docs (< k
    // tokens → empty array), exact-k docs, repeated tokens, multi-space
    // (empty tokens), unicode, and a null text row
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 30).map(i => s"tok$i") ++ Seq("», déjà", "漢字")
    val cases = (0L until 60L).map { i =>
      val n = rnd.nextInt(80)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (100L, ""), (101L, "a"), (102L, "a b c d e"), (103L, "x  y   z"),
      (104L, "r r r r r r r r r r"))
    val df = cases.toDF("doc_id", "text")
      .unionByName(Seq((105L, Option.empty[String])).toDF("doc_id", "text"))
    for (k <- Seq(2, 5, 50)) {
      val got = df.filter(col("text").isNotNull).select(col("doc_id"),
          Dedup.rollingWindowDigests("text", k).as("native"),
          Dedup.rollingWindowDigestsComposed("text", k).as("composed"))
        .collect()
      got.foreach { r =>
        withClue(s"k=$k doc=${r.getLong(0)}: ") {
          r.getSeq[Long](1) shouldBe r.getSeq[Long](2)
        }
      }
    }
  }

  test("jaccardPairs finds the dup pairs within blocks above threshold") {
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    // (1,2): identical → 1.0; (1,3)/(2,3): 3 of 5 → 0.6; cross-lang pairs excluded
    got shouldBe Array((1L, 2L, 1.0), (1L, 3L, 0.6), (2L, 3L, 0.6))
  }

  test("editDistancePairs finds in-block typo pairs within maxDist, once each") {
    val titles = Seq(
      (1L, "en", "quick brown fox"),
      (2L, "en", "quick brown fax"),  // dist 1 to #1
      (3L, "en", "slow green trees"), // far from all
      (4L, "de", "quick brown fox")   // cross-block: excluded
    ).toDF("doc_id", "lang", "title")
    val got = Dedup.editDistancePairs(titles, "doc_id", "title", "lang", 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().sorted
    got shouldBe Array((1L, 2L, 1L))
  }

  test("property: lshVerifiedPairs is exact on its candidates (random corpora)") {
    // ScalaCheck isn't in the offline cache — fixed-seed manual gen.
    // LSH recall is probabilistic, but two properties are EXACT:
    // (1) every emitted pair's jaccard is the true set jaccard and
    //     clears the threshold;
    // (2) emitted pairs ⊆ candidate pairs (verification only filters).
    val rnd = new scala.util.Random(42L)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (trial <- 1 to 2) {
      val corpus = (1L to 40L).map { id =>
        val n = 3 + rnd.nextInt(6)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val got = Dedup.lshVerifiedPairs(df, "doc_id", "text", 16, 4, 0.5)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      val toks = corpus.map { case (id, t) => id -> t.split(" ").toSet }.toMap
      withClue(s"trial $trial: ") {
        got.foreach { case (a, b, j) =>
          val trueJ = toks(a).intersect(toks(b)).size.toDouble /
            toks(a).union(toks(b)).size
          j shouldBe (math.floor(trueJ * 10000 + 0.5) / 10000)
          j should be >= 0.5
        }
        val cands = Dedup.minhashCandidates(df, "doc_id", "text", 16, 4)
          .as[(Long, Long)].collect().toSet
        got.map(p => (p._1, p._2)).toSet.subsetOf(cands) shouldBe true
        // (3) COMPLETENESS on the candidate set — round-16 regression
        // guard for the size-ratio prefilter: every candidate whose
        // true rounded jaccard clears the threshold MUST be emitted
        // (an over-aggressive prune would silently drop borderline
        // size-ratio pairs). Checked at 0.5 and at the tight 0.95 the
        // prefilter was added for.
        for (t <- Seq(0.5, 0.95)) {
          val gotT =
            if (t == 0.5) got.map(p => (p._1, p._2)).toSet
            else Dedup.lshVerifiedPairs(df, "doc_id", "text", 16, 4, t)
              .select("id_a", "id_b").as[(Long, Long)].collect().toSet
          val expected = cands.filter { case (a, b) =>
            val j = toks(a).intersect(toks(b)).size.toDouble /
              toks(a).union(toks(b)).size
            math.floor(j * 10000 + 0.5) / 10000 >= t
          }
          withClue(s"trial $trial t=$t: ") { gotT shouldBe expected }
        }
      }
    }
  }

  test("jaccard threshold filter evaluates the intersection merge exactly once") {
    // Regression guard for the pushdown fence (SURVEY.md §9.4): without
    // it, Catalyst substitutes the jaccard alias through the projections
    // and into the join condition, re-deriving sorted_intersect_size 3×
    // per candidate pair.
    val plan = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)
      .queryExecution.optimizedPlan.toString
    "sorted_intersect_size".r.findAllIn(plan).length shouldBe 1
  }

  test("lshVerifiedPairs = candidates verified by exact jaccard") {
    def verified() = Dedup.lshVerifiedPairs(docs, "doc_id", "text", 16, 4, 0.5)
    val got = verified()
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    got should contain((1L, 2L, 1.0)) // exact dups always survive
    // broadcasting off: every build-side hint drops, the rows stay
    withBroadcastThreshold("-1") {
      val off = verified()
      off.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet shouldBe got
      off.queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
    }
    // every verified pair must also be a raw candidate
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", 16, 4)
      .as[(Long, Long)].collect().toSet
    got.map(p => (p._1, p._2)).subsetOf(cands) shouldBe true
  }

  test("containmentPairs flags a subset pair at full strength where jaccard dilutes") {
    // doc 2's token set ⊂ doc 1's: containment = 1.0 exactly, while
    // jaccard = 5/6 ≈ 0.83 — a 0.9-jaccard dedup pass misses the pair,
    // a 0.95-containment pass catches it. (Jaccard is high enough here
    // for the LSH bands to collide; the asymmetric-recall caveat for
    // tiny-in-huge pairs is documented on the operator.)
    val d = Seq(
      (1L, "q w e r t y"),
      (2L, "q w e r t"),
      (3L, "z x c v b n m")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", 16, 4, 0.95)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)].collect().toSet
    got should contain((1L, 2L, 1.0))
    // the same pair fails a symmetric-jaccard pass at 0.9
    val j = Dedup.lshVerifiedPairs(d, "doc_id", "text", 16, 4, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    j should not contain ((1L, 2L))
  }

  test("minhash candidates include exact duplicates and stay within corpus") {
    val got = Dedup.minhashCandidates(docs, "doc_id", "text", 16, 4)
      .as[(Long, Long)].collect().toSet
    got should contain((1L, 2L)) // identical docs share every band
    all(got.map(_._1)) should be < 4L
  }

  test("simhash of identical docs is identical, different docs differ") {
    val fp = Dedup.simhash(docs, "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    fp(1L) shouldBe fp(2L)
    fp(1L) should not be fp(4L)
  }

  test("keepBest survives the highest-score doc per digest group, ties to min id") {
    val d = Seq(
      (5L, "a a"), (6L, "a a"), // dup group: same score → keep 5
      (7L, "b b b"), (8L, "c")) // singletons
      .toDF("doc_id", "text")
    val got = Dedup.keepBest(d, "doc_id", "text",
      graft.operators.TextAnalysis.tokenCount(col("text")))
      .select("keep_id", "best_score", "dup_count")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    got shouldBe Array((5L, 2L, 2L), (7L, 3L, 1L), (8L, 1L, 1L))
  }

  test("simhashNearDupPairs == brute-force hamming filter (pigeonhole completeness)") {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 40).map(i => s"w$i")
    val corpus = (1L to 60L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(df, "doc_id", "text", bits = 16, maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val fp = Dedup.simhash(df, "doc_id", "text", 16).as[(Long, Long)].collect().toMap
    val expected = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    got shouldBe expected
  }

  test("incrementalNearDup == brute-force best corpus match per batch doc") {
    val rnd = new scala.util.Random(53)
    val vocab = (0 until 40).map(i => s"w$i")
    val all = (1L to 80L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = all.toDF("doc_id", "text")
    val (corpus, batch) = (df.filter(col("doc_id") <= 60), df.filter(col("doc_id") > 60))
    val got = Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
      bits = 16, maxHamming = 3, bandBits = 4)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    val fp = Dedup.simhash(df, "doc_id", "text", 16).as[(Long, Long)].collect().toMap
    val expected = (61L to 80L).map { b =>
      val hits = (1L to 60L)
        .map(c => (c, java.lang.Long.bitCount(fp(b) ^ fp(c)).toLong))
        .filter(_._2 <= 3L)
      if (hits.isEmpty) (b, None, None)
      else {
        val best = hits.minBy { case (c, h) => (h, c) }
        (b, Some(best._1), Some(best._2))
      }
    }.toSet
    got shouldBe expected
    // batch docs never screen against each other (within-batch dups are
    // a separate pass): a batch-only dup pair must both survive
    got.size shouldBe 20
  }

  test("stored simhash index screen == in-flight screen; appends validated") {
    val rnd = new scala.util.Random(59)
    val vocab = (0 until 40).map(i => s"w$i")
    def doc(id: Long) =
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = (1L to 80L).map(doc).toDF("doc_id", "text")
    val (corpus, batch) = (df.filter(col("doc_id") <= 60), df.filter(col("doc_id") > 60))
    val dir = java.nio.file.Files.createTempDirectory("simidx").toString
    Dedup.writeSimhashIndex(spark, corpus, "doc_id", "text", dir, bits = 16)
    val stored = Dedup.screenWithSimhashIndex(spark, dir, batch, "doc_id", "text",
      maxHamming = 3, bandBits = 4)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    val inflight = Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
      bits = 16, maxHamming = 3, bandBits = 4)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    stored shouldBe inflight
    // append a later batch, then screen a third: equals a full rebuild
    val batch2 = (81L to 100L).map(doc).toDF("doc_id", "text")
    Dedup.appendToSimhashIndex(spark, dir, batch2, "doc_id", "text")
    val batch3 = (101L to 110L).map(doc).toDF("doc_id", "text")
    val grown = Dedup.screenWithSimhashIndex(spark, dir, batch3, "doc_id", "text",
      maxHamming = 3, bandBits = 4)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    // rebuild corpus = indexed rows only (1..60 + the appended 81..100;
    // screened batches were never indexed)
    val rebuiltCorpus = Dedup.incrementalNearDup(
      df.filter(col("doc_id") <= 60).unionByName(batch2), batch3,
      "doc_id", "text", bits = 16, maxHamming = 3, bandBits = 4)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    grown shouldBe rebuiltCorpus
    // append-only id discipline: an overlapping batch is refused
    an[IllegalArgumentException] should be thrownBy
      Dedup.appendToSimhashIndex(spark, dir,
        (50L to 55L).map(doc).toDF("doc_id", "text"), "doc_id", "text")
  }

  test("stored minhash index screen == brute-force signature comparison; appends validated") {
    val rnd = new scala.util.Random(67)
    val vocab = (0 until 30).map(i => s"w$i")
    def doc(id: Long) =
      (id, Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // seed near-dups: clones of earlier docs with one token changed
    val base = (1L to 60L).map(doc)
    val clones = (61L to 70L).map { id =>
      val src = base((id % 20).toInt)._2.split(" ")
      (id, (src.init :+ "wX").mkString(" "))
    }
    val df = (base ++ clones).toDF("doc_id", "text")
    val (corpus, batch) = (df.filter(col("doc_id") <= 55), df.filter(col("doc_id") > 55))
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    Dedup.writeMinhashIndex(spark, corpus, "doc_id", "text", dir, k = 16, shingleN = 3)
    val stored = Dedup.screenWithMinhashIndex(spark, dir, batch, "doc_id", "text",
      bandSize = 4, minEstMilli = 500L)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    // brute force: exact banded-candidate + agreement-estimate semantics
    val sig = Dedup.minhashSignatureShingled(df, "doc_id", "text", 16, 3)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_)).toVector).toMap
    val expected = batch.select("doc_id").as[Long].collect().map { b =>
      val cands = for {
        (c, cSig) <- sig.toSeq if c <= 55 && sig.contains(b)
        bSig = sig(b)
        if (0 until 4).exists(band =>
          (band * 4 until band * 4 + 4).forall(j => bSig(j) == cSig(j)))
        est = 1000L * (0 until 16).count(j => bSig(j) == cSig(j)) / 16
        if est >= 500L
      } yield (est, c)
      if (cands.isEmpty) (b, None, None)
      else {
        val (est, c) = cands.maxBy { case (e, cid) => (e, -cid) }
        (b, Some(c), Some(est))
      }
    }.toSet
    stored shouldBe expected
    stored.count(_._2.isDefined) should be >= 5 // the clones actually screen
    // append uses the stored geometry and is id-disciplined
    Dedup.appendToMinhashIndex(spark, dir,
      Seq((80L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text"), "doc_id", "text")
    an[IllegalArgumentException] should be thrownBy
      Dedup.appendToMinhashIndex(spark, dir,
        Seq((10L, "x")).toDF("doc_id", "text"), "doc_id", "text")
  }

  test("native minhash signatures equal the aggregation form (tokens, shingles, groups)") {
    val rnd = new scala.util.Random(43)
    val vocab = (0 until 30).map(i => s"w$i")
    // lengths 1..12 — includes docs shorter than the shingle width —
    // plus empty text, repeated-whitespace text and null text
    val corpus: Seq[(Long, String, String)] = (1L to 90L).map { id =>
      (id, s"s${id % 4}",
        Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((200L, "s0", ""), (201L, "s1", " x  x "), (202L, "s2", null))
    val df = corpus.toDF("doc_id", "source", "text")
    val k = 8
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    rows(Dedup.minhashSignature(df, "doc_id", "text", k)) shouldBe
      rows(Dedup.minhashFromAggComposed(df, "doc_id",
        Dedup.distinctTokens(col("text")), k))
    rows(Dedup.minhashSignatureShingled(df, "doc_id", "text", k, shingleN = 3)) shouldBe
      rows(Dedup.minhashFromAggComposed(df, "doc_id",
        Dedup.distinctShingles(col("text"), 3), k))
    // group-level: per-doc row-local minima folded by min == one
    // aggregation over every exploded unit (min is idempotent)
    def grows(d: org.apache.spark.sql.DataFrame) = d.orderBy("source_a", "source_b")
      .collect().map(_.toSeq).toSeq
    val aggSig = Dedup.minhashFromAggComposed(
      df.filter(col("text").isNotNull), "source",
      Dedup.distinctTokens(col("text")), k)
    grows(Dedup.sourceOverlapMinhash(df, "source", "text", k)
      .select("source_a", "source_b", "agree")) shouldBe {
      val a = aggSig.columns.foldLeft(aggSig)((d, c) => d.withColumnRenamed(c, s"a_$c"))
      val b = aggSig.columns.foldLeft(aggSig)((d, c) => d.withColumnRenamed(c, s"b_$c"))
      val agree = (0 until k)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      grows(a.join(b, col("a_source") < col("b_source"))
        .select(col("a_source").as("source_a"), col("b_source").as("source_b"),
          agree.as("agree")))
    }
  }

  test("native simhash equals both composed forms (aggregation + row-local)") {
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 40).map(i => s"w$i")
    val corpus: Seq[(Long, String)] = (1L to 80L).map { id =>
      (id, Seq.fill(1 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((200L, ""), (201L, "  leading  doubles "), (202L, null))
    val df = corpus.toDF("doc_id", "text")
    // simhash(): native row-local projection; same (id, fp) SET as the
    // explode+aggregate form it replaced — incl. the dropped null-text row
    val viaNative = Dedup.simhash(df, "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhashAggComposed(df, "doc_id", "text", 16)
      .as[(Long, Long)].collect().toMap
    viaNative shouldBe viaAgg
    // simhashExpr: native fp column equals the interpreted bits-pass
    // composition row for row (null text → null fp on both)
    val exprPair = df.select(col("doc_id"),
        Dedup.simhashExpr(col("text"), 16).as("n"),
        Dedup.simhashExprComposed(col("text"), 16).as("c"))
      .as[(Long, Option[Long], Option[Long])].collect()
    exprPair.foreach { case (id, n, c) => withClue(s"doc=$id") { n shouldBe c } }
  }

  test("SortedIntersectSize equals size(array_intersect) on sorted random arrays") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rnd.nextInt(20))(s"t${rnd.nextInt(30)}").distinct.sorted
      val b = Seq.fill(rnd.nextInt(20))(s"t${rnd.nextInt(30)}").distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
      graft.functions.ArrayOps.sortedIntersectSize(col("a"), col("b")).as("custom"),
      org.apache.spark.sql.functions.size(array_intersect(col("a"), col("b"))).as("builtin"))
      .filter(col("custom") =!= col("builtin")).count()
    diff shouldBe 0L
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("profile computes token stats and english lang-id on english text") {
    val df = Seq((1L, "the cat and the dog are in the house")).toDF("doc_id", "text")
    val row = TextAnalysis.profile(df, "doc_id", "text").collect().head
    row.getAs[Long]("n_tokens") shouldBe 9L
    row.getAs[Long]("n_distinct") shouldBe 7L // "the" ×3
    row.getAs[String]("lang_pred") shouldBe "en"
  }

  test("fingerprint is order-independent (bag semantics)") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta")).toDF("doc_id", "text")
    val fps = TextAnalysis.profile(df, "doc_id", "text")
      .select("fingerprint").as[Long].collect()
    fps(0) shouldBe fps(1)
  }

  test("normalize lowers, strips non-alnum, squeezes and trims spaces") {
    val df = Seq((1L, "  Héllo,   WORLD!! x2 ")).toDF("doc_id", "text")
    val got = df.select(TextAnalysis.normalize(col("text"))).as[String].head()
    got shouldBe "hllo world x2" // non-ascii é is stripped, runs squeezed
  }

  test("tfidfTopTerms ranks rare-but-frequent terms first, ties on term") {
    val df = Seq(
      (1L, "apple apple apple common"),
      (2L, "banana common common"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 2)
      .select("doc_id", "rank", "tok").as[(Long, Long, String)].collect().sorted
    // doc 1: apple tf=3 df=1 → 3M beats common tf=1 df=3 → 333k
    got.filter(_._1 == 1L).map(_._3).toSeq shouldBe Seq("apple", "common")
    got.filter(_._1 == 2L).map(_._3).toSeq shouldBe Seq("banana", "common")
    got.filter(_._1 == 3L).map(_._3).toSeq shouldBe Seq("cherry", "common")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(1f, 0f, 0f)),   // identical direction → cos 1
    (2L, Array(0f, 1f, 0f)),   // orthogonal → cos 0
    (3L, Array(-1f, 0f, 0f)),  // opposite → cos −1
    (4L, Array(1f, 1f, 0f))    // 45° → cos ≈ 0.7071
  ).toDF("vec_id", "embedding")

  test("cosineNearDupPairs finds aligned pairs above threshold") {
    val got = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got shouldBe Set((0L, 1L)) // only the identical-direction pair
  }

  test("autoSignBits: integer-exact occupancy sizing with dim and floor clamps") {
    def df(n: Int, dim: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(dim)(if (i % 2 == 0) 1f else -1f)))
      .toDF("vec_id", "embedding")
    // ⌈log₂⌈n/target⌉⌉: 500/64 → ⌈7.8⌉=8 → 3 bits; 2000/64 → 32 → 5 bits
    Similarity.autoSignBits(df(500, 16), "embedding", 64L) shouldBe 3
    Similarity.autoSignBits(df(2000, 16), "embedding", 64L) shouldBe 5
    // EXACT power of two — the float-log2 fragile point: 4096/64 = 64
    // exactly → 6 bits, not 7 (bin-length of 63 is 6)
    Similarity.autoSignBits(df(4096, 16), "embedding", 64L) shouldBe 6
    Similarity.autoSignBits(df(4097, 16), "embedding", 64L) shouldBe 7
    // floor: a corpus at/below target still gets 1 bit
    Similarity.autoSignBits(df(10, 16), "embedding", 64L) shouldBe 1
    // dim clamp: can't use more sign bits than the vector has components
    Similarity.autoSignBits(df(4096, 2), "embedding", 1L) shouldBe 2
  }

  test("auto-sized generators equal the fixed operators at the matched width") {
    val rnd = new scala.util.Random(19)
    val corpus = (0 until 600)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val b = Similarity.autoSignBits(corpus, "embedding", 64L)
    b shouldBe 4 // ⌈log₂⌈600/64⌉⌉ = ⌈log₂ 10⌉
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "cos_sim")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    pairs(Similarity.bucketedNearDupPairsAuto(corpus, "vec_id", "embedding",
      0.4, 64L)) shouldBe
      pairs(Similarity.bucketedNearDupPairs(corpus, "vec_id", "embedding", 0.4, b))
    def picks(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "cell_n", "pick_rank")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    picks(graft.operators.Sampling.diversitySampleAuto(corpus, "vec_id",
      "embedding", 3, 64L)) shouldBe
      picks(graft.operators.Sampling.diversitySample(corpus, "vec_id",
        "embedding", b, 3))
  }

  test("bruteForceTopK ranks by cosine similarity") {
    val q = vecs.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "vec_id", "embedding", 3)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    got.map(_._1) shouldBe Array(0L, 1L, 4L)
    got(0)._2 shouldBe 1.0
    got(2)._2 shouldBe 0.7071 +- 0.0001
  }

  test("ivfTopK with nProbe=1 recovers brute-force top-k on well-separated clusters") {
    // 3 tight clusters around orthogonal axes in 6-dim space: the
    // k-means cells align with the clusters, so probing ONE cell holds
    // every true neighbor of a near-axis query
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 1f, 0f))
    val corpus = (0 until 90).map(i => (i.toLong, jitter(axes(i % 3))))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, axes(0)), (101L, axes(2))).toDF("vec_id", "embedding")

    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCentroids = 3, nProbe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def brute(qid: Long): Set[Long] =
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries.filter(col("vec_id") === qid), "vec_id", "embedding", 5)
        .select("vec_id").as[Long].collect().toSet

    ivf(100L) shouldBe brute(100L)
    ivf(101L) shouldBe brute(101L)
    // determinism: same seed → same result
    val again = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nCentroids = 3, nProbe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    again shouldBe ivf
  }

  test("persisted IVF index probes via partition pruning; full probe = brute force") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val corpus = (0 until 60).map(i => (i.toLong, jitter(axes(i % 2))))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, axes(0))).toDF("vec_id", "embedding")
    val dir = tmpDir("ivf_index")

    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", dir, nCentroids = 2)
    // cell=<i>/ hive layout on disk
    graft.sources.SchemaReader.glob(spark, s"$dir/data/cell=*")
      .length shouldBe 2

    val probe = Similarity.probeIvfIndex(spark, dir, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nProbe = 1)
    // the scan must prune to PartitionFilters on the cell column
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("cell")).get
    scan should include("PartitionFilters")
    // nProbe=1 on well-separated clusters == brute force; so does full probe
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
      .select("vec_id").as[Long].collect().toSet
    probe.select("vec_id").as[Long].collect().toSet shouldBe brute
    Similarity.probeIvfIndex(spark, dir, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet shouldBe brute
  }

  test("multi-query probes stay per-query: each query scores only its own cells") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val axes = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val corpus = (0 until 60).map(i => (i.toLong, jitter(axes(i % 2))))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivf_multiq")
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding", dir, nCentroids = 2)
    // two queries routed to DIFFERENT cells, probed in ONE batch with
    // nProbe=1: each must see only its own cell's candidates — the old
    // union-of-cells cross join scored every query near-brute-force,
    // so adding query B changed query A's results
    val batch = Seq((100L, axes(0)), (101L, axes(1))).toDF("vec_id", "embedding")
    val both = Similarity.probeIvfIndex(spark, dir, "vec_id", "embedding",
        batch, "vec_id", "embedding", k = 50, nProbe = 1)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // each query's candidate set is its own ~30-vector cell, not 60
    both(100L).size should be <= 30
    both(101L).size should be <= 30
    both(100L).intersect(both(101L)) shouldBe empty
    // and batched results equal the single-query probes (compositional)
    for (qid <- Seq(100L, 101L)) {
      val solo = Similarity.probeIvfIndex(spark, dir, "vec_id", "embedding",
          batch.filter(col("vec_id") === qid), "vec_id", "embedding",
          k = 50, nProbe = 1)
        .as[(Long, Long, Double)].collect().map(_._2).toSet
      both(qid) shouldBe solo
    }
  }

  test("guarded append: a pending meta from a crashed append fails the next one loudly") {
    val corpus = (0 until 20).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivf_pending")
    Similarity.writeIvfIndexDeterministic(corpus, "vec_id", "embedding", dir, 2)
    // simulate a crash mid-append: meta advanced + pending, data not in
    StoredIndex.writeMaxIdMeta(spark, dir, 25L, pending = true)
    val batch = (30 until 35).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    }
    ex.getMessage should include("pending")
    // repair: clear the marker at the verified watermark → append works
    StoredIndex.writeMaxIdMeta(spark, dir, 19L)
    Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    StoredIndex.storedMaxId(spark, dir) shouldBe 34L
  }

  test("guarded append: a failed prepare read does not strand the index in pending") {
    // A pre-write failure (here: the stored centers are missing) happens
    // in the fail-fast PREPARE phase, before the meta is marked pending —
    // no data landed, so nothing needs manual repair and the next append
    // must succeed once the artifact is restored.
    val corpus = (0 until 20).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivf_prepare_fail")
    Similarity.writeIvfIndexDeterministic(corpus, "vec_id", "embedding", dir, 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // break the stored geometry: rename centers away
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/centers"),
      new org.apache.hadoop.fs.Path(s"$dir/centers_hidden")) shouldBe true
    val batch = (30 until 35).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    an[Exception] should be thrownBy
      Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    // restore the artifact: the append succeeds with NO manual meta
    // repair — the old order marked pending first and would refuse here
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/centers_hidden"),
      new org.apache.hadoop.fs.Path(s"$dir/centers")) shouldBe true
    Similarity.appendToIvfIndexDeterministic(spark, dir, batch, "vec_id", "embedding")
    StoredIndex.storedMaxId(spark, dir) shouldBe 34L
  }

  test("deterministic IVF index round trip equals the in-memory deterministic IVF") {
    // q84's core claim: write index → parquet → probe produces EXACTLY
    // the rows ivfTopKDeterministic computes in memory (same quantizer,
    // same tie-breaks), so the parquet round trip (float→double cast,
    // partition-column encode/decode) loses nothing.
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 80)
      .map(i => (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val dir = tmpDir("ivf_det_roundtrip")
    Similarity.writeIvfIndexDeterministic(corpus, "vec_id", "embedding", dir, nCentroids = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cos_sim")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    rows(Similarity.probeIvfIndexDeterministic(spark, dir, "vec_id",
      queries, "vec_id", "embedding", k = 7, nProbe = 3)) shouldBe
      rows(Similarity.ivfTopKDeterministic(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 7, nCentroids = 8, nProbe = 3))
  }

  test("PQ compresses to m codes and ADC recovers cluster membership") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    // 3 tight, well-separated clusters in 8-dim space
    val axes = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    val corpus = (0 until 90).map(i => (i.toLong, jitter(axes(i % 3))))
      .toDF("vec_id", "embedding")

    val model = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, k = 4, trainFraction = 1.0)
    model.subDim shouldBe 4

    val encoded = Similarity.pqEncode(corpus, "embedding", model)
    val codes = encoded.select("codes").as[Seq[Int]].collect()
    codes.foreach { c =>
      c.length shouldBe 2 // 8 floats (32 bytes) → 2 small ints
      c.foreach(code => code should (be >= 0 and be < 4))
    }

    // quantization error ≪ cluster separation, so per query the ADC
    // top-30 must be exactly the query's 30-member cluster — the same
    // set an exact L2 scan returns
    val queries = Seq((100L, axes(0)), (101L, axes(2))).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(encoded, "vec_id", "codes", model,
      queries, "vec_id", "embedding", topK = 30)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val raw = corpus.as[(Long, Array[Float])].collect()
    def bruteL2(q: Array[Float]): Set[Long] = raw
      .map { case (id, v) =>
        (id, v.zip(q).map { case (a, b) => (a - b).toDouble * (a - b) }.sum) }
      .sortBy { case (id, d) => (d, id) }.take(30).map(_._1).toSet
    got(100L) shouldBe bruteL2(axes(0))
    got(101L) shouldBe bruteL2(axes(2))

    // same seed → identical quantizer → identical codes
    val model2 = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, k = 4, trainFraction = 1.0)
    model2.centroids.flatten.flatten.toSeq shouldBe model.centroids.flatten.flatten.toSeq
  }

  test("deterministic PQ codebook = lowest-id subvectors; rounded ADC is stable") {
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 40)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqModelDeterministic(corpus, "vec_id", "embedding",
      m = 2, k = 4)
    // codebook is exactly the subvectors of the 4 lowest-id vectors
    val first4 = corpus.filter(col("vec_id") < 4).orderBy("vec_id")
      .as[(Long, Array[Float])].collect().map(_._2.map(_.toDouble))
    model.centroids(0).map(_.toSeq).toSeq shouldBe first4.map(_.slice(0, 4).toSeq).toSeq
    model.centroids(1).map(_.toSeq).toSeq shouldBe first4.map(_.slice(4, 8).toSeq).toSeq
    // a codebook vector encodes to its own code (distance 0 is unique min)
    val encoded = Similarity.pqEncode(corpus, "embedding", model, rounded = true)
    encoded.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("codes").as[Seq[Int]].collect()
      .zipWithIndex.foreach { case (codes, i) => codes shouldBe Seq(i, i) }
    // rounded ADC is deterministic run to run
    def run(): Seq[(Long, Long, Double)] =
      Similarity.pqTopK(encoded, "vec_id", "codes", model,
        corpus.filter(col("vec_id") < 2), "vec_id", "embedding",
        topK = 5, rounded = true)
        .select("query_id", "vec_id", "d2_approx")
        .as[(Long, Long, Double)].collect().sorted.toSeq
    run() shouldBe run()
  }

  test("native PQ encode is bit-identical to the composed form (both modes, edges)") {
    val rnd = new scala.util.Random(7)
    val clean: Seq[(Long, Seq[Option[Double]])] = (0 until 60).map { i =>
      (i.toLong, Seq.fill(8)(Some(rnd.nextGaussian()): Option[Double]))
    }
    // ties: vectors equal to codebook rows; edges: short / empty / null
    // vector, null component (nulls subspace 0's code only)
    val edges: Seq[(Long, Seq[Option[Double]])] = Seq(
      (100L, clean(2)._2),
      (101L, Seq.fill(5)(Some(0.25): Option[Double])),
      (102L, Seq[Option[Double]](Some(1.0), None, Some(0.5), Some(0.25),
        Some(-1.0), Some(2.0), Some(0.125), Some(-0.5))),
      (103L, null),
      (104L, Seq.empty[Option[Double]]))
    val df = (clean ++ edges).toDF("vec_id", "embedding")
    val model = Similarity.pqModelDeterministic(
      df.filter(col("vec_id") < 60), "vec_id", "embedding", m = 2, k = 4)
    def codesOf(d: org.apache.spark.sql.DataFrame) = d
      .select("vec_id", "codes").as[(Long, Seq[Option[Int]])]
      .collect().sortBy(_._1).toSeq
    for (rounded <- Seq(true, false)) {
      codesOf(Similarity.pqEncode(df, "embedding", model, rounded = rounded)) shouldBe
        codesOf(Similarity.pqEncodeComposed(df, "embedding", model, rounded = rounded))
    }
  }

  test("native ADC lookup sum is bit-identical to the composed fold (both modes, edges)") {
    val (m, k) = (2, 4)
    def oi(xs: Int*): Seq[Option[Int]] = xs.map(Some(_))
    val tabL: Seq[Option[Long]] = (1 to m * k).map(i => Some(i * 7L))
    val rows: Seq[(Long, Seq[Option[Int]], Seq[Option[Long]])] = Seq(
      (0L, oi(0, 3), tabL),
      (1L, oi(3, 0), tabL),
      (2L, Seq(Some(2), None), tabL),              // null code
      (3L, null, tabL),                            // null codes array
      (4L, oi(1), tabL),                           // too short
      (5L, oi(0, 1, 2), tabL),                     // too long
      (7L, oi(0, 0), null))                        // null table
    val df = rows.toDF("id", "codes", "_tab")
    val composedL = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(col("_tab"), (j * lit(k) + c + 1).cast("int"))),
      lit(0L), (acc, d) => acc + d)
    val gotL = df.select(col("id"),
        graft.functions.PqOps.adcLookupSum(col("codes"), col("_tab"), m, k, rounded = true).as("n"),
        composedL.as("c"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    gotL.foreach { case (id, n, c) => withClue(s"id=$id") { n shouldBe c } }
    val dfD = df.withColumn("_tab", col("_tab").cast("array<double>"))
    val composedD = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(col("_tab"), (j * lit(k) + c + 1).cast("int"))),
      lit(0.0), (acc, d) => acc + d)
    val gotD = dfD.select(col("id"),
        graft.functions.PqOps.adcLookupSum(col("codes"), col("_tab"), m, k, rounded = false).as("n"),
        composedD.as("c"))
      .as[(Long, Option[Double], Option[Double])].collect().sortBy(_._1)
    gotD.foreach { case (id, n, c) => withClue(s"id=$id") { n shouldBe c } }
    // out-of-range lookup (unreachable for produced codes, which are
    // always in [0, k)): the native expression yields null — the
    // composed element_at under ANSI would raise instead
    Seq((6L, oi(3, 3), tabL.take(3))).toDF("id", "codes", "_tab")
      .select(graft.functions.PqOps.adcLookupSum(col("codes"), col("_tab"), m, k, rounded = true))
      .as[Option[Long]].collect() shouldBe Array(None)
    // round-16 (r15 advice): the rounded flag dictates getLong vs
    // getDouble on the raw table — a mismatched element type must be
    // an ANALYSIS error, never silent bit reinterpretation
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      df.select(graft.functions.PqOps.adcLookupSum(
        col("codes"), col("_tab"), m, k, rounded = false)).collect()
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      dfD.select(graft.functions.PqOps.adcLookupSum(
        col("codes"), col("_tab"), m, k, rounded = true)).collect()
  }

  test("IVFPQ stored index: codes-only files, pruned probe, full probe = ADC") {
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 80)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 2)
    val dir = tmpDir("ivfpq_index")
    Similarity.writeIvfPqIndexDeterministic(corpus, "vec_id", "embedding",
      dir, nCentroids = 4, m = 2, k = 4)
    // the stored rows are (id, codes, cell) — no vector column at all
    spark.read.parquet(s"$dir/data").columns.toSet shouldBe
      Set("vec_id", "codes", "cell")
    // probing 1 of 4 cells prunes at the partition level
    val probe = Similarity.probeIvfPqIndexDeterministic(spark, dir, "vec_id",
      queries, "vec_id", "embedding", topK = 5, nProbe = 1)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("cell")).get
    scan should include("PartitionFilters")
    probe.count() should be > 0L
    // probing ALL cells equals the in-memory rounded ADC over the corpus
    val model = Similarity.pqModelDeterministic(corpus, "vec_id", "embedding",
      m = 2, k = 4)
    val mem = Similarity.pqTopK(
      Similarity.pqEncode(corpus, "embedding", model, rounded = true),
      "vec_id", "codes", model, queries, "vec_id", "embedding",
      topK = 5, rounded = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "d2_approx")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    rows(Similarity.probeIvfPqIndexDeterministic(spark, dir, "vec_id",
      queries, "vec_id", "embedding", 5, nProbe = 4)) shouldBe rows(mem)
  }

  test("trained IVFADC index recovers cluster members through one pruned cell") {
    val rnd = new scala.util.Random(19)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 1f, 0f, 0f, 1f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))
    val corpus = (0 until 90).map(i => (i.toLong, jitter(axes(i % 3))))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, axes(1))).toDF("vec_id", "embedding")
    val dir = tmpDir("ivfpq_trained")
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", dir,
      nCentroids = 3, m = 2, k = 4, trainFraction = 1.0)
    val probe = Similarity.probeIvfPqIndex(spark, dir, "vec_id",
      queries, "vec_id", "embedding", topK = 30, nProbe = 1)
    // the pruned scan reads only the probed cell= directories
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("cell")).get
    scan should include("PartitionFilters")
    // one probed cell of a 3-cell quantizer on separated clusters holds
    // exactly the query's 30-member cluster
    probe.select("vec_id").as[Long].collect().toSet shouldBe
      (0 until 90).filter(_ % 3 == 1).map(_.toLong).toSet
  }

  test("incremental append to a stored IVFADC index equals indexing the union") {
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val batch = (50 until 80).map(i => (i.toLong, vec()))
    val queries = base.take(2).toDF("vec_id", "embedding")

    val incDir = tmpDir("ivfpq_inc")
    Similarity.writeIvfPqIndexDeterministic(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", incDir, nCentroids = 4, m = 2, k = 4)
    Similarity.appendToIvfPqIndexDeterministic(spark, incDir,
      batch.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val fullDir = tmpDir("ivfpq_full")
    Similarity.writeIvfPqIndexDeterministic((base ++ batch).toDF("vec_id", "embedding"),
      "vec_id", "embedding", fullDir, nCentroids = 4, m = 2, k = 4)

    def rows(dir: String) =
      Similarity.probeIvfPqIndexDeterministic(spark, dir, "vec_id",
        queries, "vec_id", "embedding", topK = 8, nProbe = 2)
        .select("query_id", "vec_id", "d2_approx")
        .as[(Long, Long, Double)].collect().sorted.toSeq
    rows(incDir) shouldBe rows(fullDir)
    // all 80 rows are in the appended index's data files
    spark.read.parquet(s"$incDir/data").select("vec_id")
      .as[Long].collect().sorted shouldBe (0L until 80L).toArray
  }

  test("incremental append to a stored IVF index equals indexing the union") {
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    // append-only id discipline: the batch's ids are all larger, so the
    // deterministic centroids (lowest-id vectors) are unchanged and the
    // incremental result must be bit-identical to a full rebuild
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val batch = (50 until 80).map(i => (i.toLong, vec()))
    val baseDf = base.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val unionDf = (base ++ batch).toDF("vec_id", "embedding")
    val queries = baseDf.filter(col("vec_id") < 3)

    val incDir = tmpDir("ivf_inc")
    Similarity.writeIvfIndexDeterministic(baseDf, "vec_id", "embedding",
      incDir, nCentroids = 6)
    Similarity.appendToIvfIndexDeterministic(spark, incDir, batchDf,
      "vec_id", "embedding")
    val fullDir = tmpDir("ivf_full")
    Similarity.writeIvfIndexDeterministic(unionDf, "vec_id", "embedding",
      fullDir, nCentroids = 6)

    def rows(dir: String) =
      Similarity.probeIvfIndexDeterministic(spark, dir, "vec_id",
        queries, "vec_id", "embedding", k = 8, nProbe = 3)
        .select("query_id", "vec_id", "cos_sim")
        .as[(Long, Long, Double)].collect().sorted.toSeq
    val inc = rows(incDir)
    inc shouldBe rows(fullDir)
    // appended rows are reachable (some hit beyond the base id range)
    inc.map(_._2).exists(_ >= 50L) shouldBe true
  }

  test("exact-trained IVF append: frozen routing equals the union under base-trained centers") {
    val rnd = new scala.util.Random(29)
    def vec(): Array[Float] = Array.fill(6)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 50).map(i => (i.toLong, vec()))
    val batch = (50 until 80).map(i => (i.toLong, vec()))
    val baseDf = base.toDF("vec_id", "embedding")
    val batchDf = batch.toDF("vec_id", "embedding")
    val unionDf = (base ++ batch).toDF("vec_id", "embedding")
    val queries = baseDf.filter(col("vec_id") < 3)
    val dir = tmpDir("ivf_km_app")
    Similarity.writeIvfIndexMicroExact(baseDf, "vec_id", "embedding", dir,
      nCentroids = 4, iters = 3)
    Similarity.appendToIvfIndexMicroExact(spark, dir, batchDf,
      "vec_id", "embedding")
    // the frozen-model ingest contract: probe(write(base) + append(batch))
    // is BIT-IDENTICAL to probing the union through centroids trained on
    // base only — the routing function never moved
    val centers = Similarity.kmeansMicroExact(baseDf, "vec_id", "embedding",
      k = 4, iters = 3)
    val expect = Similarity.ivfTopKMicroExactTrained(unionDf, "vec_id",
        "embedding", queries, "vec_id", "embedding", k = 8, nProbe = 2, centers)
      .select("query_id", "vec_id", "d2")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val got = Similarity.probeIvfIndexMicroExact(spark, dir, "vec_id",
        queries, "vec_id", "embedding", k = 8, nProbe = 2)
      .select("query_id", "vec_id", "d2")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    got shouldBe expect
    got.map(_._2).exists(_ >= 50L) shouldBe true // appended rows reachable
    // same id discipline as the other append families: overlap fails fast
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfIndexMicroExact(spark, dir,
        Seq((10L, vec())).toDF("vec_id", "embedding"), "vec_id", "embedding")
  }

  test("rerankExact over a full-coverage shortlist equals brute-force top-k") {
    val rnd = new scala.util.Random(61)
    val corpus = (0 until 50).map(i => (i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val df = corpus.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") < 2)
    val model = Similarity.pqModelDeterministic(df, "vec_id", "embedding", 4, 8)
    val encoded = Similarity.pqEncode(df, "embedding", model, rounded = true)
    // shortlist = the whole corpus → the approximate stage can't lose a
    // true neighbor, so re-ranked output must equal exact brute force
    val shortlist = Similarity.pqTopK(encoded, "vec_id", "codes", model,
      qs, "vec_id", "embedding", topK = 50, rounded = true)
    val got = Similarity.rerankExact(shortlist, df, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5)
      .select("query_id", "vec_id", "cos_sim")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2))
    // reference: per-query exact cosine top-5 computed directly
    // (bruteForceTopK is the single-query global-limit shape)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def round4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val byId = corpus.toMap
    val exact = (0L until 2L).flatMap { q =>
      corpus.map { case (id, v) => (q, id, round4(cos(byId(q), v))) }
        .sortBy(r => (-r._3, r._2)).take(5)
    }.toArray
    got shouldBe exact
    // and the final ordering really is exact-score order, not ADC order
    got.groupBy(_._1).values.foreach { rows =>
      rows.map(_._3).toSeq shouldBe rows.map(_._3).toSeq.sorted.reverse
    }
  }

  test("index append validates the append-only id discipline") {
    val rnd = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(4)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    val dir = tmpDir("ivf_guard")
    Similarity.writeIvfIndexDeterministic(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, nCentroids = 3)
    // overlapping ids: the stored deterministic centers would have
    // differed from a rebuild's — must fail fast, not corrupt the index
    val overlapping = Seq((10L, vec()), (25L, vec())).toDF("vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfIndexDeterministic(spark, dir, overlapping,
        "vec_id", "embedding")
    // duplicate ids within the batch are rejected too
    val dup = Seq((30L, vec()), (30L, vec())).toDF("vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfIndexDeterministic(spark, dir, dup,
        "vec_id", "embedding")
    // an empty batch is a no-op, not an error
    Similarity.appendToIvfIndexDeterministic(spark, dir,
      base.toDF("vec_id", "embedding").filter(col("vec_id") < 0),
      "vec_id", "embedding")
    // nothing leaked into the data files; a valid batch still appends,
    // and the meta watermark advances so a replay of the same batch is
    // then rejected (no double-ingest)
    spark.read.parquet(s"$dir/data").count() shouldBe 20L
    val ok = Seq((25L, vec())).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndexDeterministic(spark, dir, ok, "vec_id", "embedding")
    spark.read.parquet(s"$dir/data").count() shouldBe 21L
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendToIvfIndexDeterministic(spark, dir, ok, "vec_id", "embedding")
  }

  test("trained index append routes through the stored k-means centroids") {
    val rnd = new scala.util.Random(41)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val axes = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val base = (0 until 60).map(i => (i.toLong, jitter(axes(i % 3))))
    val batch = (60 until 90).map(i => (i.toLong, jitter(axes(i % 3))))

    val ivfDir = tmpDir("ivf_trained_inc")
    Similarity.writeIvfIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", ivfDir, nCentroids = 3, trainFraction = 1.0)
    Similarity.appendToIvfIndex(spark, ivfDir,
      batch.toDF("vec_id", "embedding"), "vec_id", "embedding")
    // every appended row landed in the cell whose STORED centroid is
    // L2-nearest — exactly where KMeansModel.transform would route it
    val centers = spark.read.parquet(s"$ivfDir/centers")
      .as[(Int, Seq[Double])].collect().toMap
    val landed = spark.read.parquet(s"$ivfDir/data")
      .filter(col("vec_id") >= 60)
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]],
        col("cell").as[Int])
      .collect()
    landed.length shouldBe 30
    landed.foreach { case (_, v, cell) =>
      val best = centers.minBy { case (c, cen) =>
        (v.zip(cen).map { case (a, b) => (a - b) * (a - b) }.sum, c) }._1
      cell shouldBe best
    }
    // probes see the appended rows
    val q = Seq((200L, axes(0))).toDF("vec_id", "embedding")
    val got = Similarity.probeIvfIndex(spark, ivfDir, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 40, nProbe = 1)
      .select("vec_id").as[Long].collect()
    got.exists(_ >= 60L) shouldBe true
  }

  // ---- trained-IVF quality floors on the driver testdata (q137) ------
  // The deterministic IVF/PQ family is hash-checked against DuckDB
  // oracles (q84/q87/q88/q90/q133); the trained family (q137) can't be
  // — MLlib k-means centroids aren't oracle-mirrorable — so its quality
  // contract lives here as measured floors (round-7 verdict item 5).

  private val realDir = "/root/testdata/sf0.01"
  // nProbe = 4 of 8 cells: the HONEST recall point. (The earlier
  // "1.000 at nProbe=2" measurement was an artifact of the
  // union-of-cells probe bug — a 20-query batch covered all 8 cells,
  // degenerating every query to brute force. Per-query probing
  // measures 0.57 at nProbe=2 and ~0.9 at nProbe=4 on this data.)
  private val (tNC, tNProbe, tK) = (8, 4, 5)

  // build once: trained IVF on the first 2/3, frozen-centroid append of
  // the remaining 1/3 — the q137 artifact shape
  private lazy val trainedIdxDir: String = {
    val d = tmpDir("ivf_trained_recall")
    val emb = graft.queries.Tables.t(spark, realDir, "embeddings")
    val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 2 / 3
    Similarity.writeIvfIndex(
      emb.filter(col("vec_id") <= cut), "vec_id", "embedding", d,
      nCentroids = tNC)
    Similarity.appendToIvfIndex(
      spark, d, emb.filter(col("vec_id") > cut), "vec_id", "embedding")
    d
  }

  test("trained IVF probe recall@5 >= 0.70 floor vs exact brute force") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.queries.Tables.t(spark, realDir, "embeddings")
    val queries = emb.filter(col("vec_id") % 10 === 0) // 20 query vectors
    def topSet(res: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = res
      .withColumn("_r", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .filter(col("_r") <= tK)
      .select(col("query_id").cast("long"), col("vec_id").cast("long"))
      .collect().groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.map(_.getLong(1)).toSet
      }
    val truth = topSet(Similarity.scoreAgainst(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding"))
    val approx = topSet(Similarity.probeIvfIndex(
      spark, trainedIdxDir, "vec_id", "embedding", queries, "vec_id",
      "embedding", tK, tNProbe))
    val recalls = truth.map { case (qid, ts) =>
      approx.getOrElse(qid, Set.empty).intersect(ts).size.toDouble / tK
    }
    val mean = recalls.sum / recalls.size
    info(f"trained IVF recall@$tK at nProbe=$tNProbe/$tNC: $mean%.3f")
    // random cell assignment would score ≈ nProbe/nCentroids = 0.25;
    // the floor leaves seed/box headroom under the measured value
    mean should be >= 0.70
  }

  test("appended vectors are immediately probe-visible in the trained index") {
    val emb = graft.queries.Tables.t(spark, realDir, "embeddings")
    val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 2 / 3
    val appended = emb.filter(col("vec_id") > cut).limit(5)
    val res = Similarity.probeIvfIndex(
      spark, trainedIdxDir, "vec_id", "embedding", appended, "vec_id",
      "embedding", k = 3, nProbe = 1)
    // identity query: the appended row lives in exactly the cell its
    // own vector probes first (same frozen centroids, same metric), so
    // even nProbe=1 must surface it — rank 1 up to exact-dup ties
    res.filter(col("query_id") === col("vec_id")).count() shouldBe 5L
  }

  test("the trained index probe partition-prunes to the probed cells") {
    val emb = graft.queries.Tables.t(spark, realDir, "embeddings")
    val probe = Similarity.probeIvfIndex(
      spark, trainedIdxDir, "vec_id", "embedding",
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", tK, tNProbe)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    scan should include("PartitionFilters: [")
    assert(scan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains(" IN ")),
      s"expected a cell IN (...) partition filter in:\n$scan")
  }
}

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def docs(rows: (Long, String)*) = rows.toDF("id", "text")

  test("diff classifies added/removed/changed and omits unchanged") {
    val older = docs(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val newer = docs(2L -> "beta", 3L -> "gamma EDITED", 4L -> "delta")
    val got = SnapshotDiff.diff(older, newer, "id", "text")
      .select("id", "status").as[(Long, String)].collect().toSet
    got shouldBe Set((1L, "removed"), (3L, "changed"), (4L, "added"))
    // digests are present on the populated sides only
    val row3 = SnapshotDiff.diff(older, newer, "id", "text")
      .filter(col("id") === 3).head()
    row3.getAs[String]("old_digest") should not be row3.getAs[String]("new_digest")
  }

  test("applyChanges upserts, inserts, and deletes in one pass") {
    val base = Seq((1L, "one", "a"), (2L, "two", "b"), (3L, "three", "c"))
      .toDF("id", "text", "tag")
    val changes = Seq(
      (2L, "two EDITED", "b", false), // update
      (4L, "four", "d", false),       // insert
      (3L, "ignored", "c", true)      // delete
    ).toDF("id", "text", "tag", "del")
    val got = SnapshotDiff.applyChanges(base, changes, "id", "del")
      .as[(Long, String, String)].collect().sortBy(_._1)
    got shouldBe Array((1L, "one", "a"), (2L, "two EDITED", "b"), (4L, "four", "d"))
    withBroadcastThreshold("-1") {
      val off = SnapshotDiff.applyChanges(base, changes, "id", "del")
      off.as[(Long, String, String)].collect().sortBy(_._1) shouldBe got
      off.queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
    }
    // deleting a key absent from base is a no-op, not an error
    val delMissing = Seq((9L, "x", "z", true)).toDF("id", "text", "tag", "del")
    SnapshotDiff.applyChanges(base, delMissing, "id", "del").count() shouldBe 3
  }

  test("diff shuffles digests, not text: digest projection precedes the join") {
    val older = docs(1L -> "alpha", 2L -> "beta")
    val newer = docs(1L -> "alpha", 2L -> "beta2")
    val plan = SnapshotDiff.diff(older, newer, "id", "text")
      .queryExecution.executedPlan.toString
    // the join's exchanges carry (id, digest) only; the raw text column
    // is projected away before any data moves
    plan should include("Exchange")
    plan should include("old_digest")
    plan should not include "text#"
    plan should not include "CartesianProduct"
  }
}

/** Exact-arithmetic k-means (q150/q151): pins the portability contract
  * that makes iterative TRAINING oracle-checkable — integer micro-unit
  * quantization, truncating per-dimension means, (d2, cell) argmin
  * tie-breaks, empty-cell carry-over — and the determinism property
  * (partitioning invariance) the MLlib trainer structurally lacks. */
class KmeansMicroExactSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")

  test("planted well-separated clusters are recovered with exact integer centroids") {
    // two clusters on axis ±x; k=2 seeds from the two lowest ids (one
    // in each cluster by construction) → Lloyd converges in one round
    val a = Seq(0L -> Array(1.0f, 0f), 2L -> Array(1.2f, 0f), 4L -> Array(0.8f, 0f))
    val b = Seq(1L -> Array(-1.0f, 0f), 3L -> Array(-1.2f, 0f), 5L -> Array(-0.8f, 0f))
    val centers = Similarity.kmeansMicroExact(df(a ++ b), "vec_id", "embedding",
      k = 2, iters = 3)
    // exact integer means: (1e6 + 1.2e6 + 0.8e6)/3 = 1_000_000
    centers.toMap.apply(0).toSeq shouldBe Seq(1000000L, 0L)
    centers.toMap.apply(1).toSeq shouldBe Seq(-1000000L, 0L)
    val asg = Similarity.kmeansAssignMicro(df(a ++ b), "vec_id", "embedding", centers)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    Seq(0L, 2L, 4L).map(asg) shouldBe Seq(0L, 0L, 0L)
    Seq(1L, 3L, 5L).map(asg) shouldBe Seq(1L, 1L, 1L)
  }

  test("per-dimension means truncate toward zero — the DuckDB `//` contract") {
    // one cluster, negative component sum: (-1.1e6 + -1.2e6 + 0)/3 =
    // -766666.67 → Scala Long division gives -766666 (toward zero);
    // floor division would give -766667. The oracle's `//` matches the
    // former (pinned by q150's hash match; this pins the engine side).
    val rows = Seq(0L -> Array(-1.1f), 1L -> Array(-1.2f), 2L -> Array(0.0f))
    val centers = Similarity.kmeansMicroExact(df(rows), "vec_id", "embedding",
      k = 1, iters = 1)
    centers.head._2.toSeq shouldBe Seq(-766666L)
  }

  test("training is invariant to input partitioning (the property MLlib lacks)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
    val one = Similarity.kmeansMicroExact(df(rows).repartition(1),
      "vec_id", "embedding", k = 4, iters = 3)
    val many = Similarity.kmeansMicroExact(df(rows).repartition(7),
      "vec_id", "embedding", k = 4, iters = 3)
    one.map { case (c, v) => (c, v.toSeq) } shouldBe
      many.map { case (c, v) => (c, v.toSeq) }
  }

  test("empty cells keep their previous centroid instead of dying") {
    // ids 0 and 1 carry the SAME vector, so seeds c0 and c1 coincide
    // and the (d2, cell) tie-break routes BOTH points to c0 — cell 1 is
    // EMPTY in round 1's recompute and must survive at its seed (the
    // `case None` carry-over / the oracle's COALESCE). Round 1 pulls c0
    // to the {0, 0, 0.1} mean (33333 µ); in round 2 the carried-over
    // c1 = 0 is now CLOSER to the zero points and wins them back —
    // the final centers are reachable ONLY through the carry-over, so
    // a broken empty-cell branch (dropped cell, zeroed centroid)
    // cannot reproduce them.
    val rows = Seq(
      0L -> Array(0.0f), 1L -> Array(0.0f), 2L -> Array(1.0f),
      3L -> Array(0.1f), 4L -> Array(0.9f))
    val centers = Similarity.kmeansMicroExact(df(rows), "vec_id", "embedding",
      k = 3, iters = 3)
    centers.map(_._1) shouldBe Seq(0, 1, 2)
    // steady state: c0 owns {0.1} → 100000, c1 owns {0, 0} → 0,
    // c2 owns {1.0, 0.9} → 950000
    centers.toMap.apply(0).toSeq shouldBe Seq(100000L)
    centers.toMap.apply(1).toSeq shouldBe Seq(0L)
    centers.toMap.apply(2).toSeq shouldBe Seq(950000L)
    val asg = Similarity.kmeansAssignMicro(df(rows), "vec_id", "embedding",
      centers).select("vec_id", "cell").as[(Long, Long)].collect().toMap
    asg shouldBe Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 2L)
  }

  test("components that would overflow the int64 distance fold fail loudly") {
    // |x| = 4000 quantizes to 4e9 micro-units; a 1-dim squared diff can
    // reach (8e9)^2 ≈ 6.4e19 > Long.Max — the quantizer must raise, not
    // wrap into a silently-wrong argmin (review finding, round 10)
    val bad = Seq(0L -> Array(0.0f), 1L -> Array(4000.0f))
    val e = intercept[Exception] {
      Similarity.kmeansMicroExact(df(bad), "vec_id", "embedding",
        k = 1, iters = 1)
    }
    e.getMessage should include("overflows exact int64")
    // the documented safe range passes untouched (components ≤ ~190
    // at 64 dims; unit-norm embeddings are two orders below the limit)
    Similarity.kmeansMicroExact(df(Seq(0L -> Array(150.0f))),
      "vec_id", "embedding", k = 1, iters = 1)
      .head._2.toSeq shouldBe Seq(150000000L)
  }

  test("ivfTopKMicroExact: identity query ranks itself first with d2 = 0") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 120).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
    val corpus = df(rows)
    val got = Similarity.ivfTopKMicroExact(corpus, "vec_id", "embedding",
      corpus.filter(col("vec_id") === 7L), "vec_id", "embedding",
      k = 3, nCentroids = 4, iters = 2, nProbe = 2)
      .select("query_id", "vec_id", "d2").as[(Long, Long, Long)].collect()
      .sortBy(_._3)
    got.head shouldBe ((7L, 7L, 0L))
    got.map(_._3) shouldBe got.map(_._3).sorted // exact integer ranking
  }

  test("ivfTopKMicroExactTrained equals the fused train+probe bit-for-bit") {
    // The factored form (pre-trained centers in, probe core shared) is
    // what q151 runs via the Bench memo; it must be indistinguishable
    // from the fused form for the same corpus/params.
    val rnd = new scala.util.Random(41)
    val corpus = df((0 until 120).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1))))
    val queries = corpus.filter(col("vec_id") < 3)
    def rows(r: org.apache.spark.sql.DataFrame) = r
      .select("query_id", "vec_id", "d2")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val fused = Similarity.ivfTopKMicroExact(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nCentroids = 4, iters = 2, nProbe = 2)
    val centers = Similarity.kmeansMicroExact(corpus, "vec_id", "embedding",
      k = 4, iters = 2)
    val factored = Similarity.ivfTopKMicroExactTrained(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nProbe = 2, centers = centers)
    rows(factored) shouldBe rows(fused)
  }

  test("null embeddings are excluded from training and assignment") {
    val rows = Seq((0L, Array(1.0f)), (1L, Array(2.0f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq((2L, Option.empty[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val centers = Similarity.kmeansMicroExact(rows, "vec_id", "embedding",
      k = 1, iters = 1)
    centers.head._2.toSeq shouldBe Seq(1500000L)
    Similarity.kmeansAssignMicro(rows, "vec_id", "embedding", centers)
      .count() shouldBe 2L
  }
}

/** Stored exact-trained IVF (q152): the write→probe round trip must
  * equal the in-memory [[Similarity.ivfTopKMicroExact]] bit-for-bit
  * (the q43↔q84 relationship, trained flavor), and the probe's data
  * scan must prune to the probed cell directories. */
class KmeansStoredIndexSpec extends SparkSpec {
  import spark.implicits._

  test("stored probe equals the in-memory trained probe; scan prunes to probed cells") {
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 150)
      .map(i => (i.toLong, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 2)
    val dir = tmpDir("kmidx")
    Similarity.writeIvfIndexMicroExact(corpus, "vec_id", "embedding",
      dir, nCentroids = 4, iters = 3)
    val stored = Similarity.probeIvfIndexMicroExact(spark, dir, "vec_id",
      queries, "vec_id", "embedding", k = 3, nProbe = 2)
    val mem = Similarity.ivfTopKMicroExact(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nCentroids = 4, iters = 3,
      nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "d2")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    rows(stored) shouldBe rows(mem)
    // partition pruning: a NON-EMPTY cell IN (...) PartitionFilters on
    // the scan line (the bare "PartitionFilters: [" header prints even
    // when pushdown fails — review finding, round 10)
    val scan = stored.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell") && l.contains(" IN ")),
      s"expected a cell IN (...) partition filter in:\n$scan")
  }
}

/** Fused integer squared-L2 ([[graft.functions.L2MicroSquared]]): must
  * be BIT-IDENTICAL to the zip_with/aggregate composition it replaced
  * in the k-means argmin — on the codegen path (DataFrame) AND the
  * interpreted path (Literal eval), including the null algebra. */
class L2MicroSquaredSpec extends SparkSpec {
  import spark.implicits._

  test("property: fused d2 == zip_with/aggregate composition, codegen path") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(8)
      (Seq.fill(n)(rnd.nextLong() % 2000000L),
        Seq.fill(n)(rnd.nextLong() % 2000000L))
    }
    val df = rows.toDF("a", "b")
    val both = df.select(
      graft.functions.ArrayOps.l2MicroSquared(col("a"), col("b")).as("fused"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, d) => acc + d).as("composed"))
      .as[(Long, Long)].collect()
    both.foreach { case (f, c) => f shouldBe c }
  }

  test("interpreted eval: values, length mismatch -> null, null element -> null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def arr(xs: Seq[java.lang.Long]): Literal =
      Literal.create(xs, ArrayType(LongType, containsNull = true))
    def run(a: Seq[java.lang.Long], b: Seq[java.lang.Long]): Any =
      graft.functions.L2MicroSquared(arr(a), arr(b)).eval(null)
    run(Seq(3L, -4L), Seq(0L, 0L)) shouldBe 25L
    run(Seq(1000000L), Seq(-1000000L)) shouldBe 4000000000000L
    assert(run(Seq(1L, 2L), Seq(1L)) == null)        // length mismatch
    assert(run(Seq(1L, null), Seq(1L, 2L)) == null)   // null element
    run(Seq.empty, Seq.empty) shouldBe 0L
  }

  test("DotMicro: fused dot == zip_with/aggregate composition + null algebra") {
    val rnd = new scala.util.Random(43)
    val rows = (0 until 200).map { _ =>
      val n = 1 + rnd.nextInt(8)
      (Seq.fill(n)(rnd.nextLong() % 2000000L), Seq.fill(n)(if (rnd.nextBoolean()) 1L else -1L))
    }
    val both = rows.toDF("a", "b").select(
      graft.functions.ArrayOps.dotMicro(col("a"), col("b")).as("fused"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, t) => acc + t).as("composed"))
      .as[(Long, Long)].collect()
    both.foreach { case (f, c) => f shouldBe c }
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def arr(xs: Seq[java.lang.Long]): Literal =
      Literal.create(xs, ArrayType(LongType, containsNull = true))
    def run(a: Seq[java.lang.Long], b: Seq[java.lang.Long]): Any =
      graft.functions.DotMicro(arr(a), arr(b)).eval(null)
    run(Seq(2L, -3L), Seq(4L, 5L)) shouldBe -7L
    assert(run(Seq(1L, 2L), Seq(1L)) == null)
    assert(run(Seq(1L, null), Seq(1L, 2L)) == null)
  }
}

/** SRP projection (q153): the driver-side sign derivation must be
  * bit-equal to the engine's portable md5 hash (the bridge that lets
  * the oracle REGENERATE the matrix), and the projection itself must
  * be the exact integer sum it claims. */
class SrpProjectSpec extends SparkSpec {
  import spark.implicits._

  test("srpSigns parity with the engine's portable md5Hash32") {
    // the critical cross-representation pin: MessageDigest first-4-
    // bytes parity == md5Hash32 (first 8 hex chars as long) % 2
    val cases = for (j <- 0 until 4; i <- 0 until 8) yield s"srp:$j:$i"
    val engine = cases.toDF("s")
      .select((graft.functions.PortableHash.md5Hash32(col("s")) % 2).as("p"))
      .as[Long].collect()
    val signs = Embeddings.srpSigns(8, 4)
    val driver = for (j <- 0 until 4; i <- 0 until 8)
      yield if (signs(j)(i) == 1L) 0L else 1L
    engine.toSeq shouldBe driver
  }

  test("projection is the exact signed micro-unit sum; wrong-dim rows drop") {
    val df = Seq(
      (0L, Array(1.0f, -2.0f)),
      (1L, Array(0.5f, 0.5f)),
      (2L, Array(1.0f, 2.0f, 3.0f))) // wrong dims -> excluded
      .toDF("vec_id", "embedding")
    val signs = Embeddings.srpSigns(2, 3)
    val withNullComp = df.unionByName(
      Seq((3L, Array(1.0f))).toDF("vec_id", "embedding")
        .select(col("vec_id"), array(col("embedding")(0), lit(null)).as("embedding")))
    val got = Embeddings.srpProjectMicro(withNullComp, "vec_id", "embedding",
      dims = 2, outDims = 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    got.map(_._1).toSet should not contain 3L // null-component row drops
    val expect = (for {
      (id, v) <- Seq(0L -> Array(1000000L, -2000000L), 1L -> Array(500000L, 500000L))
      j <- 0 until 3
    } yield (id, j.toLong, signs(j)(0) * v(0) + signs(j)(1) * v(1))).sorted
    got shouldBe expect
  }

  test("JL sanity: projected cosine separates aligned from orthogonal pairs") {
    val rnd = new scala.util.Random(53)
    // exactly orthogonal by construction: disjoint supports — the
    // projected cosine then measures pure JL distortion (~1/sqrt(16)),
    // not the random pair's own accidental alignment
    val base = Array.tabulate(64)(i => if (i % 2 == 0) rnd.nextFloat() * 2 - 1 else 0f)
    val aligned = base.map(x => x * 0.9f + (rnd.nextFloat() - 0.5f) * 0.02f)
    val ortho = Array.tabulate(64)(i => if (i % 2 == 1) rnd.nextFloat() * 2 - 1 else 0f)
    val df = Seq((0L, base), (1L, aligned), (2L, ortho)).toDF("vec_id", "embedding")
    val proj = Embeddings.srpProjectMicro(df, "vec_id", "embedding", 64, 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2).toDouble) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val near = cos(proj(0L), proj(1L))
    val far = math.abs(cos(proj(0L), proj(2L)))
    near should be > 0.7
    near should be > far + 0.3 // separation survives the projection
  }

  test("shortlist-rerank: identity probes rank first; full-corpus shortlist == exact top-k") {
    val rnd = new scala.util.Random(71)
    val rows = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") < 3)
    val got = Embeddings.srpShortlistRerank(df, "vec_id", "embedding",
      qs, "vec_id", "embedding", dims = 64, outDims = 16, shortlist = 40, k = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // identity probe: each query's rank-1 hit is itself at d2 = 0
    got.groupBy(_._1).foreach { case (q, rs) =>
      rs.minBy(r => (r._3, r._2)) shouldBe ((q, q, 0L))
    }
    // shortlist covering the whole corpus leaves no JL boundary: the
    // result must equal the exact full-dimension micro top-k
    val micro = rows.toMap.view.mapValues(
      _.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = (0L until 3L).flatMap { q =>
      rows.map { case (id, _) => (q, id, d2(micro(q), micro(id))) }
        .sortBy(r => (r._3, r._2)).take(4)
    }.sorted
    got shouldBe expect
  }

  test("shortlist-rerank drops malformed corpus rows in the RERANK scan too") {
    // A wrong-dimensionality row whose own component would trip
    // microQuant's per-row overflow guard at ITS length (1 element →
    // bound ~1519 raw; 2000 raw overflows): the shortlist phase drops
    // it via the validity filter, and the rerank scan must apply the
    // SAME filter — quantizing the unfiltered corpus there would
    // raise and fail the whole job on dirty data the contract says
    // DROPs (round-10 advice, Embeddings.scala rerank scan).
    val rnd = new scala.util.Random(19)
    val rows = (0L until 10L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val dirty = rows.toDF("vec_id", "embedding").unionByName(
      Seq((99L, Array(2000.0f))).toDF("vec_id", "embedding"))
    val qs = dirty.filter(col("vec_id") < 2)
    val got = Embeddings.srpShortlistRerank(dirty, "vec_id", "embedding",
      qs, "vec_id", "embedding", dims = 64, outDims = 16, shortlist = 10, k = 3)
      .as[(Long, Long, Long)].collect().toSeq
    got should not be empty
    got.map(_._2).toSet should not contain 99L
  }

  test("shortlist-rerank guards projected int64 distance overflow loudly") {
    // components sized to PASS microQuant's raw-component guard
    // (|150| raw < ~190 at d=64) but aligned with sign row 0 so the
    // projected component j=0 sums to 64 x 1.5e8 — far past the
    // projected-space bound sqrt(Long.Max / 4*16) ~ 3.8e8
    val signs = Embeddings.srpSigns(64, 16)
    val v = Array.tabulate(64)(i => (signs(0)(i) * 150L).toFloat)
    val df = Seq((0L, v)).toDF("vec_id", "embedding")
    val e = intercept[Throwable] {
      Embeddings.srpShortlistRerank(df, "vec_id", "embedding",
        df, "vec_id", "embedding", 64, 16, shortlist = 1, k = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("overflows")),
      s"expected a loud projected-overflow error, got: $e")
  }
}

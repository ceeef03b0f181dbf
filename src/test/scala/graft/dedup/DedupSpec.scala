package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  import spark.implicits._

  /** Star CC with its driver finish off: these graphs are far below the
    * finish bound, so only this form runs the rounds on them. */
  private def ccRounds(pairs: org.apache.spark.sql.DataFrame, maxIter: Int = 20,
                       checkpointDir: Option[String] = None) =
    Dedup.starComponents(pairs, "doc_a", "doc_b", maxIter, checkpointDir,
      driverEdges = 0)

  /** The three ways star CC can end on a draw: rounds only, a driver
    * finish after a round (the bound just below the round-0 edge count),
    * and the default (a driver finish before round 0). */
  private def ccThreeWays(pairs: org.apache.spark.sql.DataFrame,
                          round0Edges: Int): Seq[org.apache.spark.sql.DataFrame] =
    Seq(ccRounds(pairs),
      Dedup.starComponents(pairs, "doc_a", "doc_b", 20, None,
        driverEdges = math.max(1, round0Edges - 1)),
      Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b"))

  private lazy val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "the quick brown fox"),       // exact dup of 1
    (3L, "a completely different text"),
    (4L, "the quick brown foxes"))     // near dup of 1
    .toDF("doc_id", "text")

  test("exactDedup keeps the min-id row per fingerprint") {
    val kept = Dedup.exactDedup(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("exactDedupThin is row-identical to the window form (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // heavy duplication on purpose: few distinct texts over many ids,
    // plus empty/null-ish shapes
    val textGen = Gen.oneOf("aaa bbb", "aaa bbb", "ccc", "", "x y z", "aaa  bbb")
    val prop = Prop.forAll(Gen.listOfN(10, textGen)) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val win = Dedup.exactDedup(d, col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSet
      val thin = Dedup.exactDedupThin(d, col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSet
      win == thin
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhashBits matches a driver-side brute-force computation") {
    // Reference computation: same tokens, same md5-digit voting rule.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val expect = for {
      (id, text) <- Seq(1L -> "the quick brown fox", 3L -> "a completely different text")
      toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
      i <- 1 to 32
    } yield {
      val votes = toks.map(t => if (md5hex(t)(i - 1) >= '8') 1 else -1).sum
      (id, i, if (votes > 0) 1 else 0)
    }
    val got = Dedup.simhashBits(docs.filter(col("doc_id").isin(1L, 3L)),
        col("doc_id"), col("text"))
      .as[(Long, Int, Int)].collect().toSet
    assert(got === expect.toSet)
  }

  test("minhash signatures are identical for identical documents") {
    val sig = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 4)
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(v => (v._2, v._3)).toSet).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
  }

  test("lshCandidatePairs surfaces the exact-dup pair via band join") {
    val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 4)
    val pairs = Dedup.lshCandidatePairs(sigs, bandSize = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("bandOccupancy accounts exactly for the doc slots the bucket cap drops") {
    // 6 identical docs form a hot bucket in BOTH bands; a 3-doc family
    // stays under a cap of 4
    val hot = (0L until 6L).map(i => (i, "alpha beta gamma delta epsilon"))
    val warm = (10L until 13L).map(i => (i, "zeta eta theta iota kappa"))
    val dd = (hot ++ warm).toDF("doc_id", "text")
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(dd, col("doc_id"), col("text"), 8), 4)
    val occ = Dedup.bandOccupancy(banded, maxBucket = 4)
      .as[(Long, String, Long, Boolean, Long)].collect()
    // 2 bands × 2 families = 4 collision buckets
    assert(occ.length === 4)
    val (over, under) = occ.partition(_._4)
    assert(over.length === 2 && over.forall(r => r._3 === 6L && r._5 === 6L))
    assert(under.length === 2 && under.forall(r => r._3 === 3L && r._5 === 0L))
    // the accounting matches the cap's actual effect: no hot-family doc
    // survives into candidate pairs; the warm family fully pairs up
    val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(dd, col("doc_id"), col("text"), 8), 4,
        maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // the fingerprint (Hamming band) index shares the banded schema, so
    // it gets the same view
    val fps = ((0L until 6L).map(i => (i, 0x1234L)) ++
      Seq((10L, 0x4321L), (11L, 0x4321L))).toDF("doc_id", "fp")
    val fpOcc = Dedup.bandOccupancy(
        Dedup.fingerprintBands(fps, col("doc_id"), col("fp"), 16, 8),
        maxBucket = 4)
      .as[(Long, Long, Long, Boolean, Long)].collect()
    assert(fpOcc.count(_._4) === 2) // hot fp over cap in both bands
    assert(fpOcc.filter(_._4).map(_._5).sum === 12L)
  }

  test("capBandIndex: pre-capped table + skip == uncapped index + query-time cap window") {
    import graft.core.Bucketing
    // 6-doc hot family (over a cap of 4 in both bands) + 3-doc warm family
    val hot = (0L until 6L).map(i => (i, "alpha beta gamma delta epsilon"))
    val warm = (10L until 13L).map(i => (i, "zeta eta theta iota kappa"))
    val corpus = (hot ++ warm).toDF("doc_id", "text")
    def bandedOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandedSignatures(
        Dedup.minhashSignatures(df, col("doc_id"), col("text"), 8), 4)
    val banded = bandedOf(corpus)
    Dedup.writeBandIndex(banded, "cap_band_idx", 4)
    // a replayed append (crash window): duplicate rows that would inflate
    // the warm bucket over the cap if not healed first
    Dedup.appendBandIndex(bandedOf(corpus.filter(col("doc_id") >= 10L)),
      "cap_band_idx", 4)
    Dedup.capBandIndex(spark, "cap_band_idx", maxBucket = 4)
    val capped = Dedup.readBandIndex(spark, "cap_band_idx")
    // hot buckets dropped wholesale; warm family healed and retained
    assert(capped.filter(col("doc_id") < 6L).count() === 0)
    assert(capped.filter(col("doc_id") >= 10L).count() === 3L * 2) // 2 bands
    // the contract: pre-capped + skip ≡ uncapped + query-time window
    val shard = bandedOf(Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "zeta eta theta iota kappa")).toDF("doc_id", "text"))
    val viaPreCapped = Dedup.incrementalCandidatePairs(shard, capped,
        maxBucket = 4, indexPreCapped = true)
      .as[(Long, Long)].collect().toSet
    val viaWindow = Dedup.incrementalCandidatePairs(shard, banded,
        maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(viaPreCapped === viaWindow && viaPreCapped.nonEmpty)
    // compaction preserved the bucket layout: at most one file per bucket
    // (empty buckets write none), down from the appended file sets
    assert(Bucketing.dataFiles(spark, "cap_band_idx").size <= 4)
  }

  test("imageNearDupPairs: Hamming banding proposes and verifies; cap bounds degenerate buckets") {
    // 8-bit fingerprints, 2 bands of 4: 1-2 collide on the low band
    // (hamming 1); 3 matches nobody within hamming 2; 4-5 identical
    val fps = Seq(
      (1L, 0xA5L), (2L, 0xB5L), (3L, 0x5AL), (4L, 0xF0L), (5L, 0xF0L))
      .toDF("doc_id", "fp")
    val pairs = Dedup.imageNearDupPairs(fps, col("doc_id"), col("fp"),
        bits = 8, bandBits = 4, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((1L, 2L, 1), (4L, 5L, 0)))
    // banding recall contract: hamming 1 < bits/bandBits = 2 ALWAYS
    // collides on a band; a doc sharing no band with anyone (3) proposes
    // nothing regardless of exhaustive distances
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // degenerate bucket (all-identical fingerprints — solid-color corpus):
    // the per-bucket cap drops the bucket instead of going quadratic
    val solid = (1L to 20L).map((_, 0L)).toDF("doc_id", "fp")
    assert(Dedup.imageNearDupPairs(solid, col("doc_id"), col("fp"),
      8, 4, 2, maxBucket = 10).count() === 0)
    assert(Dedup.imageNearDupPairs(solid, col("doc_id"), col("fp"),
      8, 4, 2, maxBucket = 64).count() === 190) // 20 choose 2
  }

  test("verifyCandidates broadcast guard: forced shuffle-join fallback is row-identical") {
    val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8)
    val cands = Dedup.lshCandidatePairs(sigs, bandSize = 4)
      // an intentional duplicate pair (deduped away) and a disjoint-gram
      // pair (no jaccard-0 row for it, even at minJaccard = 0)
      .union(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .union(Seq((96L, 97L)).toDF("doc_a", "doc_b"))
    val disjointDocs = docs.union(
      Seq((96L, "aaaaaaaaaa"), (97L, "zzzzzzzzzz")).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSeq.sorted
    // a broadcast bound of 0 forces the unhinted (shuffle-join) path —
    // the at-scale fallback for candidate sets beyond executor memory; it
    // must produce exactly the broadcast plan's pairs
    val broadcastForm = rows(Dedup.verifyCandidates(
      disjointDocs, cands, col("doc_id"), col("text"), 3, 0.0))
    val shuffleForm = rows(Dedup.verifyCandidates(
      disjointDocs, cands, col("doc_id"), col("text"), 3, 0.0, 6, 0L))
    assert(broadcastForm.nonEmpty)
    assert(shuffleForm === broadcastForm)
    // Seq, not Set: an undeduped duplicate pair would repeat a row
    assert(broadcastForm.distinct === broadcastForm)
    assert(broadcastForm.contains((1L, 2L, 1.0)))
    assert(!broadcastForm.exists(r => r._1 == 96L || r._2 == 97L))
  }

  test("verifyCandidates equals the exploded-join reference (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // ASCII, NUL, 2-, 3- and 4-byte code points; "€€a" is a 7-byte and
    // "€€é" an 8-byte 3-gram, the two sides of the packing boundary
    val piece = Gen.oneOf("a", "b", "ab", "\u0000", "é", "€", "😀",
      "€€a", "€€é", "\u0000\u0000")
    // texts shorter than n, empty and null ones, and the texts a packing
    // without its length byte would confuse ("" with "\u0000", "ab" with
    // "ab\u0000")
    val text: Gen[String] = Gen.frequency(
      8 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, piece)).map(_.mkString),
      1 -> Gen.const(""), 1 -> Gen.const("\u0000"), 1 -> Gen.const("ab"),
      1 -> Gen.const("ab\u0000"), 1 -> Gen.const(null))
    val case_ = for {
      texts <- Gen.listOfN(7, text)
      n <- Gen.oneOf(2, 3)
      // every pair (so disjoint ones too), some twice, some reversed
      twice <- Gen.someOf(for (a <- 0 until 7; b <- a + 1 until 7) yield (a, b))
    } yield (texts, n, twice.toSeq)
    val prop = Prop.forAll(case_) { case (texts, n, twice) =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val all = for (a <- 0 until 7; b <- a + 1 until 7) yield (a.toLong, b.toLong)
      val cands = (all ++ twice.map { case (a, b) => (a.toLong, b.toLong) } ++
          twice.take(3).map { case (a, b) => (b.toLong, a.toLong) })
        .toDF("doc_a", "doc_b")
      Seq(0.0, 0.3).forall { minJ =>
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, Long, Double)].collect().toSeq.sorted
        val got = rows(Dedup.verifyCandidates(d, cands, col("doc_id"),
          col("text"), n, minJ))
        val want = rows(ExplodedVerify(d, cands, col("doc_id"), col("text"), n, minJ))
        val ok = got == want
        if (!ok) println(s"texts=$texts n=$n minJ=$minJ\n got=$got\nwant=$want")
        ok
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("ngram document-frequency cap drops hot grams from the join") {
    val uncapped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      3, 0.0, maxDocFreq = 1000)
    val capped = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      3, 0.0, maxDocFreq = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact dups are a perfect match uncapped
    val j12 = uncapped.filter(col("doc_a") === 1 && col("doc_b") === 2)
      .select("jaccard").as[Double].collect().head
    assert(j12 === 1.0)
    // the cap only removes candidates (hot grams out of the index),
    // never invents pairs
    assert(pairs(capped).subsetOf(pairs(uncapped)))
    assert(pairs(capped).size < pairs(uncapped).size)
  }

  test("connectedComponents labels each vertex with its component's min id") {
    // two components: a 4-chain {1,2,3,4} (diameter 3, needs >1 round)
    // and a pair {10,11}; 20-20 self-pair ignored; vertex order in a pair
    // must not matter
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 20L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("native minhash kernel is row-identical to the exploded relational form") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // mixed-case, punctuation, digits, repeated tokens, and empty/token-less
    // docs (those must vanish from BOTH forms)
    val wordGen = Gen.oneOf("The", "fox", "Fox", "jumps!", "42", "a-b", "", "  ")
    val docGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(6, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 4)
        .as[(Long, Long, String)].collect().toSet
      val exploded = DedupSpec.minhashSignaturesExploded(docs, col("doc_id"), col("text"), 4)
        .as[(Long, Long, String)].collect().toSet
      val nativeSim = Dedup.simhashBits(docs, col("doc_id"), col("text"))
        .as[(Long, Int, Int)].collect().toSet
      val explodedSim = DedupSpec.simhashBitsExploded(docs, col("doc_id"), col("text"))
        .as[(Long, Int, Int)].collect().toSet
      native == exploded && nativeSim == explodedSim
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("bandedSignaturesProjected is row-identical to the aggregate band form") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "the quick brown fox jumps over the lazy dog",
      4L -> "",            // token-less: no rows in either form
      5L -> "!!! ???")     // token-less after split
      .toDF("doc_id", "text")
    val agg = Dedup.bandedSignatures(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
      .as[(Long, Long, String)].collect().toSet
    val proj = Dedup.bandedSignaturesProjected(docs, col("doc_id"), col("text"), 8, 4)
      .as[(Long, Long, String)].collect().toSet
    assert(proj === agg)
    assert(proj.map(_._1) === Set(1L, 2L, 3L)) // token-less docs absent
  }

  test("lshCandidatePairsAuto: non-dividing bandSize falls back to the " +
      "aggregate form (trailing partial band) instead of failing") {
    val txt = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(1L -> txt, 2L -> txt,
      3L -> "pack my box with five dozen liquor jugs").toDF("doc_id", "text")
    // k = 8, bandSize = 3: the projected form's divisibility require
    // rejects this (r17 ADVICE — CLI/pipeline user args hit it); auto
    // must route to the aggregate composition and still propose the
    // exact-dup pair
    val auto = Dedup.lshCandidatePairsAuto(docs, col("doc_id"), col("text"),
      8, 3).as[(Long, Long)].collect().toSet
    val agg = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 3)
      .as[(Long, Long)].collect().toSet
    assert(auto === agg)
    assert(auto.contains((1L, 2L)))
    // and the dividing case (the projected bands) keeps the aggregate
    // form's pair set
    val auto4 = Dedup.lshCandidatePairsAuto(docs, col("doc_id"), col("text"),
      8, 4).as[(Long, Long)].collect().toSet
    val agg4 = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
      .as[(Long, Long)].collect().toSet
    assert(auto4 === agg4)
  }

  test("incrementalCandidatePairs: new×index and new×new, never old×old") {
    // docs 1,2 are exact dups (old corpus); 10 dups 1 (new vs index);
    // 11,12 are new exact dups of each other; 20 is unique
    val txt = "the quick brown fox jumps over the lazy dog tonight again"
    val other = "completely different content about spark partitions and shuffles"
    val docs = Seq(1L -> txt, 2L -> txt, 3L -> other,
      10L -> txt, 11L -> (other + " extra"), 12L -> (other + " extra"), 20L -> "zebra unique words here")
      .toDF("doc_id", "text")
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
    val pairs = Dedup.incrementalCandidatePairs(
        banded.filter(col("doc_id") >= 10), banded.filter(col("doc_id") < 10))
      .as[(Long, Long)].collect().toSet
    // new-vs-index dups surface for BOTH index copies; new×new surfaces;
    // the old×old pair (1,2) must NOT — it was handled when the index was built
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)))
    assert(pairs.contains((11L, 12L)))
    assert(!pairs.contains((1L, 2L)))
    assert(pairs.forall { case (a, b) => b >= 10L }) // every pair touches the shard
  }

  test("incrementalCandidatePairs new×new equals lshCandidatePairs over the shard alone, under a binding cap (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a 3-word vocabulary over 2-4-word docs: band buckets collide hard,
    // so a cap of 3 drops some buckets and keeps others. No shrinking:
    // each step is two Spark jobs
    val textGen = Gen.choose(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc")).map(_.mkString(" ")))
    val prop = Prop.forAllNoShrink(Gen.listOfN(12, textGen)) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(d, col("doc_id"), col("text"), 4)
      val banded = Dedup.bandedSignatures(sigs, 2)
      // ids 0-7 are the shard, 8-11 the index
      val shard = banded.filter(col("doc_id") < 8)
      val newNew = Dedup.incrementalCandidatePairs(shard,
          banded.filter(col("doc_id") >= 8), maxBucket = 3)
        .filter(col("doc_b") < 8).as[(Long, Long)].collect().toSet
      val batch = Dedup.lshCandidatePairs(sigs.filter(col("doc_id") < 8), 2,
          maxBucket = 3).as[(Long, Long)].collect().toSet
      newNew == batch
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
    // the cap binds on this vocabulary: identical docs fill one bucket
    val hot = (0L until 5L).map((_, "aa bb")).toDF("doc_id", "text")
    val hotBanded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(hot, col("doc_id"), col("text"), 4), 2)
    assert(Dedup.incrementalCandidatePairs(hotBanded, hotBanded.limit(0),
      maxBucket = 3).count() === 0)
    assert(Dedup.incrementalCandidatePairs(hotBanded, hotBanded.limit(0),
      maxBucket = 5).count() === 10)
  }

  test("multi-day incremental ingest covers EXACTLY the batch pair set (cross-day dups)") {
    // The lifecycle invariant day-2/day-3 ingest rests on: batch pairs
    // over the whole corpus == day-0 batch within C0, plus each day's
    // incremental pairs against the FOLDED index. The S2×S1 pair (20,11)
    // is discoverable only because day 1 appended S1 to the index —
    // skipping the fold silently loses cross-day duplicates.
    val a = "the quick brown fox jumps over the lazy dog tonight again"
    val b = "completely different content about spark partitions and shuffles"
    val docs = Seq(
      1L -> a, 2L -> a,
      3L -> "mountain trails wind through cedar groves toward the snow line",
      10L -> a, 11L -> (b + " extra"), 12L -> (b + " extra"),
      20L -> (b + " extra"), 21L -> a, 22L -> "zebra unique words here")
      .toDF("doc_id", "text")
    val banded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
      .localCheckpoint()
    def day(lo: Long, hi: Long) =
      banded.filter(col("doc_id") >= lo && col("doc_id") < hi)
    spark.sql("DROP TABLE IF EXISTS md_band_idx")
    try {
      Dedup.writeBandIndex(day(0, 10), "md_band_idx", buckets = 4)
      val p0 = Dedup.lshCandidatePairs(Dedup.minhashSignatures(
          docs.filter(col("doc_id") < 10), col("doc_id"), col("text"), 8), 4)
        .as[(Long, Long)].collect().toSet
      val p1 = Dedup.incrementalCandidatePairs(day(10, 20),
          Dedup.readBandIndex(spark, "md_band_idx"))
        .as[(Long, Long)].collect().toSet
      Dedup.appendBandIndex(day(10, 20), "md_band_idx", buckets = 4)
      val p2 = Dedup.incrementalCandidatePairs(day(20, 30),
          Dedup.readBandIndex(spark, "md_band_idx"))
        .as[(Long, Long)].collect().toSet
      Dedup.appendBandIndex(day(20, 30), "md_band_idx", buckets = 4)
      assert(p2.contains((11L, 20L)), s"cross-day pair lost: $p2")
      val batch = Dedup.lshCandidatePairs(Dedup.minhashSignatures(
          docs, col("doc_id"), col("text"), 8), 4)
        .as[(Long, Long)].collect().toSet
      assert((p0 ++ p1 ++ p2) === batch)
      // and the days are disjoint slices of it (no pair double-proposed
      // across days: each pair's later member fixes its discovery day)
      assert((p0 & p1).isEmpty && (p0 & p2).isEmpty && (p1 & p2).isEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS md_band_idx")
  }

  test("incremental PERCEPTUAL dedup: fingerprint bands ride the d9 band-index machinery") {
    // 16-bit fingerprints; old corpus 1-3, new shard 10-12: 10 is a
    // 1-bit-nudged copy of 1 (new×index), 11≡12 (new×new), old 1≈2 must
    // never pair (handled when the index was built)
    val fps = Seq(
      1L -> 0x7FFFL, 2L -> 0x7FFEL, 3L -> 0x5555L,
      10L -> 0x7FFBL, 11L -> 0x00F0L, 12L -> 0x00F0L)
      .toDF("doc_id", "fp")
    def banded(df: org.apache.spark.sql.DataFrame) =
      Dedup.fingerprintBands(df, col("doc_id"), col("fp"), 16, 8)
    val cands = Dedup.incrementalCandidatePairs(
      banded(fps.filter(col("doc_id") >= 10)),
      banded(fps.filter(col("doc_id") < 10)))
    val verified = Dedup.verifyHammingPairs(fps, col("doc_id"), col("fp"),
        cands, maxHamming = 2)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    // 1^0x7FFB = 1 bit apart via the shared high band; 2^10 = 2 bits —
    // both verified; 11-12 identical; no old×old pair anywhere
    assert(verified === Set((1L, 10L, 1), (2L, 10L, 2), (11L, 12L, 0)))
    // and the banded shape IS the index schema: persisting + reopening
    // through the bucketed band index yields identical incremental pairs
    // (session warehouse is a per-PID temp dir, GraftSession.local)
    spark.sql("DROP TABLE IF EXISTS fp_band_index")
    try {
      Dedup.writeBandIndex(banded(fps.filter(col("doc_id") < 10)),
        "fp_band_index", buckets = 4)
      val viaIndex = Dedup.incrementalCandidatePairs(
        banded(fps.filter(col("doc_id") >= 10)),
        Dedup.readBandIndex(spark, "fp_band_index"))
      val verified2 = Dedup.verifyHammingPairs(fps, col("doc_id"), col("fp"),
          viaIndex, maxHamming = 2)
        .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
        .collect().toSet
      assert(verified2 === verified)
    } finally spark.sql("DROP TABLE IF EXISTS fp_band_index")
  }

  test("per-token case-fold contract: kernels MATCH lower() on U+212A and CJK (r17 — the old ASCII divergence is closed)") {
    // Pre-r17 the byte-walk kernels folded only A-Z and SPLIT on every
    // non-ASCII byte, so U+212A KELVIN SIGN (whose lowercase is ASCII
    // 'k') tokenized differently between kernel and relational twin —
    // a documented divergence. The r17 Unicode normal form lowercases
    // per TOKEN after a case-independent split in BOTH forms, so they
    // now agree on exactly the inputs that used to diverge.
    val docs = Seq((1L, "x\u212ay"), (2L, "\u6f22\u5b57\u30c7\u30fc\u30bf Mixed CASE \u6848"))
      .toDF("doc_id", "text")
    val native = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 4)
      .as[(Long, Long, String)].collect().toSet
    val exploded = DedupSpec.minhashSignaturesExploded(docs, col("doc_id"), col("text"), 4)
      .as[(Long, Long, String)].collect().toSet
    assert(native === exploded)
    // and the Kelvin token equals the plain-ASCII spelling's token
    val folded = Seq((1L, "xky")).toDF("doc_id", "text")
    val nf = Dedup.minhashSignatures(folded, col("doc_id"), col("text"), 4)
      .as[(Long, Long, String)].collect().toSet
    assert(nf === native.filter(_._1 == 1L))
  }

  test("connectedComponents with a reliable checkpointDir matches the default mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val reliable = ccRounds(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSet
    val default = ccRounds(pairs)
      .as[(Long, Long)].collect().toSet
    assert(reliable === default)
    assert(reliable === Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("CC scratch-branch rounds (size-adaptive threshold forced low) match object-block rounds") {
    // persistRound picks scratch parquet above Scratch.objectBlockSafeRows;
    // force the threshold to 0 so EVERY sized round takes the scratch
    // branch (incl. the early-drop handles), and assert it produces the
    // same labels as the default object-block path
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (5L, 4L))
      .toDF("doc_a", "doc_b")
    val expect = ccRounds(pairs)
      .as[(Long, Long)].collect().toSet
    System.setProperty("graft.scratch.objectBlockSafeRows", "0")
    try {
      val got = ccRounds(pairs)
        .as[(Long, Long)].collect().toSet
      assert(got === expect)
    } finally System.clearProperty("graft.scratch.objectBlockSafeRows")
  }

  test("connectedComponents throws instead of returning split components at maxIter") {
    // a 6-chain needs more than one star alternation to reach its fixpoint
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      ccRounds(chain, maxIter = 1).count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents on an empty pair set returns no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponentsStar(empty, "doc_a", "doc_b").count() === 0L)
  }

  test("connectedComponents matches driver-side union-find on random graphs (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random sparse graphs over <=40 vertices: chains, stars, cliques, and
    // isolated pairs all appear across draws
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
    val prop = Prop.forAll(edgeGen) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      val want: Map[Long, Long] = {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        real.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // min-id canonical label, matching the engine's cluster id
        val vs = real.flatMap { case (a, b) => Seq(a, b) }.distinct
        val byRoot = vs.groupBy(find)
        vs.map(v => v -> byRoot(find(v)).min).toMap
      }
      if (real.isEmpty) true
      else {
        val round0 = real.map { case (a, b) => (a max b, a min b) }.distinct.size
        ccThreeWays(real.toDF("doc_a", "doc_b"), round0)
          .forall(_.as[(Long, Long)].collect().toMap == want)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("CC machinery is comparison-only: STRING keys cluster like their order-isomorphic longs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // "v%03d" is order-isomorphic to the long id, so min-labels map 1:1 —
    // the string-keyed output must be exactly the long output renamed.
    // This is the contract the dedup chain's surrogate path and string-id
    // cluster tables (ingest-daily day-2 maintenance) stand on.
    def sid(v: Long): String = f"v$v%03d"
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
    val prop = Prop.forAll(edgeGen) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      if (real.isEmpty) true
      else {
        val dfL = real.toDF("doc_a", "doc_b")
        val dfS = real.map { case (a, b) => (sid(a), sid(b)) }
          .toDF("doc_a", "doc_b")
        val longCC = ccRounds(dfL)
          .as[(Long, Long)].collect().toMap
          .map { case (v, c) => sid(v) -> sid(c) }
        val round0 = real.map { case (a, b) => (a max b, a min b) }.distinct.size
        val strCCs = ccThreeWays(dfS, round0)
          .map(_.as[(String, String)].collect().toMap)
        val strCC = strCCs.head
        val oldS = dfS.filter(length($"doc_a") === 4 && $"doc_a" < "v020" &&
          $"doc_b" < "v020")
        val newS = dfS.filter($"doc_a" >= "v020" || $"doc_b" >= "v020")
        val asgS = Dedup.connectedComponentsStar(oldS, "doc_a", "doc_b")
        val incS = Dedup.incrementalClusters(asgS, newS)
          .as[(String, String)].collect().toMap
        strCCs.forall(_ == longCC) && incS == strCC
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
    // UTF-16 and UTF-8 order disagree on these two keys ("😀" is a
    // surrogate pair below U+FF5E in UTF-16, but its first UTF-8 byte 0xF0
    // is above 0xEF): every path labels in Spark's byte order
    val astral = Seq(("\uD83D\uDE00", "\uFF5E")).toDF("doc_a", "doc_b")
    for (cc <- ccThreeWays(astral, 1))
      assert(cc.as[(String, String)].collect().toMap ===
        Map("\uD83D\uDE00" -> "\uFF5E", "\uFF5E" -> "\uFF5E"))
    // mixed numeric/string endpoints fail loudly, never coerce
    val mixed = Seq((1L, "a"), (2L, "b")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStar(mixed, "doc_a", "doc_b")
    }
    assert(e.getMessage.contains("mix numeric"), e.getMessage)
  }

  test("incrementalClusters: fold-in equals batch CC on random old/new splits (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // vertices < 20 are "day 1"; any edge touching >= 20 is the new shard.
    // Covers: merges through a new vertex, chains of merges, new-only
    // components, lower-id new vertices stealing a cluster label, and
    // empty old or new sides.
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 39L), Gen.choose(0L, 39L)))
    val prop = Prop.forAll(edgeGen) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      if (real.isEmpty) true
      else {
        val df = real.toDF("doc_a", "doc_b")
        val oldE = df.filter($"doc_a" < 20 && $"doc_b" < 20)
        val newE = df.filter($"doc_a" >= 20 || $"doc_b" >= 20)
        val assignment = Dedup.connectedComponentsStar(oldE, "doc_a", "doc_b")
        val inc = Dedup.incrementalClusters(assignment, newE)
          .as[(Long, Long)].collect().toMap
        val batch = Dedup.connectedComponentsStar(df, "doc_a", "doc_b")
          .as[(Long, Long)].collect().toMap
        inc == batch
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("incrementalClusters deltaOnly: upserting the delta reproduces the full output") {
    // two old clusters {1,2} and {10,11}, an untouched one {30,31}; new
    // doc 50 bridges them, new doc 0 (lower than every old id) joins and
    // steals the merged label; 60-61 form a new-only component
    val assignment = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
      (30L, 30L), (31L, 30L)).toDF("doc_id", "cluster")
    val newPairs = Seq((2L, 50L), (50L, 10L), (0L, 11L), (60L, 61L))
      .toDF("doc_a", "doc_b")
    val full = Dedup.incrementalClusters(assignment, newPairs)
      .as[(Long, Long)].collect().toMap
    assert(full === Map(1L -> 0L, 2L -> 0L, 10L -> 0L, 11L -> 0L,
      50L -> 0L, 0L -> 0L, 30L -> 30L, 31L -> 30L, 60L -> 60L, 61L -> 60L))
    val delta = Dedup.incrementalClusters(assignment, newPairs,
      deltaOnly = true).as[(Long, Long)].collect().toMap
    // delta = exactly the changed + new rows: the untouched cluster stays out
    assert(!delta.contains(30L) && !delta.contains(31L))
    val upserted = assignment.as[(Long, Long)].collect().toMap ++ delta
    assert(upserted === full)
  }

  test("editDistancePairs: q-gram count filter is COMPLETE vs brute force (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // short strings over a tiny alphabet: high collision/typo density
    val strGen = Gen.choose(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val prop = Prop.forAll(Gen.listOfN(12, strGen)) { raw =>
      val strs = raw.distinct
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "s")
      val got = Dedup.editDistancePairs(df, col("id"), col("s"), k = 1, q = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // brute force over strings long enough to carry a 2-gram (the
      // operator's documented exclusion)
      val want = (for {
        i <- strs.indices; j <- strs.indices
        if i < j && strs(i).length >= 2 && strs(j).length >= 2 &&
          lev(strs(i), strs(j)) <= 1
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("cosineTfidfPairs: prefix-filtered join equals the unpruned join (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small vocab + short docs → dense similarity structure around the
    // threshold, where a pruning hole would show
    val docGen = Gen.choose(3, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("red", "blue", "cat", "dog", "run", "sky"))
        .map(_.mkString(" ")))
    val prop = Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("doc_id", "text")
      val terms = graft.text.TextFunctions.tokens(col("text"))
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.as[(Long, Long, Double)].collect().toSet
      rows(Dedup.cosineTfidfPairs(df, col("doc_id"), terms, 0.7)) ==
        rows(DedupSpec.cosineTfidfPairsUnpruned(df, col("doc_id"), terms, 0.7))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("cosineTfidfPairs finds a planted lexical near-dup; identical docs ~1.0") {
    val docs = Seq(
      (1L, "solar panels convert sunlight into electricity efficiently"),
      (2L, "solar panels convert sunlight into electricity efficiently"),
      (3L, "solar panels convert bright sunlight into electricity efficiently"),
      (4L, "deep ocean currents redistribute heat around the planet"),
      (5L, "mountain glaciers retreat as average temperatures climb"),
      (6L, "city libraries archive newspapers on microfilm reels"),
      (7L, "migratory birds navigate using magnetic field cues"),
      (8L, "fermented tea cultures require warm stable conditions"),
      (9L, "volcanic soil enriches coffee plantations at altitude"),
      (10L, "orchestras tune to concert pitch before performances"))
      .toDF("doc_id", "text")
    val got = Dedup.cosineTfidfPairs(docs, col("doc_id"),
      graft.text.TextFunctions.tokens(col("text")), 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // 6dp weight rounding leaves the self-dot a hair under exactly 1
    assert(got((1L, 2L)) >= 0.999)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) < got((1L, 2L)))
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("cluster table as-of read: epoch history reproduces yesterday's assignment") {
    val seed = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster")
    Dedup.writeClusterAssignment(seed, "ao_clusters", buckets = 4)
    // day 1: new doc 0 joins and steals the label
    Dedup.ingestClusterDelta(spark, "ao_clusters",
      Seq((0L, 2L)).toDF("doc_a", "doc_b"), buckets = 4)
    val asOf0 = Dedup.readClusterAssignmentAsOf(spark, "ao_clusters", 0L)
      .as[(Long, Long)].collect().toMap
    assert(asOf0 === Map(1L -> 1L, 2L -> 1L))
    val live = Dedup.readClusterAssignment(spark, "ao_clusters")
      .as[(Long, Long)].collect().toMap
    assert(live === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    assert(Dedup.readClusterAssignmentAsOf(spark, "ao_clusters", 1L)
      .as[(Long, Long)].collect().toMap === live)
  }

  test("forgetFromClusterAssignmentExact: bridge splits, isolated docs drop, equals batch over scrubbed log") {
    // chain 1-2-3-4-5 (one cluster labeled 1), pair {10,11}, pair {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val seed = Dedup.connectedComponentsStar(edges, "doc_a", "doc_b")
    Dedup.writeClusterAssignment(seed, "fx_clusters", buckets = 4)
    Dedup.writePairLog(edges, "fx_pairs", buckets = 4)
    // forget the BRIDGE doc 3 and one half of {20,21}
    val ids = Seq(3L, 20L).toDF("doc_id")
    Dedup.forgetFromClusterAssignmentExact(spark, "fx_clusters", "fx_pairs", ids)
    val live = Dedup.readClusterAssignment(spark, "fx_clusters")
      .as[(Long, Long)].collect().toMap
    // the chain SPLITS into {1,2} and {4,5}; 21 is left pairless and
    // leaves the assignment; {10,11} is untouched
    assert(live === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L), s"got $live")
    // the pair log was scrubbed, and the repaired table equals batch CC
    // over what remains of it — the exactness contract
    val scrubbed = spark.table("fx_pairs")
    assert(scrubbed.filter($"doc_a".isin(3L, 20L) || $"doc_b".isin(3L, 20L))
      .count() === 0L)
    val batch = Dedup.connectedComponentsStar(scrubbed, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(live === batch)
  }

  test("connectedComponentsStar converges on a long chain where min-label cannot") {
    // 51-node chain: diameter 50, so min-label propagation would need 50
    // rounds; star alternation contracts exponentially and finishes well
    // inside 8.
    val chain = (1L to 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = ccRounds(chain, maxIter = 8)
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 51L).map(_ -> 1L).toMap)
  }

  test("bandedSignaturesProjected rejects a bandSize that does not divide k") {
    val e = intercept[IllegalArgumentException] {
      Dedup.bandedSignaturesProjected(docs, col("doc_id"), col("text"),
        k = 8, bandSize = 3)
    }
    assert(e.getMessage.contains("must divide"))
  }

  test("containment catches a doc-in-doc near-superset that Jaccard misses") {
    // doc 2 is doc 1 verbatim plus 3x more unique prose: containment of
    // the embedded doc is ~1.0 while Jaccard stays far below it
    val short = "pack my box with five dozen liquor jugs"
    val d = Seq(
      (1L, short),
      (2L, s"$short and then a great deal of entirely unrelated following " +
        "commentary stretching onward with many extra distinct words"),
      (3L, "nothing in common with either of the other two documents at all"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(d, col("doc_id"), col("text"),
        3, 0.9).as[(Long, Long, Double)].collect()
    assert(cont.map(r => (r._1, r._2)).toSeq === Seq((1L, 2L)))
    assert(cont.head._3 >= 0.99)
    val jac = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"), 3, 0.0)
      .as[(Long, Long, Double)].collect()
      .find(r => r._1 == 1L && r._2 == 2L).get._3
    assert(jac < 0.5, s"jaccard $jac should stay low for the superset pair")
  }

  test("substring dedup removes a planted shared passage and nothing else") {
    // Two docs share an 8-token passage embedded in otherwise-unique prose;
    // a third doc is untouched. n=5 marks gram starts
    // passage; the island merge must yield ONE maximal span per doc
    // covering exactly the passage tokens.
    val passage = "pack my box with five dozen liquor jugs"      // 8 tokens
    val d = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),          // toks 4..11 of 13
      (2L, s"one two three four five6 $passage"),                // toks 6..13 of 13
      (3L, "totally unrelated prose with no shared five gram runs here"))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateNgramRuns(d, col("doc_id"), col("text"), 5)
      .as[(Long, Int, Int, Long)].collect().sortBy(_._1)
    assert(spans.toSeq === Seq((1L, 4, 11, 4L), (2L, 6, 13, 4L)))
    val scrub = Dedup.scrubDuplicateRuns(d, col("doc_id"), col("text"), 5)
      .select("doc_id", "n_toks", "n_dup_spans", "n_dup_toks")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    assert(scrub.toSeq === Seq((1L, 13, 1L, 8), (2L, 13, 1L, 8), (3L, 10, 0L, 0)))
    // the cleaned text is exactly the original minus the passage tokens
    val clean = Dedup.scrubbedText(d, col("doc_id"), col("text"), 5)
      .as[(Long, String)].collect().toMap
    assert(clean(1L) === "alpha beta gamma delta epsilon")
    assert(clean(2L) === "one two three four five6")
    assert(clean(3L) === "totally unrelated prose with no shared five gram runs here")
    // the hashed-gram scale variant marks the identical position set (a
    // 64-bit collision on this corpus would be astronomical)
    assert(Dedup.duplicateNgramPositions(d, col("doc_id"), col("text"), 5,
        hashGrams = true)
      .as[(Long, Int)].collect().toSet ===
      Dedup.duplicateNgramPositions(d, col("doc_id"), col("text"), 5)
        .as[(Long, Int)].collect().toSet)
  }

  test("keep-first substring dedup: the corpus-first copy survives, later copies are marked (ExactSubstr policy)") {
    val passage = "pack my box with five dozen liquor jugs" // 8 tokens
    val d = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"), // corpus-first copy
      (2L, s"one two three four five6 $passage"),
      (3L, s"$passage closing words"),
      (4L, "totally unrelated prose with no shared five gram runs here"))
      .toDF("doc_id", "text")
    // default marking: every copy's span is located (docs 1, 2, 3)
    val all = Dedup.duplicateNgramRuns(d, col("doc_id"), col("text"), 5)
      .select("doc_id").as[Long].collect().toSet
    assert(all === Set(1L, 2L, 3L))
    // keep-first: doc 1 holds the min-(doc,pos) occurrence of every
    // shared gram, so ONLY docs 2 and 3 are marked — the corpus keeps
    // exactly one copy of the passage, Lee et al.'s deployed semantics
    val kf = Dedup.duplicateNgramRunsKeepFirst(d, col("doc_id"), col("text"), 5)
      .as[(Long, Int, Int, Long)].collect().sortBy(_._1)
    assert(kf.map(_._1).toSet === Set(2L, 3L), kf.toSeq)
    // marked spans still cover the whole passage in the later copies
    assert(kf.toSeq === Seq((2L, 6, 13, 4L), (3L, 1, 8, 4L)), kf.toSeq)
  }

  test("contaminatedIdsBloom equals the exact operator, including with an undersized filter") {
    // synthetic corpus: 60 train docs, 8 eval docs, planted overlaps —
    // train doc 3k shares eval doc k's passage verbatim
    val evalDocs = (0 until 8).map(k =>
      (k.toLong, s"held out benchmark passage number $k with unique suffix token$k"))
      .toDF("doc_id", "text")
    val train = (0 until 60).map { i =>
      val base = s"ordinary training document $i talking about topic ${i % 7} at length"
      val t = if (i % 3 == 0 && i / 3 < 8)
        s"$base held out benchmark passage number ${i / 3} with unique suffix token${i / 3}"
      else base
      (100L + i, t)
    }.toDF("doc_id", "text")
    val exact = Dedup.contaminatedIds(train, col("doc_id"), col("text"),
      evalDocs, col("text"), 5, 1)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val bloom = Dedup.contaminatedIdsBloom(train, col("doc_id"), col("text"),
      evalDocs, col("text"), 5, 1)
      .as[(Long, Long)].collect().toSet
    assert(bloom === exact)
    // undersized-filter stress: expected items far below reality + a 30%
    // fpp floods the pre-filter with false positives — the exact verify
    // must still produce the identical relation
    val stressed = Dedup.contaminatedIdsBloom(train, col("doc_id"), col("text"),
      evalDocs, col("text"), 5, 1, expectedEvalGrams = 8L, fpp = 0.3)
      .as[(Long, Long)].collect().toSet
    assert(stressed === exact)
    // minShared threshold rides through the bloom path unchanged
    val strict = Dedup.contaminatedIdsBloom(train, col("doc_id"), col("text"),
      evalDocs, col("text"), 5, 100)
      .as[(Long, Long)].collect().toSet
    assert(strict === exact.filter(_._2 >= 100))
  }

  test("noveltyScores: exact copy scores 0, fresh doc 1, half-boilerplate in between") {
    val boiler = "all rights reserved contact us for more information today"
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog tonight", // exact copy of 1
      3L -> "completely fresh prose about glaciers calving into a fjord",
      4L -> (boiler + " " + boiler), // pure repeated boilerplate, but FIRST
      5L -> (boiler + " glaciers thunder beneath the midnight sun forever"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // doc 2: every trigram first seen in doc 1
    assert(got(2L) === ((8L, 0L, 0.0)))
    // docs 1 and 3: all trigrams first seen here
    assert(got(1L)._3 === 1.0 && got(3L)._3 === 1.0)
    // doc 4 owns the boilerplate (first appearance wins, intra-doc
    // repetition collapses via array_distinct)
    assert(got(4L)._3 === 1.0)
    // doc 5: boilerplate trigrams are old, its own tail is novel
    assert(got(5L)._3 > 0.0 && got(5L)._3 < 1.0)
    // counts are DISTINCT trigram counts
    assert(got(4L)._1 < 2L * boiler.split(" ").length)
  }

  test("noveltyScores: sum of n_novel equals the corpus's distinct gram count") {
    val docs = graft.core.Tables.load(spark, sf0001, "documents")
      .limit(120)
    val got = Dedup.noveltyScores(docs, col("doc_id"), col("text"), 3)
    val novelSum = got.agg(sum("n_novel")).as[Long].head()
    val distinctGrams = docs
      .select(graft.text.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(array_distinct(
        graft.text.TextFunctions.wordNgramsFromTokens(col("toks"), 3))).as("g"))
      .agg(countDistinct("g")).as[Long].head()
    // every distinct gram is novel in EXACTLY ONE doc (its first)
    assert(novelSum === distinctGrams && novelSum > 0)
  }

  test("noveltyScores hashGrams parity: the hashed-shuffle scale form matches exactly on real docs") {
    val docs = graft.core.Tables.load(spark, sf0001, "documents").limit(150)
    def rows(hashed: Boolean) =
      Dedup.noveltyScores(docs, col("doc_id"), col("text"), 3,
          hashGrams = hashed)
        .as[(Long, Long, Long, Double)].collect().toSet
    // 64-bit xxhash over a few thousand grams: collisions are ~impossible,
    // so the forms must be row-identical here (the scale form can only
    // ever UNDER-count novelty, and only on a real collision)
    val exact = rows(hashed = false)
    assert(exact === rows(hashed = true) && exact.nonEmpty)
  }

  test("sketchAccuracy: identical docs estimate 1.0/err 0; band collisions keep exact 0.0") {
    val same = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq(
      1L -> same, 2L -> same,
      3L -> "harbor cranes unload container ships beneath sodium lamps",
      4L -> "harbor cranes unload container ships beneath sodium lights")
      .toDF("doc_id", "text")
    val got = Dedup.sketchAccuracy(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // identical docs: all seeds agree, exact jaccard 1.0, error 0
    assert(got((1L, 2L)) === ((1.0, 1.0, 0.0)))
    // est is always k-quantized and err = |est - exact| for every pair
    got.values.foreach { case (est, ex, err) =>
      assert(est >= 0.0 && est <= 1.0 && (est * 8).round / 8.0 === est)
      assert(math.abs(math.abs(est - ex) - err) < 1e-9)
    }
    // near-dup pair 3-4 (one word differs) surfaces if banding caught it;
    // if present its exact jaccard must be high but below 1
    got.get((3L, 4L)).foreach { case (_, ex, _) =>
      assert(ex > 0.5 && ex < 1.0)
    }
  }

  test("scrubFrequentSegments drops over-df lines, keeps order, counts spend") {
    // 'cookie banner' appears 3× (> maxDf 2) → scrubbed everywhere;
    // every other line is rare and survives in original order
    val docs = Seq(
      1L -> Seq("cookie banner", "alpha text", "beta text"),
      2L -> Seq("gamma text", "cookie banner"),
      3L -> Seq("cookie banner"),
      4L -> Seq("delta text", "epsilon text"))
      .toDF("doc_id", "lines")
    val got = Dedup.scrubFrequentSegments(docs, col("doc_id"), col("lines"),
        maxDf = 2, joiner = "\n")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === (("alpha text\nbeta text", 2L, 1L)))
    assert(got(2L) === (("gamma text", 1L, 1L)))
    // all-boilerplate doc STAYS in the output, empty, spend visible
    assert(got(3L) === (("", 0L, 1L)))
    assert(got(4L) === (("delta text\nepsilon text", 2L, 0L)))
    val rep = Dedup.frequentSegments(docs, col("doc_id"), col("lines"), 2)
      .as[(String, Long, Long)].collect()
    assert(rep.toSeq === Seq(("cookie banner", 3L, 3L)))
  }

  test("line-freq table: day-2 shard scrub == batch over the union; fold-in + collapse == batch counts") {
    spark.sql("DROP TABLE IF EXISTS lf_test")
    try {
      // 'nav bar' df: 2 on day 1, +2 on day 2 → global 4 > cap 3; a
      // day-2-only line repeated twice stays under the cap
      val day1 = Seq(
        1L -> Seq("nav bar", "body one"),
        2L -> Seq("nav bar", "body two"),
        3L -> Seq("body three"))
        .toDF("doc_id", "lines")
      val day2 = Seq(
        11L -> Seq("nav bar", "fresh body a"),
        12L -> Seq("nav bar", "fresh body a", "fresh body b"))
        .toDF("doc_id", "lines")
      Dedup.writeLineFreq(day1, col("doc_id"), col("lines"), "lf_test", 4)
      val incr = Dedup.scrubShardSegments(day2, col("doc_id"), col("lines"),
          Dedup.readLineFreq(spark, "lf_test"), maxDf = 3)
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = Dedup.scrubFrequentSegments(day1.union(day2),
          col("doc_id"), col("lines"), maxDf = 3, hashed = true)
        .filter(col("doc_id") >= 11L)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(incr === batch && incr.nonEmpty)
      // the global df (not day-2's own 2) is what scrubbed 'nav bar'
      assert(incr.find(_._1 == 11L).get._2 === "fresh body a")
      // fold day 2 in, collapse deltas: table == batch counts of union
      Dedup.appendLineFreq(day2, col("doc_id"), col("lines"), "lf_test", 4)
      graft.core.Bucketing.compactBucketed(spark, "lf_test",
        Dedup.collapseLineFreq)
      val got = Dedup.readLineFreq(spark, "lf_test")
        .as[(Long, Long)].collect().toSet
      val want = Dedup.segmentCounts(day1.union(day2), col("doc_id"),
        col("lines")).as[(Long, Long)].collect().toSet
      assert(got === want)
    } finally spark.sql("DROP TABLE IF EXISTS lf_test")
  }

  test("scrubFrequentSegments: hashed df-key form equals exact (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // tiny segment vocabulary → heavy cross-doc repetition around the cap
    val segGen = Gen.oneOf("nav", "footer", "body a", "body b", "body c", "")
    val docGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, segGen))
    val prop = Prop.forAll(Gen.listOfN(7, docGen)) { docsSeq =>
      val df = docsSeq.zipWithIndex.map { case (ls, i) => (i.toLong, ls) }
        .toDF("doc_id", "lines")
      def run(hashed: Boolean) =
        Dedup.scrubFrequentSegments(df, col("doc_id"), col("lines"),
            maxDf = 2, hashed = hashed)
          .as[(Long, String, Long, Long)].collect().toSet
      run(hashed = true) == run(hashed = false)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("scrubFrequentSegments: the frequent-set filter form equals the aggregate + regroup form (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a tiny line vocabulary, so lines repeat across docs around every cap
    val lineGen = Gen.oneOf("nav", "footer", "body a", "body b", "body c", "")
    val docGen: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const(""),
      1 -> Gen.const("nav\nfooter\nnav"),             // only boilerplate
      1 -> Gen.const("body a\nbody a"),               // a line twice in a doc
      2 -> lineGen,                                    // single-line docs
      4 -> Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n")))
    val prop = Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val lines = split(col("text"), "\n")
      val caps = Seq(1, 2, Int.MaxValue)
      caps.forall { maxDf =>
        Seq(false, true).forall { hashed =>
          def rows(d: org.apache.spark.sql.DataFrame) =
            d.as[(Long, String, Long, Long)].collect().toSet
          val filterForm = rows(Dedup.scrubFrequentSegments(df, col("doc_id"),
            lines, maxDf, hashed = hashed))
          filterForm == rows(Dedup.scrubByJoin(df, col("doc_id"), lines, maxDf,
            "\n", hashed))
        } && {
          // the pipeline's in-place rewrite, below the bound and past it
          // (bound 0: the join-back fallback whenever any line is frequent)
          def inPlace(bound: Int) =
            Dedup.scrubLines(df, col("doc_id"), col("text"), "text", maxDf, bound)
              .as[(Long, String)].collect().toSet
          val got = inPlace(1 << 16)
          got == inPlace(0) && got.size == texts.size &&
            got.filter(_._2 == null).map(_._1) ==
              texts.zipWithIndex.collect { case (null, i) => i.toLong }.toSet
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("scrubFrequentSegments: frequent lines past the byte budget take the join fallback") {
    // two 600 KB lines, each in two docs: two frequent keys, 1.2 MB of key
    // bytes, past the 1 MB the filter form ships
    val long = Seq("a", "b").map(c => c * 600000)
    val df = Seq((1L, s"${long(0)}\nkeep 1"), (2L, long(0)), (3L, long(1)),
      (4L, s"keep 4\n${long(1)}"), (5L, "keep 5")).toDF("doc_id", "text")
    val lines = split(col("text"), "\n")
    val got = Dedup.scrubFrequentSegments(df, col("doc_id"), lines, 1)
    val joins = got.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, got.queryExecution.optimizedPlan.toString.take(2000))
    assert(got.as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq === Seq(
      (1L, "keep 1", 1L, 1L), (2L, "", 0L, 1L), (3L, "", 0L, 1L),
      (4L, "keep 4", 1L, 1L), (5L, "keep 5", 1L, 0L)))
    // the in-place pipeline form falls back too, with the same text
    val inPlace = Dedup.scrubFrequentLines(df, col("doc_id"), col("text"), "text", 1)
    assert(inPlace.as[(Long, String)].collect().sortBy(_._1).map(_._2).toSeq ===
      Seq("keep 1", "", "", "keep 4", "keep 5"))
  }
}

/** Executable specifications of [[Dedup]]'s kernels and pruned joins:
  * the relational forms DedupSpec compares production against.
  */
object DedupSpec {
  import org.apache.spark.sql.{Column, DataFrame}

  /** [[Dedup.minhashSignatures]] as k `min` aggregate columns over
    * (doc, shingle) rows, unpivoted by `stack(k)`. */
  def minhashSignaturesExploded(docs: DataFrame, id: Column, text: Column,
                                k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(md5(concat(lit(s"$i|"), col("shingle")))).as(s"m$i"))
    val unpivot = (0 until k).map(i => s"${i}L, m$i").mkString(", ")
    docs.select(id.as("doc_id"),
        explode(graft.text.TextFunctions.distinctTokens(text)).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), expr(s"stack($k, $unpivot) AS (seed, minhash)"))
  }

  /** [[Dedup.simhashBits]] as 32 conditional-sum vote columns over
    * (doc, token) rows, unpivoted by `stack(32, ...)`. */
  def simhashBitsExploded(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val votes = (1 to 32).map(i =>
      sum(when(substring(col("h"), i, 1) >= "8", 1).otherwise(-1)).as(s"v$i"))
    val perDoc = docs
      .select(id.as("doc_id"),
        explode(graft.text.TextFunctions.distinctTokens(text)).as("tok"))
      .withColumn("h", md5(col("tok")))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
    val unpivot = (1 to 32).map(i => s"$i, v$i").mkString(", ")
    perDoc
      .select(col("doc_id"), expr(s"stack(32, $unpivot) AS (bit_idx, vote)"))
      .select(col("doc_id"), col("bit_idx").cast("int").as("bit_idx"),
        (col("vote") > 0).cast("int").as("bit"))
  }

  /** [[Dedup.cosineTfidfPairs]] with no prefix filter: the fixed-point
    * dot of every doc pair sharing a term (what the d23 oracle computes). */
  def cosineTfidfPairsUnpruned(docs: DataFrame, id: Column, terms: Column,
                               minCos: Double): DataFrame = {
    val weights = Dedup.tfidfUnitWeights(docs, id, terms)
    val wa = weights.select(col("doc_id").as("doc_a"), col("term"),
      col("u").as("ua"))
    val wb = weights.select(col("doc_id").as("doc_b"), col("term"),
      col("u").as("ub"))
    wa.join(wb, "term")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(round(col("ua") * col("ub") * 1e12).cast("long")).as("dot12"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot12") / 1e12, 6).as("cos"))
      .filter(col("cos") >= minCos)
  }
}

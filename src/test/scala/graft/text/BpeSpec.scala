package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  import spark.implicits._

  // the classic Sennrich fixture: low×5, lower×2, newest×6, widest×3
  private val vocab = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)
  ).toDF("word", "freq")

  test("learnMerges walks the textbook merge sequence with asc tie-breaks") {
    val (merges, seg) = Bpe.learnMerges(vocab, 4)
    val m = merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // round 1: "e s" and "s t" both count 9 (newest 6 + widest 3);
    // "e s" < "s t" ascending -> es. round 2: es+t = 9. round 3:
    // "l o" and "o w" both 7 (low 5 + lower 2); "l o" wins. round 4:
    // lo+w = 7.
    assert(m === Array(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 9L - 2L),
      (4, "lo", "w", "low", 7L)))
    val segs = seg.collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(segs("low") === ("  low  ", 1L))
    assert(segs("lower") === ("  low  e  r  ", 3L))
    assert(segs("newest") === ("  n  e  w  est  ", 4L))
    assert(segs("widest") === ("  w  i  d  est  ", 4L))
  }

  test("greedy application contract: one replace is exact left-to-right BPE") {
    // 'bbbbb' under merge (b,b): greedy = [bb][bb][b]; the double-space
    // representation must yield exactly that in ONE replace per round
    val (merges, seg) = Bpe.learnMerges(Seq(("bbbbb", 1L)).toDF("word", "freq"), 1)
    val top = merges.collect().head
    assert((top.getString(1), top.getString(2), top.getLong(4)) === (("b", "b", 4L)))
    val s = seg.collect().head
    assert(s.getString(2) === "  bb  bb  b  ")
    assert(s.getLong(3) === 3L)
  }

  test("single-symbol vocabulary: merges exhaust early with typed empty output") {
    val (merges, seg) = Bpe.learnMerges(
      Seq(("a", 3L), ("b", 2L)).toDF("word", "freq"), 5)
    assert(merges.count() === 0L)
    assert(merges.columns.toSeq ===
      Seq("round", "sym_a", "sym_b", "merged", "cnt"))
    assert(seg.collect().map(r => r.getString(0) -> r.getLong(3)).toMap ===
      Map("a" -> 1L, "b" -> 1L))
  }

  test("early stop: k beyond the mergeable pairs returns what exists") {
    // "ab"×1: round 1 merges (a,b); nothing left for rounds 2..5
    val (merges, seg) = Bpe.learnMerges(Seq(("ab", 1L)).toDF("word", "freq"), 5)
    assert(merges.collect().map(_.getString(3)).toSeq === Seq("ab"))
    assert(seg.collect().head.getLong(3) === 1L)
  }

  test("deep-merge (scratch-backed) rounds produce the identical merge sequence and segmentation") {
    // k > 64 switches the per-round materialization from object blocks to
    // columnar scratch with eager previous-round reclaim (the realistic-
    // merge-count path, probed at k=1024 in Probe `bpe`); the
    // trained artifact must be byte-identical to the small-k path on the
    // same vocabulary
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L), ("newer", 4L)).toDF("word", "freq")
    val (mSmall, segSmall) = Bpe.learnMerges(vocab, 64)
    val (mDeep, segDeep) = Bpe.learnMerges(vocab, 100)
    assert(mDeep.collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(_._1) ===
      mSmall.collect().map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
        .toSeq.sortBy(_._1))
    assert(segDeep.orderBy("word").collect().toSeq ===
      segSmall.orderBy("word").collect().toSeq)
  }

  test("docSubwordCounts: per-doc word and subword totals under the vocab join") {
    val docs = Seq(
      (1L, "low lower"),
      (2L, "newest newest widest"),
      (3L, "low")
    ).toDF("doc_id", "text")
    val (_, seg) = Bpe.learnMerges(Bpe.wordFreq(docs, col("text")), 4)
    val got = Bpe.docSubwordCounts(docs, col("doc_id"), col("text"), seg)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // same corpus-derived merges as the fixture (freqs differ but the
    // fixture's asserted ORDER only needs ties to break the same way):
    // recompute expected from the segmentation itself
    val n = seg.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got(1L) === ((2L, n("low") + n("lower"))))
    assert(got(2L) === ((3L, 2 * n("newest") + n("widest"))))
    assert(got(3L) === ((1L, n("low"))))
  }

  test("training is vocabulary-shaped: corpus touched once by wordFreq") {
    // the merges relation's plan must not re-scan documents: learnMerges
    // runs on the materialized vocab (localCheckpoint per round), so a
    // count of the merge table executes without re-reading the input —
    // structural proxy: wordFreq output is tiny next to the corpus and
    // the per-round relations stay (word, freq, w)-shaped
    val docs = graft.core.Tables.load(spark, sf0001, "documents")
    val vf = Bpe.wordFreq(docs, col("text"))
    val nVocab = vf.count()
    val nCorpusTokens = docs.select(
      sum(size(graft.text.TextFunctions.tokens(col("text"))))).head().getLong(0)
    assert(nVocab < nCorpusTokens / 10,
      s"vocab $nVocab should be far under corpus tokens $nCorpusTokens")
    val (merges, _) = Bpe.learnMerges(vf, 3)
    assert(merges.count() === 3L)
  }
}

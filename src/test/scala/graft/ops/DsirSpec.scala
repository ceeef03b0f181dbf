package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {

  import spark.implicits._

  private val B = 16

  // tiny two-population corpus: "target-ish" docs share the wiki-word
  // vocabulary, raw noise docs don't; one CJK doc carries 4 char-unit
  // tokens (the r17 Unicode token form — pre-r17 it tokenized to
  // NOTHING and DSIR was blind to it), one punctuation-only doc is
  // genuinely tokenless
  private val docs = Seq(
    (1L, "the solar system has planets", "en"),
    (2L, "planets orbit the sun", "en"),
    (3L, "buy cheap pills now now now", "xx"),
    (4L, "cheap cheap deals buy now", "xx"),
    (5L, "the sun is a star", "en"),
    (6L, "中文文本", "zh"), // 4 Han chars -> 4 tokens, 7 features
    (7L, "!!! ??? ---", "xx") // no \p{L}\p{N} token at all
  ).toDF("doc_id", "text", "lang")

  private def model = Dsir.importanceModel(
    docs, docs.filter(col("lang") === "en"), col("text"), B)

  test("importanceModel: full bucket spine, counts conserve, λ arithmetic") {
    val m = model.collect()
    assert(m.length === B)
    assert(m.map(_.getLong(0)).sorted.toSeq === (0L until B.toLong))
    val (tSum, rSum) = (m.map(_.getLong(1)).sum, m.map(_.getLong(2)).sum)
    // unigrams + bigrams: doc k tokens -> 2k-1 features (k >= 2); the
    // CJK doc contributes its 4 char-unit tokens (r17), the
    // punctuation-only doc zero
    val featCount = Seq(5, 4, 6, 5, 5, 4).map(k => 2 * k - 1).sum
    val targetCount = Seq(5, 4, 5).map(k => 2 * k - 1).sum
    assert(rSum === featCount.toLong)
    assert(tSum === targetCount.toLong)
    // λ replays the exact fixed-point formula for every bucket
    m.foreach { r =>
      val lam = math.round((
        math.log((r.getLong(1) + 1.0) / (tSum + B.toDouble)) -
          math.log((r.getLong(2) + 1.0) / (rSum + B.toDouble))) * 1e6)
      assert(r.getLong(3) === lam, s"bucket ${r.getLong(0)}")
    }
  }

  test("importanceWeights: fold equals explode-sum; empty doc scores zero") {
    val lam = model.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val feats = docs.select(col("doc_id"),
        Dsir.featureBuckets(graft.text.TextFunctions.tokens(col("text")), B)
          .as("fb"))
      .as[(Long, Seq[Long])].collect().toMap
    val w = Dsir.importanceWeights(docs, col("doc_id"), col("text"), model, B)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w.size === 7)
    feats.foreach { case (id, fb) =>
      assert(w(id).getInt(1) === fb.length, s"n_feats doc $id")
      assert(w(id).getLong(2) === fb.map(lam).sum, s"logw6 doc $id")
    }
    assert(w(6L).getInt(1) === 7) // CJK doc scores like any other (r17)
    assert(w(7L).getInt(1) === 0) // tokenless doc scores zero
    assert(w(7L).getLong(2) === 0L)
    // 6dp double mirrors the fixed-point sum
    w.values.foreach(r =>
      assert(math.abs(r.getDouble(3) - r.getLong(2) / 1e6) < 1e-9))
  }

  test("importanceWeights: target-like docs outweigh off-target docs") {
    val w = Dsir.importanceWeights(docs, col("doc_id"), col("text"), model, B)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val en = Seq(1L, 2L, 5L).map(w)
    val xx = Seq(3L, 4L).map(w)
    assert(en.min > xx.max,
      s"every en logw6 (${en.mkString(",")}) should beat every xx (${xx.mkString(",")})")
  }

  test("importanceResample: deterministic, k rows, ranked by exact key") {
    val w = Dsir.importanceWeights(docs, col("doc_id"), col("text"), model, B)
    val s1 = Dsir.importanceResample(w, col("doc_id"), 3, seed = 7L).collect()
    val s2 = Dsir.importanceResample(w, col("doc_id"), 3, seed = 7L).collect()
    assert(s1.map(_.getLong(0)).toSeq === s2.map(_.getLong(0)).toSeq)
    assert(s1.length === 3)
    // replay the key arithmetic on the driver
    val keys = w.collect().map { r =>
      val id = r.getLong(0)
      val u = (Determinism.detHashLocal(Determinism.detHashLocal(id) + 7L) +
        0.5) / Determinism.Space.toDouble
      id -> (r.getLong(2) + math.round(-math.log(-math.log(u)) * 1e6))
    }.toMap
    val expect = keys.toSeq.sortBy { case (id, k) => (-k, id) }.take(3)
    assert(s1.map(r => (r.getLong(0), r.getLong(4))).toSeq === expect)
    // a different seed redraws the noise
    val s3 = Dsir.importanceResample(w, col("doc_id"), 3, seed = 8L).collect()
    assert(s3.map(_.getLong(4)).toSeq !== s1.map(_.getLong(4)).toSeq)
  }

  test("importanceModel: target == raw gives λ == 0 everywhere") {
    val m = Dsir.importanceModel(docs, docs, col("text"), B).collect()
    assert(m.forall(_.getLong(3) === 0L))
  }

  test("importanceWeights: scoring pass is shuffle-free over a fit model") {
    // the 100 TB contract: with the B-row model materialized, scoring the
    // corpus moves NO doc-keyed data — the only exchanges are the one-row
    // λ-map broadcast and the model's own tiny single-partition fold
    val p = Dsir.importanceWeights(docs, col("doc_id"), col("text"),
        model.localCheckpoint(false), B)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("xxh fast path: same model semantics under the other uniform hash") {
    // the d10 hashGrams precedent: the feature hash only needs
    // uniformity, so the xxhash64 path must conserve counts, keep λ
    // arithmetic exact, and still separate target-like docs from noise
    val mx = Dsir.importanceModel(docs, docs.filter(col("lang") === "en"),
      col("text"), B, xxh = true)
    val m = mx.collect()
    assert(m.length === B)
    val (tSum, rSum) = (m.map(_.getLong(1)).sum, m.map(_.getLong(2)).sum)
    val featCount = Seq(5, 4, 6, 5, 5, 4).map(k => 2 * k - 1).sum
    assert(rSum === featCount.toLong)
    assert(tSum === Seq(5, 4, 5).map(k => 2 * k - 1).sum.toLong)
    m.foreach { r =>
      val lam = math.round((
        math.log((r.getLong(1) + 1.0) / (tSum + B.toDouble)) -
          math.log((r.getLong(2) + 1.0) / (rSum + B.toDouble))) * 1e6)
      assert(r.getLong(3) === lam, s"bucket ${r.getLong(0)}")
    }
    val w = Dsir.importanceWeights(docs, col("doc_id"), col("text"),
        mx, B, xxh = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w.size === 7)
    // n_feats is hash-independent; the CJK doc scores (r17), the
    // punctuation-only doc stays zero
    assert(w(1L).getInt(1) === 9 && w(6L).getInt(1) === 7)
    assert(w(7L).getInt(1) === 0 && w(7L).getLong(2) === 0L)
    val en = Seq(1L, 2L, 5L).map(id => w(id).getLong(2))
    val xx = Seq(3L, 4L).map(id => w(id).getLong(2))
    assert(en.min > xx.max,
      s"xxh path: en (${en.mkString(",")}) vs xx (${xx.mkString(",")})")
  }

  test("stateless scoring (frozen λ literal) == the broadcast-join form") {
    val lam = Dsir.collectLambda(model, B)
    val a = Dsir.importanceWeights(docs, col("doc_id"), col("text"), model, B)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Dsir.importanceWeightsStateless(docs, col("doc_id"), col("text"),
        lam, B)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a === b)
    // truly stateless: the plan has NO join and no exchange at all
    val p = Dsir.importanceWeightsStateless(docs, col("doc_id"), col("text"),
      lam, B).queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
    intercept[IllegalArgumentException] {
      Dsir.importanceWeightsStateless(docs, col("doc_id"), col("text"),
        new Array[Long](B + 1), B)
    }
  }

  test("importanceModel refuses absurd bucket counts") {
    intercept[IllegalArgumentException] {
      Dsir.importanceModel(docs, docs, col("text"), 100000)
    }
    intercept[IllegalArgumentException] {
      Dsir.importanceResample(docs.limit(0), col("doc_id"), 0, 1L)
    }
  }

  test("featureBuckets kernel is bit-identical to the HOF md5/xxh forms (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val pieces = Gen.oneOf("the", "cat9", "日本語", "é", "Привет", "x", "", " ",
      "ภาษาไทย", "und_er", ".")
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(Gen.listOfN(8,
          Gen.listOfN(6, pieces).map(_.mkString(" "))), Gen.choose(1, 4096)) {
        (ss, b) =>
        val rows = (ss :+ "" :+ "one" :+ "two words")
          .toDF("t")
          .select(graft.text.TextFunctions.tokens(col("t")).as("toks"))
          .select(
            Dsir.featureBuckets(col("toks"), b).as("k"),
            DsirSpec.featureBucketsHof(col("toks"), b).as("h"),
            Dsir.featureBuckets(col("toks"), b, xxh = true).as("kx"),
            DsirSpec.featureBucketsHof(col("toks"), b, xxh = true).as("hx"))
          .as[(Seq[Long], Seq[Long], Seq[Long], Seq[Long])].collect()
        rows.forall { case (k, h, kx, hx) => k == h && kx == hx }
      })
    assert(res.passed, res.status.toString)
  }
}

object DsirSpec {
  import org.apache.spark.sql.Column

  /** The HOF executable specification of [[Dsir.featureBuckets]]: each
    * token's bucket, then (at two or more tokens) each bigram's, by the
    * md5-prefix hash or `xxhash64 mod B`.
    */
  def featureBucketsHof(toks: Column, buckets: Int,
                        xxh: Boolean = false): Column = {
    def b(g: Column): Column =
      if (xxh) pmod(xxhash64(g), lit(buckets.toLong))
      else conv(substring(md5(g), 1, 15), 16, 10).cast("long") % buckets
    concat(
      transform(toks, b _),
      when(size(toks) >= 2,
        transform(graft.text.TextFunctionsSpec.wordNgramsFromTokensHof(toks, 2),
          b _))
        .otherwise(array().cast("array<long>")))
  }
}

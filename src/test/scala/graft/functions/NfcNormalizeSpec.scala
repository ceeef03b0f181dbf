package graft.functions

import graft.SparkSpec
import graft.extensions.GraftExtensions
import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The Unicode NFC kernel: parity with java.text.Normalizer (the fast
  * path's isNormalized shortcut must never change the result),
  * composed/decomposed convergence through the Column API and SQL, and
  * the r15-verdict failure case — decomposed duplicates that the
  * pre-NFC normal form could never see.
  */
class NfcNormalizeSpec extends SparkSpec {

  import spark.implicits._

  private def refNfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  test("kernel == java.text.Normalizer on arbitrary unicode incl. combining marks (ScalaCheck)") {
    // generator biased toward the hard cases: combining marks, Latin-1
    // composables, Hangul jamo (NFC composes syllables), astral plane
    val interesting = Gen.oneOf(
      Gen.choose(0x20.toChar, 0x7e.toChar),          // ASCII
      Gen.choose(0xc0.toChar, 0xff.toChar),          // Latin-1 letters
      Gen.choose(0x300.toChar, 0x36f.toChar),        // combining marks
      Gen.choose(0x1100.toChar, 0x1112.toChar),      // Hangul choseong
      Gen.choose(0x1161.toChar, 0x1175.toChar),      // Hangul jungseong
      Gen.const('\ud83d'), Gen.const('\ude00'))      // surrogate halves
    val strGen = Gen.listOf(interesting).map(_.mkString)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(strGen) { s =>
        // lone surrogates round-trip lossily through UTF-8 by design;
        // normalize the comparison through the same UTF8String path
        val in = UTF8String.fromString(s).toString
        NfcKernel.nfc(UTF8String.fromString(in)).toString == refNfc(in)
      })
    assert(res.passed, res.status.toString)
  }

  test("fast path: already-NFC input returns the SAME UTF8String; decomposed input recomposes") {
    val ascii = UTF8String.fromString("plain ascii only")
    assert(NfcKernel.nfc(ascii) eq ascii)
    val composed = UTF8String.fromString("café")
    assert(NfcKernel.nfc(composed) eq composed)
    val decomposed = UTF8String.fromString("café")
    assert(NfcKernel.nfc(decomposed).toString === "café")
  }

  test("column API + SQL: decomposed and composed duplicates converge; fingerprints split without NFC") {
    GraftExtensions.register(spark)
    val docs = Seq(
      (1L, "résumé café"),            // composed
      (2L, "résumé café"),          // decomposed twin
      (3L, "한글 text"))                      // Hangul syllables (already NFC)
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("raw_fp"),
        md5(TextFunctions.nfcNormalize(col("text"))).as("nfc_fp"))
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 !== got(2L)._1, "raw fingerprints must split")
    assert(got(1L)._2 === got(2L)._2, "NFC fingerprints must converge")
    val viaSql = docs.createOrReplaceTempView("nfc_docs")
    val sqlGot = spark.sql(
      "SELECT doc_id, graft_nfc(text) AS t FROM nfc_docs ORDER BY doc_id")
      .as[(Long, String)].collect()
    assert(sqlGot(0)._2 === sqlGot(1)._2)
    assert(sqlGot(2)._2 === "한글 text")
  }

  test("the curation chain dedups a decomposed twin (default-on) and keeps it with nfc = false") {
    val docs = Seq(
      ("a", "the café on the corner serves very good coffee daily"),
      ("b", "the café on the corner serves very good coffee daily"),
      ("c", "a completely different document about something else here"))
      .toDF("doc_id", "text")
    val kept = graft.pipelines.Pipelines.dedupCorpus(docs, col("doc_id"),
        col("text"), minQuality = 0.0)
      .select("doc_id").as[String].collect().toSet
    assert(kept.count(Set("a", "b")) === 1, kept) // exact dups under NFC
    assert(kept.contains("c"))
    val keptRaw = graft.pipelines.Pipelines.dedupCorpusStages(docs, col("doc_id"),
        col("text"), minQuality = 0.0, minJaccard = 0.99, nfc = false).last._2
      .select("doc_id").as[String].collect().toSet
    assert(keptRaw === Set("a", "b", "c"), keptRaw) // invisible without NFC
  }
}

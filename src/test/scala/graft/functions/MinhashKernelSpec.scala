package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The MinHash kernel's task memo: over one partition of many docs, the
  * memoized kernel gives exactly the stateless digest — every distinct
  * token of a doc digested afresh — whatever the memo holds, including a
  * full memo and a memo whose hash collides on purpose.
  */
class MinhashKernelSpec extends SparkSpec {

  import spark.implicits._

  private val k = 4
  private val bandSize = 2

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString

  /** Per-seed minimum of md5("<seed>|<token>") over the doc's distinct
    * tokens, with no state kept between docs. */
  private def stateless(text: String): Option[Seq[String]] = {
    val toks = MinhashKernel.distinctTokens(UTF8String.fromString(text))
    if (toks.isEmpty) None
    else Some((0 until k).map { p =>
      (0 until toks.size()).map(t => md5Hex(s"$p|".getBytes("UTF-8") ++ toks.get(t))).min
    })
  }

  private def bands(sig: Seq[String]): Seq[String] =
    sig.grouped(bandSize).map(b => md5Hex(b.mkString("|").getBytes("UTF-8"))).toSeq

  private def strings(a: org.apache.spark.sql.catalyst.util.ArrayData): Option[Seq[String]] =
    Option(a).map(x => (0 until x.numElements()).map(x.getUTF8String(_).toString))

  // composed and decomposed é, dotted capital I (its lowercase is two code
  // points), Han solo characters, mixed case, and tokens past one 64-byte
  // MD5 block that share their first 70 bytes
  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("alpha", "Beta", "GAMMA", "d3lta", "x", "café", "café",
      "İstanbul", "İ", "中文", "日本語テキスト", "ÉCOLE", "straße"),
    Gen.choose(0, 3).map(i => "w" * 70 + i),
    Gen.choose(0, 3).map(i => "Z" * 130 + ("é" * i)),
    Gen.alphaNumStr.map(_.take(12)))
  private val docGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.const("... --- !!!"),
    8 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, tokenGen))
      .flatMap(ts => Gen.oneOf(" ", ", ", "\n", "-").map(ts.mkString)))
  // one partition of many docs
  private val partitionGen = Gen.choose(20, 60).flatMap(n => Gen.listOfN(n, docGen))

  test("memoized kernel == stateless digest over one partition (ScalaCheck)") {
    // the production table, a 16-slot table that fills after 12 tokens,
    // and a 16-slot table whose hash keeps 2 bits, so different tokens
    // share hashes and only the byte check tells them apart
    val kernels = Seq(
      () => new MinhashKernel(k),
      () => new MinhashKernel(k, 16, -1L),
      () => new MinhashKernel(k, 16, 3L))
    val prop = Prop.forAll(partitionGen) { docs =>
      kernels.forall { mk =>
        val kernel = mk()
        docs.forall { d =>
          val u = UTF8String.fromString(d)
          val want = stateless(d)
          strings(kernel.signatures(u)) == want &&
            strings(kernel.bandSignatures(u, bandSize)) == want.map(bands)
        }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("memo growth: a table that doubles past its first 2^10 slots keeps every digest") {
    // 3,000 docs of a new token, an earlier doc's token and a common one:
    // 3,001 distinct tokens, so the table grows 2^10 → 2^13 slots mid-task
    val kernel = new MinhashKernel(k)
    (1 to 3000).foreach { i =>
      val d = s"tok$i tok${i / 2} Common"
      assert(strings(kernel.signatures(UTF8String.fromString(d))) === stateless(d), d)
    }
  }

  test("MinhashExpr / MinhashBandsExpr, generated and interpreted, over one partition == stateless digest") {
    val docs = Gen.listOfN(300, docGen).sample.get
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(1)
    val want = docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, stateless(t), stateless(t).map(bands)) }.toSet
    def run(): Set[(Long, Option[Seq[String]], Option[Seq[String]])] =
      df.select(col("doc_id"),
          ColumnShim.column(MinhashExpr(ColumnShim.expression(col("text")), k)),
          ColumnShim.column(MinhashBandsExpr(ColumnShim.expression(col("text")), k, bandSize)))
        .as[(Long, Option[Seq[String]], Option[Seq[String]])].collect().toSet
    assert(run() === want)
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() === want)
    finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}

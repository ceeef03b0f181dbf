package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DSIR hashed feature-bucket kernel — the codegen'd form of
  * [[graft.ops.Dsir.featureBuckets]]'s HOF tree (unigram buckets ++
  * bigram buckets, bucket(g) = `conv(substring(md5(g),1,15),16,10) % B`
  * or `pmod(xxhash64(g), B)`).
  *
  * Why a kernel (r17 optimization round): the HOF form runs the md5 /
  * conv / substring chain through an INTERPRETED lambda per token plus a
  * second interpreted pass for the bigram transform built on
  * `wordNgramsFromTokens` — and DSIR scores every document of the raw
  * corpus (importance weights are the whole point). This computes both
  * feature families in one walk over the token array: each bigram's
  * digest input is assembled once (`tok_i ++ "_" ++ tok_{i+1}`), md5 via
  * one reused MessageDigest, and the 15-hex-digit prefix is read as the
  * first 60 bits of the digest — bit-identical to the string/parse
  * route (hex is a positional base-16 encoding of the same big-endian
  * bytes). The xxh variant calls the same XXH64 primitive Spark's
  * xxhash64 lowers to (seed 42). Parity with the HOF form is
  * ScalaCheck'd in DsirSpec; the x20/x21 oracle hashes pin it end-to-end.
  */
object DsirBucketsKernel {

  private val underscore = "_".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** First 60 bits of md5(bytes) as a non-negative long — exactly
    * `conv(substring(md5hex, 1, 15), 16, 10)`: hex digit i is nibble i
    * of the big-endian digest, so the 15-digit prefix IS the top 60
    * bits.
    */
  private def md5Prefix60(md: java.security.MessageDigest,
                          parts: Array[Array[Byte]]): Long = {
    md.reset()
    var i = 0
    while (i < parts.length) { md.update(parts(i)); i += 1 }
    val d = md.digest()
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
      ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
      ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  private def xxh64(parts: Array[Array[Byte]], buckets: Long): Long = {
    // Spark's xxhash64 over a string is XXH64(bytes, seed=42); for the
    // concatenated bigram we hash the assembled bytes once, matching
    // xxhash64(concat) exactly
    var len = 0
    var i = 0
    while (i < parts.length) { len += parts(i).length; i += 1 }
    val b = new Array[Byte](len)
    var off = 0
    i = 0
    while (i < parts.length) {
      System.arraycopy(parts(i), 0, b, off, parts(i).length)
      off += parts(i).length
      i += 1
    }
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
    val m = h % buckets
    if (m < 0) m + buckets else m
  }

  def buckets(arr: ArrayData, nBuckets: Int, xxh: Boolean): ArrayData = {
    val sz = arr.numElements()
    val toks = new Array[Array[Byte]](sz)
    var i = 0
    while (i < sz) {
      // NULL elements are a contract violation surfaced loudly (r17
      // ADVICE): the HOF specification yields null buckets for null
      // tokens (md5(null)/xxhash64(null) are null), but this kernel's
      // declared output is ArrayType(LongType, containsNull = false) —
      // silently hashing null as empty bytes would rewrite the value.
      // No in-engine caller can reach this (tokens() output never holds
      // nulls); an external caller with a null-holding array must
      // pre-filter.
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          "graft_dsir_buckets: token array contains a NULL element " +
            s"(index $i) — the DSIR feature contract requires non-null " +
            "tokens (the HOF spec would yield a null bucket, which this " +
            "kernel's non-null output type cannot represent)")
      toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val nBi = if (sz >= 2) sz - 1 else 0
    val out = new Array[Any](sz + nBi)
    val md =
      if (xxh) null else java.security.MessageDigest.getInstance("MD5")
    val one = new Array[Array[Byte]](1)
    val three = new Array[Array[Byte]](3)
    val b = nBuckets.toLong
    i = 0
    while (i < sz) {
      one(0) = toks(i)
      out(i) =
        if (xxh) xxh64(one, b)
        else md5Prefix60(md, one) % b
      i += 1
    }
    i = 0
    while (i < nBi) {
      three(0) = toks(i)
      three(1) = underscore
      three(2) = toks(i + 1)
      out(sz + i) =
        if (xxh) xxh64(three, b)
        else md5Prefix60(md, three) % b
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native DSIR feature buckets — see [[DsirBucketsKernel]]. The usage
  * below is the function's ExpressionInfo text: it states the non-null
  * element contract where an external caller reads it, before the
  * executor-side exception does.
  */
@ExpressionDescription(
  usage = """_FUNC_(tokens) - DSIR hashed feature buckets of a token array:
    one bucket per token, then one per adjacent token pair. Every element of
    `tokens` must be non-null; a null element fails the task with
    IllegalArgumentException. Pre-filter null-holding arrays with
    array_compact(tokens).""")
case class DsirBucketsExpr(child: Expression, nBuckets: Int,
                           xxh: Boolean = false)
    extends UnaryExpression {
  require(nBuckets > 0, s"graft_dsir_buckets: buckets must be positive, got $nBuckets")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s, _) if s.isInstanceOf[StringType] =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_dsir_buckets requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_dsir_buckets"

  override protected def nullSafeEval(input: Any): Any =
    DsirBucketsKernel.buckets(input.asInstanceOf[ArrayData], nBuckets, xxh)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DsirBucketsKernel.buckets($c, $nBuckets, $xxh)")

  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document tokenization kernel — the codegen'd form of
  * [[graft.text.TextFunctions.tokens]]'s HOF specification
  * `graft.text.TextFunctionsSpec.tokensHof`
  * (`filter(transform(split(regexp_replace(text, cjkSoloRe, " $1 "),
  * "[^\p{L}\p{N}]+"), lower), _ =!= "")`).
  *
  * Why a kernel (r17 optimization round): the HOF form runs TWO
  * Unicode-class regex passes over every document plus two INTERPRETED
  * lambda evaluations (Spark's higher-order functions are
  * CodegenFallback) with a per-element `lower` — measured as the single
  * largest per-task-work regression of the r17 build (every
  * `tokens()`-consuming query slowed 1.3-2×, BENCHDETAIL r16→HEAD diff
  * with flat sentinels). This walks the UTF-8 bytes ONCE with the
  * [[TokenClass]] classification (ASCII fast path) and allocates only
  * the output tokens — no regex, no lambda dispatch, whole-stage
  * codegen'd end to end.
  *
  * EXACTNESS: token boundaries follow [[TokenClass]]'s walk, which is
  * the proven byte-level twin of the regex chain (TokenCountKernel /
  * MinhashKernel ride the same walk, ScalaCheck'd against the HOF on
  * Unicode generators incl. CJK/Thai/combining marks). The per-token
  * lowercase calls the IDENTICAL code path Spark's `lower` lowers with —
  * `CollationSupport.Lower.exec(tok, collationId, useICU)` with the
  * child's collation id and the session's
  * `spark.sql.icu.caseMappings.enabled` — so kernel output ≡ HOF output
  * by construction, not by approximation (pure-ASCII tokens fold in
  * place; every lowercase implementation agrees on ASCII).
  * TextFunctionsSpec asserts the parity property.
  */
object TokenizeKernel {

  /** All lowercased tokens of `s` in document order (duplicates kept) —
    * exactly `TextFunctionsSpec.tokensHof(s)`. `distinct = true` gives
    * first-occurrence-order distinct tokens — exactly
    * `array_distinct(tokens(s))`.
    */
  def tokens(s: UTF8String, collationId: Int, useICU: Boolean,
             distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any](16)
    // seen-set keyed on UTF8String (BINARY equality, as CharNgramsKernel)
    // — keying on tok.toString (r17 ADVICE) decoded through U+FFFD
    // replacement, which would merge byte-distinct tokens that
    // array_distinct (byte equality) keeps, on any invalid UTF-8 that
    // slips past the decode contract
    val seen: java.util.HashSet[UTF8String] =
      if (distinct) new java.util.HashSet[UTF8String]() else null
    var runStart = -1
    var runAscii = true
    def emit(endExclusive: Int): Unit = {
      if (runStart >= 0) {
        val len = endExclusive - runStart
        val t = new Array[Byte](len)
        System.arraycopy(bytes, runStart, t, 0, len)
        var tok: UTF8String = null
        if (runAscii) {
          var j = 0
          while (j < len) {
            val b = t(j)
            if (b >= 'A' && b <= 'Z') t(j) = (b | 0x20).toByte
            j += 1
          }
          tok = UTF8String.fromBytes(t)
        } else {
          tok = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
            .exec(UTF8String.fromBytes(t), collationId, useICU)
        }
        if (seen == null || seen.add(tok)) out.add(tok)
        runStart = -1
        runAscii = true
      }
    }
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0x80) == 0) { // ASCII: never solo-script
        val isTok = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9')
        if (isTok) { if (runStart < 0) runStart = i }
        else emit(i)
        i += 1
      } else {
        val cp = TokenClass.cpAt(bytes, i, n)
        val len = TokenClass.cpLen(b)
        if (TokenClass.isTokenCp(cp)) {
          if (TokenClass.isSoloCp(cp)) {
            emit(i)
            runStart = i; runAscii = false
            emit(i + len)
          } else {
            if (runStart < 0) runStart = i
            runAscii = false
          }
        } else emit(i)
        i += len
      }
    }
    emit(n)
    new GenericArrayData(out.toArray)
  }
}

/** Native `tokens()` — see [[TokenizeKernel]]. `distinct = true` is the
  * fused `array_distinct(tokens(text))` form (first-occurrence order,
  * matching ArrayDistinct), so distinct-token consumers skip building
  * the duplicated array only to dedup it.
  */
case class TokenizeExpr(child: Expression, distinct: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_tokens requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  // the identical collation/ICU inputs Spark's Lower would use on this
  // child — LAZY: the child is unresolved at construction (dataType
  // would throw); first access happens at eval/codegen time on the
  // driver, after analysis, so the generated code bakes the same values
  // interpreted eval uses
  private lazy val collationId: Int = child.dataType match {
    case s: StringType => s.collationId
    case _ => 0
  }
  // EAGER val, not lazy (r17 ADVICE): resolved from the session conf when
  // the expression node is constructed ON THE DRIVER (Column building /
  // analysis) and serialized with the node, so an interpreted-eval path
  // whose first access lands on an executor sees the same value the
  // driver's codegen bakes in — never the executor's default conf
  private val useICU: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(input: Any): Any =
    TokenizeKernel.tokens(input.asInstanceOf[UTF8String], collationId,
      useICU, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenizeKernel.tokens($c, $collationId, $useICU, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

/** Character n-gram kernel — the codegen'd form of
  * [[graft.text.TextFunctions.charNgrams]]'s HOF
  * (`transform(sequence(1, greatest(length(text)-(n-1), 1)),
  * i => substring(text, i, n))`).
  *
  * Why a kernel: the HOF runs an interpreted lambda per position whose
  * `substring(text, i, n)` walks the string from byte 0 to find the
  * i-th codepoint — O(len²) work per document. This precomputes the
  * codepoint byte offsets once and slices — O(len · n) output bytes,
  * nothing else. Exactness: same positions (1..max(len-n+1, 1)), same
  * truncated-tail semantics when len < n, same `[""]` for empty input.
  * `distinct = true` fuses `array_distinct` (first-occurrence order) —
  * the shape every verify/sketch consumer uses.
  */
object CharNgramsKernel {

  /** The code point start offsets of `bytes`, plus an end sentinel
    * (`bytes.length`): gram p spans `offs(p)` until
    * `offs(min(p + n, offs.length - 1))`, for p below [[grams]]. */
  def cpOffsets(bytes: Array[Byte]): Array[Int] = {
    val nb = bytes.length
    var count = 0
    var i = 0
    while (i < nb) { count += 1; i += TokenClass.cpLen(bytes(i)) }
    val offs = new Array[Int](count + 1)
    i = 0; var c = 0
    while (i < nb) { offs(c) = i; c += 1; i += TokenClass.cpLen(bytes(i)) }
    offs(count) = nb
    offs
  }

  /** How many n-gram positions a text of `offs.length - 1` code points
    * has: one, the whole (possibly empty) text, when it is shorter. */
  def grams(offs: Array[Int], n: Int): Int = math.max(offs.length - n, 1)

  def ngrams(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val offs = cpOffsets(bytes)
    val count = offs.length - 1
    val m = grams(offs, n)
    val seen: java.util.HashSet[UTF8String] =
      if (distinct) new java.util.HashSet[UTF8String]() else null
    val out = new java.util.ArrayList[Any](if (distinct) 16 else m)
    var p = 0
    while (p < m) {
      val from = offs(p)
      val to = offs(math.min(p + n, count))
      val t = new Array[Byte](to - from)
      System.arraycopy(bytes, from, t, 0, to - from)
      val g = UTF8String.fromBytes(t)
      if (seen == null || seen.add(g)) out.add(g)
      p += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native `charNgrams()` — see [[CharNgramsKernel]]. */
case class CharNgramsExpr(child: Expression, n: Int,
                          distinct: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, s"graft_char_ngrams: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngrams requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    CharNgramsKernel.ngrams(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharNgramsKernel.ngrams($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): CharNgramsExpr =
    copy(child = newChild)
}

/** Word n-gram join kernel — the codegen'd form of
  * [[graft.text.TextFunctions.wordNgramsFromTokens]]'s HOF
  * (`transform(sequence(1, greatest(size(toks)-(n-1), 1)),
  * i => concat_ws("_", element_at(toks, i), ..., element_at(toks, i+n-1)))`).
  *
  * Why a kernel: the HOF runs an interpreted lambda per gram position
  * with n `element_at` calls and a varargs `concat_ws` — the dominant
  * per-row cost of every LM instance relation (bigram/trigram/order-N
  * KN) and of the d10 gram explode. This joins byte slices directly.
  * Exactness: same positions, same '_' joiner; null elements are
  * skipped exactly as `concat_ws` skips them (unreachable from
  * `tokens()` output, whose elements are never null). Callers
  * guarantee `size(toks) >= n` (they all filter first); for shorter
  * arrays this joins the elements that exist — `concat_ws`'s
  * null-skipping semantics — where the ANSI HOF would instead throw on
  * the out-of-bounds `element_at`; no in-engine caller reaches that
  * branch (documented, not load-bearing).
  */
object WordNgramsKernel {

  private val sep = '_'.toByte

  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val toks = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (arr.isNullAt(i)) null
        else arr.getUTF8String(i)
      i += 1
    }
    val m = math.max(sz - (n - 1), 1)
    val out = new Array[Any](m)
    var p = 0
    while (p < m) {
      var len = 0
      var j = 0
      var parts = 0
      while (j < n && p + j < sz) {
        val t = toks(p + j)
        if (t != null) { len += t.numBytes(); parts += 1 }
        j += 1
      }
      val b = new Array[Byte](len + math.max(parts - 1, 0))
      var off = 0
      j = 0
      var written = 0
      while (j < n && p + j < sz) {
        val t = toks(p + j)
        if (t != null) {
          if (written > 0) { b(off) = sep; off += 1 }
          val tb = t.getBytes
          System.arraycopy(tb, 0, b, off, tb.length)
          off += tb.length
          written += 1
        }
        j += 1
      }
      out(p) = UTF8String.fromBytes(b)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Non-overlapping token-window kernel — the codegen'd form of
  * [[graft.text.TextFunctions.tokenWindows]]'s HOF
  * (`transform(sequence(0, ceil(size/w)-1),
  * i => concat_ws(" ", slice(toks, i*w+1, w)))`): fixed-width windows of
  * `w` tokens rejoined with single spaces, last window keeping the
  * remainder. Callers guarantee a non-empty input array (the HOF's
  * documented precondition — `sequence` walks backwards on size 0); the
  * kernel returns an empty array there instead of the HOF's undefined
  * walk, a branch no in-engine caller reaches.
  */
object TokenWindowsKernel {

  private val sep = ' '.toByte

  def windows(arr: ArrayData, w: Int): ArrayData = {
    val sz = arr.numElements()
    val m = (sz + w - 1) / w
    val out = new Array[Any](m)
    var wi = 0
    while (wi < m) {
      val from = wi * w
      val to = math.min(from + w, sz)
      var len = 0
      var j = from
      var parts = 0
      while (j < to) {
        if (!arr.isNullAt(j)) { len += arr.getUTF8String(j).numBytes(); parts += 1 }
        j += 1
      }
      val b = new Array[Byte](len + math.max(parts - 1, 0))
      var off = 0
      var written = 0
      j = from
      while (j < to) {
        if (!arr.isNullAt(j)) {
          if (written > 0) { b(off) = sep; off += 1 }
          val tb = arr.getUTF8String(j).getBytes
          System.arraycopy(tb, 0, b, off, tb.length)
          off += tb.length
          written += 1
        }
        j += 1
      }
      out(wi) = UTF8String.fromBytes(b)
      wi += 1
    }
    new GenericArrayData(out)
  }
}

/** Native `tokenWindows()` — see [[TokenWindowsKernel]]. */
case class TokenWindowsExpr(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"graft_token_windows: w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s, _) if s.isInstanceOf[StringType] =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_token_windows requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_windows"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindowsKernel.windows(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindowsKernel.windows($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowsExpr =
    copy(child = newChild)
}

/** Native `wordNgramsFromTokens()` — see [[WordNgramsKernel]]. */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"graft_word_ngrams: n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s, _) if s.isInstanceOf[StringType] =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngrams requires array<string>, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    WordNgramsKernel.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordNgramsKernel.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The r17 Unicode token walk over a document's UTF-8 bytes, the one
  * copy the MinHash and SimHash kernels share: token runs are
  * `\p{L}\p{N}` codepoints ([[TokenClass]]), no-space-script codepoints
  * (Han/kana/Thai) are tokens alone, ASCII folds in place, and a run
  * carrying any non-ASCII codepoint lowercases through the JDK (the same
  * full mapping Spark's `lower` applies per token). The byte-level twin
  * of `TextFunctions.tokens(s)`. Every token occurrence, in document
  * order, is handed to [[token]] in `buf(0 until len)`, one buffer reused
  * for the whole walk: no per-token String (a non-ASCII run still
  * lowercases through one).
  */
abstract class TokenWalk {
  protected var buf = new Array[Byte](64)
  protected var len = 0
  private var runAscii = true

  /** One token occurrence; its lowercased UTF-8 bytes are `buf(0 until len)`. */
  protected def token(): Unit

  final def walk(s: UTF8String): Unit = {
    val bytes = s.getBytes
    val n = bytes.length
    len = 0
    runAscii = true
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0x80) == 0) {
        if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) put(b)
        else if (b >= 'A' && b <= 'Z') put((b | 0x20).toByte)
        else emit()
        i += 1
      } else {
        val cp = TokenClass.cpAt(bytes, i, n)
        val cl = TokenClass.cpLen(b)
        if (TokenClass.isTokenCp(cp)) {
          if (TokenClass.isSoloCp(cp)) {
            emit()
            putAll(bytes, i, cl)
            emit()
          } else putAll(bytes, i, cl)
        } else emit()
        i += cl
      }
    }
    emit()
  }

  private def put(b: Byte): Unit = {
    if (len == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * len)
    buf(len) = b
    len += 1
  }

  private def putAll(src: Array[Byte], from: Int, n: Int): Unit = {
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, len + n))
    System.arraycopy(src, from, buf, len, n)
    len += n
    runAscii = false
  }

  private def emit(): Unit = if (len > 0) {
    if (!runAscii) {
      val t = new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
        .toLowerCase.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      len = 0
      putAll(t, 0, t.length)
      runAscii = true
    }
    token()
    len = 0
  }
}

/** Whole-document MinHash kernel: all k per-seed signature minima in ONE
  * pass over the text. One instance is one task's state (see TASK-SCOPED
  * MEMO below).
  *
  * Bit-identical to the relational form it replaces —
  * `min(md5(concat(lit("i|"), shingle)))` per seed over
  * `explode(distinctTokens(text))` — because: tokens are the same r17
  * Unicode normal form the other text kernels use ([[TokenWalk]]); the
  * digest input is the same "<seed>|<token>" UTF-8 bytes; and digests
  * compare as unsigned big-endian longs, which is exactly the hex-string
  * ordering `min` uses (byte→hex is monotone). A token that repeats
  * within a doc has the same digests, so the walk folds every token
  * occurrence into the minima and needs no per-doc distinct set.
  *
  * EQUIVALENCE CONTRACT — CASE-FOLD ANOMALIES. Both sides now lowercase
  * per TOKEN (after the split), so split boundaries are case-independent
  * and the old U+212A-class divergence is gone. The remaining documented
  * divergence class is codepoints whose JDK lowercase disagrees with the
  * ORACLE engine's (DuckDB/utf8proc): context-sensitive Greek final
  * sigma and locale anomalies (U+0130 İ). The kernel matches SPARK
  * exactly (same JDK mapping); the oracle contract is for corpora
  * outside those anomalies — TextFunctionsSpec asserts kernel↔HOF parity
  * on Unicode generators.
  *
  * TASK-SCOPED MEMO. MinHash (Broder 1997) is a pure function of each
  * token, and a corpus task digests the same tokens over and over (90% of
  * the digests inside one 6,000-doc perfbench `curate` task were for a
  * token the task had already digested). The kernel keeps a memo from a
  * token's lowercased UTF-8 bytes to its k seed digests (two longs each):
  *  - open addressing; the table starts at 2^10 slots and doubles, each
  *    time it is three quarters full, up to a fixed ceiling
  *    ([[MinhashKernel.slotsFor]]: 2^15 slots at k ≤ 8, a constant 4 MB
  *    digest budget beyond — not a knob), so a small task holds a small
  *    table; at the ceiling, a missed token is digested without being
  *    inserted;
  *  - looked up by the token's 64-bit XXH64 and CONFIRMED by byte
  *    equality — a hash collision can cost a probe, never a wrong digest;
  *  - tokens come from the reused [[TokenWalk]] buffer; only an inserted
  *    key is copied.
  * The memo is exact because a hit returns the digests a miss would
  * compute. It is scoped to one task: generated code holds one kernel
  * per generated iterator (`ctx.addMutableState`, one per partition),
  * interpreted eval one per expression copy (a transient field of the
  * task's deserialized copy). Never a static or a ThreadLocal: a memo
  * that outlived its task would pin executor heap across the job.
  * In perfbench `curate`'s event log (seed 11, 4 vCPUs) the LSH
  * candidate materialization went from 0.96-1.01 s to 0.39-0.43 s a
  * timed iteration; MinhashKernelSpec checks memo ≡ stateless digest.
  *
  * Why a kernel: the relational form explodes (doc × distinct-token) rows
  * through a shuffle into a k-column hash aggregate. This computes the
  * same k minima inside the scan's projection — the signature stage needs
  * NO shuffle at all, which at 100 TB removes the largest intermediate of
  * the whole LSH pipeline (token rows ≫ doc rows).
  *
  * `slots` (the ceiling) and `hashMask` are parameters for tests only:
  * a small ceiling fills the memo, and masking the hash to a few bits
  * forces collisions, so the byte-equality check is exercised.
  */
final class MinhashKernel(k: Int, slots: Int, hashMask: Long) extends TokenWalk {
  def this(k: Int) = this(k, MinhashKernel.slotsFor(k), -1L)

  require(k >= 1 && Integer.bitCount(slots) == 1, s"k=$k, slots=$slots")

  private val width = 2 * k
  private var cap = math.min(slots, 1 << 10)
  private var hashes = new Array[Long](cap)
  private var keys = new Array[Array[Byte]](cap)
  // slot i's digests at [i·width, (i+1)·width): seed j's (hi, lo) at 2j;
  // the extra last block holds a miss the full table does not keep
  private var digests = new Array[Long]((cap + 1) * width)
  private var used = 0
  private val md = java.security.MessageDigest.getInstance("MD5")
  private val prefixes = Array.tabulate(k)(p =>
    s"$p|".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  private val dig = new Array[Byte](16)
  private val digView = java.nio.ByteBuffer.wrap(dig)
  private val hex = new Array[Byte](32)
  private val mins = new Array[Long](width)
  private var any = false

  /** Array of k hex minima (seed order 0..k-1), or null when the document
    * has no tokens — matching the exploded form, where a token-less doc
    * contributes no signature rows at all.
    */
  def signatures(s: UTF8String): ArrayData = {
    if (!scan(s)) return null
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      out(j) = UTF8String.fromBytes(toHex(j, new Array[Byte](32)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** BAND signatures straight off the k minima — exactly
    * `md5(array_join(slice(sig, b·bandSize+1, bandSize), "|"))` per band
    * b = 0..k/bandSize−1 over [[signatures]]' hex minima, or null for a
    * token-less document. One kernel evaluation per document emitting
    * every band (r17 optimization round): the projection form built on
    * [[signatures]] re-evaluated the whole MinHash walk per band branch
    * (CollapseProject inlines the sig expression into the null filter
    * AND each band's md5 — measured as the d7-family regression), while
    * this feeds a single posexplode. Parity with the aggregate
    * [[graft.dedup.Dedup.bandedSignatures]] form is asserted in
    * DedupSpec via the row-identity of the candidate sets.
    */
  def bandSignatures(s: UTF8String, bandSize: Int): ArrayData = {
    if (!scan(s)) return null
    val nBands = k / bandSize
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var j = 0
      while (j < bandSize) {
        if (j > 0) md.update('|'.toByte)
        md.update(toHex(b * bandSize + j, hex))
        j += 1
      }
      md.digest(dig, 0, 16)
      out(b) = UTF8String.fromBytes(MinhashKernel.hexOf(
        digView.getLong(0), digView.getLong(8), new Array[Byte](32)))
      b += 1
    }
    new GenericArrayData(out)
  }

  private def toHex(seed: Int, out: Array[Byte]): Array[Byte] =
    MinhashKernel.hexOf(mins(2 * seed), mins(2 * seed + 1), out)

  /** Folds every token of `s` into `mins`; false when `s` has none. */
  private def scan(s: UTF8String): Boolean = {
    any = false
    walk(s)
    any
  }

  protected def token(): Unit = {
    val base = lookup()
    if (!any) {
      System.arraycopy(digests, base, mins, 0, width)
      any = true
    } else {
      var j = 0
      while (j < width) {
        val c = java.lang.Long.compareUnsigned(digests(base + j), mins(j))
        if (c < 0 || (c == 0 &&
            java.lang.Long.compareUnsigned(digests(base + j + 1), mins(j + 1)) < 0)) {
          mins(j) = digests(base + j)
          mins(j + 1) = digests(base + j + 1)
        }
        j += 2
      }
    }
  }

  private def limit = cap - (cap >>> 2)

  private def slotOf(h: Long): Int = (h ^ (h >>> 32)).toInt & (cap - 1)

  /** Offset in `digests` of the buffered token's k digests. */
  private def lookup(): Int = {
    if (used >= limit && cap < slots) grow()
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L) & hashMask
    var i = slotOf(h)
    while (keys(i) != null) {
      if (hashes(i) == h && java.util.Arrays.equals(keys(i), 0, keys(i).length, buf, 0, len))
        return i * width
      i = (i + 1) & (cap - 1)
    }
    if (used < limit) {
      keys(i) = java.util.Arrays.copyOf(buf, len)
      hashes(i) = h
      used += 1
      digestInto(i * width)
    } else digestInto(cap * width)
  }

  /** Doubles the table, re-placing every key with its digests. */
  private def grow(): Unit = {
    val (oldKeys, oldHashes, oldDigests, oldCap) = (keys, hashes, digests, cap)
    cap *= 2
    keys = new Array[Array[Byte]](cap)
    hashes = new Array[Long](cap)
    digests = new Array[Long]((cap + 1) * width)
    var o = 0
    while (o < oldCap) {
      if (oldKeys(o) != null) {
        var i = slotOf(oldHashes(o))
        while (keys(i) != null) i = (i + 1) & (cap - 1)
        keys(i) = oldKeys(o)
        hashes(i) = oldHashes(o)
        System.arraycopy(oldDigests, o * width, digests, i * width, width)
      }
      o += 1
    }
  }

  private def digestInto(base: Int): Int = {
    var j = 0
    while (j < k) {
      md.update(prefixes(j))
      md.update(buf, 0, len)
      md.digest(dig, 0, 16)
      digests(base + 2 * j) = digView.getLong(0)
      digests(base + 2 * j + 1) = digView.getLong(8)
      j += 1
    }
    base
  }
}

object MinhashKernel {

  /** A generated class's field holding a fresh kernel for `k` seeds: one
    * per generated iterator, so one per partition.
    */
  def stateIn(ctx: CodegenContext, k: Int): String = {
    val cls = classOf[MinhashKernel].getName
    ctx.addMutableState(cls, "minhashKernel", v => s"$v = new $cls($k);",
      forceInline = true)
  }

  /** Memo slot ceiling for k seeds: 2^15 up to k = 8, then halving as k
    * grows so the digest table stays at 2^19 longs (4 MB).
    */
  def slotsFor(k: Int): Int =
    math.max(64, math.min(1 << 15, Integer.highestOneBit((1 << 19) / (2 * k))))

  private val hexDigits = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Lowercase hex of the 16 digest bytes (hi, lo big-endian) into `out`. */
  private[functions] def hexOf(hi: Long, lo: Long, out: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < 16) {
      val w = if (i < 8) hi else lo
      val b = (w >>> (56 - 8 * (i & 7))).toInt & 0xff
      out(2 * i) = hexDigits(b >> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    out
  }

  /** Distinct lowercased tokens of `s` in first-occurrence order: the
    * [[TokenWalk]] with a distinct-set sink, the byte-level twin of
    * `array_distinct(TextFunctions.tokens(s))`. The SimHash kernel votes
    * once per distinct token, so it walks this form.
    */
  def distinctTokens(s: UTF8String): java.util.ArrayList[Array[Byte]] = {
    val toks = new java.util.ArrayList[Array[Byte]]()
    new TokenWalk {
      // ByteBuffer equality is content equality
      private val seen = new java.util.HashSet[java.nio.ByteBuffer]()
      protected def token(): Unit = {
        val t = java.util.Arrays.copyOf(buf, len)
        if (seen.add(java.nio.ByteBuffer.wrap(t))) toks.add(t)
      }
    }.walk(s)
    toks
  }
}

/** Native banded-signature expression — see
  * [[MinhashKernel#bandSignatures]]. Output: array of k/bandSize band
  * signatures (band index = array position), null for token-less docs.
  */
case class MinhashBandsExpr(child: Expression, k: Int, bandSize: Int)
    extends UnaryExpression {
  require(k >= 1 && bandSize >= 1 && k % bandSize == 0,
    s"graft_minhash_bands: bandSize=$bandSize must divide k=$k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_bands requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_bands"

  // the task's kernel (and its memo) when evaluated interpreted: this
  // copy was deserialized for one task
  @transient private lazy val kernel = new MinhashKernel(k)

  override protected def nullSafeEval(input: Any): Any =
    kernel.bandSignatures(input.asInstanceOf[UTF8String], bandSize)

  // token-less docs yield null FROM NON-NULL INPUT (the explode-to-zero-
  // rows contract), so the generated code must re-derive isNull from the
  // kernel's result — defineCodeGen would propagate only the child's
  // nullability (the MinhashExpr discipline)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kern = MinhashKernel.stateIn(ctx, k)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kern.bandSignatures($c, $bandSize);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandsExpr =
    copy(child = newChild)
}

/** Whole-document SimHash kernel: md5 each distinct token once, vote all
  * 32 bits, return the 32 bit values (index order 1..32) — or null for a
  * token-less document. Bit i votes +1 when hex digit i of md5(token) is
  * >= '8' (top bit of the nibble), −1 otherwise; the sign of the vote sum
  * is the bit. Identical numbers to the 32-conditional-sum aggregate form
  * in `graft.dedup.DedupSpec.simhashBitsExploded`, computed without
  * shuffling (doc, token) rows.
  */
object SimhashKernel {

  def bits(s: UTF8String): ArrayData = {
    val toks = MinhashKernel.distinctTokens(s)
    if (toks.isEmpty) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](32)
    var t = 0
    while (t < toks.size()) {
      md.reset()
      val d = md.digest(toks.get(t))
      // hex digit i (1-based) >= '8' ⇔ the nibble's top bit is set
      var i = 0
      while (i < 16) {
        val b = d(i) & 0xff
        votes(2 * i) += (if ((b & 0x80) != 0) 1 else -1)
        votes(2 * i + 1) += (if ((b & 0x08) != 0) 1 else -1)
        i += 1
      }
      t += 1
    }
    val out = new Array[Any](32)
    var o = 0
    while (o < 32) {
      out(o) = if (votes(o) > 0) 1 else 0
      o += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression for [[SimhashKernel]]; registered as the SQL
  * function `graft_simhash`.
  */
case class SimhashExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimhashKernel.bits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SimhashKernel.bits($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

/** Native Catalyst expression wrapping [[MinhashKernel]]; registered as the
  * SQL function `graft_minhash` via [[graft.extensions.GraftExtensions]]
  * and used directly (no registration needed) by
  * [[graft.dedup.Dedup.minhashSignatures]].
  */
case class MinhashExpr(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType] && k > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires (string, k > 0), got (${child.dataType}, $k)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  // the task's kernel when evaluated interpreted (see MinhashBandsExpr)
  @transient private lazy val kernel = new MinhashKernel(k)

  override protected def nullSafeEval(input: Any): Any =
    kernel.signatures(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kern = MinhashKernel.stateIn(ctx, k)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $kern.signatures($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashExpr =
    copy(child = newChild)
}

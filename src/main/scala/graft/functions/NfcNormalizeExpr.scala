package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC kernel (top-level object ⇒ static forwarder callable from
  * generated code).
  *
  * WHY: the dedup normal form was whitespace+lowercase only, so composed
  * vs decomposed renderings of identical text (U+00E9 vs e+U+0301 —
  * ubiquitous in crawled text, which mixes editors, OSes, and CMSes) got
  * different fingerprints/MinHashes and were invisible to every dedup
  * stage (r15 verdict missing #2). NFC is the W3C-recommended wire
  * normal form; [[graft.pipelines.Pipelines.dedupCorpusStages]] applies
  * it to the text column at entry (default-on, `nfc = false` to opt
  * out), and the DuckDB oracle reproduces it with `nfc_normalize()`.
  *
  * FAST PATHS, in cost order: (1) pure-ASCII input (no byte with its
  * high bit set, tested 8 bytes at a time) returns AS-IS with no String
  * materialization at all — the overwhelming majority of any corpus,
  * where counting characters (`numBytes == numChars`) walked every
  * string one character at a time; (2) non-ASCII but already-NFC
  * input passes `Normalizer.isNormalized`'s quick check and returns
  * the original UTF8String (one transient String for the check). Only
  * rows that actually need recomposition pay normalize + re-encode.
  */
object NfcKernel {

  def nfc(s: UTF8String): UTF8String = {
    // pure-ASCII bytes are NFC by construction, so the overwhelmingly
    // common row returns without even a String materialization
    if (isAscii(s)) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** No byte of `s` has its high bit set (⇔ every UTF-8 code unit is
    * ASCII): eight bytes a word, then the tail byte by byte.
    */
  private[functions] def isAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & 0x8080808080808080L) != 0L) return false
      i += 8
    }
    while (i < n) {
      if ((Platform.getByte(base, off + i) & 0x80) != 0) return false
      i += 1
    }
    true
  }
}

/** `graft_nfc(text)` — native codegen'd Unicode NFC normalization;
  * exposed as [[graft.text.TextFunctions.nfcNormalize]] and registered
  * for SQL via [[graft.extensions.GraftExtensions]]. Oracle twin:
  * DuckDB's `nfc_normalize(text)` (parity pinned by tx_nfc_fingerprint
  * and ScalaCheck'd in TextFunctionsSpec).
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string argument, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    NfcKernel.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcKernel.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

package graft.functions

/** Shared codepoint classification for the byte-walk text kernels — the
  * kernel-side definition of the engine's Unicode word-token normal form
  * ([[graft.text.TextFunctions.tokens]], r17):
  *
  *  - a TOKEN codepoint is `\p{L}` or `\p{N}` (Java regex `\p{L}` is
  *    exactly Character.isLetter's five L* categories; `\p{N}` is
  *    Nd|Nl|No);
  *  - a SOLO codepoint is one from a no-space script (Han, Hiragana,
  *    Katakana, Thai) — it always forms its own single-character token,
  *    the char-unit fallback the HOF form gets from
  *    `graft.text.TextFunctionsSpec.cjkSoloRe`'s space insertion (Java
  *    `\p{IsHan}` and the kernel's Character.UnicodeScript read the same
  *    Scripts.txt table);
  *  - everything else is a separator.
  *
  * Token WALK semantics shared by every kernel: a solo token codepoint
  * ends the current run and emits alone; a non-solo token codepoint
  * extends the run; a separator (including solo-script MARKS — Thai
  * vowel signs are script Thai but category Mn, so the HOF pre-split
  * isolates them and the class filter drops them) ends the run. This
  * reproduces the HOF pipeline exactly: pre-split spaces around solo
  * chars, class split, empty filter.
  *
  * CASE-FOLD CONTRACT (unchanged from the ASCII era, now per-token): the
  * HOF form lowercases AFTER splitting, so splits are case-independent;
  * kernels that need folded token bytes (minhash/simhash/stop-ratio)
  * fold ASCII in place and fall back to String.toLowerCase for tokens
  * carrying non-ASCII — bit-identical except for case anomalies whose
  * lowercase changes codepoint count (U+0130 İ), the documented
  * divergence class ([[MinhashKernel]]'s scaladoc).
  */
object TokenClass {

  /** Bytes in the UTF-8 sequence starting with `b0` (input contract:
    * valid UTF-8 — every string entering the engine is decoded with
    * replacement, [[graft.sources.Wet]]'s encoding note).
    */
  @inline def cpLen(b0: Byte): Int = {
    val u = b0 & 0xff
    if (u < 0x80) 1 else if (u < 0xE0) 2 else if (u < 0xF0) 3 else 4
  }

  /** Decode the codepoint at byte `i` (caller guarantees `i` starts a
    * sequence; a sequence truncated by the buffer end yields U+FFFD,
    * which classifies as a separator).
    */
  def cpAt(bytes: Array[Byte], i: Int, n: Int): Int = {
    val u0 = bytes(i) & 0xff
    if (u0 < 0x80) u0
    else if (u0 < 0xE0) {
      if (i + 1 >= n) 0xFFFD
      else ((u0 & 0x1F) << 6) | (bytes(i + 1) & 0x3F)
    } else if (u0 < 0xF0) {
      if (i + 2 >= n) 0xFFFD
      else ((u0 & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) |
        (bytes(i + 2) & 0x3F)
    } else {
      if (i + 3 >= n) 0xFFFD
      else ((u0 & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
        ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F)
    }
  }

  /** `\p{L}\p{N}` membership — ASCII fast path first (the overwhelmingly
    * common case stays branch-cheap).
    */
  @inline def isTokenCp(cp: Int): Boolean =
    if (cp < 128)
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9')
    else Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** No-space-script membership (Han/Hiragana/Katakana/Thai). The 0x0E00
    * floor is a cheap reject: Thai starts at U+0E01 and every Han/kana
    * block sits above it, so ASCII and most alphabetic scripts never
    * reach the script lookup.
    */
  @inline def isSoloCp(cp: Int): Boolean =
    cp >= 0x0E00 && {
      val s = Character.UnicodeScript.of(cp)
      (s eq Character.UnicodeScript.HAN) ||
        (s eq Character.UnicodeScript.HIRAGANA) ||
        (s eq Character.UnicodeScript.KATAKANA) ||
        (s eq Character.UnicodeScript.THAI)
    }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data curation, built entirely from
  * codegen'd Catalyst expressions (no UDFs) so they stay inside whole-stage
  * codegen and are reproducible in an ANSI-SQL oracle.
  *
  * Covers: tokenization, token/char n-gram shingling, language-ID heuristic,
  * quality scoring, document fingerprinting.
  */
object TextFunctions {

  /** Lowercased word tokens, empties removed — the engine's WORD-TOKEN
    * NORMAL FORM, Unicode-correct (r17; the previous `[^a-z0-9]+` split
    * zeroed out every non-Latin-script document: CJK/Arabic/Cyrillic
    * pages tokenized to an EMPTY array, so the quality gate dropped
    * them, Gopher rules failed them, and word-gram dedup /
    * decontamination / LM scoring saw nothing — while "café" lost its
    * accent). Three steps, each oracle-expressible in DuckDB RE2:
    *
    *  1. no-space scripts (Han, Hiragana, Katakana, Thai) pre-split to
    *     single-character tokens: they don't delimit words with spaces,
    *     so the normal form there is the CHARACTER;
    *  2. split on anything outside `\p{L}\p{N}` (so letters and digits
    *     of EVERY script are token characters; `_` stays a separator —
    *     it is Pc, not L/N — preserving the word-gram `'_'` join);
    *  3. per-token lowercase (AFTER the split, so case anomalies like
    *     U+0130 İ whose lowercase adds a combining mark cannot change
    *     the split itself), empties dropped.
    *
    * On ASCII text this is byte-identical to the old form (A-Z fold into
    * the same runs), so every existing oracle hash over the ASCII test
    * tables is unchanged. Combining marks are separators (category Mn is
    * not \p{L}) — text should be NFC-normalized first (the dedupCorpus
    * entry default, [[graft.functions.NfcNormalizeExpr]]) so "café" is
    * one codepoint, not e + U+0301. Kernel parity with the HOF/regex
    * spec `TextFunctionsSpec.tokensHof` (the form the oracle restates in
    * RE2) is ScalaCheck'd there.
    */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(
      graft.functions.TokenizeExpr(ColumnShim.expression(text)))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** `array_distinct(tokens(text))`, fused into the tokenize kernel
    * (first-occurrence order — ArrayDistinct's contract).
    */
  def distinctTokens(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.TokenizeExpr(
      ColumnShim.expression(text), distinct = true))
  }

  /** Character n-grams of the raw text (positions 1..len-n+1); HOF
    * spec `TextFunctionsSpec.charNgramsHof` (parity ScalaCheck'd there). */
  def charNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.CharNgramsExpr(
      ColumnShim.expression(text), n))
  }

  /** `array_distinct(charNgrams(text, n))` fused into the kernel — the
    * shape every Jaccard verify/sketch consumer uses (gram SETS).
    */
  def distinctCharNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.CharNgramsExpr(
      ColumnShim.expression(text), n, distinct = true))
  }

  /** Word n-grams over an already-materialized token array, joined with '_'.
    *
    * Takes the token ARRAY column, not the raw text: higher-order lambdas run
    * as CodegenFallback, so an inlined `tokens(text)` expression would be
    * re-evaluated (split + filter, interpreted) for every `element_at` at
    * every gram position — O(tokens²) regex work per document. Callers
    * project `tokens(text)` once and pass the bound attribute. HOF spec:
    * `TextFunctionsSpec.wordNgramsFromTokensHof` (parity at `size >= n`).
    */
  def wordNgramsFromTokens(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.WordNgramsExpr(
      ColumnShim.expression(toks), n))
  }

  /** NON-overlapping fixed-width token windows, each rejoined with a
    * space — the segmentation unit for corpus-frequency line dedup
    * ([[graft.dedup.Dedup.scrubFrequentSegments]]) on single-line
    * corpora, where a real `split(text, "\n")` would be degenerate. The
    * last window keeps the remainder (1..w tokens). Takes the token
    * ARRAY (see [[wordNgramsFromTokens]]'s CodegenFallback caveat);
    * caller must guarantee a non-empty array — on size 0 the window
    * count expression would walk `sequence` backwards. HOF spec:
    * `TextFunctionsSpec.tokenWindowsHof` (parity on non-empty arrays).
    */
  def tokenWindows(toks: Column, w: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.TokenWindowsExpr(
      ColumnShim.expression(toks), w))
  }

  /** BPE-ish subword segmentation: letter runs, digit runs, and punctuation
    * runs, each optionally preceded by one space (the GPT-2 pre-tokenizer
    * shape, restricted to constructs whose regex semantics agree between
    * Java and RE2-style engines so the oracle reproduces it exactly).
    */
  val bpePattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Count of BPE-ish pre-tokens (proxy for LLM token counts). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))

  /** Rolling-hash document signature: the k smallest hashes over the
    * document's distinct character n-grams (a winnowing-style fingerprint —
    * stable under small edits, unlike the exact-text md5). Returned as a
    * joined string so it is directly comparable/joinable.
    */
  def ngramSignature(text: Column, n: Int, k: Int): Column =
    array_join(slice(array_sort(transform(
      array_distinct(charNgrams(text, n)), g => md5(g))), 1, k), "|")

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normalized(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Unicode NFC normalization (native codegen'd kernel,
    * [[graft.functions.NfcNormalizeExpr]]; quick-check fast path returns
    * already-normalized text as-is). Composed vs decomposed renderings of
    * identical text (U+00E9 vs e+U+0301) previously got different
    * fingerprints/MinHashes and evaded every dedup stage; the curation
    * chain applies this to the text column at entry (default-on).
    * Oracle twin: DuckDB `nfc_normalize(text)`.
    */
  def nfcNormalize(text: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.NfcNormalizeExpr(
      ColumnShim.expression(text)))
  }

  /** Email pattern shared by redaction + counting (RE2- and Java-regex
    * compatible: no lookaround, ASCII classes only, so Spark and the
    * DuckDB oracle match byte-for-byte).
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-number-ish pattern: international prefix optional, ≥8 chars of
    * digits/dashes. Same cross-engine compatibility constraints.
    */
  val phoneRe = "\\+?\\d[\\d-]{6,}\\d"

  /** PII redaction — the pre-training scrub pass: emails first (so their
    * digit runs can't half-match as phones), then phone numbers. Plain
    * codegen'd regexp_replace chain; replacement order is part of the
    * contract (the oracle applies the same order).
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Count of PII spans that [[redactPii]] would replace: emails on the
    * raw text, phones on the email-redacted text — the same pass order as
    * the redaction, so a digit-bearing email local part is one span, not
    * two.
    */
  def piiCount(text: Column): Column =
    (regexp_count(text, lit(emailRe)) +
      regexp_count(regexp_replace(text, emailRe, "<EMAIL>"), lit(phoneRe)))
      .cast("int")

  /** Markup stripping — boilerplate removal for scraped HTML: drop tags,
    * collapse the whitespace they leave behind, trim. Not an HTML parser
    * (no entity decoding, no script-content awareness) — the cheap
    * first-pass scrub before quality scoring; a real DOM extraction is a
    * decode-stage concern (U1 territory), not a relational one.
    */
  def stripMarkup(html: Column): Column =
    trim(regexp_replace(regexp_replace(html, "<[^>]+>", " "), "\\s+", " "))

  /** FULL HTML → text extraction for raw-crawl ingest ([[stripMarkup]]
    * drops tags but keeps whatever was BETWEEN them — including
    * `<script>`/`<style>` bodies, so JavaScript and CSS leaked into the
    * corpus text on the `--warc` path). Pass order is part of the
    * contract (the oracle applies the same chain):
    *  1. script/style/head elements removed WITH their content
    *     (`(?is)` — case-insensitive, dot-matches-newline; non-greedy,
    *     so one unclosed tag can't eat the document);
    *  2. HTML comments removed;
    *  3. block-level tag boundaries become spaces ([[stripMarkup]]'s
    *     rule — inline-vs-block fidelity is a DOM concern, not a
    *     regex one);
    *  4. the XML named entities (&lt; &gt; &quot; &apos; &amp;), the
    *     numeric apostrophe &#39;, and &nbsp; decode (AFTER tag
    *     removal, so `&lt;script&gt;` in prose cannot conjure an
    *     element; &amp; LAST, so `&amp;lt;` decodes to the literal
    *     text `&lt;`, not `<`);
    *  5. whitespace collapses.
    * All constructs are RE2- and Java-compatible (no lookaround, no
    * backreferences — the element alternation is spelled out because
    * RE2 has no `\\1`), so DuckDB reproduces the decision
    * byte-for-byte (tx_html_extract). Not a DOM parser by design — the
    * cheap relational-side scrub; a browser-grade extraction is a
    * decode-stage concern (§7.5).
    */
  def extractHtmlText(html: Column): Column = {
    val noTags = regexp_replace(scrubHtmlElements(html), "<[^>]+>", " ")
    trim(regexp_replace(decodeHtmlEntities(noTags), "\\s+", " "))
  }

  /** Steps 1-2 of the extraction contract: script/style/head elements
    * removed WITH content, comments removed. Shared by
    * [[extractHtmlText]] and [[extractMainContent]].
    */
  private def scrubHtmlElements(html: Column): Column =
    regexp_replace(
      regexp_replace(html,
        "(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|" +
          "<head[^>]*>.*?</head>", " "),
      "(?s)<!--.*?-->", " ")

  /** Step 4 of the extraction contract: the named-entity decode chain
    * (&amp; LAST so double-escaped text stays text). Shared by both
    * extractors.
    */
  private def decodeHtmlEntities(c: Column): Column = {
    val ent1 = regexp_replace(c, "&lt;", "<")
    val ent2 = regexp_replace(ent1, "&gt;", ">")
    val ent3 = regexp_replace(ent2, "&quot;", "\"")
    val ent4 = regexp_replace(ent3, "&#39;|&apos;", "'")
    val ent5 = regexp_replace(ent4, "&nbsp;", " ")
    regexp_replace(ent5, "&amp;", "&")
  }

  /** Block-level elements whose tags delimit DOM blocks for
    * [[extractMainContent]] — the jusText/Boilerpipe segmentation unit.
    */
  private val blockTagRe =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "section|article|header|footer|nav|aside|blockquote|pre|form|" +
      "fieldset|figure|figcaption|main|br|hr)\\b[^>]*>"

  /** DOM-BLOCK boilerplate removal (r17 verdict #3) — the per-document
    * stage RefinedWeb-class pipelines run at ingest, which the
    * corpus-frequency line scrub (d24) cannot replace: nav menus,
    * footers, and cookie banners are boilerplate on THIS page even when
    * not frequent across the corpus. jusText-shaped, in pure
    * RE2/Java-compatible regexp steps so DuckDB replays the decision
    * exactly (tx_block_extract):
    *
    *  1. control sentinels scrubbed from the input (U+0001..U+0003 —
    *     adversarial text cannot inject block/link markers);
    *  2. script/style/head + comments removed ([[scrubHtmlElements]]);
    *  3. anchor elements marked: `<a ...>X</a>` → `U+0002 X U+0003`
    *     (the link-density signal; an anchor split across blocks by an
    *     illegal block tag inside it loses its marker pair — that
    *     block's link length under-counts, never crashes);
    *  4. every block-level tag ([[blockTagRe]]) becomes a block
    *     sentinel U+0001; remaining (inline) tags become spaces;
    *     entities decode;
    *  5. per block: `vis` = whitespace-collapsed text without link
    *     markers, `link_len` = summed collapsed length of the marked
    *     anchor spans. KEEP the block iff
    *     `length(vis) >= minBlockChars` AND
    *     `link_len * linkDen <= length(vis) * linkNum`
    *     (integer cross-multiplication — no float can flip a block);
    *  6. kept blocks join with a space and collapse.
    *
    * Defaults (25 chars, link fraction ≤ 1/3) are the jusText
    * short-block / link-density spirit sized for extracted fixtures;
    * navigation bars are link-dense short blocks and fail both tests,
    * body paragraphs pass. The `--warc` ingest applies this by default
    * (opt-out `--no-block-filter`, falling back to
    * [[extractHtmlText]]).
    */
  def extractMainContent(html: Column, minBlockChars: Int = 25,
                         linkNum: Int = 1, linkDen: Int = 3): Column = {
    require(minBlockChars >= 0 && linkNum >= 0 && linkDen >= 1,
      s"extractMainContent: bad thresholds ($minBlockChars, $linkNum/$linkDen)")
    val clean0 = regexp_replace(html, "[\\x01\\x02\\x03]", " ")
    val marked = regexp_replace(scrubHtmlElements(clean0),
      "(?is)<a\\b[^>]*>(.*?)</a>", "\u0002$1\u0003")
    val blocked = regexp_replace(marked, blockTagRe, "\u0001")
    val noTags = regexp_replace(blocked, "<[^>]+>", " ")
    val decoded = decodeHtmlEntities(noTags)
    val blocks = split(decoded, "\\x01")
    def visOf(b: Column): Column =
      trim(regexp_replace(regexp_replace(b, "[\\x02\\x03]", ""), "\\s+", " "))
    def linkLenOf(b: Column): Column =
      aggregate(regexp_extract_all(b, lit("(?s)\\x02(.*?)\\x03"), lit(1)),
        lit(0), (a, s) =>
          a + length(trim(regexp_replace(s, "\\s+", " "))))
    val kept = filter(blocks, b =>
      length(visOf(b)) >= minBlockChars &&
        linkLenOf(b) * linkDen <= length(visOf(b)) * linkNum)
    trim(regexp_replace(array_join(transform(kept, b => visOf(b)), " "),
      "\\s+", " "))
  }

  /** Document fingerprint: md5 of the normalized text (stable across engines). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Stopword-marker lists for the language-ID heuristic. Tiny on purpose:
    * the heuristic is a deterministic scoring rule, not a trained model.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"))

  /** Score for one language: number of distinct marker words present. */
  def langScore(text: Column, lang: String): Column =
    size(array_intersect(distinctTokens(text),
      array(langMarkers(lang).map(lit): _*)))

  /** Predicted language: argmax score, ties broken by language code order. */
  def langId(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    val scores = langs.map(l => langScore(text, l))
    val best = greatest(scores: _*)
    langs.zip(scores).foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** English stopword ratio among tokens (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val stop = array(Seq("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "it", "that", "for").map(lit): _*)
    val toks = tokens(text)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(stop, t))).cast("double") / size(toks))
      .otherwise(0.0)
  }

  /** Punctuation ratio: non-letter/number, non-space chars / total chars
    * — the Unicode class (`\p{L}\p{N}`), matching the [[tokens]] normal
    * form (r17): under the old `[^a-zA-Z0-9 ]` every CJK/Cyrillic/accented
    * character counted as punctuation, so any non-Latin page blew the
    * qualityScore punct penalty even before its tokens were counted.
    */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N} ]", "")))
        .cast("double") / length(text))
      .otherwise(0.0)

  /** Mean token length. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
      .otherwise(0.0)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation and a natural stopword rate. Deterministic and
    * oracle-expressible; weights are engine policy, not learned.
    */
  def qualityScore(text: Column): Column =
    qualityFrom(text, punctRatio(text), stopwordRatio(text))

  private def qualityFrom(text: Column, punct: Column, stop: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punct * 5.0, lit(1.0))
    val stopScore = least(stop * 4.0, lit(1.0))
    lenScore * 0.4 + punctPenalty * 0.3 + stopScore * 0.3
  }

  // ---- native single-pass forms --------------------------------------
  // Same results as the HOF/regexp forms above (parity asserted in
  // TextFunctionsSpec), but computed by allocation-free byte-walk kernels
  // inside whole-stage codegen (graft.functions.TextStatsKernel). The
  // session must have graft's functions registered
  // (GraftExtensions.register or spark.sql.extensions).

  def punctRatioNative(text: Column): Column =
    call_function("graft_punct_ratio", text)

  def stopwordRatioNative(text: Column): Column =
    call_function("graft_stop_ratio", text)

  def avgTokenLenNative(text: Column): Column =
    call_function("graft_avg_token_len", text)

  def tokenCountNative(text: Column): Column =
    call_function("graft_token_count", text)

  /** [[qualityScore]] over the native kernels — identical doubles (same
    * integer counts, same division, same combination order).
    */
  def qualityScoreNative(text: Column): Column =
    qualityFrom(text, punctRatioNative(text), stopwordRatioNative(text))

  /** TF-IDF top term per document: tf = cnt/doc_len, idf = ln(N/df), winner
    * by (ROUNDED score desc, token asc) — ordering on the rounded score so
    * a 1e-17 float tie cannot rank differently across engines. The
    * (doc, token) count relation feeds three branches (tf, doc length,
    * document frequency), so it is materialized once — to COLUMNAR
    * scratch, not localCheckpoint: it has one thin row per (doc, token)
    * TYPE, i.e. corpus-vocabulary-instance scale, exactly the tier where
    * object-block pinning hit the measured 40M-row cliff (SURVEY §6.3
    * budgetdiag). Output: (doc_id, top_term, tfidf). Shared by the
    * tx_tfidf query and the scale probe — one implementation to keep
    * benched and probed code identical.
    */
  def tfidfTopTerm(docs: org.apache.spark.sql.DataFrame, id: Column,
                   text: Column, roundTo: Int = 6): org.apache.spark.sql.DataFrame = {
    val tf = graft.core.Scratch.materialize(
      docs.select(id.as("doc_id"), explode(tokens(text)).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt")),
      "tfidf_tf")
    val len = tf.groupBy("doc_id").agg(sum("cnt").as("len"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(len, "doc_id").join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round((col("cnt") / col("len")) *
        log(col("n_docs") / col("df")), roundTo))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("tok"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("tok").as("top_term"), col("tfidf"))
  }

  /** The add-α pseudo-count of [[bigramLmScores]] — engine policy; the
    * tx_lm_score oracle SQL hard-codes the same 0.5.
    */
  private val LmAlpha = 0.5

  /** BIGRAM-LM DOCUMENT SCORING — the in-engine form of CCNet's
    * language-model quality filter (Wenzek et al. 2020 score documents
    * by LM perplexity and keep the head of the distribution; the
    * reference-scale pipelines all carry some LM-score gate). The model
    * is an add-α bigram LM trained on the scored corpus itself:
    * per-instance log-prob ln((c(w₁w₂)+α) / (c(w₁·)+α·V)) with c(w₁·)
    * the bigram-PREFIX count (self-consistent conditioning), V the
    * corpus vocabulary over scored docs; a document's score is the MEAN
    * instance log-prob — avg_logp = −ln(perplexity), higher = more
    * typical of the corpus, so a threshold on it is the perplexity
    * gate, and the LOW tail is the gibberish/outlier report.
    *
    * Exactness contract (cross-engine): each instance log-prob rounds
    * to 6dp, sums as fixed-point longs (order-insensitive), divides
    * once — the tx_classifier/d23 discipline.
    *
    * Scale shape: one token explode for the counts, equi-joins of the
    * corpus-sized instance relation against the (≪ corpus) count
    * tables, one doc-keyed aggregate. No windows, no products; the
    * vocabulary scalar broadcasts. Docs with < 2 tokens have no bigram
    * and drop out (document the gate before the score).
    *
    * The instance relation (one row per bigram OCCURRENCE — corpus-token
    * scale; the LM trains on the corpus it scores, so at 10M docs this
    * is ~10⁹ rows) feeds the type aggregate AND the scoring join: it is
    * materialized ONCE, to COLUMNAR scratch — localCheckpoint here
    * would pin the whole tokenized corpus as deserialized object blocks,
    * the engine's own measured 40M-row cliff (SURVEY §6.3 budgetdiag,
    * 88.6→17.4 s when moved to scratch). The vocabulary is counted off
    * the SAME materialization: every token of a ≥2-token doc appears as
    * some bigram's w1 or w2, so distinct(w1 ∪ w2) ≡ distinct tokens of
    * the gated docs — no second corpus scan, identical value. Scoring
    * joins the per-TYPE log-prob once (r18) rather than attaching each
    * count to every instance.
    *
    * Output: (doc_id, n_bigrams, avg_logp).
    */
  def bigramLmScores(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // tokens never contain '_' (the tokenizer strips non-[a-z0-9]), so
    // the joined bigram string splits back losslessly
    val inst = graft.core.Scratch.materialize(
      docs.select(id.as("doc_id"), tokens(text).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(wordNgramsFromTokens(col("toks"), 2)).as("bigram"))
        .withColumn("w1", split(col("bigram"), "_")(0)),
      "lm_inst")
    val c12 = inst.groupBy("bigram").agg(count(lit(1)).as("c12"))
    val c1 = inst.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = inst.select(col("w1").as("tok"))
      .union(inst.select(split(col("bigram"), "_")(1).as("tok")))
      .agg(countDistinct(col("tok")).as("v"))
    // per-TYPE log-prob, instance joins the finished lp6 ONCE (r18) —
    // the lmScoresKn discipline: lp6 is a function of the bigram
    // TYPE's counts alone, so the c1 attach runs at type scale and the
    // instance relation pays a single exchange for scoring instead of
    // two (self-trained count tables are corpus-derived — past
    // broadcast size at the 10M-doc tier, where each extra instance
    // join is a full shuffle). A second A/B kept c1/v as
    // instance-side aggregates: deriving them from a materialized type
    // relation added a scratch-write job that cost more at bench scale
    // than the saved reads, and at cluster scale both forms are one
    // map-side-combined pass.
    val typed = c12
      .withColumn("w1", split(col("bigram"), "_")(0))
      .join(c1, "w1").crossJoin(broadcast(v))
      .withColumn("lp6", round(
        log((col("c12") + lit(LmAlpha)) /
          (col("c1") + lit(LmAlpha) * col("v"))),
        6))
      .select("bigram", "lp6")
    inst.join(typed, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(col("lp6") * 1e6).cast("long")).as("__s6"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__s6") / (col("n_bigrams") * 1e6), 6).as("avg_logp"))
  }

  // ---- interpolated Kneser-Ney at any order (KenLM parity) ------------
  // The smoothing family KenLM, and hence CCNet's perplexity gate, uses
  // (Wenzek et al., LREC 2020; CCNet deploys order 5). Chen & Goodman's
  // interpolated recursion for an order-n model, D the absolute discount:
  //
  //   P(w_n | w_1..w_n-1) = max(c(w_1..w_n) − D, 0) / c(w_1..w_n-1 ·)
  //       + (D · N1+(w_1..w_n-1 ·) / c(w_1..w_n-1 ·)) · P_n-1(w_n | w_2..)
  //
  // Layers n-1 down to 2 run the same term on CONTINUATION counts (how
  // many distinct left contexts a suffix follows — "Francisco is frequent
  // but only ever follows San"), and the bottom is the continuation
  // unigram N1+(··w_n)/N1+(···). One model ([[KnModel]]), one count-table
  // builder ([[knTables]]) and one back-off formula ([[knLogProb6]]) serve
  // both entry points: self-trained [[lmScoresKn]] and fit-once/score-many
  // [[fitKn]] + [[scoreKn]]. Each instance log-prob rounds to 6dp and sums
  // as exact longs; the DuckDB oracle restates the formula with identical
  // float association, so every board query on it is hash-exact.

  /** The absolute discount D of every KN layer — engine policy; the board
    * oracle SQL hard-codes the same 0.75.
    */
  private val KnDiscount = 0.75

  /** Frozen order-N KN count tables ([[fitKn]]). `top` is the n-gram type
    * relation (w1..wn, cn); `pfx` its prefix aggregate (dn = Σcn, nun =
    * distinct continuations); `mids(i)`/`aggs(i)` are the
    * continuation-count table and its context aggregate for back-off
    * layer k = n-1-i (k runs n-1 down to 2); `rev`/`tt` the unigram
    * continuation counts. Every relation is scratch-backed or one
    * aggregate away from one — reusable across any number of [[scoreKn]]
    * calls (daily shards, streaming micro-batches) at read-only cost. All
    * of them are TYPE-relation sized (≪ corpus), so the scoring chain
    * broadcasts every join (the §6.3 r13 A/B verdict, unchanged by order:
    * more layers = more broadcast joins, never a shuffle). A deployment
    * that wants the model durable across drivers writes the relations as
    * parquet and reopens them — they are plain DataFrames.
    */
  final case class KnModel(order: Int, top: DataFrame, pfx: DataFrame,
                           mids: Seq[DataFrame], aggs: Seq[DataFrame],
                           rev: DataFrame, tt: DataFrame)

  private def requireKnOrder(fn: String, order: Int): Unit =
    require(order >= 2 && order <= 8,
      s"$fn: order must be in [2, 8], got $order")

  /** One row per n-gram occurrence of `text`: `doc_id` (when `id` is
    * given) and `g` = w1_…_wn. Tokens never contain '_' (the tokenizer
    * splits on it), so `g` splits back losslessly ([[gramWords]]). Docs
    * with fewer than n tokens have no n-gram and produce no row.
    */
  private def ngramInstances(docs: DataFrame, id: Option[Column],
                             text: Column, n: Int): DataFrame =
    docs.select(id.map(_.as("doc_id")).toSeq :+ tokens(text).as("toks"): _*)
      .filter(size(col("toks")) >= n)
      .select(id.map(_ => col("doc_id")).toSeq :+
        explode(wordNgramsFromTokens(col("toks"), n)).as("g"): _*)

  private def gramWords(n: Int): Seq[Column] =
    (1 to n).map(i => split(col("g"), "_")(i - 1).as(s"w$i"))

  /** The KN count tables over an order-`n` TYPE relation `types` (w1..wn,
    * cn, plus any pass-through columns) — the one builder behind
    * [[fitKn]] and [[lmScoresKn]]. `types` and every continuation table
    * go to columnar scratch (multi-consumer, vocabulary^n-type scale —
    * past the §6.3 object-block cliff at the 10M-doc tier); the prefix
    * and context aggregates derive from them (c(w1..wn-1·) = Σ cn, an
    * exact integer identity), so the instances are aggregated once.
    * No emptiness check here: [[fitKn]] refuses an empty target, but an
    * empty self-trained corpus must still score to empty.
    */
  private def knTables(types: DataFrame, n: Int, tag: String): KnModel = {
    val top = graft.core.Scratch.materialize(types, s"${tag}_top")
    val pfx = top.groupBy((1 until n).map(i => col(s"w$i")): _*)
      .agg(sum("cn").as("dn"), count(lit(1)).as("nun"))
    var cur = top
    val mids = Seq.newBuilder[DataFrame]
    val aggs = Seq.newBuilder[DataFrame]
    for (k <- (n - 1) to 2 by -1) {
      // continuation counts of the last k words: distinct extensions of
      // the previous level, grouped one word shorter on the left
      val keys = (n - k + 1 to n).map(i => s"w$i")
      val mid = graft.core.Scratch.materialize(
        cur.groupBy(keys.map(col): _*).agg(count(lit(1)).as(s"n$k")),
        s"${tag}_m$k")
      val agg = mid.groupBy(keys.init.map(col): _*)
        .agg(sum(s"n$k").as(s"d$k"), count(lit(1)).as(s"nu$k"))
      mids += mid
      aggs += agg
      cur = mid
    }
    val rev = cur.groupBy(col(s"w$n")).agg(count(lit(1)).as("revn"))
    val tt = cur.agg(count(lit(1)).as("tt"))
    KnModel(n, top, pfx, mids.result(), aggs.result(), rev, tt)
  }

  /** LEFT-join every context table of `m` to `grams` (which carries
    * w1..wn): the prefix aggregate, each back-off layer's continuation
    * table and context aggregate, the one-row type total (the
    * allowlisted broadcast cross) and the unigram continuation count.
    * A context unseen in training stays NULL ([[knLogProb6]]'s
    * out-of-model branches); self-trained types match every table.
    */
  private def joinKnContexts(grams: DataFrame, m: KnModel): DataFrame = {
    val n = m.order
    var joined = grams.join(m.pfx, (1 until n).map(i => s"w$i"), "left")
    for ((mid, idx) <- m.mids.zipWithIndex) {
      val k = n - 1 - idx
      joined = joined.join(mid, (n - k + 1 to n).map(i => s"w$i"), "left")
        .join(m.aggs(idx), (n - k + 1 until n).map(i => s"w$i"), "left")
    }
    joined.crossJoin(broadcast(m.tt)).join(m.rev, Seq(s"w$n"), "left")
  }

  /** The one back-off formula: an n-gram's KN log-prob, rounded to 6dp,
    * over the columns [[joinKnContexts]] attaches. Out-of-model branches
    * (scoring against a separate target): a layer whose context is
    * unseen (NULL context count) passes the layer below through; an
    * unseen n-gram or suffix counts 0, so its discounted term vanishes
    * and the interpolation weight carries; a last word that never
    * continues anything floors at half a type, 0.5/N1+(···) — below every
    * seen continuation, still positive. Every branch ends in a strictly
    * positive term, so ln never sees zero. Self-trained tables have no
    * NULLs, and each layer is the textbook term.
    */
  private def knLogProb6(n: Int): Column = {
    val d = lit(KnDiscount)
    def layer(num: String, den: String, nu: String, below: Column): Column =
      when(col(den).isNotNull,
        greatest(coalesce(col(num), lit(0L)).cast("double") - d,
          lit(0.0)) / col(den) +
          (d * col(nu) / col(den)) * below)
        .otherwise(below)
    val cont = coalesce(col("revn").cast("double"), lit(0.5)) / col("tt")
    val lower = (2 to (n - 1)).foldLeft(cont)((p, k) =>
      layer(s"n$k", s"d$k", s"nu$k", p))
    round(log(layer("cn", "dn", "nun", lower)), 6)
  }

  /** Per-doc fixed-point mean of the 6dp instance log-probs `lp6`:
    * (doc_id, n_ngrams, avg_logp), avg_logp = −ln(perplexity).
    */
  private def knDocMeans(lp: DataFrame): DataFrame =
    lp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(round(col("lp6") * 1e6).cast("long")).as("__s6"))
      .select(col("doc_id"), col("n_ngrams"),
        round(col("__s6") / (col("n_ngrams") * 1e6), 6).as("avg_logp"))

  /** Self-trained order-`order` KN scoring: the model is fit on the
    * corpus it scores (the tx_lm_kn / tx_lm_kn3 shape). Docs with fewer
    * than `order` tokens have no n-gram and produce no row.
    *
    * Scale shape — DIFFERENT from [[scoreKn]]'s: the count tables derive
    * from the scored corpus itself, so at the 10M-doc tier they are past
    * broadcast size and every instance-side count join would be a full
    * shuffle. The log-prob depends only on the n-gram TYPE, so it is
    * computed on the type relation (type-scale joins only) and the
    * instance relation joins the finished lp6 ONCE (A/B at 10M docs, the
    * trigram chain: 294.2 s with the instance-side joins, 207.9 s per
    * type; §6.3 lm r13). The instance relation (doc_id, g) feeds the
    * type aggregate AND that join, so it goes to COLUMNAR scratch —
    * localCheckpoint would pin the tokenized corpus as object blocks,
    * the measured §6.3 40M-row cliff. Output: (doc_id, n_ngrams,
    * avg_logp).
    */
  def lmScoresKn(docs: DataFrame, id: Column, text: Column,
                 order: Int): DataFrame = {
    requireKnOrder("lmScoresKn", order)
    val inst = graft.core.Scratch.materialize(
      ngramInstances(docs, Some(id), text, order), s"lmkn${order}_inst")
    val m = knTables(
      inst.groupBy("g").agg(count(lit(1)).as("cn"))
        .select(col("g") +: gramWords(order) :+ col("cn"): _*),
      order, s"lmkn${order}_self")
    val typed = joinKnContexts(m.top, m)
      .select(col("g"), knLogProb6(order).as("lp6"))
    knDocMeans(inst.join(typed, "g"))
  }

  /** Fit an order-`order` KN model on `train` (the CCNet target slice) —
    * any order 2..8 (8 is a sanity bound, not a design limit; KenLM
    * deployments use 5). The train-side instance relation has exactly
    * ONE consumer — the n-gram-type aggregate — so it is NOT materialized
    * (r17: at a Wikipedia-scale target the scratch write was a full extra
    * disk round-trip of the largest relation in the trainer, where the
    * aggregate's map-side partial combine collapses it in-flight).
    */
  def fitKn(train: DataFrame, trainText: Column, order: Int): KnModel = {
    requireKnOrder("fitKn", order)
    val ti = ngramInstances(train, None, trainText, order)
      .select(gramWords(order): _*)
    val model = knTables(
      ti.groupBy((1 to order).map(i => col(s"w$i")): _*)
        .agg(count(lit(1)).as("cn")),
      order, s"lmkn$order")
    // an empty/all-short target yields tt = 0, and 0.5/0 = Infinity
    // would give EVERY scored doc a garbage positive avg_logp that
    // passes any cutoff — a silently-vacuous gate. Fail loudly (cheap:
    // top is scratch-backed, isEmpty is a limit-1 scan).
    require(!model.top.isEmpty,
      s"fitKn: the training corpus has no $order-grams (empty target, " +
        s"or every doc < $order tokens) — the KN model would be vacuous " +
        "and a perplexity gate a silent no-op")
    model
  }

  /** Score `docs` against a frozen [[KnModel]] — the per-shard /
    * per-micro-batch half of the fit-once/score-many form. Purely
    * per-document: no state across calls, so the batch operator is the
    * streaming operator ([[graft.streaming.Streaming.scoreKnStreamSink]]).
    * Docs with < order tokens produce no row (no n-gram, no evidence —
    * the [[lmGateKn]] pass-through). Output: (doc_id, n_ngrams,
    * avg_logp).
    *
    * Scale shape — deliberately DIFFERENT from [[lmScoresKn]]'s per-type
    * scoring: the model tables derive from the TARGET corpus, the small
    * side next to the scored crawl, so the direct per-instance LEFT-join
    * chain lets Spark broadcast every table and the scoring pass stays
    * instance-shuffle-free. The A/B at the 10M-doc tier measured this
    * chain at 100.3 s vs 404.4 s for a distinct-types-then-join
    * restructure (§6.3 lm r13).
    */
  def scoreKn(docs: DataFrame, id: Column, text: Column,
              model: KnModel): DataFrame = {
    val n = model.order
    val inst = ngramInstances(docs, Some(id), text, n)
      .select(col("doc_id") +: gramWords(n): _*)
    val joined = joinKnContexts(
      inst.join(model.top, (1 to n).map(i => s"w$i"), "left"), model)
    knDocMeans(joined.withColumn("lp6", knLogProb6(n)))
  }

  /** The LM-perplexity GATE both curation surfaces share
    * ([[graft.pipelines.Pipelines.dedupCorpus]]'s lm_gate stage and the
    * ingest-daily CLI): score `docs` against the frozen model and keep
    * rows whose avg_logp clears the cutoff. Docs too short to score
    * (< order tokens — no n-gram, no score) PASS: the gate drops on
    * evidence of high perplexity; shortness is the quality gate's
    * jurisdiction. One definition so batch and day-2 gating can never
    * diverge.
    */
  def lmGateKn(docs: DataFrame, id: Column, text: Column,
               model: KnModel, minAvgLogp: Double): DataFrame = {
    val scores = scoreKn(docs, id, text, model)
      .select(col("doc_id").as("__lm_id"), col("avg_logp").as("__lm_lp"))
    // join on the RAW id expression — scoreKn keys its output by `id`
    // as-is, so no cast is needed, and none is safe: a cast("long") on a
    // non-numeric id yields null, every row misses the join, and the
    // isNull pass-branch would wave the whole corpus through — a
    // silently fail-open gate (r13 ADVICE). The isNull branch is ONLY
    // for docs too short to score.
    docs.join(scores, id === col("__lm_id"), "left")
      .filter(col("__lm_lp").isNull || col("__lm_lp") >= minAvgLogp)
      .drop("__lm_id", "__lm_lp")
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3) over a scored corpus ([[scoreKn]] output):
    * rank by model-likeness (avg_logp DESC — low perplexity first,
    * doc_id tie-break) and cut into terciles by EXACT integer
    * arithmetic (3·pos vs n, 2n), so the labels are engine-portable.
    * The rank runs the two-phase distributed machinery
    * ([[graft.ops.Sampling.rankByDistributed]]) — no corpus-wide
    * single-task window, the x19/x16 discipline — and n rides a one-row
    * broadcast cross. Output: scored columns + (pos, bucket).
    */
  def ccnetBuckets(scored0: DataFrame): DataFrame = {
    // two consumers (the rank and the one-row count) would otherwise each
    // re-run the whole scoring chain behind `scored0` — one columnar
    // materialization of the thin scored relation
    val scored = graft.core.Scratch.materialize(scored0, "ccnet_scored")
    val ranked = graft.ops.Sampling.rankByDistributed(
      scored, negate(col("avg_logp")), col("doc_id"))
    ranked.crossJoin(broadcast(scored.agg(count(lit(1)).as("__n"))))
      .withColumn("bucket",
        when(col("pos") * 3 <= col("__n"), "head")
          .when(col("pos") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail"))
      .drop("__n")
  }

  /** The FROZEN-CUTOFF export closing the loop between
    * [[ccnetBuckets]]' corpus-global terciles and the per-shard gates
    * ([[graft.pipelines.Pipelines.dedupCorpus]] `lmMinAvgLogp`, the
    * ingest-daily `--lm-min-logp` flag, [[graft.streaming.Streaming
    * .scoreKnStreamSink]] thresholding): the avg_logp value at each
    * tercile boundary of a scored REFERENCE corpus. `head_cut` is the
    * last head doc's score (gate `avg_logp >= head_cut` keeps CCNet's
    * head, modulo exact-tie docs which the rank splits by doc_id);
    * `middle_cut` the last middle doc's. Boundary positions are exact
    * integer arithmetic (floor(n/3), floor(2n/3) — the bucket rule's
    * own cut points), so the exported rows are engine-portable and the
    * whole export sits under the oracle hash. Corpora with < 3 docs
    * have no boundary and return empty. Output: (boundary, pos,
    * avg_logp), ≤ 2 rows.
    */
  def ccnetCutoffs(scored0: DataFrame): DataFrame = {
    val b = graft.core.Scratch.materialize(ccnetBuckets(scored0),
      "ccnet_cuts")
    b.crossJoin(broadcast(b.agg(count(lit(1)).as("__n"))))
      .filter(col("__n") >= 3 &&
        (col("pos") === floor(col("__n") / 3) ||
          col("pos") === floor(col("__n") * 2 / 3)))
      .withColumn("boundary",
        when(col("pos") * 3 <= col("__n"), lit("head_cut"))
          .otherwise(lit("middle_cut")))
      .select(col("boundary"), col("pos"), col("avg_logp"))
  }
}

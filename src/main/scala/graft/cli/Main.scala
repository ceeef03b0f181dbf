package graft.cli

import graft.core.GraftSession
import graft.pipelines.Pipelines
import graft.queries.QSampling
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Thin CLI over the pipelines, mirroring the reference's arg surface
  * (train.py --difficulty/--s3_prefixes/--output_dir,
  * reference train/train_CATVTON/train.py:15-52; evaluate_all_models.py
  * --test_dir/--models/--output_dir, reference train/evaluate_all_models.py:20-34;
  * checkpoints/upload.py / download.py).
  *
  * Usage:
  *   runMain graft.cli.Main train      --manifest <parquet> --profile hard --output <dir>
  *   runMain graft.cli.Main curriculum --manifest <parquet> --output <dir>
  *   runMain graft.cli.Main evaluate   --test <parquet> --scores <parquet> --output <dir>
  *   runMain graft.cli.Main sync       --remote <parquet> --local <parquet> --src <dir> --dst <dir>
  *   runMain graft.cli.Main dedup      {--docs <parquet> | --wet <wetdir> | --warc <warcdir>} --output <dir> [--line-scrub-df K] [--min-quality 0.5] [--gopher-gate] [--min-jaccard 0.3] [--substr-n 5] [--min-containment 0.6] [--max-per-source 1000] [--source-col source] [--pre-clean] [--decontaminate <evalparquet>] [--decont-ngram 5] [--decont-min-shared 1] [--image-col content] [--audio-col content] [--video-col content] [--embedding-col emb] [--min-cosine 0.99] [--url-col url] [--domain-gate <denyparquet>] [--psl <pslfile>] [--url-dedup] [--lm-target <parquet> --lm-min-logp X [--lm-order 5]] [--lang-seed <parquet(text,lang)> --lang-keep en,fr [--lang-k 12] [--lang-min-prob 0.5]] [--keep-by length|<col>] [--proto-prune 0.2] [--no-nfc] [--no-verify-ids] [--no-block-filter (--warc: keep tag-level extraction instead of DOM-block boilerplate removal)] [--warc-docs (--warc: also pull text from pdf/zip/rtf(.gz) document payloads in-engine)] [--audit]
  *   runMain graft.cli.Main mixture    --docs <parquet> [--group lang] [--alpha 0.5] [--budget 10000] [--output <dir>]
  *   runMain graft.cli.Main pack       --docs <parquet> [--group lang] [--budget 4096] [--output <dir>]
  *   runMain graft.cli.Main feed       --docs <parquet> --out-shards <dir> [--weights <parquet(source,w)>] [--source-col source] [--budget 4096] [--windows-per-shard 1024] [--dedup [--min-quality 0.5] [--min-jaccard 0.3]] [--epoch N] [--output <manifestdir>]  (mixture-applied packed feed; --epoch repacks under that epoch's permutation)
  *   runMain graft.cli.Main ingest     --docs <parquet> --index <parquet> [--output <dir>]  (incremental dedup candidates)
  *   runMain graft.cli.Main ingest-daily {--docs <shardparquet> | --wet <wetdir> | --warc <warcdir>} [--warc-docs] --band-table <tbl> [--corpus <parquet>] [--min-quality 0.5] [--no-nfc] [--no-block-filter] [--minhash-k 8] [--band-size 4] [--buckets 64] [--ngram 3] [--min-jaccard 0.3] [--vectors <vecparquet> --vec-table <tbl> --cents <parquet> --books <parquet> --m 8 --baseline-mse X --vec-buckets 64] [--fp-parquet <parquet> --fp-table <tbl> --fp-col fp --fp-bits 16 --fp-band-bits 8 --max-hamming 2 --fp-corpus <parquet> --fp-output <dir>] [--sem-vectors <parquet> --sem-table <tbl> --sem-cents <parquet> --sem-col embedding --min-cosine 0.99 --sem-eval <evalvecs> --sem-decont-cosine 0.99 --sem-output <dir>] [--line-freq-table <tbl> --line-scrub-df K] [--lm-target <parquet> --lm-min-logp X [--lm-order 5]] [--cluster-table <tbl>] [--pair-log <tbl>] [--compact-every K] [--pre-capped] [--max-bucket 64] [--output <dir>] [--audit]
  *   runMain graft.cli.Main refresh    --vectors <parquet> [--vec-table <tbl> --k 64 --m 8 --codes 256 --out-cents <dir> --out-books <dir>] [--sem-table <tbl> --sem-cells 64 --out-sem-cents <dir>] [--iters 3] [--sample 1.0]  (quantizer refresh: retrain + re-encode + epoch-swap)
  *   runMain graft.cli.Main report     --docs <parquet> [--eval <parquet>] [--minhash-k 8] [--band-size 4] [--ngram 3] [--min-jaccard 0.3] [--source-col source] [--decont-ngram 5] [--output <dir>]  (cluster-size histogram + cross-source matrix + contamination)
  *   runMain graft.cli.Main export     --docs <parquet> --output <dir> [--name-col doc_id] [--content-col text] [--shards 16] [--chunk W,S (export sliding token windows instead of whole docs)]  (WebDataset-style tar shards)
  *   runMain graft.cli.Main decode     --files <dir glob> [--resize WxH] [--output <dir>]
  *   runMain graft.cli.Main scrub      --docs <parquet> [--ngram 5] [--output <dir>]  (cross-doc exact substring dedup)
  *   runMain graft.cli.Main pq         --vectors <parquet> [--m 8] [--k 256] [--sample 1.0] --output <dir>  (PQ books + codes)
  *   runMain graft.cli.Main snapshot   --dir <snapdir> --keys k1[,k2] [--as-of N] [--write-epoch <parquet> --version N] [--compact-to N] [--output <dir>]
  *   runMain graft.cli.Main forget     --ids <parquet> [--band-table t] [--line-freq-table t (ids must carry text)] [--fp-table t] [--sem-table t] [--vec-table t] [--cluster-table t] [--pair-log t] [--id-col vec_id]  (deletion-request propagation across every maintained artifact)
  */
object Main {

  /** Crawl-record doc id: url#file:record_ix — unique BY CONSTRUCTION
    * (real crawls repeat WARC-Target-URI across recrawls/segments; the
    * bare URL violated the chain's unique-id contract undetectably).
    * The raw url column rides alongside for the url-keyed stages.
    */
  private def crawlId(fileCol: String): Column =
    concat(col("url"), lit("#"),
      regexp_extract(col(fileCol), "([^/]+)$", 1), lit(":"),
      col("record_ix").cast("string"))

  /** The three-way corpus source shared by `dedup` and `ingest-daily`:
    * --docs parquet, --wet WET shards, or --warc raw-crawl responses
    * (sniffed HTML through the full text extraction). Exactly one must
    * be given.
    */
  private def corpusSource(spark: org.apache.spark.sql.SparkSession,
                           args: Array[String],
                           cmd: String): org.apache.spark.sql.DataFrame =
    (opt(args, "--docs"), opt(args, "--wet"), opt(args, "--warc")) match {
      case (Some(d), None, None) => spark.read.parquet(d)
      case (None, Some(w), None) =>
        graft.sources.Wet.readWet(spark, w)
          .select(crawlId("wet_file").as("doc_id"), col("url"),
            col("record_ts"), col("text"))
      case (None, None, Some(w)) =>
        // STAGE-0 RESPONSE POLICY: only 200s whose Content-Type is
        // text-ish (or absent — the sniff handles those) become corpus
        // documents. A raw crawl interleaves images/PDFs (binary —
        // charset-decoding them yields U+FFFD soup docs; they belong on
        // the readWarcBinary → multimodal path) and 3xx/4xx stubs
        // (redirect/error boilerplate) with the pages; without this
        // filter that garbage enters the corpus and, on ingest-daily,
        // the persisted band index as tomorrow's match source. HTML
        // then becomes text via the FULL extraction (extractHtmlText:
        // script/style/head content and comments removed, entities
        // decoded — stripMarkup alone would leak JavaScript/CSS bodies
        // into the corpus text).
        // Media types compare case-INSENSITIVELY (RFC 9110 — legacy
        // servers emit 'Text/HTML'; readWarc lowercases header keys,
        // not values). application/xhtml+xml is real HTML (a few
        // percent of any crawl); everything else (images, PDFs,
        // octet-streams) is binary and belongs on the readWarcBinary →
        // multimodal path. A 200 with NO Content-Type is kept (the
        // sniff + downstream gates judge it), but status 0 — a payload
        // with no HTTP envelope or an unparseable status line — needs a
        // DECLARED text-ish type: a bare body carries no evidence of
        // being text, and ingest-daily has no quality gate between this
        // filter and the persisted band index, so U+FFFD-decoded binary
        // must not get that far (readWarc itself still returns such
        // records — the parser never drops silently; this is stage-0
        // corpus policy).
        // PROSE types only (r16 ADVICE): a blanket text/* kept crawl
        // files served as text/css or text/javascript — bare stylesheet
        // and script bodies that extractHtmlText passes through verbatim
        // (it only strips script/style CONTENT inside tags), i.e. the
        // exact boilerplate leak the HTML extraction closed. Corpus
        // documents are html/xhtml/plain; every other text/* subtype
        // (css, javascript, csv, calendar, vtt, ...) is machine-format,
        // not prose, and routes away from the corpus at stage 0.
        val ctL = lower(col("content_type"))
        val textish = ctL.startsWith("text/html") ||
          ctL.startsWith("text/plain") ||
          ctL.startsWith("application/xhtml")
        // DOM-BLOCK boilerplate removal is the DEFAULT (r17): nav menus,
        // cookie banners, and footers are per-PAGE boilerplate the
        // corpus-frequency line scrub (d24) cannot see; jusText-shaped
        // block scoring (extractMainContent) drops them at ingest.
        // --no-block-filter opts out to the tag-level extraction.
        val extract: Column => Column =
          if (args.contains("--no-block-filter"))
            graft.text.TextFunctions.extractHtmlText
          else c => graft.text.TextFunctions.extractMainContent(c)
        val prose = graft.sources.Wet.readWarc(spark, w)
          .filter(
            (col("http_status") === 200 &&
              (col("content_type") === "" || textish)) ||
            (col("http_status") === 0 && textish))
          .select(crawlId("warc_file").as("doc_id"), col("url"),
            col("record_ts"), extract(col("html")).as("text"))
        // --warc-docs (r17): a raw crawl also serves DOCUMENT payloads
        // (PDF, office containers) the prose filter above routes away.
        // With the flag, the binary response walk re-reads the crawl,
        // keeps 200s whose MAGIC HEADER is pdf/zip/rtf/gzip (served
        // types lie; gzip because crawls serve report.pdf.gz — the
        // extractor unwraps one layer and re-dispatches;
        // DocFormats.docFormat reads bytes), pulls text with the
        // in-engine extractors (documentText — magic-dispatched
        // pdfText/docxText), and unions the non-empty results into the
        // corpus; '' text = the document routes to the out-of-engine
        // extractor (U3 boundary), not into the corpus as an empty doc.
        // Doc ids carry a ':b' ordinal marker so a text and a binary
        // record from the same URL+file can never collide.
        if (!args.contains("--warc-docs")) prose
        else {
          import spark.implicits._
          val binId = concat(col("url"), lit("#"),
            regexp_extract(col("warc_file"), "([^/]+)$", 1), lit(":b"),
            col("record_ix").cast("string"))
          val docs = graft.sources.Wet.readWarcBinary(spark, w)
            .filter(col("http_status") === 200 &&
              graft.multimodal.DocFormats.docFormat(col("content"))
                .isin("pdf", "zip", "rtf", "gzip"))
            .select(binId.as("doc_id"), col("url"), col("record_ts"),
              col("content"))
            .as[(String, String, java.sql.Timestamp, Array[Byte])]
            .map { case (id, url, ts, b) =>
              val t = graft.multimodal.DocFormats.documentText(b)
              // EPUBs carry HTML chapters, not final text: surface the
              // spine markup and let the configured page extractor run
              // below, so books get DOM-block boilerplate removal too
              val h = if (t.isEmpty)
                graft.multimodal.DocFormats.epubHtml(b) else ""
              (id, url, ts, t, h) }
            .toDF("doc_id", "url", "record_ts", "dtext", "dhtml")
            .select(col("doc_id"), col("url"), col("record_ts"),
              when(col("dtext") =!= "", col("dtext"))
                .otherwise(extract(col("dhtml"))).as("text"))
            .filter(col("text") =!= "")
          prose.unionByName(docs)
        }
      case _ => throw new IllegalArgumentException(
        s"$cmd: pass exactly one of --docs <parquet>, --wet <dir>, " +
          "or --warc <dir>")
    }

  /** Every command [[run]] dispatches, in the order of the header. */
  private val usage = "usage: " + Seq("train", "curriculum", "evaluate",
    "sync", "dedup", "mixture", "pack", "feed", "ingest", "ingest-daily",
    "refresh", "report", "export", "decode", "scrub", "pq", "snapshot",
    "forget").mkString("|")

  private def opt(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  /** `--lm-order` (default 3), checked before any read: it only sets the
    * order of the LM gate, so without `--lm-target` it would be silently
    * ignored.
    */
  private def lmOrder(args: Array[String], cmd: String): Int = {
    val order = opt(args, "--lm-order")
    if (order.isDefined && opt(args, "--lm-target").isEmpty)
      throw new IllegalArgumentException(
        s"$cmd: --lm-order sets the order of the LM gate, which needs " +
          "--lm-target and --lm-min-logp — alone it would be silently " +
          "ignored")
    order.map(_.toInt).getOrElse(3)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args) finally spark.stop()
  }

  /** The command dispatch, on a caller-owned session — separated from
    * [[main]] (which stops its session) so tests can drive the real arg
    * surface under the shared test session.
    */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse(sys.error(usage))
    cmd match {
      case "train" =>
        val manifest = spark.read.parquet(opt(args, "--manifest").get)
        val profile = opt(args, "--profile").getOrElse("hard") match {
          case "easy"   => Map("easy" -> 1.0, "medium" -> 0.0, "hard" -> 0.0)
          case "medium" => Map("easy" -> 0.3, "medium" -> 0.7, "hard" -> 0.0)
          case _        => QSampling.hardProfile
        }
        val feed = Pipelines.trainingFeed(manifest, profile)
        opt(args, "--output") match {
          case Some(out) => feed.write.mode("overwrite").parquet(out)
          case None      => feed.show(20, truncate = false)
        }
      case "evaluate" =>
        val test = spark.read.parquet(opt(args, "--test").get)
        val scores = spark.read.parquet(opt(args, "--scores").get)
        val metrics = opt(args, "--metrics").getOrElse("lpips,ssim,psnr")
          .split(",").toSeq
        val summary = Pipelines.evaluate(test, scores, metrics)
        opt(args, "--output") match {
          case Some(out) => summary.coalesce(1).write.mode("overwrite").json(out)
          case None      => summary.show(20, truncate = false)
        }
      case "curriculum" =>
        val manifest = spark.read.parquet(opt(args, "--manifest").get)
        val out = opt(args, "--output").get
        Pipelines.curriculum(manifest).foreach { case (stage, feed) =>
          feed.write.mode("overwrite").parquet(s"$out/stage=$stage")
          println(s"[curriculum] stage $stage written")
        }
      case "sync" =>
        val remote = spark.read.parquet(opt(args, "--remote").get)
        val local = spark.read.parquet(opt(args, "--local").get)
        val transfer = for (s <- opt(args, "--src"); d <- opt(args, "--dst"))
          yield (s, d)
        val pending = Pipelines.sync(remote, local, "key", transfer)
        println(s"[sync] pending: ${pending.count()} objects")
      case "dedup" =>
        // --wet ingests Common Crawl WET shards directly (graft.sources
        // .Wet.readWet); --warc ingests RAW crawl WARCs one step earlier
        // (response records, charset-sniffed HTML → stripMarkup). In both
        // forms the doc id is url#file:record_ix, NOT the bare URL: real
        // crawls repeat WARC-Target-URI across recrawls/segments, and a
        // duplicate id violates the chain's unique-id contract (it now
        // fails loudly at entry — r15 ADVICE; the uniquifier keeps every
        // record a doc, and --url-dedup collapses recrawls as an explicit
        // stage). String ids ride the chain's internal 128-bit surrogate;
        // --url-col defaults to the url column so the domain gate / cap /
        // url-dedup stages key correctly out of the box. --docs stays the
        // parquet path.
        val lmOrderArg = lmOrder(args, "dedup")
        val docs = corpusSource(spark, args, "dedup")
        val defaultUrlCol =
          if (opt(args, "--wet").isDefined || opt(args, "--warc").isDefined)
            Some("url")
          else None
        val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
          minQuality = opt(args, "--min-quality").map(_.toDouble).getOrElse(0.5),
          minJaccard = opt(args, "--min-jaccard").map(_.toDouble).getOrElse(0.3),
          substrN = opt(args, "--substr-n").map(_.toInt),
          minContainment = opt(args, "--min-containment").map(_.toDouble),
          maxPerSource = opt(args, "--max-per-source").map(_.toInt).getOrElse(0),
          sourceCol = opt(args, "--source-col").getOrElse("source"),
          preClean = args.contains("--pre-clean"),
          evalDocs = opt(args, "--decontaminate").map(spark.read.parquet(_)),
          decontN = opt(args, "--decont-ngram").map(_.toInt).getOrElse(5),
          decontMinShared =
            opt(args, "--decont-min-shared").map(_.toInt).getOrElse(1),
          imageCol = opt(args, "--image-col"),
          audioCol = opt(args, "--audio-col"),
          videoCol = opt(args, "--video-col"),
          embeddingCol = opt(args, "--embedding-col"),
          semCells = opt(args, "--sem-cells").map(_.toInt).getOrElse(64),
          minCosine = opt(args, "--min-cosine").map(_.toDouble).getOrElse(0.99),
          // D4 recipe: after cluster collapse, drop this fraction of the
          // per-cell most-prototypical survivors (requires --embedding-col)
          protoPruneFraction =
            opt(args, "--proto-prune").map(_.toDouble).getOrElse(0.0),
          // representative policy: keep the cluster member maximizing this
          // column ("length" = longest copy; any numeric doc column works),
          // instead of the min-id default
          keepBy = opt(args, "--keep-by").map {
            case "length" => length(col("text")).cast("long")
            case c        => col(c)
          },
          // CCNet line scrub: drop \n-lines with corpus df above the cap
          // before the quality gate (0 = off)
          lineScrubDf =
            opt(args, "--line-scrub-df").map(_.toInt).getOrElse(0),
          // Gopher per-rule gate on top of the scored quality gate;
          // tx_gopher_funnel is the audit for what each rule costs
          gopherGate = args.contains("--gopher-gate"),
          // URL-level curation: --url-col names the corpus URL column;
          // --domain-gate points at a parquet deny list (one `domain`
          // column of registrable domains). Together they drop denied
          // domains before any text stage, and --max-per-source caps by
          // registrable domain instead of --source-col.
          urlCol = opt(args, "--url-col").orElse(defaultUrlCol),
          domainDeny = opt(args, "--domain-gate")
            .map(spark.read.parquet(_)),
          // --psl <file>: swap the embedded multi-part-suffix subset for
          // a full Public Suffix List (publicsuffix.org format) under
          // FULL rule semantics — literals at any depth, wildcards
          // (*.ck), exceptions (!www.ck) — so ccTLD registries key the
          // domain gate and per-domain cap correctly; requires --url-col
          psl = opt(args, "--psl")
            .map(graft.text.Urls.loadPsl(spark, _)),
          // CCNet LM gate: --lm-target points at the parquet target
          // slice the KN model fits on (--lm-order picks the model
          // order: 3 default, 5 = KenLM parity); --lm-min-logp is the
          // avg_logp cutoff (docs scoring below it drop). Both or
          // neither — the pipeline fails loudly on one alone.
          lmTarget = opt(args, "--lm-target").map(spark.read.parquet(_)),
          lmMinAvgLogp = opt(args, "--lm-min-logp").map(_.toDouble),
          lmOrder = lmOrderArg,
          // --url-dedup: Dolma stage 0 — one survivor per CANONICAL url
          // (fragment/tracking-param strip, authority normalization)
          // before any text work; requires --url-col
          urlExactDedup = args.contains("--url-dedup"),
          // TRAINED LANGUAGE GATE (CCNet stage 1): --lang-seed points at
          // a labeled seed parquet with (text, lang) columns — the
          // one-vs-rest trigram classifier trains on it in-engine
          // (LangIdClassifier.train, seed-sized, langs sorted for a
          // deterministic head order) — and --lang-keep lists the
          // language codes to keep (e.g. en,fr); docs predicted outside
          // the set drop before the domain cap and every scoring join.
          // Both flags or neither — the lmGateKn discipline.
          langKeep = (opt(args, "--lang-seed"), opt(args, "--lang-keep")) match {
            case (Some(seedDir), Some(keep)) =>
              val seed = spark.read.parquet(seedDir)
              // language count bounds the head count AND this driver
              // collect — a hostile seed with millions of distinct
              // labels must fail loud, not OOM the driver (r16
              // What's-wrong #2). 512 >> CCNet's 176 languages.
              val maxLangs = 512
              val langRows = seed.select("lang").distinct()
                .orderBy("lang").limit(maxLangs + 1).collect()
              require(langRows.length <= maxLangs,
                s"--lang-seed: more than $maxLangs distinct lang labels " +
                  "— not a language-seed table")
              val langs = langRows.map(_.getString(0)).toSeq
              Some((graft.text.LangIdClassifier.train(seed, col("text"),
                col("lang"), langs,
                k = opt(args, "--lang-k").map(_.toInt).getOrElse(12)),
                keep.split(",").map(_.trim).filter(_.nonEmpty).toSet))
            case (None, None) => None
            case _ => throw new IllegalArgumentException(
              "--lang-seed and --lang-keep must be passed together — one " +
                "alone would silently skip the language gate")
          },
          langK = opt(args, "--lang-k").map(_.toInt).getOrElse(12),
          // --lang-min-prob: CCNet's confidence rule — drop docs whose
          // best head is below the threshold even when the argmax lands
          // in the keep set (0 = argmax-only)
          langMinProb =
            opt(args, "--lang-min-prob").map(_.toDouble).getOrElse(0.0),
          // Unicode NFC recomposition at entry is DEFAULT-ON (composed vs
          // decomposed duplicates are invisible to every dedup stage
          // without it); --no-nfc opts out for corpora with a byte-exact
          // downstream contract
          nfc = !args.contains("--no-nfc"),
          // the eager NULL/duplicate/collision id check is default-on;
          // --no-verify-ids skips the extra corpus pass for upstreams
          // that already guarantee dense unique keys
          verifyIds = !args.contains("--no-verify-ids"))
        val kept = stages.last._2
        // funnel audit: per-stage surviving-doc counts — the curation
        // run's QA report ("gate dropped N, decontamination M, ...")
        if (args.contains("--audit"))
          stages.foreach { case (name, df) =>
            println(f"[dedup] ${name}%-24s ${df.count()}%d docs")
          }
        opt(args, "--output") match {
          case Some(out) => kept.write.mode("overwrite").parquet(out)
          case None      => println(s"[dedup] kept ${kept.count()} documents")
        }
      case "mixture" =>
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val group = opt(args, "--group").getOrElse("lang")
        val per = docs.groupBy(col(group)).agg(count(lit(1)).as("n_docs"))
        val plan = graft.ops.Planners.temperatureMixture(per, group, "n_docs",
          alpha = opt(args, "--alpha").map(_.toDouble).getOrElse(0.5),
          budget = opt(args, "--budget").map(_.toLong).getOrElse(10000L))
        opt(args, "--output") match {
          case Some(out) => plan.coalesce(1).write.mode("overwrite").json(out)
          case None      => plan.show(50, truncate = false)
        }
      case "pack" =>
        graft.extensions.GraftExtensions.register(spark)
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val group = opt(args, "--group").getOrElse("lang")
        val budget = opt(args, "--budget").map(_.toLong).getOrElse(4096L)
        val toks = docs.select(col("doc_id"), col(group),
          graft.text.TextFunctions.tokenCountNative(col("text"))
            .cast("long").as("n_tok"))
        // --out-shards materializes the LAYOUT as addressable training
        // shards (writePackedShards: --windows-per-shard windows per dir,
        // deterministic boundaries); default emits the packPlan summary
        opt(args, "--out-shards") match {
          case Some(outDir) =>
            val wps = opt(args, "--windows-per-shard").map(_.toLong)
              .getOrElse(1024L)
            Pipelines.writePackedShards(toks, group, "doc_id", "n_tok",
              budget, wps, outDir)
            println(s"[pack] shard layout written to $outDir")
          case None =>
            val plan = graft.ops.Planners.packPlan(
              toks, group, "doc_id", "n_tok", budget)
            opt(args, "--output") match {
              case Some(out) => plan.write.mode("overwrite").parquet(out)
              case None      => plan.show(50, truncate = false)
            }
        }
      case "feed" =>
        // MIXTURE-APPLIED PACKED FEED (Pipelines.curatedFeed): per-source
        // token-budget plan → exact-count sample at the planned fractions
        // → packed shards under --out-shards, manifest to --output.
        // --dedup folds the curation chain in front with its defaults;
        // run the `dedup` command separately when its knobs are needed.
        graft.extensions.GraftExtensions.register(spark)
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val srcCol = opt(args, "--source-col").getOrElse("source")
        val weights = opt(args, "--weights") match {
          case Some(w) => spark.read.parquet(w)
          case None =>
            // the x10 deterministic default: weight = source index + 1
            docs.select(col(srcCol)).distinct()
              .withColumn("w",
                regexp_extract(col(srcCol), "([0-9]+)", 1).cast("int") + 1)
        }
        val curate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          if (args.contains("--dedup"))
            d => Pipelines.dedupCorpus(d, col("doc_id"), col("text"),
              minQuality =
                opt(args, "--min-quality").map(_.toDouble).getOrElse(0.5),
              minJaccard =
                opt(args, "--min-jaccard").map(_.toDouble).getOrElse(0.3))
          else identity
        val outDir = opt(args, "--out-shards").get
        // --bpe-merges K: train a K-merge BPE on the corpus and run the
        // ENTIRE packing arithmetic (mixture fractions, window budgets,
        // shard manifest) in learned-token units instead of the regex
        // word count — the x22 composition at the CLI surface
        val tokCounts = opt(args, "--bpe-merges").map { k =>
          graft.text.Bpe.docSubwordCounts(docs, col("doc_id"), col("text"),
              graft.text.Bpe.learnMerges(
                graft.text.Bpe.wordFreq(docs, col("text")), k.toInt)._2)
            .select(col("doc_id"), col("n_bpe").as("n_tok"))
        }
        val manifest = Pipelines.curatedFeed(docs, "doc_id", srcCol, weights,
          graft.text.TextFunctions.tokenCountNative(col("text")),
          budget = opt(args, "--budget").map(_.toLong).getOrElse(4096L),
          windowsPerShard = opt(args, "--windows-per-shard").map(_.toLong)
            .getOrElse(1024L),
          outDir = outDir, curate = curate,
          // --epoch N repacks under that epoch's deterministic permutation
          // (same sampled docs, decorrelated window neighborhoods)
          epoch = opt(args, "--epoch").map(_.toLong),
          tokenCounts = tokCounts)
        opt(args, "--output") match {
          case Some(out) => manifest.write.mode("overwrite").parquet(out)
          case None      => manifest.show(50, truncate = false)
        }
        println(s"[feed] packed shards written to $outDir")
      case "ingest" =>
        // incremental dedup: new shard vs a persisted banded-signature
        // index (write the index once with Dedup.bandedSignatures; every
        // later shard joins against it — work ∝ shard size)
        import graft.dedup.Dedup
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val index = spark.read.parquet(opt(args, "--index").get)
        val shard = Dedup.bandedSignatures(
          Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
        val pairs = Dedup.incrementalCandidatePairs(shard, index)
        opt(args, "--output") match {
          case Some(out) => pairs.write.mode("overwrite").parquet(out)
          case None      => println(s"[ingest] candidate pairs: ${pairs.count()}")
        }
      case "ingest-daily" =>
        // Day-2 ingest composed end-to-end, the production loop the d9 /
        // v15 operators exist for: band the shard's MinHash signatures →
        // propose candidates against the persisted band index (work ∝
        // shard, never old×old) → Jaccard-verify ONLY the candidates →
        // fold the shard into the band index → optionally append shard
        // vectors to the IVF-PQ index under the frozen-codebook drift
        // guard → compact bucketed tables once per-bucket file count
        // reaches --compact-every. --audit prints the funnel.
        import graft.core.Bucketing
        import graft.dedup.Dedup
        val lmOrderArg = lmOrder(args, "ingest-daily")
        // --shard-id makes the whole mutation set idempotent: a re-run of
        // an already-recorded shard (the at-least-once scheduler reality)
        // is a no-op instead of a double-append. The check-then-mark
        // contract lives in ONE place — Bucketing.ingestOnce wraps the
        // whole mutation body; the ledger rides the band table.
        val shardId = opt(args, "--shard-id")
        val bandTableForLedger = opt(args, "--band-table").get
        def ingestDailyBody(): Unit = {
        // --docs parquet OR today's crawl dump directly (--wet / --warc):
        // the production loop ingests each day's WET/WARC drop against
        // the maintained band index without a pre-conversion step —
        // uniquified url#file:ix ids, sniffed/extracted text, the same
        // shard shape as a parquet shard from there on
        val docsRaw = corpusSource(spark, args, "ingest-daily")
        // NFC the shard's text like the BATCH chain does (default-on,
        // --no-nfc opt-out): the maintained index holds signatures of
        // NFC text, so a decomposed recrawl of an indexed page would
        // otherwise shingle differently, miss every band bucket, and be
        // folded in as a "new" doc — the exact composed/decomposed gap
        // NFC exists to close, re-opened on the daily path
        // the shard, the --decontaminate eval set and the --lm-target
        // slice all meet in this one text space
        def textSpace(df: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          if (args.contains("--no-nfc")) df
          else df.withColumn("text",
            graft.text.TextFunctions.nfcNormalize(col("text")))
        val docs0 = textSpace(docsRaw)
        // optional DECONTAMINATION of today's shard BEFORE any signature
        // or index work — without it, a contaminated document is folded
        // into the band index and survives as tomorrow's match source
        // even if a later batch decontamination scrubs the corpus
        val docsPre = opt(args, "--decontaminate").map { evalDir =>
          // the eval side compares in the SAME text space as the shard
          // (the batch chain's rule): NFC'd unless --no-nfc
          val eval = textSpace(spark.read.parquet(evalDir))
          val n = opt(args, "--decont-ngram").map(_.toInt).getOrElse(5)
          val dirty = Dedup.contaminatedIds(docs0, col("doc_id"), col("text"),
              eval, col("text"), n)
            .select(col("doc_id").as("__dirty_id"))
          docs0.join(broadcast(dirty),
            docs0("doc_id") === col("__dirty_id"), "left_anti")
        }.getOrElse(docs0)
        // --audit re-reads this relation for its counts: one shard-sized
        // checkpoint makes the audit ≈ the non-audit wall instead of
        // re-running the decontamination anti-join per count
        val docs = if (args.contains("--audit")) docsPre.localCheckpoint()
          else docsPre
        val k = opt(args, "--minhash-k").map(_.toInt).getOrElse(8)
        val bandSize = opt(args, "--band-size").map(_.toInt).getOrElse(4)
        val bandTable = opt(args, "--band-table").get
        val buckets = opt(args, "--buckets").map(_.toInt).getOrElse(64)
        // --pre-capped: the indexPreCapped contract end-to-end — the band
        // and fp ingest joins skip their index-side cap window (the
        // persisted table is maintained pre-capped), and the compaction
        // cadence runs capBandIndex (heal + whole-bucket cap) instead of
        // the plain healing rewrite. --max-bucket sizes the maintained
        // cap, the shard-side query-time cap and the --audit accounting.
        val preCapped = args.contains("--pre-capped")
        val maxBucket = opt(args, "--max-bucket").map(_.toInt).getOrElse(64)
        // optional CCNet line scrub against the persisted corpus line
        // counts: boilerplate lines leave today's shard BEFORE any
        // signature work (global df = table totals + the shard's own);
        // the shard's RAW line counts fold into the table further down,
        // inside the same idempotency-guarded body as the index appends.
        // First-ever run bootstraps an empty table (day-1 df = shard-own).
        val lineFreqTable = opt(args, "--line-freq-table")
        val lineScrubDf = opt(args, "--line-scrub-df").map(_.toInt).getOrElse(0)
        val docsS = lineFreqTable match {
          case Some(lt) if lineScrubDf > 0 =>
            if (!spark.catalog.tableExists(lt))
              Dedup.writeLineFreq(docs.limit(0), col("doc_id"),
                split(col("text"), "\n"), lt, buckets)
            val sc = Dedup.scrubShardSegments(docs, col("doc_id"),
                split(col("text"), "\n"), Dedup.readLineFreq(spark, lt),
                lineScrubDf)
              .select(col("doc_id").as("__ls_id"),
                col("clean_text").as("__ls_clean"))
            docs.join(sc, col("doc_id") === col("__ls_id"))
              .drop("text", "__ls_id")
              .withColumnRenamed("__ls_clean", "text")
              .localCheckpoint() // feeds banding AND verification
          case _ => docs
        }
        // optional QUALITY GATE on today's shard (the dedup command's
        // --min-quality at day-2 parity — r16; previously a garbage page
        // the batch chain would gate out could be folded straight into
        // the persisted band index as tomorrow's match source, because
        // the daily loop had NO quality stage at all). Same scored gate
        // as the batch chain (qualityScoreNative, identical rounding),
        // applied AFTER the line scrub (score the cleaned text) and
        // before the LM gate and all signature/index work. Off by
        // default (0.0 keeps everything — the historical behavior; pass
        // the same threshold as the batch run for parity).
        val minQualityDaily =
          opt(args, "--min-quality").map(_.toDouble).getOrElse(0.0)
        val docsQ =
          if (minQualityDaily <= 0.0) docsS
          else docsS.filter(
            round(graft.text.TextFunctions.qualityScoreNative(col("text")),
              6) >= minQualityDaily)
        // optional CCNet LM-PERPLEXITY GATE on today's shard (the dedup
        // command's --lm-target/--lm-min-logp at day-2 parity): the KN
        // model fits on the target slice (small — one fit per ingest),
        // the shard is scored AFTER the line scrub (score the cleaned
        // text, CCNet's order) and BEFORE any signature or index work —
        // a high-perplexity doc is never folded in as tomorrow's match
        // source. Unscorable < order-token docs pass (drop on
        // evidence). --lm-order picks the KN order (3 default, 5 =
        // KenLM parity).
        val docsG = (opt(args, "--lm-target"), opt(args, "--lm-min-logp")) match {
          case (Some(tDir), Some(minLp)) =>
            // ONE gate definition shared with dedupCorpus's lm_gate
            // stage (TextFunctions.lmGateKn) — day-2 and batch gating
            // cannot diverge. The target fits in the SAME text space as
            // the NFC'd shard (the batch chain's rule): a decomposed-
            // bytes target would make every accented n-gram OOV at
            // scoring time and wrongly depress non-ASCII docs' scores.
            // localCheckpoint: the gated relation feeds banding, the
            // verification lookup, the line-freq fold-in semi-join, and
            // the audit count — unshared, each consumer would re-run
            // the whole scoring pass (the docsS discipline)
            val tgt = textSpace(spark.read.parquet(tDir))
            graft.text.TextFunctions.lmGateKn(docsQ, col("doc_id"),
                col("text"),
                graft.text.TextFunctions.fitKn(tgt, col("text"), lmOrderArg),
                minLp.toDouble)
              .localCheckpoint()
          case (None, None) => docsQ
          case _ => throw new IllegalArgumentException(
            "--lm-target and --lm-min-logp must be passed together — one " +
              "alone would silently skip the perplexity gate")
        }
        val shardBanded = Dedup.bandedSignatures(
            Dedup.minhashSignatures(docsG, col("doc_id"), col("text"), k),
            bandSize)
          .localCheckpoint() // feeds pairs AND the index append
        // FIRST-EVER-RUN bootstrap: when the catalog lacks an index table,
        // create it EMPTY with the right bucket spec (zero rows of the
        // shard's own schema), so day 1 is just another ingest — the read
        // sees an empty index, candidates are new×new only, and the
        // append below lands the first real file set. Without this,
        // readBandIndex/readSemanticIndex (spark.table) throws and the
        // loop needs a separate out-of-band build step.
        def bootstrapBandIndex(table: String,
                               like: org.apache.spark.sql.DataFrame): Unit =
          if (!spark.catalog.tableExists(table))
            Dedup.writeBandIndex(like.limit(0), table, buckets)
        bootstrapBandIndex(bandTable, shardBanded)
        // candidates + verification are EAGERLY materialized before the
        // index append below: both read the band-index table lazily, and
        // appending first would let today's shard join against itself
        val cands = Dedup.incrementalCandidatePairs(shardBanded,
          Dedup.readBandIndex(spark, bandTable), maxBucket,
          indexPreCapped = preCapped).localCheckpoint()
        // gram lookup for verification: the persisted corpus text plus
        // today's shard; without --corpus only new×new pairs can verify
        // (index-side docs have no text here) — the audit shows the gap
        val lookup = (opt(args, "--corpus") match {
          case Some(c) => spark.read.parquet(c)
            .select(col("doc_id"), col("text"))
            .union(docsG.select(col("doc_id"), col("text")))
          case None => docsG.select(col("doc_id"), col("text"))
        }).dropDuplicates("doc_id")
        val verified = Dedup.verifyCandidates(lookup, cands,
            col("doc_id"), col("text"),
            opt(args, "--ngram").map(_.toInt).getOrElse(3),
            opt(args, "--min-jaccard").map(_.toDouble).getOrElse(0.3))
          .localCheckpoint()
        // no-silent-caps accounting (before the append, against the index
        // the candidates actually joined): doc slots the per-bucket cap
        // drops from candidacy, per side of the incremental join (shard
        // window + index pruned to the shard's buckets — the exact
        // relations incrementalCandidatePairs caps)
        val capDropped: Option[(Long, Long)] =
          if (args.contains("--audit")) {
            def droppedSlots(banded: org.apache.spark.sql.DataFrame): Long =
              Dedup.bandOccupancy(banded, maxBucket)
                .agg(coalesce(sum(col("docs_dropped")), lit(0L)))
                .head().getLong(0)
            val idxPruned = Dedup.readBandIndex(spark, bandTable).join(
              broadcast(shardBanded.select(col("band"), col("band_sig")).distinct()),
              Seq("band", "band_sig"), "left_semi")
            Some((droppedSlots(shardBanded), droppedSlots(idxPruned)))
          } else None
        Dedup.appendBandIndex(shardBanded, bandTable, buckets)
        // fold today's RAW line counts in (post-decont, PRE-scrub: the
        // table tracks the corpus as ingested, the batch-contract df;
        // LM-gated docs do NOT fold — like decont drops, they never
        // enter the corpus, so their boilerplate must not inflate df) —
        // inside the guarded body, so a replayed shard cannot double-count
        lineFreqTable.foreach { lt =>
          if (lineScrubDf > 0) {
            val folded =
              if (opt(args, "--lm-target").isDefined)
                docs.join(docsG.select("doc_id"), Seq("doc_id"), "left_semi")
              else docs
            Dedup.appendLineFreq(folded, col("doc_id"),
              split(col("text"), "\n"), lt, buckets)
          }
        }
        val vecAppend = opt(args, "--vectors").map { vdir =>
          val vecTable = opt(args, "--vec-table").get
          val m = opt(args, "--m").map(_.toInt).getOrElse(8)
          val mse = graft.ann.Vectors.appendToIvfPqIndex(vecTable,
            spark.read.parquet(vdir), "vec_id", "embedding",
            spark.read.parquet(opt(args, "--cents").get),
            spark.read.parquet(opt(args, "--books").get), m,
            baselineMse = opt(args, "--baseline-mse").map(_.toDouble)
              .getOrElse(Double.NaN),
            buckets = opt(args, "--vec-buckets").map(_.toInt)
              .getOrElse(buckets))
          (vecTable, mse)
        }
        // perceptual branch: precomputed (doc_id, fp) fingerprints — image
        // dHash / audio envelope / video temporal hash, any modality —
        // ride the SAME index discipline: band → candidates vs the
        // persisted fp index → Hamming-verify → fold the shard in
        val fpIngest = opt(args, "--fp-parquet").map { fdir =>
          val fpTable = opt(args, "--fp-table").get
          val fpCol = opt(args, "--fp-col").getOrElse("fp")
          val bits = opt(args, "--fp-bits").map(_.toInt).getOrElse(16)
          val bandBits = opt(args, "--fp-band-bits").map(_.toInt).getOrElse(8)
          val maxHam = opt(args, "--max-hamming").map(_.toInt).getOrElse(2)
          val shardFps = spark.read.parquet(fdir)
            .select(col("doc_id"), col(fpCol))
          val shardBandedFp = Dedup.fingerprintBands(shardFps,
            col("doc_id"), col(fpCol), bits, bandBits).localCheckpoint()
          bootstrapBandIndex(fpTable, shardBandedFp)
          val fpCands = Dedup.incrementalCandidatePairs(shardBandedFp,
            Dedup.readBandIndex(spark, fpTable), maxBucket,
            indexPreCapped = preCapped).localCheckpoint()
          val fpLookup = (opt(args, "--fp-corpus") match {
            case Some(c) => spark.read.parquet(c)
              .select(col("doc_id"), col(fpCol)).union(shardFps)
            case None => shardFps
          }).dropDuplicates("doc_id")
          val fpVerified = Dedup.verifyHammingPairs(fpLookup, col("doc_id"),
            col(fpCol), fpCands, maxHam).localCheckpoint()
          Dedup.appendBandIndex(shardBandedFp, fpTable, buckets)
          (fpTable, fpVerified)
        }
        // semantic branch: shard embeddings against the cell-bucketed
        // exact-vector index (frozen centroids) — shard×index + shard×shard
        // cosine pairs, then fold the shard in
        val semIngest = opt(args, "--sem-vectors").map { sdir =>
          import graft.ann.Vectors
          val semTable = opt(args, "--sem-table").get
          val cents = spark.read.parquet(opt(args, "--sem-cents").get)
          val minCos = opt(args, "--min-cosine").map(_.toDouble).getOrElse(0.99)
          val shardVecs0 = spark.read.parquet(sdir)
          val vecCol = opt(args, "--sem-col").getOrElse("embedding")
          // optional SEMANTIC decontamination of today's shard BEFORE any
          // index work — the embedding twin of --decontaminate: a shard
          // vector within --sem-decont-cosine of any eval vector (the
          // paraphrased benchmark item n-gram overlap can't see) is
          // dropped before it can be folded in as tomorrow's match source
          val shardVecs = opt(args, "--sem-eval").map { evDir =>
            val dirty = Vectors.semanticContaminatedIds(
                shardVecs0, "vec_id", vecCol,
                spark.read.parquet(evDir), "vec_id", vecCol, cents,
                opt(args, "--sem-decont-cosine").map(_.toDouble)
                  .getOrElse(0.99))
              .select(col("train_id").as("__sem_dirty"))
            shardVecs0.join(broadcast(dirty),
              col("vec_id") === col("__sem_dirty"), "left_anti")
          }.getOrElse(shardVecs0)
          if (!spark.catalog.tableExists(semTable))
            Vectors.writeSemanticIndex(shardVecs.limit(0), "vec_id", vecCol,
              cents, semTable, buckets)
          val pairs = Vectors.incrementalSemanticPairs(shardVecs, "vec_id",
            vecCol, cents, Vectors.readSemanticIndex(spark, semTable),
            minCos).localCheckpoint()
          Vectors.appendToSemanticIndex(shardVecs, "vec_id", vecCol, cents,
            semTable, buckets)
          (semTable, pairs)
        }
        // maintained CLUSTER table: the day-2 chain's third step — fold
        // today's verified pairs into the persisted (doc_id, cluster)
        // assignment at DELTA cost (rep-level CC + changed/new-row append;
        // the corpus-sized table is read once, never shuffled or rewritten)
        val clusterDelta = opt(args, "--cluster-table").map { ctbl =>
          if (!spark.catalog.tableExists(ctbl)) {
            import spark.implicits._
            Dedup.writeClusterAssignment(
              Seq.empty[(Long, Long)].toDF("doc_id", "cluster"), ctbl, buckets)
          }
          (ctbl, Dedup.ingestClusterDelta(spark, ctbl, verified,
            buckets = buckets))
        }
        // pair log: the verified edges themselves, appended at shard cost —
        // what makes a later `forget` repair exact (bridge splits)
        opt(args, "--pair-log").foreach { pl =>
          if (!spark.catalog.tableExists(pl))
            Dedup.writePairLog(verified, pl, buckets)
          else Dedup.appendPairLog(verified, pl, buckets)
        }
        val compactEvery = opt(args, "--compact-every").map(_.toInt).getOrElse(0)
        def due(tbl: String): Boolean = compactEvery > 0 && {
          val n = Bucketing.bucketCount(spark, tbl)
          n > 0 && Bucketing.dataFiles(spark, tbl).size >= compactEvery.toLong * n
        }
        // compaction folds `dropDuplicates()` into the one-task-per-bucket
        // rewrite: this is the physical HEAL of the crash-replay window the
        // ingestOnce ledger leaves open (crash after an append but before
        // the marker → the rerun re-appends the shard). Exact replayed
        // rows collapse inside the same shuffle-free pass — dedup keys ⊇
        // the bucket key, so the aggregate rides the bucketed scan's
        // partitioning (BucketingSpec asserts zero exchanges) — and
        // per-bucket counts return to truth, so maxBucket caps stop
        // silently dropping candidate pairs off inflated buckets.
        val heal: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          _.dropDuplicates()
        // under --pre-capped the band/fp rewrite also drops over-cap
        // buckets (capBandIndex = heal + whole-bucket cap in the same
        // shuffle-free pass) — the maintenance half of the contract the
        // skip above relies on
        def maintainBand(tbl: String): Unit =
          if (preCapped) Dedup.capBandIndex(spark, tbl, maxBucket)
          else Bucketing.compactBucketed(spark, tbl, heal)
        val bandCompacted = due(bandTable)
        if (bandCompacted) maintainBand(bandTable)
        fpIngest.foreach { case (t, _) =>
          if (due(t)) maintainBand(t)
        }
        semIngest.foreach { case (t, _) =>
          if (due(t)) Bucketing.compactBucketed(spark, t, heal)
        }
        clusterDelta.foreach { case (t, _) =>
          // collapse the epoch history (LWW per doc) on the same cadence;
          // groupBy on the bucket key rides the one-task-per-bucket pass
          if (due(t))
            Bucketing.compactBucketed(spark, t, Dedup.collapseClusterEpochs)
        }
        lineFreqTable.foreach { t =>
          // merge count deltas (sum per hash rides the bucketed scan);
          // NOT a replay heal — the ingestOnce ledger is what guards
          // double-counting (collapseLineFreq scaladoc)
          if (lineScrubDf > 0 && due(t))
            Bucketing.compactBucketed(spark, t, Dedup.collapseLineFreq)
        }
        val vecCompacted = vecAppend.exists { case (t, _) => due(t) }
        vecAppend.foreach { case (t, _) =>
          if (vecCompacted) graft.ann.Vectors.compactIvfPqIndex(spark, t)
        }
        if (args.contains("--audit")) {
          println(f"[ingest-daily] shard_docs       ${docs.count()}%d")
          if (opt(args, "--decontaminate").isDefined)
            println(f"[ingest-daily] decont_dropped   ${docs0.count() - docs.count()}%d")
          if (opt(args, "--min-quality").isDefined)
            println(f"[ingest-daily] quality_dropped  ${docsS.count() - docsQ.count()}%d")
          if (opt(args, "--lm-target").isDefined)
            println(f"[ingest-daily] lm_gate_dropped  ${docsQ.count() - docsG.count()}%d")
          println(f"[ingest-daily] shard_band_rows  ${shardBanded.count()}%d")
          capDropped.foreach { case (sh, ix) =>
            println(f"[ingest-daily] cap_dropped_slots shard=$sh%d index=$ix%d") }
          println(f"[ingest-daily] candidate_pairs  ${cands.count()}%d")
          println(f"[ingest-daily] verified_pairs   ${verified.count()}%d")
          vecAppend.foreach { case (t, mse) =>
            println(s"[ingest-daily] vec_append_mse   $mse (table $t)") }
          fpIngest.foreach { case (t, v) =>
            println(f"[ingest-daily] fp_pairs         ${v.count()}%d (table $t)") }
          semIngest.foreach { case (t, v) =>
            println(f"[ingest-daily] sem_pairs        ${v.count()}%d (table $t)") }
          clusterDelta.foreach { case (t, n) =>
            println(f"[ingest-daily] cluster_delta    $n%d rows (table $t, " +
              f"live_docs ${Dedup.readClusterAssignment(spark, t).count()}%d)") }
          println(s"[ingest-daily] band_index_files " +
            s"${Bucketing.dataFiles(spark, bandTable).size} " +
            s"(compacted=$bandCompacted)")
        }
        opt(args, "--output") match {
          case Some(out) => verified.write.mode("overwrite").parquet(out)
          case None =>
            println(s"[ingest-daily] verified pairs: ${verified.count()}")
        }
        fpIngest.foreach { case (_, v) =>
          opt(args, "--fp-output") match {
            case Some(out) => v.write.mode("overwrite").parquet(out)
            case None =>
              println(s"[ingest-daily] fp pairs: ${v.count()}")
          }
        }
        semIngest.foreach { case (_, v) =>
          opt(args, "--sem-output") match {
            case Some(out) => v.write.mode("overwrite").parquet(out)
            case None =>
              println(s"[ingest-daily] sem pairs: ${v.count()}")
          }
        }
        }
        shardId match {
          case Some(sid) =>
            // ledger marker LAST (written by ingestOnce after the body):
            // a crash anywhere in the body leaves the marker absent and
            // the rerun redoes the day — bounded duplication, healed
            // physically by the dropDuplicates pass every compaction
            // below folds in
            val ran = Bucketing.ingestOnce(spark, bandTableForLedger, sid)(
              ingestDailyBody())
            if (!ran) println(s"[ingest-daily] shard $sid already " +
              s"ingested into $bandTableForLedger; no-op")
          case None => ingestDailyBody()
        }
      case "refresh" =>
        // QUANTIZER REFRESH — the remediation path when ingest-daily's
        // drift guard refuses a vector shard (or v17/v22 views flag
        // drift): retrain quantizers on the CURRENT corpus, re-encode
        // once, epoch-swap the bucketed index in place. Writes the new
        // quantizers (the frozen inputs of subsequent ingest-daily runs)
        // and prints the new --baseline-mse to resume appending with.
        val vecs = spark.read.parquet(opt(args, "--vectors").get)
        opt(args, "--vec-table").foreach { tbl =>
          val (cents, books, baseline) = graft.ann.Vectors.retrainIvfPq(
            spark, tbl, vecs, "vec_id",
            opt(args, "--vec-col").getOrElse("embedding"),
            k = opt(args, "--k").map(_.toInt).getOrElse(64),
            m = opt(args, "--m").map(_.toInt).getOrElse(8),
            codes = opt(args, "--codes").map(_.toInt).getOrElse(256),
            iters = opt(args, "--iters").map(_.toInt).getOrElse(3),
            sampleFrac = opt(args, "--sample").map(_.toDouble).getOrElse(1.0),
            buckets = opt(args, "--vec-buckets").map(_.toInt).getOrElse(64))
          opt(args, "--out-cents")
            .foreach(d => cents.write.mode("overwrite").parquet(d))
          opt(args, "--out-books")
            .foreach(d => books.write.mode("overwrite").parquet(d))
          println(f"[refresh] table $tbl re-encoded; baseline_mse $baseline%.6f")
        }
        opt(args, "--sem-table").foreach { tbl =>
          val cents = graft.ann.Vectors.retrainSemanticIndex(
            spark, tbl, vecs, "vec_id",
            opt(args, "--sem-col").getOrElse("embedding"),
            k = opt(args, "--sem-cells").map(_.toInt).getOrElse(64),
            iters = opt(args, "--iters").map(_.toInt).getOrElse(3),
            sampleFrac = opt(args, "--sample").map(_.toDouble).getOrElse(1.0),
            buckets = opt(args, "--buckets").map(_.toInt).getOrElse(64))
          opt(args, "--out-sem-cents")
            .foreach(d => cents.write.mode("overwrite").parquet(d))
          println(s"[refresh] semantic table $tbl re-assigned under new centroids")
        }
      case "forget" =>
        // DELETION-REQUEST propagation (takedown / right-to-be-forgotten /
        // licensing pull): remove a set of ids from EVERY maintained
        // artifact in one command — band index, perceptual fp index,
        // semantic index (shuffle-free anti-join bucket rewrites), the
        // IVF-PQ index (tombstone + physical compaction), and the cluster
        // table (with representative-label repair). Each artifact flag is
        // optional; --ids is a parquet of doc ids (--id-col for vector
        // tables, default vec_id).
        import graft.dedup.Dedup
        import graft.ann.Vectors
        val ids = spark.read.parquet(opt(args, "--ids").get)
          .localCheckpoint()
        val vecIdCol = opt(args, "--id-col").getOrElse("vec_id")
        def report(tbl: String, what: String)(f: => Unit): Unit = {
          val before = spark.table(tbl).count()
          f
          println(s"[forget] $what $tbl: ${before - spark.table(tbl).count()} rows removed")
        }
        opt(args, "--band-table").foreach { t =>
          report(t, "band index")(Dedup.forgetFromBandIndex(spark, t, ids)) }
        opt(args, "--fp-table").foreach { t =>
          report(t, "fp index")(Dedup.forgetFromBandIndex(spark, t, ids)) }
        opt(args, "--sem-table").foreach { t =>
          report(t, "semantic index")(
            Vectors.forgetFromSemanticIndex(spark, t, ids, vecIdCol)) }
        opt(args, "--vec-table").foreach { t =>
          report(t, "ivf-pq index") {
            Vectors.deleteFromIvfPqIndex(spark, t, ids, vecIdCol)
            Vectors.compactIvfPqIndex(spark, t)
          } }
        opt(args, "--line-freq-table").foreach { t =>
          // counts carry no doc attribution, so the takedown payload must
          // include the text (negative-delta append + collapse)
          require(ids.columns.contains("text"),
            "--line-freq-table forget needs a text column in --ids")
          report(t, "line-freq table")(
            Dedup.forgetFromLineFreq(ids, col("doc_id"),
              split(col("text"), "\n"), t,
              graft.core.Bucketing.bucketCount(spark, t))) }
        opt(args, "--cluster-table").foreach { t =>
          report(t, "cluster table")(opt(args, "--pair-log") match {
            // with the pair log the repair is EXACT: affected components
            // re-cluster over surviving edges (bridges split, isolated
            // docs drop out) and the log itself is scrubbed
            case Some(pl) =>
              Dedup.forgetFromClusterAssignmentExact(spark, t, pl, ids)
            case None => Dedup.forgetFromClusterAssignment(spark, t, ids)
          }) }
      case "report" =>
        // corpus-QA report: the d7c / d16 / d8c views in one command —
        // cluster-size histogram, cross-source duplication matrix, and
        // (with --eval) the eval-side contamination report. Writes each
        // as parquet under --output, or prints when absent.
        import graft.dedup.Dedup
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val k = opt(args, "--minhash-k").map(_.toInt).getOrElse(8)
        val bandSize = opt(args, "--band-size").map(_.toInt).getOrElse(4)
        val ngram = opt(args, "--ngram").map(_.toInt).getOrElse(3)
        val minJ = opt(args, "--min-jaccard").map(_.toDouble).getOrElse(0.3)
        val srcCol = opt(args, "--source-col").getOrElse("source")
        // auto form (r18): user-supplied --band-size that does not divide
        // --minhash-k falls back to the aggregate composition (trailing
        // partial band) instead of failing the projected-form require
        // (r17 ADVICE)
        val verified = Dedup.verifyCandidates(docs,
          Dedup.lshCandidatePairsAuto(docs, col("doc_id"), col("text"),
            k, bandSize),
          col("doc_id"), col("text"), ngram, minJ).localCheckpoint()
        val sizes = Dedup.connectedComponentsStar(verified, "doc_a", "doc_b")
          .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        val src = docs.select(col("doc_id"), col(srcCol).as("__src"))
        val matrix = verified
          .join(src.select(col("doc_id").as("doc_a"), col("__src").as("__sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("__src").as("__sb")), "doc_b")
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"), col("jaccard"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
        val contamination = opt(args, "--eval").map { ev =>
          Dedup.contaminationReport(docs, col("doc_id"), col("text"),
            spark.read.parquet(ev), col("doc_id"), col("text"),
            opt(args, "--decont-ngram").map(_.toInt).getOrElse(5))
        }
        opt(args, "--output") match {
          case Some(out) =>
            sizes.write.mode("overwrite").parquet(s"$out/cluster_sizes")
            matrix.write.mode("overwrite").parquet(s"$out/cross_source")
            contamination.foreach(
              _.write.mode("overwrite").parquet(s"$out/contamination"))
          case None =>
            println("[report] cluster sizes:"); sizes.orderBy("cluster_size").show(50)
            println("[report] cross-source duplication:")
            matrix.orderBy(col("n_pairs").desc).show(50, truncate = false)
            contamination.foreach { c =>
              println("[report] eval contamination:")
              c.orderBy(col("contamination").desc).show(50)
            }
        }
      case "export" =>
        // curation → training handoff: write a (name, payload) relation —
        // typically the dedup command's kept corpus — as WebDataset-style
        // tar shards the training job streams sequentially. --name-col
        // defaults to doc_id (".txt" appended when no extension present);
        // --content-col defaults to the text column's bytes.
        import graft.multimodal.TarShards
        val docs0 = spark.read.parquet(opt(args, "--docs").get)
        // --chunk W,S (r17): export WITHIN-doc sliding token windows
        // instead of whole documents — the context-window / embedding
        // prep handoff (Planners.chunkWindows); member names carry the
        // window index so shard contents stay addressable per doc.
        val docs = opt(args, "--chunk") match {
          case None => docs0
          case Some(ws) =>
            val Array(w, st) = ws.split(",").map(_.trim.toInt)
            graft.ops.Planners.chunkWindows(docs0,
                col(opt(args, "--name-col").getOrElse("doc_id")),
                col(opt(args, "--content-col").getOrElse("text")), w, st)
              .select(concat(col("doc_id").cast("string"), lit("_w"),
                col("win_ix").cast("string")).as("doc_id"),
                col("window_text").as("text"))
        }
        val nameCol =
          if (opt(args, "--chunk").isDefined) "doc_id"
          else opt(args, "--name-col").getOrElse("doc_id")
        val contentCol =
          if (opt(args, "--chunk").isDefined) "text"
          else opt(args, "--content-col").getOrElse("text")
        val shards = opt(args, "--shards").map(_.toInt).getOrElse(16)
        val outDir = opt(args, "--output").get
        val named = docs.select(
          when(col(nameCol).cast("string").rlike("\\.[A-Za-z0-9]+$"),
            col(nameCol).cast("string"))
            .otherwise(concat(col(nameCol).cast("string"), lit(".txt")))
            .as("__name"),
          col(contentCol).cast("binary").as("__content"))
        TarShards.writeTarShards(named, "__name", "__content", outDir, shards)
        println(s"[export] tar shards written to $outDir (shards=$shards)")
      case "decode" =>
        import graft.multimodal.Multimodal
        val files = Multimodal.binarySource(spark, opt(args, "--files").get)
        val result = opt(args, "--resize") match {
          case Some(wh) =>
            val Array(w, h) = wh.split("x").map(_.toInt)
            Multimodal.resizeImages(files, w, h).toDF()
          case None => Multimodal.decodeImages(files).toDF()
        }
        opt(args, "--output") match {
          case Some(out) => result.write.mode("overwrite").parquet(out)
          case None      => result.show(20, truncate = false)
        }
      case "scrub" =>
        // cross-document exact substring dedup (d10): --output writes the
        // cleaned documents; without it, show the audit of affected docs
        import graft.dedup.Dedup
        val docs = spark.read.parquet(opt(args, "--docs").get)
        val n = opt(args, "--ngram").map(_.toInt).getOrElse(5)
        opt(args, "--output") match {
          case Some(out) =>
            Dedup.scrubbedText(docs, col("doc_id"), col("text"), n)
              .write.mode("overwrite").parquet(out)
          case None =>
            Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"), n)
              .filter(col("n_dup_spans") > 0).show(20, truncate = false)
        }
      case "pq" =>
        // product-quantization index build: trained codebooks + per-vector
        // codes (books are k×dim doubles; codes are m small ints per vector)
        import graft.ann.Vectors
        val vecs = spark.read.parquet(opt(args, "--vectors").get)
        val m = opt(args, "--m").map(_.toInt).getOrElse(8)
        val k = opt(args, "--k").map(_.toInt).getOrElse(256)
        val books = Vectors.pqTrain(vecs, "vec_id", "embedding", m, k,
          sampleFrac = opt(args, "--sample").map(_.toDouble).getOrElse(1.0))
        val codes = Vectors.pqCodes(vecs, "vec_id", "embedding", books, m)
        opt(args, "--output") match {
          case Some(out) =>
            books.write.mode("overwrite").parquet(s"$out/books")
            codes.write.mode("overwrite").parquet(s"$out/codes")
            println(s"[pq] books + codes written to $out")
          case None => codes.show(10, truncate = false)
        }
      case "snapshot" =>
        // versioned-snapshot table maintenance: append an epoch, read as
        // of a version (default: latest), or compact history
        import graft.ops.Snapshots
        val dir = opt(args, "--dir").get
        val keys = opt(args, "--keys").map(_.split(",").toSeq).getOrElse(Seq("k"))
        opt(args, "--write-epoch").foreach { src =>
          // arbitrary user parquet: enforce the one-row-per-key contract
          Snapshots.writeEpoch(spark.read.parquet(src), dir,
            opt(args, "--version").get.toInt, uniqueOn = keys)
        }
        opt(args, "--compact-to").foreach { v =>
          Snapshots.compactTo(spark, dir, keys, v.toInt)
        }
        val asOf = opt(args, "--as-of").map(_.toInt)
          .orElse(Snapshots.versions(spark, dir).lastOption)
        asOf.foreach { v =>
          val snap = Snapshots.readAsOf(spark, dir, keys, v)
          opt(args, "--output") match {
            case Some(out) => snap.write.mode("overwrite").parquet(out)
            case None      => snap.show(20, truncate = false)
          }
        }
      case other => sys.error(s"unknown command: $other; $usage")
    }
  }
}

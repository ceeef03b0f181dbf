package graft.cli

import graft.ann.Vectors
import graft.core.{Bucketing, GraftSession}
import graft.dedup.Dedup
import graft.multimodal.{DocFormats, Multimodal, TarShards}
import graft.ops.{Planners, Snapshots}
import graft.pipelines.Pipelines
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Thin CLI over the pipelines, mirroring the reference's arg surface
  * (train.py --difficulty/--s3_prefixes/--output_dir,
  * reference train/train_CATVTON/train.py:15-52; evaluate_all_models.py
  * --test_dir/--models/--output_dir, reference train/evaluate_all_models.py:20-34;
  * checkpoints/upload.py / download.py).
  *
  * Usage: `runMain graft.cli.Main <command> --flag value ...`. Each
  * command's flags are declared once, in [[commands]]; [[parse]] reads an
  * invocation through that table before a session starts or anything is
  * read, and a bad invocation (any unknown flag, `--help` included) fails
  * with the command's generated flag list.
  */
object Main {

  /** One command's flag table, names space-separated: `required` and
    * `values` flags take a value, `switches` do not; when `oneOf` is set,
    * exactly one of its (value) flags must be given. In each `needs` entry
    * every flag on the left needs every flag on the right, without which it
    * would be silently ignored or fail mid-job; a left-hand flag is declared
    * there (as a value flag unless `switches` lists it), so each flag of the
    * command is named once outside the right-hand sides.
    */
  private[cli] final case class Flags(required: String = "", values: String = "",
                                      switches: String = "", oneOf: String = "",
                                      needs: Seq[(String, String)] = Nil) {
    private def names(s: String) = s.split(' ').filter(_.nonEmpty).toSeq
    val sources: Seq[String] = names(oneOf)
    val requiredFlags: Seq[String] = names(required)
    val deps: Seq[(String, Seq[String])] =
      for ((l, r) <- needs; f <- names(l)) yield f -> names(r)
    val valued: Seq[String] = sources ++ requiredFlags ++ names(values) ++
      deps.map(_._1).distinct.filterNot(names(switches).contains)
    private val all = valued ++ names(switches)
    require(all.distinct == all && deps.forall(_._2.forall(all.contains)),
      s"malformed flag table: $this")
    def isSwitch(f: String): Boolean = all.contains(f) && !valued.contains(f)
    def help(cmd: String): String = (Seq("exactly one of" -> oneOf,
        "required" -> required, "with a value" -> values, "switches" -> switches) ++
        needs.map { case (l, r) => l -> s"needs $r" })
      .collect { case (k, v) if v.nonEmpty => s"  $k: $v" }
      .mkString(s"$cmd flags:\n", "\n", "")
  }

  private val corpusFlags = "--docs --wet --warc"
  private val lmGate = Seq("--lm-target" -> "--lm-min-logp",
    "--lm-min-logp" -> "--lm-target", "--lm-order" -> "--lm-target --lm-min-logp")

  /** Every command [[run]] dispatches, with its flags: the one place the
    * CLI's flag surface is declared.
    */
  private[cli] val commands = scala.collection.immutable.ListMap(
    "train" -> Flags(required = "--manifest", values = "--profile --output"),
    "curriculum" -> Flags(required = "--manifest --output"),
    "evaluate" -> Flags(required = "--test --scores", values = "--metrics --output"),
    "sync" -> Flags(required = "--remote --local",
      needs = Seq("--src" -> "--dst", "--dst" -> "--src")),
    "dedup" -> Flags(oneOf = corpusFlags,
      values = "--output --line-scrub-df --min-quality --min-jaccard --substr-n " +
        "--min-containment --max-per-source --source-col --decontaminate --image-col " +
        "--audio-col --video-col --embedding-col --sem-cells --min-cosine " +
        "--proto-prune --keep-by --url-col --domain-gate --psl",
      switches = "--pre-clean --gopher-gate --url-dedup --no-nfc --no-verify-ids " +
        "--no-block-filter --warc-docs --audit",
      needs = lmGate ++ Seq("--no-block-filter --warc-docs" -> "--warc",
        "--decont-ngram --decont-min-shared" -> "--decontaminate",
        "--lang-seed" -> "--lang-keep", "--lang-keep --lang-k --lang-min-prob" -> "--lang-seed")),
    "mixture" -> Flags(required = "--docs", values = "--group --alpha --budget --output"),
    "pack" -> Flags(required = "--docs", values = "--group --budget --out-shards --output",
      needs = Seq("--windows-per-shard" -> "--out-shards")),
    "feed" -> Flags(required = "--docs --out-shards", switches = "--dedup",
      values = "--weights --source-col --budget --windows-per-shard --bpe-merges " +
        "--epoch --output",
      needs = Seq("--min-quality --min-jaccard" -> "--dedup")),
    "ingest" -> Flags(required = "--docs --index", values = "--output"),
    "ingest-daily" -> Flags(oneOf = corpusFlags, required = "--band-table",
      values = "--corpus --shard-id --decontaminate --min-quality --minhash-k " +
        "--band-size --buckets --ngram --min-jaccard --cluster-table --pair-log " +
        "--compact-every --max-bucket --output",
      switches = "--warc-docs --no-block-filter --no-nfc --pre-capped --audit",
      needs = lmGate ++ Seq("--no-block-filter --warc-docs" -> "--warc",
        "--decont-ngram" -> "--decontaminate",
        "--vectors" -> "--vec-table --cents --books",
        "--vec-table --cents --books --m --baseline-mse --vec-buckets" -> "--vectors",
        "--fp-parquet" -> "--fp-table",
        "--fp-table --fp-col --fp-bits --fp-band-bits --max-hamming --fp-corpus " +
          "--fp-output" -> "--fp-parquet",
        "--sem-vectors" -> "--sem-table --sem-cents",
        "--sem-table --sem-cents --sem-col --min-cosine --sem-eval --sem-output" ->
          "--sem-vectors",
        "--sem-decont-cosine" -> "--sem-eval",
        "--line-freq-table" -> "--line-scrub-df",
        "--line-scrub-df" -> "--line-freq-table")),
    // the retrained quantizers are the frozen inputs of every later
    // ingest-daily: an index swapped under them must not lose them
    "refresh" -> Flags(required = "--vectors", values = "--iters --sample",
      needs = Seq("--vec-table" -> "--out-cents --out-books",
        "--vec-col --k --m --codes --vec-buckets --out-cents --out-books" ->
          "--vec-table",
        "--sem-table" -> "--out-sem-cents",
        "--sem-col --sem-cells --buckets --out-sem-cents" -> "--sem-table")),
    "report" -> Flags(required = "--docs", needs = Seq("--decont-ngram" -> "--eval"),
      values = "--eval --minhash-k --band-size --ngram --min-jaccard --source-col --output"),
    "export" -> Flags(required = "--docs --output",
      values = "--name-col --content-col --shards --chunk"),
    "decode" -> Flags(required = "--files", values = "--resize --output"),
    "scrub" -> Flags(required = "--docs", values = "--ngram --output"),
    "pq" -> Flags(required = "--vectors", values = "--m --k --sample --output"),
    "snapshot" -> Flags(required = "--dir", values = "--keys --as-of --compact-to --output",
      needs = Seq("--write-epoch" -> "--version", "--version" -> "--write-epoch")),
    "forget" -> Flags(required = "--ids", values = "--band-table --line-freq-table " +
        "--fp-table --sem-table --vec-table --cluster-table --id-col",
      needs = Seq("--pair-log" -> "--cluster-table")))

  private val usage = "usage: " + commands.keys.mkString("|")

  /** A parsed invocation. Lookups go through the command's table: reading
    * a flag it does not declare throws, so no read flag can be left out of
    * the table and so of the printed flag list.
    */
  final class Args private[Main] (val cmd: String, flags: Flags,
                                  passed: Map[String, String]) {
    /** A bad invocation: names the problem, then lists the command's flags. */
    def invalid(msg: String): IllegalArgumentException =
      new IllegalArgumentException(s"$cmd: $msg\n${flags.help(cmd)}")
    private def lookup(name: String, declared: Boolean): Option[String] =
      if (declared) passed.get(name)
      else throw new IllegalStateException(s"$cmd's flag table lacks $name")
    def get(name: String): Option[String] = lookup(name, flags.valued.contains(name))
    def get(name: String, default: String): String = get(name).getOrElse(default)
    def has(switch: String): Boolean = lookup(switch, flags.isSwitch(switch)).isDefined
    /** A value the table guarantees: required, or needed by a given flag. */
    def apply(name: String): String = get(name).getOrElse(
      throw new IllegalStateException(s"$cmd: the flag table does not guarantee $name"))
    /** The given flag of the `oneOf` group, with its value. */
    def source: (String, String) = passed.find(g => flags.sources.contains(g._1)).get
    /** `name`'s value through `read`; a value it cannot read fails here. */
    def as[T](name: String, what: String)(read: String => T): Option[T] = get(name).map(v =>
      try read(v) catch { case NonFatal(_) => throw invalid(s"$name takes $what, got '$v'") })
    def int(name: String): Option[Int] = as(name, "an integer")(_.toInt)
    def int(name: String, default: Int): Int = int(name).getOrElse(default)
    def long(name: String): Option[Long] = as(name, "an integer")(_.toLong)
    def long(name: String, default: Long): Long = long(name).getOrElse(default)
    def double(name: String): Option[Double] = as(name, "a number")(_.toDouble)
    def double(name: String, default: Double): Double = double(name).getOrElse(default)
  }

  /** Reads `argv` (the command, then its flags) through the command's
    * table. An unknown command, an unknown or repeated flag, a value flag
    * with no value, a missing required flag, a missing flag that a given
    * flag needs, or a broken `oneOf` group fails here, before any read.
    */
  def parse(argv: Array[String]): Args = {
    val cmd = argv.headOption.getOrElse(throw new IllegalArgumentException(usage))
    val flags = commands.getOrElse(cmd,
      throw new IllegalArgumentException(s"unknown command: $cmd; $usage"))
    def invalid(msg: String) = new Args(cmd, flags, Map.empty).invalid(msg)
    @scala.annotation.tailrec
    def read(rest: List[String], passed: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => passed
        case f :: _ if passed.contains(f) => throw invalid(s"$f given twice")
        case f :: tail if flags.isSwitch(f) => read(tail, passed + (f -> ""))
        case f :: v :: tail if flags.valued.contains(f) && !v.startsWith("--") =>
          read(tail, passed + (f -> v))
        case f :: _ if flags.valued.contains(f) => throw invalid(s"$f takes a value")
        case f :: _ => throw invalid(s"unknown flag $f")
      }
    val passed = read(argv.toList.tail, Map.empty)
    if (flags.sources.nonEmpty && flags.sources.count(passed.contains) != 1)
      throw invalid(s"pass exactly one of ${flags.sources.mkString(", ")}")
    flags.requiredFlags.find(!passed.contains(_))
      .foreach(f => throw invalid(s"missing required flag $f"))
    for ((f, on) <- flags.deps if passed.contains(f); missing = on.filterNot(passed.contains)
         if missing.nonEmpty) throw invalid(s"$f needs ${missing.mkString(" ")}")
    new Args(cmd, flags, passed)
  }

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
    * (sniffed HTML through the full text extraction); the flag table
    * admits exactly one.
    */
  private def corpusSource(spark: SparkSession, a: Args): DataFrame =
    a.source match {
      case ("--docs", d) => spark.read.parquet(d)
      case ("--wet", w) =>
        graft.sources.Wet.readWet(spark, w)
          .select(crawlId("wet_file").as("doc_id"), col("url"),
            col("record_ts"), col("text"))
      case (_, w) =>
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
          if (a.has("--no-block-filter")) TextFunctions.extractHtmlText
          else c => TextFunctions.extractMainContent(c)
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
        if (!a.has("--warc-docs")) prose
        else {
          import spark.implicits._
          val binId = concat(col("url"), lit("#"),
            regexp_extract(col("warc_file"), "([^/]+)$", 1), lit(":b"),
            col("record_ix").cast("string"))
          val docs = graft.sources.Wet.readWarcBinary(spark, w)
            .filter(col("http_status") === 200 &&
              DocFormats.docFormat(col("content")).isin("pdf", "zip", "rtf", "gzip"))
            .select(binId.as("doc_id"), col("url"), col("record_ts"),
              col("content"))
            .as[(String, String, java.sql.Timestamp, Array[Byte])]
            .map { case (id, url, ts, b) =>
              val t = DocFormats.documentText(b)
              // EPUBs carry HTML chapters, not final text: surface the
              // spine markup and let the configured page extractor run
              // below, so books get DOM-block boilerplate removal too
              val h = if (t.isEmpty) DocFormats.epubHtml(b) else ""
              (id, url, ts, t, h) }
            .toDF("doc_id", "url", "record_ts", "dtext", "dhtml")
            .select(col("doc_id"), col("url"), col("record_ts"),
              when(col("dtext") =!= "", col("dtext"))
                .otherwise(extract(col("dhtml"))).as("text"))
            .filter(col("text") =!= "")
          prose.unionByName(docs)
        }
    }

  /** `--output` (or `flag`) handling: write `df` there (as parquet, or
    * `format`) when given, else run `preview` (a show or a count on stdout).
    */
  private def writeOr(a: Args, df: DataFrame, flag: String = "--output",
                      format: String = "parquet")(preview: => Unit): Unit =
    a.get(flag) match {
      case Some(out) => df.write.mode("overwrite").format(format).save(out)
      case None      => preview
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = GraftSession.local()
    try run(spark, args) finally spark.stop()
  }

  /** The command dispatch, on a caller-owned session — separated from
    * [[main]] (which stops its session) so tests can drive the real arg
    * surface under the shared test session. Parses before any read.
    */
  def run(spark: SparkSession, argv: Array[String]): Unit = run(spark, parse(argv))

  private def run(spark: SparkSession, a: Args): Unit =
    a.cmd match {
      case "train" =>
        // the curriculum's stage profiles; an unknown name fails here
        val stages = Pipelines.curriculumStages
        val name = a.get("--profile", "hard")
        val profile = stages.collectFirst { case (`name`, p) => p }.getOrElse(throw a.invalid(
          s"--profile must be one of ${stages.map(_._1).mkString("|")}, got '$name'"))
        val feed = Pipelines.trainingFeed(spark.read.parquet(a("--manifest")), profile)
        writeOr(a, feed)(feed.show(20, truncate = false))
      case "evaluate" =>
        val test = spark.read.parquet(a("--test"))
        val scores = spark.read.parquet(a("--scores"))
        val metrics = a.get("--metrics", "lpips,ssim,psnr").split(",").toSeq
        val summary = Pipelines.evaluate(test, scores, metrics)
        writeOr(a, summary.coalesce(1), format = "json")(summary.show(20, truncate = false))
      case "curriculum" =>
        val manifest = spark.read.parquet(a("--manifest"))
        val out = a("--output")
        Pipelines.curriculum(manifest).foreach { case (stage, feed) =>
          feed.write.mode("overwrite").parquet(s"$out/stage=$stage")
          println(s"[curriculum] stage $stage written")
        }
      case "sync" =>
        val remote = spark.read.parquet(a("--remote"))
        val local = spark.read.parquet(a("--local"))
        val transfer = for (s <- a.get("--src"); d <- a.get("--dst")) yield (s, d)
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
        val docs = corpusSource(spark, a)
        val defaultUrlCol = if (a.get("--docs").isDefined) None else Some("url")
        val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
          minQuality = a.double("--min-quality", 0.5),
          minJaccard = a.double("--min-jaccard", 0.3),
          substrN = a.int("--substr-n"),
          minContainment = a.double("--min-containment"),
          maxPerSource = a.int("--max-per-source", 0),
          sourceCol = a.get("--source-col", "source"),
          preClean = a.has("--pre-clean"),
          evalDocs = a.get("--decontaminate").map(spark.read.parquet(_)),
          decontN = a.int("--decont-ngram", 5),
          decontMinShared = a.int("--decont-min-shared", 1),
          imageCol = a.get("--image-col"),
          audioCol = a.get("--audio-col"),
          videoCol = a.get("--video-col"),
          embeddingCol = a.get("--embedding-col"),
          semCells = a.int("--sem-cells", 64),
          minCosine = a.double("--min-cosine", 0.99),
          // D4 recipe: after cluster collapse, drop this fraction of the
          // per-cell most-prototypical survivors (requires --embedding-col)
          protoPruneFraction = a.double("--proto-prune", 0.0),
          // representative policy: keep the cluster member maximizing this
          // column ("length" = longest copy; any numeric doc column works),
          // instead of the min-id default
          keepBy = a.get("--keep-by").map {
            case "length" => length(col("text")).cast("long")
            case c        => col(c)
          },
          // CCNet line scrub: drop \n-lines with corpus df above the cap
          // before the quality gate (0 = off); it runs before --pre-clean,
          // whose markup strip joins the lines
          lineScrubDf = a.int("--line-scrub-df", 0),
          // Gopher per-rule gate on top of the scored quality gate;
          // tx_gopher_funnel is the audit for what each rule costs
          gopherGate = a.has("--gopher-gate"),
          // URL-level curation: --url-col names the corpus URL column;
          // --domain-gate points at a parquet deny list (one `domain`
          // column of registrable domains). Together they drop denied
          // domains before any text stage, and --max-per-source caps by
          // registrable domain instead of --source-col.
          urlCol = a.get("--url-col").orElse(defaultUrlCol),
          domainDeny = a.get("--domain-gate").map(spark.read.parquet(_)),
          // --psl <file>: swap the embedded multi-part-suffix subset for
          // a full Public Suffix List (publicsuffix.org format) under
          // FULL rule semantics — literals at any depth, wildcards
          // (*.ck), exceptions (!www.ck) — so ccTLD registries key the
          // domain gate and per-domain cap correctly; requires --url-col
          psl = a.get("--psl").map(graft.text.Urls.loadPsl(spark, _)),
          // CCNet LM gate: --lm-target points at the parquet target
          // slice the KN model fits on (--lm-order picks the model
          // order: 3 default, 5 = KenLM parity); --lm-min-logp is the
          // avg_logp cutoff (docs scoring below it drop). Both or
          // neither — the flag table and the pipeline reject one alone.
          lmTarget = a.get("--lm-target").map(spark.read.parquet(_)),
          lmMinAvgLogp = a.double("--lm-min-logp"),
          lmOrder = a.int("--lm-order", 3),
          // --url-dedup: Dolma stage 0 — one survivor per CANONICAL url
          // (fragment/tracking-param strip, authority normalization)
          // before any text work; requires --url-col
          urlExactDedup = a.has("--url-dedup"),
          // TRAINED LANGUAGE GATE (CCNet stage 1): --lang-seed points at
          // a labeled seed parquet with (text, lang) columns — the
          // one-vs-rest trigram classifier trains on it in-engine
          // (LangIdClassifier.train, seed-sized, langs sorted for a
          // deterministic head order) — and --lang-keep lists the
          // language codes to keep (e.g. en,fr); docs predicted outside
          // the set drop before the domain cap and every scoring join.
          // Both flags or neither (the flag table) — the lmGateKn discipline.
          langKeep = a.get("--lang-seed").map { seedDir =>
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
            (graft.text.LangIdClassifier.train(seed, col("text"),
              col("lang"), langs, k = a.int("--lang-k", 12)),
              a("--lang-keep").split(",").map(_.trim).filter(_.nonEmpty).toSet)
          },
          langK = a.int("--lang-k", 12),
          // --lang-min-prob: CCNet's confidence rule — drop docs whose
          // best head is below the threshold even when the argmax lands
          // in the keep set (0 = argmax-only)
          langMinProb = a.double("--lang-min-prob", 0.0),
          // Unicode NFC recomposition at entry is DEFAULT-ON (composed vs
          // decomposed duplicates are invisible to every dedup stage
          // without it); --no-nfc opts out for corpora with a byte-exact
          // downstream contract
          nfc = !a.has("--no-nfc"),
          // the eager NULL/duplicate/collision id check is default-on;
          // --no-verify-ids skips the extra corpus pass for upstreams
          // that already guarantee dense unique keys
          verifyIds = !a.has("--no-verify-ids"))
        val kept = stages.last._2
        // funnel audit: per-stage surviving-doc counts — the curation
        // run's QA report ("gate dropped N, decontamination M, ...")
        if (a.has("--audit"))
          stages.foreach { case (name, df) =>
            println(f"[dedup] ${name}%-24s ${df.count()}%d docs")
          }
        writeOr(a, kept)(println(s"[dedup] kept ${kept.count()} documents"))
      case "mixture" =>
        val docs = spark.read.parquet(a("--docs"))
        val group = a.get("--group", "lang")
        val per = docs.groupBy(col(group)).agg(count(lit(1)).as("n_docs"))
        val plan = Planners.temperatureMixture(per, group, "n_docs",
          alpha = a.double("--alpha", 0.5), budget = a.long("--budget", 10000L))
        writeOr(a, plan.coalesce(1), format = "json")(plan.show(50, truncate = false))
      case "pack" =>
        graft.extensions.GraftExtensions.register(spark)
        val docs = spark.read.parquet(a("--docs"))
        val group = a.get("--group", "lang")
        val budget = a.long("--budget", 4096L)
        val toks = docs.select(col("doc_id"), col(group),
          TextFunctions.tokenCountNative(col("text")).cast("long").as("n_tok"))
        // --out-shards materializes the LAYOUT as addressable training
        // shards (writePackedShards: --windows-per-shard windows per dir,
        // deterministic boundaries); default emits the packPlan summary
        a.get("--out-shards") match {
          case Some(outDir) =>
            Pipelines.writePackedShards(toks, group, "doc_id", "n_tok",
              budget, a.long("--windows-per-shard", 1024L), outDir)
            println(s"[pack] shard layout written to $outDir")
          case None =>
            val plan = Planners.packPlan(toks, group, "doc_id", "n_tok", budget)
            writeOr(a, plan)(plan.show(50, truncate = false))
        }
      case "feed" =>
        // MIXTURE-APPLIED PACKED FEED (Pipelines.curatedFeed): per-source
        // token-budget plan → exact-count sample at the planned fractions
        // → packed shards under --out-shards, manifest to --output.
        // --dedup folds the curation chain in front with its defaults;
        // run the `dedup` command separately when its knobs are needed.
        graft.extensions.GraftExtensions.register(spark)
        val docs = spark.read.parquet(a("--docs"))
        val srcCol = a.get("--source-col", "source")
        val weights = a.get("--weights") match {
          case Some(w) => spark.read.parquet(w)
          case None =>
            // the x10 deterministic default: weight = source index + 1
            docs.select(col(srcCol)).distinct()
              .withColumn("w",
                regexp_extract(col(srcCol), "([0-9]+)", 1).cast("int") + 1)
        }
        val curate: DataFrame => DataFrame =
          if (a.has("--dedup"))
            d => Pipelines.dedupCorpus(d, col("doc_id"), col("text"),
              minQuality = a.double("--min-quality", 0.5),
              minJaccard = a.double("--min-jaccard", 0.3))
          else identity
        val outDir = a("--out-shards")
        // --bpe-merges K: train a K-merge BPE on the corpus and run the
        // ENTIRE packing arithmetic (mixture fractions, window budgets,
        // shard manifest) in learned-token units instead of the regex
        // word count — the x22 composition at the CLI surface
        val tokCounts = a.int("--bpe-merges").map { k =>
          graft.text.Bpe.docSubwordCounts(docs, col("doc_id"), col("text"),
              graft.text.Bpe.learnMerges(
                graft.text.Bpe.wordFreq(docs, col("text")), k)._2)
            .select(col("doc_id"), col("n_bpe").as("n_tok"))
        }
        val manifest = Pipelines.curatedFeed(docs, "doc_id", srcCol, weights,
          TextFunctions.tokenCountNative(col("text")),
          budget = a.long("--budget", 4096L),
          windowsPerShard = a.long("--windows-per-shard", 1024L),
          outDir = outDir, curate = curate,
          // --epoch N repacks under that epoch's deterministic permutation
          // (same sampled docs, decorrelated window neighborhoods)
          epoch = a.long("--epoch"),
          tokenCounts = tokCounts)
        writeOr(a, manifest)(manifest.show(50, truncate = false))
        println(s"[feed] packed shards written to $outDir")
      case "ingest" =>
        // incremental dedup: new shard vs a persisted banded-signature
        // index (write the index once with Dedup.bandedSignatures; every
        // later shard joins against it — work ∝ shard size)
        val docs = spark.read.parquet(a("--docs"))
        val index = spark.read.parquet(a("--index"))
        val shard = Dedup.bandedSignatures(
          Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
        val pairs = Dedup.incrementalCandidatePairs(shard, index)
        writeOr(a, pairs)(println(s"[ingest] candidate pairs: ${pairs.count()}"))
      case "ingest-daily" =>
        // Day-2 ingest composed end-to-end, the production loop the d9 /
        // v15 operators exist for: band the shard's MinHash signatures →
        // propose candidates against the persisted band index (work ∝
        // shard, never old×old) → Jaccard-verify ONLY the candidates →
        // fold the shard into the band index → optionally append shard
        // vectors to the IVF-PQ index under the frozen-codebook drift
        // guard → compact bucketed tables once per-bucket file count
        // reaches --compact-every. --audit prints the funnel.
        // --shard-id makes the whole mutation set idempotent: a re-run of
        // an already-recorded shard (the at-least-once scheduler reality)
        // is a no-op instead of a double-append. The check-then-mark
        // contract lives in ONE place — Bucketing.ingestOnce wraps the
        // whole mutation body; the ledger rides the band table.
        val bandTable = a("--band-table")
        // every numeric flag is parsed here, before the first read or
        // write: a malformed value fails before the shard touches a table
        val buckets = a.int("--buckets", 64)
        val maxBucket = a.int("--max-bucket", 64)
        val lineScrubDf = a.int("--line-scrub-df", 0)
        val minQualityDaily = a.double("--min-quality", 0.0)
        val decontN = a.int("--decont-ngram", 5)
        val lmOrder = a.int("--lm-order", 3)
        val lmMinLogp = a.double("--lm-min-logp")
        val minhashK = a.int("--minhash-k", 8)
        val bandSize = a.int("--band-size", 4)
        val ngram = a.int("--ngram", 3)
        val minJaccard = a.double("--min-jaccard", 0.3)
        val pqM = a.int("--m", 8)
        val baselineMse = a.double("--baseline-mse", Double.NaN)
        val vecBuckets = a.int("--vec-buckets", buckets)
        val fpBits = a.int("--fp-bits", 16)
        val fpBandBits = a.int("--fp-band-bits", 8)
        val maxHamming = a.int("--max-hamming", 2)
        val minCosine = a.double("--min-cosine", 0.99)
        val semDecontCosine = a.double("--sem-decont-cosine", 0.99)
        val compactEvery = a.int("--compact-every", 0)
        def ingestDailyBody(): Unit = {
        // --docs parquet OR today's crawl dump directly (--wet / --warc):
        // the production loop ingests each day's WET/WARC drop against
        // the maintained band index without a pre-conversion step —
        // uniquified url#file:ix ids, sniffed/extracted text, the same
        // shard shape as a parquet shard from there on
        val docsRaw = corpusSource(spark, a)
        // NFC the shard's text like the BATCH chain does (default-on,
        // --no-nfc opt-out): the maintained index holds signatures of
        // NFC text, so a decomposed recrawl of an indexed page would
        // otherwise shingle differently, miss every band bucket, and be
        // folded in as a "new" doc — the exact composed/decomposed gap
        // NFC exists to close, re-opened on the daily path
        // the shard, the --decontaminate eval set and the --lm-target
        // slice all meet in this one text space
        def textSpace(df: DataFrame): DataFrame =
          if (a.has("--no-nfc")) df
          else df.withColumn("text", TextFunctions.nfcNormalize(col("text")))
        val docs0 = textSpace(docsRaw)
        // optional DECONTAMINATION of today's shard BEFORE any signature
        // or index work — without it, a contaminated document is folded
        // into the band index and survives as tomorrow's match source
        // even if a later batch decontamination scrubs the corpus
        val docsPre = a.get("--decontaminate").map { evalDir =>
          // the eval side compares in the SAME text space as the shard
          // (the batch chain's rule): NFC'd unless --no-nfc
          val eval = textSpace(spark.read.parquet(evalDir))
          val dirty = Dedup.contaminatedIds(docs0, col("doc_id"), col("text"),
              eval, col("text"), decontN)
            .select(col("doc_id").as("__dirty_id"))
          docs0.join(broadcast(dirty),
            docs0("doc_id") === col("__dirty_id"), "left_anti")
        }.getOrElse(docs0)
        // --audit re-reads this relation for its counts: one shard-sized
        // checkpoint makes the audit ≈ the non-audit wall instead of
        // re-running the decontamination anti-join per count
        val docs = if (a.has("--audit")) docsPre.localCheckpoint() else docsPre
        // --pre-capped: the indexPreCapped contract end-to-end — the band
        // and fp ingest joins skip their index-side cap window (the
        // persisted table is maintained pre-capped), and the compaction
        // cadence runs capBandIndex (heal + whole-bucket cap) instead of
        // the plain healing rewrite. --max-bucket sizes the maintained
        // cap, the shard-side query-time cap and the --audit accounting.
        val preCapped = a.has("--pre-capped")
        // optional CCNet line scrub against the persisted corpus line
        // counts: boilerplate lines leave today's shard BEFORE any
        // signature work (global df = table totals + the shard's own);
        // the shard's RAW line counts fold into the table further down,
        // inside the same idempotency-guarded body as the index appends.
        // First-ever run bootstraps an empty table (day-1 df = shard-own).
        val lineFreqTable = a.get("--line-freq-table")
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
        val docsQ =
          if (minQualityDaily <= 0.0) docsS
          else docsS.filter(
            round(TextFunctions.qualityScoreNative(col("text")), 6) >= minQualityDaily)
        // optional CCNet LM-PERPLEXITY GATE on today's shard (the dedup
        // command's --lm-target/--lm-min-logp at day-2 parity): the KN
        // model fits on the target slice (small — one fit per ingest),
        // the shard is scored AFTER the line scrub (score the cleaned
        // text, CCNet's order) and BEFORE any signature or index work —
        // a high-perplexity doc is never folded in as tomorrow's match
        // source. Unscorable < order-token docs pass (drop on
        // evidence). --lm-order picks the KN order (3 default, 5 =
        // KenLM parity).
        // The flag table admits both flags or neither.
        val docsG = (for (tDir <- a.get("--lm-target");
                          minLp <- lmMinLogp) yield {
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
            TextFunctions.lmGateKn(docsQ, col("doc_id"), col("text"),
                TextFunctions.fitKn(tgt, col("text"), lmOrder), minLp)
              .localCheckpoint()
        }).getOrElse(docsQ)
        val shardBanded = Dedup.bandedSignatures(Dedup.minhashSignatures(docsG,
            col("doc_id"), col("text"), minhashK), bandSize)
          .localCheckpoint() // feeds pairs AND the index append
        // FIRST-EVER-RUN bootstrap: when the catalog lacks an index table,
        // create it EMPTY with the right bucket spec (zero rows of the
        // shard's own schema), so day 1 is just another ingest — the read
        // sees an empty index, candidates are new×new only, and the
        // append below lands the first real file set. Without this,
        // readBandIndex/readSemanticIndex (spark.table) throws and the
        // loop needs a separate out-of-band build step.
        def bootstrapBandIndex(table: String, like: DataFrame): Unit =
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
        val lookup = (a.get("--corpus") match {
          case Some(c) => spark.read.parquet(c)
            .select(col("doc_id"), col("text"))
            .union(docsG.select(col("doc_id"), col("text")))
          case None => docsG.select(col("doc_id"), col("text"))
        }).dropDuplicates("doc_id")
        val verified = Dedup.verifyCandidates(lookup, cands, col("doc_id"),
            col("text"), ngram, minJaccard)
          .localCheckpoint()
        // no-silent-caps accounting (before the append, against the index
        // the candidates actually joined): doc slots the per-bucket cap
        // drops from candidacy, per side of the incremental join (shard
        // window + index pruned to the shard's buckets — the exact
        // relations incrementalCandidatePairs caps)
        val capDropped: Option[(Long, Long)] =
          if (a.has("--audit")) {
            def droppedSlots(banded: DataFrame): Long =
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
              if (a.get("--lm-target").isDefined)
                docs.join(docsG.select("doc_id"), Seq("doc_id"), "left_semi")
              else docs
            Dedup.appendLineFreq(folded, col("doc_id"),
              split(col("text"), "\n"), lt, buckets)
          }
        }
        val vecAppend = a.get("--vectors").map { vdir =>
          val vecTable = a("--vec-table")
          val mse = Vectors.appendToIvfPqIndex(vecTable,
            spark.read.parquet(vdir), "vec_id", "embedding",
            spark.read.parquet(a("--cents")),
            spark.read.parquet(a("--books")), pqM,
            baselineMse = baselineMse, buckets = vecBuckets)
          (vecTable, mse)
        }
        // perceptual branch: precomputed (doc_id, fp) fingerprints — image
        // dHash / audio envelope / video temporal hash, any modality —
        // ride the SAME index discipline: band → candidates vs the
        // persisted fp index → Hamming-verify → fold the shard in
        val fpIngest = a.get("--fp-parquet").map { fdir =>
          val fpTable = a("--fp-table")
          val fpCol = a.get("--fp-col", "fp")
          val shardFps = spark.read.parquet(fdir).select(col("doc_id"), col(fpCol))
          val shardBandedFp = Dedup.fingerprintBands(shardFps, col("doc_id"), col(fpCol),
            fpBits, fpBandBits).localCheckpoint()
          bootstrapBandIndex(fpTable, shardBandedFp)
          val fpCands = Dedup.incrementalCandidatePairs(shardBandedFp,
            Dedup.readBandIndex(spark, fpTable), maxBucket,
            indexPreCapped = preCapped).localCheckpoint()
          val fpLookup = (a.get("--fp-corpus") match {
            case Some(c) => spark.read.parquet(c)
              .select(col("doc_id"), col(fpCol)).union(shardFps)
            case None => shardFps
          }).dropDuplicates("doc_id")
          val fpVerified = Dedup.verifyHammingPairs(fpLookup, col("doc_id"),
            col(fpCol), fpCands, maxHamming).localCheckpoint()
          Dedup.appendBandIndex(shardBandedFp, fpTable, buckets)
          (fpTable, fpVerified)
        }
        // semantic branch: shard embeddings against the cell-bucketed
        // exact-vector index (frozen centroids) — shard×index + shard×shard
        // cosine pairs, then fold the shard in
        val semIngest = a.get("--sem-vectors").map { sdir =>
          val semTable = a("--sem-table")
          val cents = spark.read.parquet(a("--sem-cents"))
          val shardVecs0 = spark.read.parquet(sdir)
          val vecCol = a.get("--sem-col", "embedding")
          // optional SEMANTIC decontamination of today's shard BEFORE any
          // index work — the embedding twin of --decontaminate: a shard
          // vector within --sem-decont-cosine of any eval vector (the
          // paraphrased benchmark item n-gram overlap can't see) is
          // dropped before it can be folded in as tomorrow's match source
          val shardVecs = a.get("--sem-eval").map { evDir =>
            val dirty = Vectors.semanticContaminatedIds(
                shardVecs0, "vec_id", vecCol,
                spark.read.parquet(evDir), "vec_id", vecCol, cents,
                semDecontCosine)
              .select(col("train_id").as("__sem_dirty"))
            shardVecs0.join(broadcast(dirty),
              col("vec_id") === col("__sem_dirty"), "left_anti")
          }.getOrElse(shardVecs0)
          if (!spark.catalog.tableExists(semTable))
            Vectors.writeSemanticIndex(shardVecs.limit(0), "vec_id", vecCol,
              cents, semTable, buckets)
          val pairs = Vectors.incrementalSemanticPairs(shardVecs, "vec_id",
            vecCol, cents, Vectors.readSemanticIndex(spark, semTable),
            minCosine).localCheckpoint()
          Vectors.appendToSemanticIndex(shardVecs, "vec_id", vecCol, cents,
            semTable, buckets)
          (semTable, pairs)
        }
        // maintained CLUSTER table: the day-2 chain's third step — fold
        // today's verified pairs into the persisted (doc_id, cluster)
        // assignment at DELTA cost (rep-level CC + changed/new-row append;
        // the corpus-sized table is read once, never shuffled or rewritten)
        val clusterDelta = a.get("--cluster-table").map { ctbl =>
          if (!spark.catalog.tableExists(ctbl)) {
            import spark.implicits._
            Dedup.writeClusterAssignment(
              Seq.empty[(Long, Long)].toDF("doc_id", "cluster"), ctbl, buckets)
          }
          (ctbl, Dedup.ingestClusterDelta(spark, ctbl, verified, buckets = buckets))
        }
        // pair log: the verified edges themselves, appended at shard cost —
        // what makes a later `forget` repair exact (bridge splits)
        a.get("--pair-log").foreach { pl =>
          if (!spark.catalog.tableExists(pl))
            Dedup.writePairLog(verified, pl, buckets)
          else Dedup.appendPairLog(verified, pl, buckets)
        }
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
        val heal: DataFrame => DataFrame = _.dropDuplicates()
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
        vecAppend.foreach { case (t, _) =>
          if (due(t)) Vectors.compactIvfPqIndex(spark, t)
        }
        if (a.has("--audit")) {
          println(f"[ingest-daily] shard_docs       ${docs.count()}%d")
          if (a.get("--decontaminate").isDefined)
            println(f"[ingest-daily] decont_dropped   ${docs0.count() - docs.count()}%d")
          if (a.get("--min-quality").isDefined)
            println(f"[ingest-daily] quality_dropped  ${docsS.count() - docsQ.count()}%d")
          if (a.get("--lm-target").isDefined)
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
        writeOr(a, verified)(
          println(s"[ingest-daily] verified pairs: ${verified.count()}"))
        fpIngest.foreach { case (_, v) =>
          writeOr(a, v, "--fp-output")(println(s"[ingest-daily] fp pairs: ${v.count()}")) }
        semIngest.foreach { case (_, v) =>
          writeOr(a, v, "--sem-output")(println(s"[ingest-daily] sem pairs: ${v.count()}")) }
        }
        a.get("--shard-id") match {
          case Some(sid) =>
            // ledger marker LAST (written by ingestOnce after the body):
            // a crash anywhere in the body leaves the marker absent and
            // the rerun redoes the day — bounded duplication, healed
            // physically by the dropDuplicates pass every compaction
            // below folds in
            val ran = Bucketing.ingestOnce(spark, bandTable, sid)(ingestDailyBody())
            if (!ran) println(s"[ingest-daily] shard $sid already " +
              s"ingested into $bandTable; no-op")
          case None => ingestDailyBody()
        }
      case "refresh" =>
        // QUANTIZER REFRESH — the remediation path when ingest-daily's
        // drift guard refuses a vector shard (or v17/v22 views flag
        // drift): retrain quantizers on the CURRENT corpus, re-encode
        // once, epoch-swap the bucketed index in place. Writes the new
        // quantizers (the frozen inputs of subsequent ingest-daily runs)
        // and prints the new --baseline-mse to resume appending with; the
        // flag table refuses a swap whose quantizers would not be written.
        val vecs = spark.read.parquet(a("--vectors"))
        a.get("--vec-table").foreach { tbl =>
          val (cents, books, baseline) = Vectors.retrainIvfPq(
            spark, tbl, vecs, "vec_id", a.get("--vec-col", "embedding"),
            k = a.int("--k", 64), m = a.int("--m", 8),
            codes = a.int("--codes", 256), iters = a.int("--iters", 3),
            sampleFrac = a.double("--sample", 1.0),
            buckets = a.int("--vec-buckets", 64))
          cents.write.mode("overwrite").parquet(a("--out-cents"))
          books.write.mode("overwrite").parquet(a("--out-books"))
          println(f"[refresh] table $tbl re-encoded; baseline_mse $baseline%.6f")
        }
        a.get("--sem-table").foreach { tbl =>
          val cents = Vectors.retrainSemanticIndex(
            spark, tbl, vecs, "vec_id", a.get("--sem-col", "embedding"),
            k = a.int("--sem-cells", 64), iters = a.int("--iters", 3),
            sampleFrac = a.double("--sample", 1.0), buckets = a.int("--buckets", 64))
          cents.write.mode("overwrite").parquet(a("--out-sem-cents"))
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
        val ids = spark.read.parquet(a("--ids")).localCheckpoint()
        val vecIdCol = a.get("--id-col", "vec_id")
        def report(tbl: String, what: String)(f: => Unit): Unit = {
          val before = spark.table(tbl).count()
          f
          println(s"[forget] $what $tbl: ${before - spark.table(tbl).count()} rows removed")
        }
        a.get("--band-table").foreach { t =>
          report(t, "band index")(Dedup.forgetFromBandIndex(spark, t, ids)) }
        a.get("--fp-table").foreach { t =>
          report(t, "fp index")(Dedup.forgetFromBandIndex(spark, t, ids)) }
        a.get("--sem-table").foreach { t =>
          report(t, "semantic index")(
            Vectors.forgetFromSemanticIndex(spark, t, ids, vecIdCol)) }
        a.get("--vec-table").foreach { t =>
          report(t, "ivf-pq index") {
            Vectors.deleteFromIvfPqIndex(spark, t, ids, vecIdCol)
            Vectors.compactIvfPqIndex(spark, t)
          } }
        a.get("--line-freq-table").foreach { t =>
          // counts carry no doc attribution, so the takedown payload must
          // include the text (negative-delta append + collapse)
          require(ids.columns.contains("text"),
            "--line-freq-table forget needs a text column in --ids")
          report(t, "line-freq table")(
            Dedup.forgetFromLineFreq(ids, col("doc_id"), split(col("text"), "\n"), t,
              Bucketing.bucketCount(spark, t))) }
        a.get("--cluster-table").foreach { t =>
          report(t, "cluster table")(a.get("--pair-log") match {
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
        val docs = spark.read.parquet(a("--docs"))
        // auto form (r18): user-supplied --band-size that does not divide
        // --minhash-k falls back to the aggregate composition (trailing
        // partial band) instead of failing the projected-form require
        // (r17 ADVICE)
        val verified = Dedup.verifyCandidates(docs,
          Dedup.lshCandidatePairsAuto(docs, col("doc_id"), col("text"),
            a.int("--minhash-k", 8), a.int("--band-size", 4)),
          col("doc_id"), col("text"), a.int("--ngram", 3),
          a.double("--min-jaccard", 0.3)).localCheckpoint()
        val sizes = Dedup.connectedComponentsStar(verified, "doc_a", "doc_b")
          .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        val src = docs.select(col("doc_id"), col(a.get("--source-col", "source")).as("__src"))
        val matrix = verified
          .join(src.select(col("doc_id").as("doc_a"), col("__src").as("__sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("__src").as("__sb")), "doc_b")
          .select(least(col("__sa"), col("__sb")).as("source_a"),
            greatest(col("__sa"), col("__sb")).as("source_b"), col("jaccard"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
        val contamination = a.get("--eval").map { ev =>
          Dedup.contaminationReport(docs, col("doc_id"), col("text"),
            spark.read.parquet(ev), col("doc_id"), col("text"),
            a.int("--decont-ngram", 5))
        }
        a.get("--output") match {
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
        // --chunk W,S (r17): export WITHIN-doc sliding token windows
        // instead of whole documents — the context-window / embedding
        // prep handoff (Planners.chunkWindows); member names carry the
        // window index so shard contents stay addressable per doc.
        val chunk = a.as("--chunk", "W,S") { ws =>
          val Array(w, st) = ws.split(",").map(_.trim.toInt); (w, st) }
        val docs0 = spark.read.parquet(a("--docs"))
        val docs = chunk match {
          case None => docs0
          case Some((w, st)) =>
            Planners.chunkWindows(docs0, col(a.get("--name-col", "doc_id")),
                col(a.get("--content-col", "text")), w, st)
              .select(concat(col("doc_id").cast("string"), lit("_w"),
                col("win_ix").cast("string")).as("doc_id"),
                col("window_text").as("text"))
        }
        val nameCol = if (chunk.isDefined) "doc_id" else a.get("--name-col", "doc_id")
        val contentCol = if (chunk.isDefined) "text" else a.get("--content-col", "text")
        val shards = a.int("--shards", 16)
        val outDir = a("--output")
        val named = docs.select(
          when(col(nameCol).cast("string").rlike("\\.[A-Za-z0-9]+$"),
            col(nameCol).cast("string"))
            .otherwise(concat(col(nameCol).cast("string"), lit(".txt")))
            .as("__name"),
          col(contentCol).cast("binary").as("__content"))
        TarShards.writeTarShards(named, "__name", "__content", outDir, shards)
        println(s"[export] tar shards written to $outDir (shards=$shards)")
      case "decode" =>
        val size = a.as("--resize", "WxH") { wh =>
          val Array(w, h) = wh.split("x").map(_.toInt); (w, h) }
        val files = Multimodal.binarySource(spark, a("--files"))
        val result = size match {
          case Some((w, h)) => Multimodal.resizeImages(files, w, h).toDF()
          case None         => Multimodal.decodeImages(files).toDF()
        }
        writeOr(a, result)(result.show(20, truncate = false))
      case "scrub" =>
        // cross-document exact substring dedup (d10): --output writes the
        // cleaned documents; without it, show the audit of affected docs
        val docs = spark.read.parquet(a("--docs"))
        val n = a.int("--ngram", 5)
        a.get("--output") match {
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
        val vecs = spark.read.parquet(a("--vectors"))
        val m = a.int("--m", 8)
        val books = Vectors.pqTrain(vecs, "vec_id", "embedding", m, a.int("--k", 256),
          sampleFrac = a.double("--sample", 1.0))
        val codes = Vectors.pqCodes(vecs, "vec_id", "embedding", books, m)
        a.get("--output") match {
          case Some(out) =>
            books.write.mode("overwrite").parquet(s"$out/books")
            codes.write.mode("overwrite").parquet(s"$out/codes")
            println(s"[pq] books + codes written to $out")
          case None => codes.show(10, truncate = false)
        }
      case "snapshot" =>
        // versioned-snapshot table maintenance: append an epoch, read as
        // of a version (default: latest), or compact history
        val dir = a("--dir")
        val keys = a.get("--keys").map(_.split(",").toSeq).getOrElse(Seq("k"))
        // arbitrary user parquet: enforce the one-row-per-key contract
        for (src <- a.get("--write-epoch"); v <- a.int("--version"))
          Snapshots.writeEpoch(spark.read.parquet(src), dir, v, uniqueOn = keys)
        a.int("--compact-to").foreach(Snapshots.compactTo(spark, dir, keys, _))
        val asOf = a.int("--as-of").orElse(Snapshots.versions(spark, dir).lastOption)
        asOf.foreach { v =>
          val snap = Snapshots.readAsOf(spark, dir, keys, v)
          writeOr(a, snap)(snap.show(20, truncate = false))
        }
    }
}

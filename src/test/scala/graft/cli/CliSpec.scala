package graft.cli

import graft.SparkSpec
import java.nio.file.Files

/** Smoke tests for the CLI arg surface — the flag parsing and wiring into
  * the pipeline operators, driven through Main.run on the shared session
  * (Main.main owns and stops its own session).
  */
class CliSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("dedup subcommand: --pre-clean and --decontaminate reach the pipeline") {
    val long = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer"
    val evalText = "held out benchmark question about the capital of france " +
      "and its famous tower near the river in the spring"
    val docs = Seq(
      (1L, "<p>" + long + " reach me at carol@example.org</p>", "a"),
      (2L, "leaked copy of the held out benchmark question about the " +
        "capital of france pasted into otherwise long unremarkable prose " +
        "about european travel and geography for padding", "b"),
      (3L, "completely different content about spark shuffles and " +
        "partitions and aggregate hash maps spilling to local disk under " +
        "memory pressure during wide transformations at large scale", "b"))
      .toDF("doc_id", "text", "source")
    val docsDir = tmpDir("cli_docs")
    val evalDir = tmpDir("cli_eval")
    val outDir = tmpDir("cli_out") + "/kept"
    docs.write.mode("overwrite").parquet(docsDir)
    Seq((100L, evalText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(evalDir)
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--pre-clean", "--decontaminate", evalDir, "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(kept.keySet === Set(1L, 3L), s"got ${kept.keySet}")
    assert(!kept(1L).contains("carol@example.org") && !kept(1L).contains("<p>"))
    assert(kept(1L).contains("<EMAIL>"))
  }

  test("dedup subcommand: --url-col/--domain-gate drop denied registrable domains first") {
    val docsDir = tmpDir("cli_dg_docs")
    val denyDir = tmpDir("cli_dg_deny")
    val outDir = tmpDir("cli_dg_out") + "/kept"
    Seq(
      (1L, "https://www.spamfarm.com/offer", "one alpha beta gamma delta"),
      (2L, "https://cdn.spamfarm.com/asset", "two epsilon zeta eta theta"),
      (3L, "https://example.org/fine", "three iota kappa lambda mu"))
      .toDF("doc_id", "url", "text")
      .write.mode("overwrite").parquet(docsDir)
    Seq("spamfarm.com").toDF("domain")
      .write.mode("overwrite").parquet(denyDir)
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--url-col", "url",
      "--domain-gate", denyDir, "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L), s"got $kept")
  }

  test("dedup subcommand: --psl re-keys the domain gate by the full suffix list") {
    val docsDir = tmpDir("cli_psl_docs")
    val denyDir = tmpDir("cli_psl_deny")
    val pslFile = tmpDir("cli_psl") + "/psl.dat"
    val outDir = tmpDir("cli_psl_out") + "/kept"
    Seq(
      (1L, "https://www.spamfarm.com.ar/offer", "one alpha beta gamma delta"),
      (2L, "https://cdn.spamfarm.com.ar/asset", "two epsilon zeta eta theta"),
      (3L, "https://fine.com.ar/ok", "three iota kappa lambda mu"))
      .toDF("doc_id", "url", "text")
      .write.mode("overwrite").parquet(docsDir)
    // deny the REGISTRABLE domain under the full list; without --psl the
    // parsed domain would be "com.ar" for every doc and the deny entry
    // could never match just the spam site
    Seq("spamfarm.com.ar").toDF("domain")
      .write.mode("overwrite").parquet(denyDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pslFile),
      "// psl\ncom.ar\n")
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--url-col", "url",
      "--domain-gate", denyDir, "--psl", pslFile, "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L), s"got $kept")
  }

  test("dedup subcommand: --lm-target/--lm-min-logp run the CCNet perplexity gate") {
    val docsDir = tmpDir("cli_lm_docs")
    val tgtDir = tmpDir("cli_lm_tgt")
    val outDir = tmpDir("cli_lm_out") + "/kept"
    val target = Seq("the cat sat on the mat", "the cat sat on the rug",
      "the dog sat on the mat").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zq xv wk jn qp mm ll"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(docsDir)
    target.write.mode("overwrite").parquet(tgtDir)
    // cutoff halfway between the two scores, derived from the scorer
    val s = graft.text.TextFunctions.scoreKn(docs,
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        graft.text.TextFunctions.fitKn(target,
          org.apache.spark.sql.functions.col("text"), 3))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val cut = (s(1L) + s(2L)) / 2
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--lm-target", tgtDir,
      "--lm-min-logp", cut.toString, "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L), s"got $kept")
  }

  test("dedup subcommand: --lm-order 5 routes the gate through the generic KN path") {
    val docsDir = tmpDir("cli_lm5_docs")
    val tgtDir = tmpDir("cli_lm5_tgt")
    val outDir = tmpDir("cli_lm5_out") + "/kept"
    val target = Seq("the cat sat on the mat today here",
      "the cat sat on the rug today here").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat today"),
      (2L, "zq xv wk jn qp mm ll"),
      (3L, "four token doc here"))  // < 5 tokens — unscorable, passes
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(docsDir)
    target.write.mode("overwrite").parquet(tgtDir)
    val s = graft.text.TextFunctions.scoreKn(docs,
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        graft.text.TextFunctions.fitKn(target,
          org.apache.spark.sql.functions.col("text"), 5))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val cut = (s(1L) + s(2L)) / 2
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--lm-target", tgtDir,
      "--lm-min-logp", cut.toString, "--lm-order", "5",
      "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L), s"got $kept")
  }

  test("--lm-order without --lm-target fails loudly before any read") {
    // --docs names a path that does not exist: reaching the read would
    // raise a path-not-found error instead of the flag message
    val absent = tmpDir("cli_lmorder") + "/absent"
    for (cmd <- Seq(Array("dedup", "--output", absent + "_out"),
                    Array("ingest-daily", "--band-table", "cli_lmorder_band"))) {
      val e = intercept[IllegalArgumentException] {
        Main.run(spark, cmd ++ Array("--docs", absent, "--lm-order", "5"))
      }
      assert(e.getMessage.contains("--lm-order") &&
        e.getMessage.contains("--lm-target"), e.getMessage)
    }
  }

  test("dedup subcommand: --lang-seed/--lang-keep train and run the language gate") {
    val docsDir = tmpDir("cli_lang_docs")
    val seedDir = tmpDir("cli_lang_seed")
    val outDir = tmpDir("cli_lang_out") + "/kept"
    // 4-language seed (the LangIdClassifierSpec set — a 2-head model is
    // too weak for deterministic held-out assertions); docs drawn from
    // the seed so the gate decision is pinned by train-set accuracy
    Seq(
      ("the quick brown fox jumps over the lazy dog and the cat sleeps", "en"),
      ("she said that this is the best thing with the right words", "en"),
      ("der schnelle braune fuchs springt über den faulen hund und die katze", "de"),
      ("sie sagte daß dies das beste ding mit den richtigen wörtern ist", "de"),
      ("el rápido zorro marrón salta sobre el perro perezoso y el niño", "es"),
      ("ella dijo que esto es lo mejor con las palabras señaladas así", "es"),
      ("le renard brun rapide saute par dessus le chien paresseux déjà", "fr"),
      ("elle a dit que c'était la meilleure chose avec les bons mots", "fr"))
      .toDF("text", "lang").write.mode("overwrite").parquet(seedDir)
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the cat sleeps"),
      (2L, "der schnelle braune fuchs springt über den faulen hund und die katze"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--lang-seed", seedDir,
      "--lang-keep", "en", "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L), s"got $kept")
    // one flag without the other fails loudly (the lmGateKn discipline)
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("dedup", "--docs", docsDir,
        "--min-quality", "0.0", "--lang-keep", "en"))
    }
    assert(e.getMessage.contains("--lang-seed"), e.getMessage)
  }

  test("dedup subcommand: --wet ingests WET shards, uniquified doc ids, url stages keyed by default") {
    import org.apache.spark.sql.functions._
    val wetDir = tmpDir("cli_wet_in")
    val outDir = tmpDir("cli_wet_out") + "/kept"
    // two re-crawls of one canonical page (tracking param / fragment
    // differ) + one distinct page CRAWLED TWICE under the IDENTICAL url
    // (real WET shards repeat WARC-Target-URI — with the bare URL as doc
    // id the chain's unique-id contract broke undetectably, r15 ADVICE;
    // ids are now url#file:record_ix, so the exact recrawl enters as two
    // docs and exact-text dedup collapses it). --url-dedup must collapse
    // the canonical pair with NO --url-col flag — the wet source wires it
    val rows = Seq(
      ("https://site-a.com/page?utm_source=x", "2024-01-01 00:00:01",
        "the cat sat on the mat and purred quietly today ok fine"),
      ("https://site-a.com/page#frag", "2024-01-01 00:00:02",
        "the cat sat on the mat and purred quietly today ok fine"),
      ("https://site-b.com/other", "2024-01-01 00:00:03",
        "an entirely different page about spark pipelines and scale"),
      ("https://site-b.com/other", "2024-01-01 00:00:04",
        "an entirely different page about spark pipelines and scale"))
      .toDF("url", "ts", "text")
      .withColumn("ts", col("ts").cast("timestamp"))
    graft.sources.Wet.writeWetShards(rows, "url", "ts", "text", wetDir, 2)
    Main.run(spark, Array("dedup", "--wet", wetDir,
      "--min-quality", "0.0", "--url-dedup", "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[String].collect().toSet
    assert(kept.size === 2, kept)
    assert(kept.count(_.startsWith("https://site-b.com/other#")) === 1, kept)
    assert(kept.count(_.startsWith("https://site-a.com/page")) === 1, kept)
    // the original url column rides through for provenance
    val urls = spark.read.parquet(outDir).select("url")
      .as[String].collect().toSet
    assert(urls.forall(!_.contains("#shard")), urls)
    // --docs and --wet together (or neither) fail loudly
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("dedup", "--output", outDir))
    }
    assert(e.getMessage.contains("--wet"), e.getMessage)
  }

  test("dedup subcommand: --warc ingests raw-crawl responses, extracts text, script bodies never reach the corpus") {
    import org.apache.spark.sql.functions._
    val warcDir = tmpDir("cli_warc_in")
    val outDir = tmpDir("cli_warc_out") + "/kept"
    def page(body: String): String =
      "<html><head><style>p{color:red}</style></head><body>" +
        "<nav><ul><li><a href=\"/\">HomeNav</a></li>" +
        "<li><a href=\"/about\">AboutNav</a></li></ul></nav>" +
        "<script>var tracker = 1;</script><p>" + body + "</p>" +
        "<footer><a href=\"/privacy\">PrivacyFoot</a> | " +
        "<a href=\"/terms\">TermsFoot</a></footer></body></html>"
    // two near-dup pages (same prose, one extra word) + one distinct —
    // dedup must collapse the pair on the EXTRACTED text, and no
    // script/style body may survive extraction into the kept corpus
    val rows = Seq(
      ("https://w1.example/a", "2024-01-01 00:00:01",
        page("the cat sat on the mat and purred quietly today ok fine"),
        "utf-8"),
      ("https://w2.example/b", "2024-01-01 00:00:02",
        page("the cat sat on the mat and purred quietly today ok fine now"),
        null.asInstanceOf[String]),
      ("https://w3.example/c", "2024-01-01 00:00:03",
        page("an entirely different page about spark pipelines and scale"),
        "utf-8"))
      .toDF("url", "ts", "html", "cs")
      .withColumn("ts", col("ts").cast("timestamp"))
    graft.sources.Wet.writeWarcShards(rows, "url", "ts", "html", Some("cs"),
      warcDir, 2)
    // crawls also serve bare text/css and text/javascript files — the
    // stage-0 type filter must route every non-prose text/* subtype away
    // from the corpus (r16 ADVICE: a blanket text/* let stylesheet and
    // script FILES through, the very leak extractHtmlText closed for
    // inline content)
    val machineDir = tmpDir("cli_warc_machine")
    val machineRows = Seq(
      ("https://w4.example/site.css", "2024-01-01 00:00:04", "text/css",
        "body { margin: 0; } .banner { display: none; } /* sitewide */"),
      ("https://w5.example/app.js", "2024-01-01 00:00:05", "text/javascript",
        "function track(uid) { return uid + 1; } // analytics stub"))
      .toDF("url", "ts", "ct", "body")
      .select(col("url"), col("ts").cast("timestamp").as("ts"), col("ct"),
        col("body").cast("binary").as("body"))
    graft.sources.Wet.writeWarcBinaryShards(machineRows, "url", "ts",
      "body", "ct", machineDir, 1)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(machineDir, "shard-00000.warc"),
      java.nio.file.Paths.get(warcDir, "machine-types.warc"))
    Main.run(spark, Array("dedup", "--warc", warcDir,
      "--min-quality", "0.0", "--min-jaccard", "0.3", "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(String, String)].collect()
    assert(kept.length === 2, kept.toSeq)
    assert(kept.count(_._1.startsWith("https://w3.example/c#")) === 1)
    assert(kept.forall(r => !r._2.contains("var tracker")), kept.toSeq)
    assert(kept.forall(r => !r._2.contains("color:red")), kept.toSeq)
    assert(kept.forall(r => !r._2.contains("<p>")), kept.toSeq)
    // the css/js FILES never became documents
    assert(kept.forall(r => !r._1.contains("w4.example") &&
      !r._1.contains("w5.example")), kept.toSeq)
    // DOM-BLOCK boilerplate removal is the --warc default (r17): the
    // planted nav menu and footer links never reach the kept corpus
    assert(kept.forall(r => !r._2.contains("HomeNav") &&
      !r._2.contains("AboutNav") && !r._2.contains("PrivacyFoot")),
      kept.toSeq)
    // --no-block-filter opts out to the tag-level extraction: menu text
    // survives (proving the default actually did the removal)
    val outDir2 = tmpDir("cli_warc_out2") + "/kept"
    Main.run(spark, Array("dedup", "--warc", warcDir, "--no-block-filter",
      "--min-quality", "0.0", "--min-jaccard", "0.3", "--output", outDir2))
    val kept2 = spark.read.parquet(outDir2)
      .select("doc_id", "text").as[(String, String)].collect()
    assert(kept2.exists(_._2.contains("HomeNav")), kept2.toSeq)
  }

  test("dedup --warc --warc-docs: pdf/docx payloads become corpus text in-engine; media blobs and unreadable documents route away") {
    import org.apache.spark.sql.functions._
    import graft.multimodal.DocFormats
    val warcDir = tmpDir("cli_warcdocs_in")
    val pageRows = Seq(
      ("https://wd.example/page", "2024-01-01 00:00:01",
        "<html><body><p>an ordinary prose page about spark scale " +
          "pipelines running fine</p></body></html>", "utf-8"))
      .toDF("url", "ts", "html", "cs")
      .withColumn("ts", col("ts").cast("timestamp"))
    graft.sources.Wet.writeWarcShards(pageRows, "url", "ts", "html",
      Some("cs"), warcDir, 1)
    val pdfText = "annual engineering report body with many plain words"
    val docxText = "board meeting minutes body with several simple words"
    val epubText = "the universal book of long prose chapters about engines"
    val rtfText = "legacy word processor notes body with distinct wording"
    val binDir = tmpDir("cli_warcdocs_bin")
    val binRows = Seq(
      ("https://wd.example/report.pdf", "2024-01-01 00:00:02",
        "application/pdf", DocFormats.pdfFixture(pdfText, flate = true)),
      ("https://wd.example/book.epub", "2024-01-01 00:00:06",
        "application/epub+zip", DocFormats.epubFixture(epubText)),
      ("https://wd.example/notes.rtf", "2024-01-01 00:00:07",
        "application/rtf", DocFormats.rtfFixture(rtfText)),
      ("https://wd.example/minutes.docx", "2024-01-01 00:00:03",
        // real crawls serve office files under junk types — the magic
        // header, not this string, must drive the routing
        "application/octet-stream", DocFormats.docxFixture(docxText)),
      ("https://wd.example/logo.png", "2024-01-01 00:00:04", "image/png",
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 0, 0)),
      ("https://wd.example/data.zip", "2024-01-01 00:00:05",
        "application/zip", {
          // a zip with no WordprocessingML member: extracts to '' and
          // must route OUT (never enter the corpus as an empty doc)
          val bos = new java.io.ByteArrayOutputStream()
          val zo = new java.util.zip.ZipOutputStream(bos)
          val ze = new java.util.zip.ZipEntry("data.csv"); ze.setTime(0L)
          zo.putNextEntry(ze); zo.write("a,b\n1,2".getBytes("UTF-8"))
          zo.closeEntry(); zo.close(); bos.toByteArray
        }))
      .toDF("url", "ts", "ct", "body")
      .select(col("url"), col("ts").cast("timestamp").as("ts"), col("ct"),
        col("body"))
    graft.sources.Wet.writeWarcBinaryShards(binRows, "url", "ts", "body",
      "ct", binDir, 1)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(binDir, "shard-00000.warc"),
      java.nio.file.Paths.get(warcDir, "documents.warc"))
    val outDir = tmpDir("cli_warcdocs_out") + "/kept"
    Main.run(spark, Array("dedup", "--warc", warcDir, "--warc-docs",
      "--min-quality", "0.0", "--min-jaccard", "0.3", "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(String, String)].collect()
    assert(kept.length === 5, kept.toSeq)
    val byUrl = kept.map(r => r._1.takeWhile(_ != '#') -> r).toMap
    assert(byUrl("https://wd.example/report.pdf")._2 === pdfText)
    assert(byUrl("https://wd.example/minutes.docx")._2 === docxText)
    // the epub's chapters ran through the PAGE extractor (DOM-block
    // default): chapter text survives, <head> titles do not
    assert(byUrl("https://wd.example/book.epub")._2 === epubText)
    assert(byUrl("https://wd.example/notes.rtf")._2 === rtfText)
    // binary-side ids carry the ':b' ordinal marker (collision-proof
    // against the text walk's numbering)
    assert(byUrl("https://wd.example/report.pdf")._1.contains(":b"))
    // media blob and text-less zip never became documents
    assert(!byUrl.contains("https://wd.example/logo.png"))
    assert(!byUrl.contains("https://wd.example/data.zip"))
    // without the flag, document payloads stay on the binary path
    val outDir2 = tmpDir("cli_warcdocs_out2") + "/kept"
    Main.run(spark, Array("dedup", "--warc", warcDir,
      "--min-quality", "0.0", "--min-jaccard", "0.3", "--output", outDir2))
    val kept2 = spark.read.parquet(outDir2)
      .select("doc_id").as[String].collect()
    assert(kept2.length === 1 &&
      kept2.head.startsWith("https://wd.example/page#"), kept2.toSeq)
  }

  test("--lang-seed with an absurd label count fails loudly before the driver collect (r17 guard)") {
    val docsDir = tmpDir("cli_langguard_docs")
    Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    val seedDir = tmpDir("cli_langguard_seed")
    spark.range(0, 600)
      .selectExpr("'text for lang' AS text", "concat('l', id) AS lang")
      .write.mode("overwrite").parquet(seedDir)
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("dedup", "--docs", docsDir,
        "--min-quality", "0.0", "--lang-seed", seedDir,
        "--lang-keep", "l1", "--output", tmpDir("cli_langguard_out") + "/k"))
    }
    assert(e.getMessage.contains("distinct lang labels"), e.getMessage)
  }

  test("dedup subcommand: --domain-gate without --url-col fails loudly") {
    val docsDir = tmpDir("cli_req_docs")
    val denyDir = tmpDir("cli_req_deny")
    Seq((1L, "https://a.example.com/x", "alpha beta gamma delta"))
      .toDF("doc_id", "url", "text")
      .write.mode("overwrite").parquet(docsDir)
    Seq("example.com").toDF("domain")
      .write.mode("overwrite").parquet(denyDir)
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("dedup", "--docs", docsDir,
        "--min-quality", "0.0", "--domain-gate", denyDir))
    }
    assert(e.getMessage.contains("--url-col"), e.getMessage)
  }

  test("dedup subcommand: --keep-by length keeps the longest cluster member") {
    val near = "the quick brown fox jumps over the lazy dog near the " +
      "riverbank every single morning before the sun rises over the hills"
    val docsDir = tmpDir("cli_kb_docs")
    val outDir = tmpDir("cli_kb_out") + "/kept"
    Seq((1L, near, "a"), (2L, near + " and keeps running", "a"),
      (3L, "completely different text about container ships unloading " +
        "beneath sodium lamps at the harbor through the night", "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(docsDir)
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--keep-by", "length", "--output", outDir))
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L), s"got $kept")
  }

  test("ingest-daily: band append + d9 candidates + verify + vector append + compaction, end-to-end") {
    import graft.ann.Vectors
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    // day-0 corpus: 6 distinct docs; day-1 shard re-ingests doc 2's text
    // under a new id (101) plus one genuinely new doc (102)
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "spark shuffles partition data across executors during wide stages",
      4L -> "mountain trails wind through cedar groves toward the snow line",
      5L -> "harbor cranes unload container ships beneath bright sodium lamps",
      6L -> "desert winds carve long ridges into the shifting orange dunes")
    val corpus = texts.toDF("doc_id", "text")
    val shard = Seq(
      101L -> "the quick brown fox jumps over the lazy dog near the river bank",
      102L -> "subway platforms echo with late night maintenance announcements")
      .toDF("doc_id", "text")
    val corpusDir = tmpDir("cli_corpus"); corpus.write.mode("overwrite").parquet(corpusDir)
    val shardDir = tmpDir("cli_shard"); shard.write.mode("overwrite").parquet(shardDir)
    // day-0 band index (the persisted artifact tomorrow's shard joins)
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "cli_band_idx", buckets = 4)
    val bandFiles0 = Bucketing.dataFiles(spark, "cli_band_idx").size
    // day-0 IVF-PQ index with frozen quantizers + baseline MSE
    val rnd = new scala.util.Random(7)
    val base = (0L until 20L).map(i => (i, Array.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val m = 2
    val books = Vectors.pqCodebooksStep(base, "vec_id", "embedding", m, 5)
    val cents = Vectors.stepCentroids(base, "vec_id", "embedding", 5)
    val baseMse = Vectors.meanPqMse(base, "vec_id", "embedding", books, m)
    Vectors.writeIvfPqIndex(
      Vectors.ivfPqIndex(base, "vec_id", "embedding", cents, books, m),
      "cli_vec_idx", 4)
    val shardVecs = (100L until 105L)
      .map(i => (i, Array.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val centsDir = tmpDir("cli_cents"); cents.write.mode("overwrite").parquet(centsDir)
    val booksDir = tmpDir("cli_books"); books.write.mode("overwrite").parquet(booksDir)
    val vecsDir = tmpDir("cli_vecs"); shardVecs.write.mode("overwrite").parquet(vecsDir)
    val outDir = tmpDir("cli_ingout") + "/pairs"
    Main.run(spark, Array("ingest-daily",
      "--docs", shardDir, "--corpus", corpusDir,
      "--band-table", "cli_band_idx", "--buckets", "4",
      "--min-jaccard", "0.5",
      "--vectors", vecsDir, "--vec-table", "cli_vec_idx",
      "--cents", centsDir, "--books", booksDir, "--m", m.toString,
      "--baseline-mse", baseMse.toString, "--vec-buckets", "4",
      "--compact-every", "1", "--output", outDir, "--audit"))
    // the re-ingested text verifies against its day-0 twin
    val pairs = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((2L, 101L)), s"got $pairs")
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L))
    // the shard's signatures were folded into the band index
    val idx = Dedup.readBandIndex(spark, "cli_band_idx")
    assert(idx.filter(col("doc_id") === 101L).count() === 2) // 8 seeds / 4
    // vectors appended: (20 base + 5 shard) docs × m code rows
    assert(Vectors.readIvfPqIndex(spark, "cli_vec_idx").count() === 25L * m)
    // compaction ran (6 files ≥ compact-every × 4 buckets) and collapsed
    // the band index back to one file per bucket
    assert(Bucketing.dataFiles(spark, "cli_band_idx").size === 4)
    assert(bandFiles0 === 4)
    // day-2 ingest against the compacted index still works (the spec
    // survives the rewrite): same shard re-run proposes the same 2-101
    // pair plus 101's self-index hit being excluded
    val cands2 = Dedup.incrementalCandidatePairs(
      Dedup.bandedSignatures(Dedup.minhashSignatures(
        shard, col("doc_id"), col("text"), 8), 4),
      Dedup.readBandIndex(spark, "cli_band_idx"))
      .as[(Long, Long)].collect().toSet
    assert(cands2.contains((2L, 101L)))
  }

  test("ingest-daily --warc: a day's raw-crawl drop ingests against the maintained index, string-keyed") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS cli_warc_band")
    // day-0 corpus and band index, URL-string-keyed (the ids a crawl
    // pipeline actually carries)
    val corpus = Seq(
      ("u://day0/a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("u://day0/b", "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    val corpusDir = tmpDir("cli_warc_corpus")
    corpus.write.mode("overwrite").parquet(corpusDir)
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "cli_warc_band", buckets = 4)
    // day-1 arrives as a raw WARC drop: one page whose EXTRACTED text
    // re-crawls day-0 doc b, one genuinely new page — both script-laden
    val warcDir = tmpDir("cli_warc_daily")
    def page(b: String): String =
      "<html><head><style>x{}</style></head><body>" +
        "<script>var t = 9;</script><p>" + b + "</p></body></html>"
    val rows = Seq(
      ("https://crawl.example/dup", "2024-02-01 00:00:01",
        page("the quick brown fox jumps over the lazy dog near the river bank"),
        "utf-8"),
      ("https://crawl.example/new", "2024-02-01 00:00:02",
        page("subway platforms echo with late night maintenance announcements"),
        "utf-8"))
      .toDF("url", "ts", "html", "cs")
      .withColumn("ts", col("ts").cast("timestamp"))
    graft.sources.Wet.writeWarcShards(rows, "url", "ts", "html", Some("cs"),
      warcDir, 1)
    val outDir = tmpDir("cli_warc_daily_out") + "/pairs"
    Main.run(spark, Array("ingest-daily", "--warc", warcDir,
      "--corpus", corpusDir, "--band-table", "cli_warc_band",
      "--buckets", "4", "--min-jaccard", "0.5", "--output", outDir))
    val pairs = spark.read.parquet(outDir).select("doc_a", "doc_b")
      .as[(String, String)].collect().toSet
    assert(pairs.exists(p => Set(p._1, p._2).contains("u://day0/b") &&
      (p._1 + p._2).contains("https://crawl.example/dup#")), pairs)
    assert(!pairs.exists(p => (p._1 + p._2).contains("/new#")), pairs)
    // the crawl's uniquified ids were folded into the maintained index
    val idx = Dedup.readBandIndex(spark, "cli_warc_band")
    assert(idx.filter(col("doc_id")
      .startsWith("https://crawl.example/dup#")).count() === 2)
    assert(idx.filter(col("doc_id")
      .startsWith("https://crawl.example/new#")).count() === 2)
  }

  test("ingest-daily --min-quality: a garbage shard doc never reaches the band index (day-2 batch-gate parity)") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS cli_q_band")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "cli_q_band", buckets = 4)
    val shardDir = tmpDir("cli_q_shard")
    Seq(
      (100L, "harbor cranes unload container ships beneath sodium lamps"),
      (101L, "#### !!!! %%%% ;;;; @@@@ ^^^^ &&&& ****")) // punct soup
      .toDF("doc_id", "text").write.mode("overwrite").parquet(shardDir)
    Main.run(spark, Array("ingest-daily", "--docs", shardDir,
      "--band-table", "cli_q_band", "--buckets", "4",
      "--min-quality", "0.3"))
    val idx = Dedup.readBandIndex(spark, "cli_q_band")
    assert(idx.filter(col("doc_id") === 100L).count() === 2)
    // previously the daily loop had NO quality stage: the garbage doc's
    // signatures would have been folded in as tomorrow's match source
    assert(idx.filter(col("doc_id") === 101L).count() === 0)
  }

  test("ingest-daily: a malformed number fails before the shard is folded into the band index") {
    spark.sql("DROP TABLE IF EXISTS cli_badnum_band")
    val shardDir = tmpDir("cli_badnum_shard")
    Seq((1L, "harbor cranes unload container ships beneath sodium lamps"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(shardDir)
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-daily", "--docs", shardDir,
        "--band-table", "cli_badnum_band", "--buckets", "4",
        "--compact-every", "x"))
    }
    assert(e.getMessage.contains("--compact-every"), e.getMessage)
    assert(!spark.catalog.tableExists("cli_badnum_band"))
  }

  test("ingest-daily --line-freq-table: day-2 banner scrubbed via persisted counts; shard counts fold in") {
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS cli_lf"); spark.sql("DROP TABLE IF EXISTS cli_lf_band")
    val banner = "accept all cookies to continue browsing"
    val day1 = Seq(
      1L -> s"$banner\nglaciers calve into turquoise fjord water",
      2L -> s"$banner\nviolin sections tune against the oboe drone")
      .toDF("doc_id", "text")
    val day2 = Seq(
      11L -> s"$banner\nnight markets sell skewers beside neon canals")
      .toDF("doc_id", "text")
    val d1 = tmpDir("cli_lf_d1"); day1.write.mode("overwrite").parquet(d1)
    val d2 = tmpDir("cli_lf_d2"); day2.write.mode("overwrite").parquet(d2)
    // day 1 bootstraps BOTH tables from an empty catalog; banner df 2 ≤ 2
    // survives day 1 (the sharded-scrub contract: day-1 output is as-of)
    Main.run(spark, Array("ingest-daily", "--docs", d1,
      "--band-table", "cli_lf_band", "--buckets", "4",
      "--line-freq-table", "cli_lf", "--line-scrub-df", "2"))
    // day 2: banner global df = 2 (table) + 1 (shard) > 2 → scrubbed, so
    // the shard's signatures carry only the fresh body line
    Main.run(spark, Array("ingest-daily", "--docs", d2,
      "--band-table", "cli_lf_band", "--buckets", "4",
      "--line-freq-table", "cli_lf", "--line-scrub-df", "2",
      "--compact-every", "1"))
    // counts table == batch counts over both days (collapse ran on the
    // --compact-every cadence)
    val got = Dedup.readLineFreq(spark, "cli_lf")
      .as[(Long, Long)].collect().toSet
    val want = Dedup.segmentCounts(day1.union(day2), col("doc_id"),
      split(col("text"), "\n")).as[(Long, Long)].collect().toSet
    assert(got === want)
    // banner hash carries df 3; one file set per bucket after collapse
    val bannerHash = Seq(banner).toDF("seg")
      .select(xxhash64(col("seg"))).as[Long].head()
    assert(got.contains((bannerHash, 3L)))
    // the scrub reached the signature path: doc 11's banded signatures in
    // the index differ from what the UNSCRUBBED text would produce
    val idxSigs = Dedup.readBandIndex(spark, "cli_lf_band")
      .filter(col("doc_id") === 11L)
      .select("band", "band_sig").as[(Long, String)].collect().toSet
    val scrubbedSigs = Dedup.bandedSignatures(Dedup.minhashSignatures(
        Seq(11L -> "night markets sell skewers beside neon canals")
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 8), 4)
      .select("band", "band_sig").as[(Long, String)].collect().toSet
    assert(idxSigs === scrubbedSigs)
    // forget doc 1 (takedown payload carries the text): counts drop to
    // the batch counts over the surviving docs; doc 1's unique body line
    // nets to zero and leaves the table
    val takedown = tmpDir("cli_lf_fg")
    day1.filter(col("doc_id") === 1L).write.mode("overwrite").parquet(takedown)
    Main.run(spark, Array("forget", "--ids", takedown,
      "--line-freq-table", "cli_lf"))
    val got2 = Dedup.readLineFreq(spark, "cli_lf")
      .as[(Long, Long)].collect().toSet
    val want2 = Dedup.segmentCounts(
      day1.filter(col("doc_id") =!= 1L).union(day2), col("doc_id"),
      split(col("text"), "\n")).as[(Long, Long)].collect().toSet
    assert(got2 === want2)
    assert(got2.contains((bannerHash, 2L)))
    spark.sql("DROP TABLE IF EXISTS cli_lf"); spark.sql("DROP TABLE IF EXISTS cli_lf_band")
  }

  test("ingest-daily --lm-target/--lm-min-logp: gated docs never reach the band index") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS cli_lmg_band")
    val target = Seq("the cat sat on the mat", "the cat sat on the rug",
      "the dog sat on the mat").toDF("text")
    val shard = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zq xv wk jn qp mm ll"))
      .toDF("doc_id", "text")
    val docsDir = tmpDir("cli_lmg_docs"); shard.write.mode("overwrite").parquet(docsDir)
    val tgtDir = tmpDir("cli_lmg_tgt"); target.write.mode("overwrite").parquet(tgtDir)
    val s = graft.text.TextFunctions.scoreKn(shard, col("doc_id"),
        col("text"), graft.text.TextFunctions.fitKn(target, col("text"), 3))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val cut = (s(1L) + s(2L)) / 2
    Main.run(spark, Array("ingest-daily", "--docs", docsDir,
      "--band-table", "cli_lmg_band", "--buckets", "4",
      "--lm-target", tgtDir, "--lm-min-logp", cut.toString))
    // the gibberish doc was gated BEFORE signature work: the folded index
    // carries doc 1's bands only — doc 2 can never be tomorrow's match
    val idxDocs = Dedup.readBandIndex(spark, "cli_lmg_band")
      .select("doc_id").as[Long].collect().toSet
    assert(idxDocs === Set(1L), s"got $idxDocs")
    // one flag without the other fails loudly
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Array("ingest-daily", "--docs", docsDir,
        "--band-table", "cli_lmg_band", "--lm-target", tgtDir))
    }
    assert(e.getMessage.contains("--lm-min-logp"), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS cli_lmg_band")
  }

  test("ingest-daily --cluster-table: multi-day delta maintenance equals batch clusters") {
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    // day-0 corpus: 6 distinct docs plus doc 7 duplicating doc 3 (the seed
    // cluster); day-1 duplicates doc 2; day-2 duplicates BOTH day-1's new
    // doc (chain growth) and doc 3 (joining the seed cluster)
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "spark shuffles partition data across executors during wide stages",
      4L -> "mountain trails wind through cedar groves toward the snow line",
      5L -> "harbor cranes unload container ships beneath bright sodium lamps",
      6L -> "desert winds carve long ridges into the shifting orange dunes",
      7L -> "spark shuffles partition data across executors during wide stages")
    val corpus = texts.toDF("doc_id", "text")
    val day1 = Seq(
      101L -> "the quick brown fox jumps over the lazy dog near the river bank",
      102L -> "subway platforms echo with late night maintenance announcements")
      .toDF("doc_id", "text")
    val day2 = Seq(
      201L -> "the quick brown fox jumps over the lazy dog near the river bank",
      202L -> "spark shuffles partition data across executors during wide stages")
      .toDF("doc_id", "text")
    val corpusDir = tmpDir("clc_corpus"); corpus.write.mode("overwrite").parquet(corpusDir)
    val day1Dir = tmpDir("clc_day1"); day1.write.mode("overwrite").parquet(day1Dir)
    val day2Dir = tmpDir("clc_day2"); day2.write.mode("overwrite").parquet(day2Dir)
    // day-2 verification needs day-1's text in the lookup corpus
    val corpus2Dir = tmpDir("clc_corpus2")
    corpus.union(day1).write.mode("overwrite").parquet(corpus2Dir)
    // day-0 artifacts: band index + cluster table seeded from the batch
    // clusters over day-0's own pairs
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "clc_band_idx", buckets = 4)
    val cands0 = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4)
    val seed = Dedup.connectedComponentsStar(
      Dedup.verifyCandidates(corpus, cands0, col("doc_id"), col("text"), 3, 0.5),
      "doc_a", "doc_b")
    Dedup.writeClusterAssignment(seed, "clc_clusters", buckets = 4)
    assert(Dedup.readClusterAssignment(spark, "clc_clusters")
      .as[(Long, Long)].collect().toMap === Map(3L -> 3L, 7L -> 3L))
    def day(docs: String, lookup: String): Unit =
      Main.run(spark, Array("ingest-daily",
        "--docs", docs, "--corpus", lookup,
        "--band-table", "clc_band_idx", "--buckets", "4",
        "--min-jaccard", "0.5", "--cluster-table", "clc_clusters",
        "--pair-log", "clc_pairs",
        "--compact-every", "1", "--audit"))
    day(day1Dir, corpusDir)
    day(day2Dir, corpus2Dir)
    val live = Dedup.readClusterAssignment(spark, "clc_clusters")
      .as[(Long, Long)].collect().toMap
    // chain {2,101,201} labels 2; seed cluster {3,7} grew to include 202;
    // the pairless doc 102 never enters the assignment
    assert(live === Map(2L -> 2L, 101L -> 2L, 201L -> 2L,
      3L -> 3L, 7L -> 3L, 202L -> 3L), s"got $live")
    // compaction (due every ingest here) collapsed the epoch history to
    // one LWW row per doc and at most one file per (non-empty) bucket,
    // preserving the view
    assert(Bucketing.dataFiles(spark, "clc_clusters").size <= 4)
    assert(spark.table("clc_clusters").groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 0L)
    // the pair log accumulated both days' verified edges (what a later
    // exact `forget` repair replays)
    val logged = spark.table("clc_pairs").as[(Long, Long)].collect().toSet
    assert(logged === Set((2L, 101L), (2L, 201L), (101L, 201L), (3L, 202L),
      (7L, 202L)), s"got $logged")
  }

  test("ingest-daily accepts STRING doc ids end-to-end (band index + cluster table + pair log)") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS clis_band")
    spark.sql("DROP TABLE IF EXISTS clis_clusters")
    spark.sql("DROP TABLE IF EXISTS clis_pairs")
    // string keys end-to-end: stems and URLs, the shapes real corpora
    // key on — the whole day-2 loop (band index, candidates, verify,
    // cluster fold-in, pair log) must run without a long cast anywhere
    val corpus = Seq(
      "stem-a"  -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "stem-b"  -> "the quick brown fox jumps over the lazy dog near the river bank",
      "stem-c"  -> "spark shuffles partition data across executors during wide stages",
      "stem-c2" -> "spark shuffles partition data across executors during wide stages")
      .toDF("doc_id", "text")
    val day1 = Seq(
      "url://x1" -> "the quick brown fox jumps over the lazy dog near the river bank",
      "url://x2" -> "subway platforms echo with late night maintenance announcements")
      .toDF("doc_id", "text")
    val corpusDir = tmpDir("clis_corpus")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val day1Dir = tmpDir("clis_day1")
    day1.write.mode("overwrite").parquet(day1Dir)
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "clis_band", buckets = 4)
    val cands0 = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4)
    val seed = Dedup.connectedComponentsStar(
      Dedup.verifyCandidates(corpus, cands0, col("doc_id"), col("text"),
        3, 0.5),
      "doc_a", "doc_b")
    Dedup.writeClusterAssignment(seed, "clis_clusters", buckets = 4)
    assert(Dedup.readClusterAssignment(spark, "clis_clusters")
      .as[(String, String)].collect().toMap
      === Map("stem-c" -> "stem-c", "stem-c2" -> "stem-c"))
    Main.run(spark, Array("ingest-daily",
      "--docs", day1Dir, "--corpus", corpusDir,
      "--band-table", "clis_band", "--buckets", "4",
      "--min-jaccard", "0.5", "--cluster-table", "clis_clusters",
      "--pair-log", "clis_pairs", "--audit"))
    val live = Dedup.readClusterAssignment(spark, "clis_clusters")
      .as[(String, String)].collect().toMap
    assert(live === Map("stem-c" -> "stem-c", "stem-c2" -> "stem-c",
      "stem-b" -> "stem-b", "url://x1" -> "stem-b"), s"got $live")
    val logged = spark.table("clis_pairs")
      .select("doc_a", "doc_b").as[(String, String)].collect().toSet
    assert(logged === Set(("stem-b", "url://x1")), s"got $logged")
    spark.sql("DROP TABLE IF EXISTS clis_band")
    spark.sql("DROP TABLE IF EXISTS clis_clusters")
    spark.sql("DROP TABLE IF EXISTS clis_pairs")
  }

  test("forget: deletion request propagates across band index, semantic index, and cluster table") {
    import graft.ann.Vectors
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    // band index over docs 1..8; cluster {1,2,3} labeled 1, {6,7} labeled 6
    val docs = (1L to 8L).map(i => (i, s"document number $i body " +
      Seq.fill(8)(rnd.nextInt(50)).mkString(" "))).toDF("doc_id", "text")
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4),
      "fg_band_idx", buckets = 4)
    Dedup.writeClusterAssignment(Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (6L, 6L), (7L, 6L)).toDF("doc_id", "cluster"), "fg_clusters", buckets = 4)
    // semantic index over vectors 1..8
    val vecs = (1L to 8L).map(i => (i, Array.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val cents = Vectors.stepCentroids(vecs, "vec_id", "embedding", 3)
    Vectors.writeSemanticIndex(vecs, "vec_id", "embedding", cents,
      "fg_sem_idx", buckets = 4)
    // forget docs 1 (the {1,2,3} REPRESENTATIVE) and 7 (a plain member)
    val idsDir = tmpDir("fg_ids")
    Seq(1L, 7L).toDF("doc_id")
      .withColumn("vec_id", col("doc_id"))
      .write.mode("overwrite").parquet(idsDir)
    Main.run(spark, Array("forget", "--ids", idsDir,
      "--band-table", "fg_band_idx", "--sem-table", "fg_sem_idx",
      "--cluster-table", "fg_clusters"))
    // band + semantic: rows physically gone, survivors intact
    assert(Dedup.readBandIndex(spark, "fg_band_idx")
      .filter(col("doc_id").isin(1L, 7L)).count() === 0L)
    assert(Dedup.readBandIndex(spark, "fg_band_idx")
      .select("doc_id").distinct().count() === 6L)
    assert(Vectors.readSemanticIndex(spark, "fg_sem_idx")
      .filter(col("vec_id").isin(1L, 7L)).count() === 0L)
    // cluster table: forgotten rows gone; the orphaned label 1 repaired to
    // the new minimum member 2; cluster 6 keeps its label (6 survives)
    val live = Dedup.readClusterAssignment(spark, "fg_clusters")
      .as[(Long, Long)].collect().toMap
    assert(live === Map(2L -> 2L, 3L -> 2L, 6L -> 6L), s"got $live")
    // the rewrite stayed bucketed: day-2 ingest machinery still reads it
    assert(Bucketing.bucketCount(spark, "fg_clusters") === 4)
  }

  test("ingest-daily --fp-parquet: perceptual fingerprints ride the same loop") {
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    // day-0 corpus of 16-bit fingerprints; the shard re-ingests a 1-bit
    // nudge of doc 2 (near-dup) plus a genuinely new fingerprint
    val corpusFps = Seq(1L -> 0x5555L, 2L -> 0x7FFFL, 3L -> 0x00F0L)
      .toDF("doc_id", "fp")
    val shardFps = Seq(201L -> 0x7FFBL, 202L -> 0x8000L).toDF("doc_id", "fp")
    spark.sql("DROP TABLE IF EXISTS cli_fp_idx")
    Dedup.writeBandIndex(Dedup.fingerprintBands(corpusFps,
      col("doc_id"), col("fp"), 16, 8), "cli_fp_idx", buckets = 4)
    val corpusDir = tmpDir("cli_fpc")
    corpusFps.write.mode("overwrite").parquet(corpusDir)
    val shardDir = tmpDir("cli_fps")
    shardFps.write.mode("overwrite").parquet(shardDir)
    // text side: reuse the shard fps dir? no — minimal distinct docs so the
    // text branch runs but proposes nothing
    val docsDir = tmpDir("cli_fpd")
    Seq(301L -> "completely unrelated words about compilers and lattices")
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    spark.sql("DROP TABLE IF EXISTS cli_fp_band_idx")
    Dedup.writeBandIndex(Dedup.bandedSignatures(Dedup.minhashSignatures(
      Seq(300L -> "day zero text corpus entry with its own distinct words")
        .toDF("doc_id", "text"), col("doc_id"), col("text"), 8), 4),
      "cli_fp_band_idx", buckets = 4)
    val fpOut = tmpDir("cli_fpout") + "/fp_pairs"
    Main.run(spark, Array("ingest-daily",
      "--docs", docsDir, "--band-table", "cli_fp_band_idx", "--buckets", "4",
      "--fp-parquet", shardDir, "--fp-table", "cli_fp_idx",
      "--fp-corpus", corpusDir, "--fp-output", fpOut,
      "--compact-every", "1", "--audit"))
    // the nudged fingerprint verifies against its day-0 twin at Hamming 1
    val pairs = spark.read.parquet(fpOut)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(pairs === Set((2L, 201L, 1)), s"got $pairs")
    // the shard's bands were folded into the fp index and compacted
    assert(Dedup.readBandIndex(spark, "cli_fp_idx")
      .filter(col("doc_id") === 201L).count() === 2) // 16 bits / 8 per band
    // compaction collapsed the append debt: at most one file per bucket
    val files = Bucketing.dataFiles(spark, "cli_fp_idx").size
    assert(files >= 1 && files <= 4, s"got $files files")
  }

  test("ingest-daily --sem-vectors: embedding shard pairs against the semantic index") {
    import graft.ann.Vectors
    import org.apache.spark.sql.functions._
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    // base corpus in two cells (step-3 centroids at 0° and 90°); the
    // shard carries one vector 1° off base 0 — the only cosine-0.99 pair
    val base = Seq(0L -> at(0), 1L -> at(20), 3L -> at(90), 4L -> at(60))
      .toDF("vec_id", "embedding")
    val cents = Vectors.stepCentroids(base, "vec_id", "embedding", 3)
      .localCheckpoint()
    spark.sql("DROP TABLE IF EXISTS cli_sem_idx")
    Vectors.writeSemanticIndex(base, "vec_id", "embedding", cents,
      "cli_sem_idx", buckets = 4)
    val shard = Seq(300L -> at(1), 301L -> at(75)).toDF("vec_id", "embedding")
    val shardDir = tmpDir("cli_semv")
    shard.write.mode("overwrite").parquet(shardDir)
    val centsDir = tmpDir("cli_semc")
    cents.write.mode("overwrite").parquet(centsDir)
    // minimal text side (nothing pairs)
    val docsDir = tmpDir("cli_semd")
    Seq(400L -> "totally unrelated words about parsers and grammars")
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    spark.sql("DROP TABLE IF EXISTS cli_sem_band_idx")
    graft.dedup.Dedup.writeBandIndex(graft.dedup.Dedup.bandedSignatures(
      graft.dedup.Dedup.minhashSignatures(
        Seq(401L -> "prior day corpus entry with its own words")
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 8), 4),
      "cli_sem_band_idx", buckets = 4)
    val semOut = tmpDir("cli_semout") + "/pairs"
    Main.run(spark, Array("ingest-daily",
      "--docs", docsDir, "--band-table", "cli_sem_band_idx", "--buckets", "4",
      "--sem-vectors", shardDir, "--sem-table", "cli_sem_idx",
      "--sem-cents", centsDir, "--sem-output", semOut, "--audit"))
    val pairs = spark.read.parquet(semOut)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 300L)), s"got $pairs")
    // the shard was folded in: 4 base + 2 shard vectors in the index
    assert(Vectors.readSemanticIndex(spark, "cli_sem_idx").count() === 6L)
  }

  test("ingest-daily --sem-eval: semantically contaminated shard vector never enters the index") {
    import graft.ann.Vectors
    import org.apache.spark.sql.functions._
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val base = Seq(0L -> at(0), 1L -> at(20), 3L -> at(90), 4L -> at(60))
      .toDF("vec_id", "embedding")
    val cents = Vectors.stepCentroids(base, "vec_id", "embedding", 3)
      .localCheckpoint()
    spark.sql("DROP TABLE IF EXISTS cli_semdc_idx")
    Vectors.writeSemanticIndex(base, "vec_id", "embedding", cents,
      "cli_semdc_idx", buckets = 4)
    // shard vec 300 is 1° from base 0 (would pair AND fold); 301 clean.
    // The EVAL vector sits 0.5° from 300 — a paraphrased benchmark item —
    // so 300 must be dropped BEFORE pairing and folding.
    val shard = Seq(300L -> at(1), 301L -> at(75)).toDF("vec_id", "embedding")
    val evalVecs = Seq(900L -> at(1.5)).toDF("vec_id", "embedding")
    val shardDir = tmpDir("cli_semdc_v")
    shard.write.mode("overwrite").parquet(shardDir)
    val evalDir = tmpDir("cli_semdc_e")
    evalVecs.write.mode("overwrite").parquet(evalDir)
    val centsDir = tmpDir("cli_semdc_c")
    cents.write.mode("overwrite").parquet(centsDir)
    val docsDir = tmpDir("cli_semdc_d")
    Seq(400L -> "unrelated words about parsers and grammars")
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    spark.sql("DROP TABLE IF EXISTS cli_semdc_band")
    graft.dedup.Dedup.writeBandIndex(graft.dedup.Dedup.bandedSignatures(
      graft.dedup.Dedup.minhashSignatures(
        Seq(401L -> "prior day corpus entry with its own words")
          .toDF("doc_id", "text"), col("doc_id"), col("text"), 8), 4),
      "cli_semdc_band", buckets = 4)
    val semOut = tmpDir("cli_semdc_out") + "/pairs"
    try {
      Main.run(spark, Array("ingest-daily",
        "--docs", docsDir, "--band-table", "cli_semdc_band", "--buckets", "4",
        "--sem-vectors", shardDir, "--sem-table", "cli_semdc_idx",
        "--sem-cents", centsDir, "--sem-eval", evalDir,
        "--sem-decont-cosine", "0.99", "--sem-output", semOut))
      // no pairs (300's would-be match was decontaminated away) and the
      // index holds base + ONLY the clean shard vector
      assert(spark.read.parquet(semOut).count() === 0L)
      val idx = Vectors.readSemanticIndex(spark, "cli_semdc_idx")
      assert(idx.count() === 5L)
      assert(idx.filter(col("vec_id") === 300L).count() === 0L)
      assert(idx.filter(col("vec_id") === 301L).count() === 1L)
    } finally Seq("cli_semdc_idx", "cli_semdc_band").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ingest-daily --shard-id/--decontaminate: contaminated doc never enters the index; rerun is a no-op") {
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    val evalText = "held out benchmark question about the capital of " +
      "france and its famous tower near the river in the spring"
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS cli_led_idx")
    spark.sql("DROP TABLE IF EXISTS cli_led_idx__ingests")
    try {
      Dedup.writeBandIndex(Dedup.bandedSignatures(
        Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
        "cli_led_idx", buckets = 4)
      val base = spark.table("cli_led_idx").count()
      // shard: 101 leaks the eval passage; 102 is clean
      val shard = Seq(
        101L -> ("a leaked copy of the held out benchmark question about " +
          "the capital of france padded with travel prose"),
        102L -> "subway platforms echo with late night announcements")
        .toDF("doc_id", "text")
      val shardDir = tmpDir("cli_led_shard")
      shard.write.mode("overwrite").parquet(shardDir)
      val evalDir = tmpDir("cli_led_eval")
      Seq((900L, evalText)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(evalDir)
      val outDir = tmpDir("cli_led_out") + "/pairs"
      val argsDay = Array("ingest-daily", "--docs", shardDir,
        "--band-table", "cli_led_idx", "--buckets", "4",
        "--shard-id", "day-1", "--decontaminate", evalDir,
        "--output", outDir)
      Main.run(spark, argsDay)
      val idx = Dedup.readBandIndex(spark, "cli_led_idx")
      // 102's 2 band rows folded in; 101 decontaminated away BEFORE fold
      assert(idx.filter(col("doc_id") === 102L).count() === 2)
      assert(idx.filter(col("doc_id") === 101L).count() === 0)
      val afterDay1 = idx.count()
      assert(afterDay1 === base + 2)
      // scheduler retry of the SAME day: ledger makes it a no-op
      Main.run(spark, argsDay)
      assert(Dedup.readBandIndex(spark, "cli_led_idx").count() === afterDay1)
      assert(Bucketing.ingestApplied(spark, "cli_led_idx", "day-1"))
      assert(!Bucketing.ingestApplied(spark, "cli_led_idx", "day-2"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS cli_led_idx")
      spark.sql("DROP TABLE IF EXISTS cli_led_idx__ingests")
    }
  }

  test("refresh: drift-refused ingest resumes after CLI quantizer refresh, end-to-end") {
    import graft.ann.Vectors
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(19)
    val base = (0L until 30L).map(i => (i, Array.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val m = 2
    val books = Vectors.pqCodebooksStep(base, "vec_id", "embedding", m, 5)
    val cents = Vectors.stepCentroids(base, "vec_id", "embedding", 5)
    val baseMse = Vectors.meanPqMse(base, "vec_id", "embedding", books, m)
    Vectors.writeIvfPqIndex(
      Vectors.ivfPqIndex(base, "vec_id", "embedding", cents, books, m),
      "cli_refresh_idx", 4)
    // a trivial text shard for the mandatory band branch
    val docsDir = tmpDir("cli_rf_docs")
    Seq((1L, "one ordinary document for the band index branch"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    val centsDir = tmpDir("cli_rf_cents"); cents.write.mode("overwrite").parquet(centsDir)
    val booksDir = tmpDir("cli_rf_books"); books.write.mode("overwrite").parquet(booksDir)
    // today's embedding shard drifted (+5 shift): the guard REFUSES it
    val drifted = (100L until 160L).map(i =>
      (i, Array.fill(4)(new scala.util.Random(i).nextGaussian() + 5)))
      .toDF("vec_id", "embedding")
    val driftDir = tmpDir("cli_rf_drift")
    drifted.write.mode("overwrite").parquet(driftDir)
    intercept[IllegalStateException] {
      Main.run(spark, Array("ingest-daily", "--docs", docsDir,
        "--band-table", "cli_refresh_band", "--buckets", "4",
        "--vectors", driftDir, "--vec-table", "cli_refresh_idx",
        "--cents", centsDir, "--books", booksDir, "--m", m.toString,
        "--baseline-mse", baseMse.toString, "--vec-buckets", "4"))
    }
    assert(spark.table("cli_refresh_idx").count() === 30L * m)
    // REMEDIATION through the CLI: retrain on the current corpus
    // (base ∪ the drifted population), re-encode, epoch-swap
    val corpus = base.union(drifted)
    val corpusDir = tmpDir("cli_rf_corpus")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val newCents = tmpDir("cli_rf_nc"); val newBooks = tmpDir("cli_rf_nb")
    Main.run(spark, Array("refresh", "--vectors", corpusDir,
      "--vec-table", "cli_refresh_idx", "--k", "6", "--m", m.toString,
      "--codes", "8", "--iters", "2", "--vec-buckets", "4",
      "--out-cents", newCents, "--out-books", newBooks))
    assert(spark.table("cli_refresh_idx").count() === 90L * m)
    // ingest RESUMES: the next shard from the shifted distribution appends
    // cleanly under the refreshed quantizers and baseline
    val nb = Vectors.meanPqMse(corpus, "vec_id", "embedding",
      spark.read.parquet(newBooks), m)
    val next = (200L until 210L).map(i =>
      (i, Array.fill(4)(new scala.util.Random(i + 7).nextGaussian() + 5)))
      .toDF("vec_id", "embedding")
    val nextDir = tmpDir("cli_rf_next")
    next.write.mode("overwrite").parquet(nextDir)
    Main.run(spark, Array("ingest-daily", "--docs", docsDir,
      "--band-table", "cli_refresh_band", "--buckets", "4",
      "--vectors", nextDir, "--vec-table", "cli_refresh_idx",
      "--cents", newCents, "--books", newBooks, "--m", m.toString,
      "--baseline-mse", nb.toString, "--vec-buckets", "4"))
    assert(spark.table("cli_refresh_idx").count() === 100L * m)
  }

  test("ingest-daily --pre-capped: skip rides a maintained cap; compaction keeps the invariant") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val hotText = "alpha beta gamma delta epsilon"
    val warmText = "zeta eta theta iota kappa"
    val corpus = ((0L until 6L).map(i => (i, hotText)) ++
      (10L until 13L).map(i => (i, warmText))).toDF("doc_id", "text")
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "cli_precap_idx", 4)
    // establish the pre-capped invariant before the first pre-capped ingest
    Dedup.capBandIndex(spark, "cli_precap_idx", maxBucket = 4)
    val shard = Seq((100L, hotText), (101L, warmText)).toDF("doc_id", "text")
    val corpusDir = tmpDir("cli_precap_corpus")
    corpus.write.mode("overwrite").parquet(corpusDir)
    val shardDir = tmpDir("cli_precap_shard")
    shard.write.mode("overwrite").parquet(shardDir)
    val outDir = tmpDir("cli_precap_out") + "/pairs"
    Main.run(spark, Array("ingest-daily", "--docs", shardDir,
      "--corpus", corpusDir, "--band-table", "cli_precap_idx",
      "--buckets", "4", "--min-jaccard", "0.5",
      "--pre-capped", "--max-bucket", "4", "--compact-every", "1",
      "--output", outDir))
    val pairs = spark.read.parquet(outDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the warm shard doc verifies against its 3 index twins; the hot doc
    // finds NO index partners (its bucket was capped away — the recall
    // spend d19/bandOccupancy accounts for)
    assert(pairs === Set((10L, 101L), (11L, 101L), (12L, 101L)), pairs.toString)
    // compaction (due at compact-every=1) re-ran capBandIndex: the hot
    // CORPUS docs stay gone, and the warm bucket (3 index + 1 shard =
    // 4 ≤ cap) is retained intact. Doc 100's rows REMAIN — the documented
    // cap-then-append drift: its bucket was emptied before the append, so
    // its count restarted at 1 ≤ cap (a once-hot signature re-enters
    // until it runs hot again; d19/bandOccupancy accounts for each pass)
    val idx = Dedup.readBandIndex(spark, "cli_precap_idx")
    assert(idx.filter(col("doc_id") < 10L).count() === 0)
    assert(idx.filter(col("doc_id") === 100L).count() === 2) // drift, 2 bands
    assert(idx.filter(col("doc_id") >= 10L && col("doc_id") < 100L)
      .count() === 3L * 2)
    assert(idx.filter(col("doc_id") === 101L).count() === 2)
  }

  test("ingest-daily --audit: cap_dropped_slots counts at the --max-bucket cap") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    // a 6-doc hot family in the index: one bucket per band, over a cap of
    // 4 (under the default 64); the shard doc lands in both buckets
    val hotText = "alpha beta gamma delta epsilon"
    val corpus = (0L until 6L).map(i => (i, hotText)).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS cli_audit_cap_idx")
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "cli_audit_cap_idx", 4)
    val shardDir = tmpDir("cli_audit_cap_shard")
    Seq((100L, hotText)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(shardDir)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Main.run(spark, Array("ingest-daily", "--docs", shardDir,
        "--band-table", "cli_audit_cap_idx", "--buckets", "4",
        "--max-bucket", "4", "--audit"))
    }
    // 2 bands × 6 index slots the join's cap of 4 drops
    val log = out.toString("UTF-8")
    assert(log.contains("[ingest-daily] cap_dropped_slots shard=0 index=12"),
      log)
  }

  test("usage lists all 18 commands, with no command and with an unknown one") {
    for (args <- Seq(Array.empty[String], Array("nosuch"))) {
      val e = intercept[RuntimeException](Main.run(spark, args))
      assert(e.getMessage.split("usage: ").last.split('|').toSet === Set(
        "train", "curriculum", "evaluate", "sync", "dedup", "mixture",
        "pack", "feed", "ingest", "ingest-daily", "refresh", "report",
        "export", "decode", "scrub", "pq", "snapshot", "forget"),
        e.getMessage)
    }
  }

  test("report subcommand: cluster sizes + cross-source matrix + contamination land as parquet") {
    val dup = "the quick brown fox jumps over the lazy dog near the river " +
      "bank tonight while the moon rises over the quiet water meadows"
    val docs = Seq(
      (1L, dup, "crawlA"),
      (2L, dup + " x", "crawlB"), // near-dup of 1 across sources
      (3L, "completely different content about spark shuffles and wide " +
        "stages spilling partial aggregates to local disk under pressure",
        "crawlA"),
      (4L, "held out benchmark question about the capital of france and " +
        "its famous tower near the river in the early spring", "crawlB"))
      .toDF("doc_id", "text", "source")
    val evalDocs = Seq((100L, "benchmark question about the capital of " +
      "france and its famous tower near the river")).toDF("doc_id", "text")
    val docsDir = tmpDir("cli_rep_docs")
    val evalDir = tmpDir("cli_rep_eval")
    val outDir = tmpDir("cli_rep_out") + "/report"
    docs.write.mode("overwrite").parquet(docsDir)
    evalDocs.write.mode("overwrite").parquet(evalDir)
    Main.run(spark, Array("report", "--docs", docsDir, "--eval", evalDir,
      "--output", outDir))
    val sizes = spark.read.parquet(s"$outDir/cluster_sizes")
      .as[(Long, Long)].collect().toMap
    assert(sizes === Map(2L -> 1L)) // one 2-doc cluster (1,2)
    val matrix = spark.read.parquet(s"$outDir/cross_source")
      .select("source_a", "source_b", "n_pairs")
      .as[(String, String, Long)].collect().toSet
    assert(matrix === Set(("crawlA", "crawlB", 1L)))
    val cont = spark.read.parquet(s"$outDir/contamination")
      .select("eval_doc", "contamination").as[(Long, Double)].collect().toMap
    assert(cont.keySet === Set(100L))
    assert(cont(100L) > 0.5) // the eval item leaks via doc 4
  }

  test("pack --out-shards: the layout lands as addressable shard dirs") {
    import org.apache.spark.sql.functions.col
    val docsDir = tmpDir("cli_pack_docs")
    (1 to 60).map(i => (i.toLong, "all",
        ("tok " * (i % 17 + 3)).trim))
      .toDF("doc_id", "grp", "text")
      .write.mode("overwrite").parquet(docsDir)
    val outDir = tmpDir("cli_pack_out") + "/shards"
    Main.run(spark, Array("pack", "--docs", docsDir, "--group", "grp",
      "--budget", "32", "--windows-per-shard", "4",
      "--out-shards", outDir))
    val back = spark.read.parquet(outDir)
    assert(back.count() > 0)
    // addressing: every span's window sits in its dir's range
    assert(back.filter(col("seq") < col("shard") * 4 ||
      col("seq") >= (col("shard") + 1) * 4).count() === 0)
  }

  test("feed: mixture plan -> exact-count sample -> packed shards + manifest, --dedup folds curation in") {
    import org.apache.spark.sql.functions.col
    val docsDir = tmpDir("cli_feed_docs")
    // src1 twice as heavy as src0 under the default index-rule weights;
    // doc 60 is an exact duplicate of doc 59 so --dedup visibly bites
    val rows = (1 to 59).map(i => (i.toLong, s"src${i % 2}",
      ("tok " * (i % 17 + 3)).trim + s" unique$i")) :+
      (60L, "src1", ("tok " * (59 % 17 + 3)).trim + " unique59")
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(docsDir)
    val outDir = tmpDir("cli_feed_out") + "/shards"
    val manDir = tmpDir("cli_feed_man") + "/manifest"
    Main.run(spark, Array("feed", "--docs", docsDir,
      "--budget", "32", "--windows-per-shard", "4",
      "--dedup", "--min-quality", "0.0",
      "--out-shards", outDir, "--output", manDir))
    val back = spark.read.parquet(outDir)
    val manifest = spark.read.parquet(manDir)
    assert(back.count() > 0 && manifest.count() > 0)
    // the exact duplicate lost to its min-id representative before packing
    assert(back.filter(col("doc_id") === 60L).count() === 0)
    // manifest accounting matches the written layout
    val manTok = manifest.agg(org.apache.spark.sql.functions.sum("shard_tokens"))
      .head().getLong(0)
    val dirTok = back.agg(org.apache.spark.sql.functions.sum("len"))
      .head().getLong(0)
    assert(manTok === dirTok)
  }

  test("feed --bpe-merges: packing arithmetic runs in learned-token units end-to-end") {
    import org.apache.spark.sql.functions.{col, sum}
    val docsDir = tmpDir("cli_bpefeed_docs")
    val rows = (1 to 40).map(i => (i.toLong, s"src${i % 2}",
      ("alpha bravo charlie " * (i % 5 + 1)).trim + s" unique$i"))
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(docsDir)
    val outDir = tmpDir("cli_bpefeed_out") + "/shards"
    val manDir = tmpDir("cli_bpefeed_man") + "/manifest"
    Main.run(spark, Array("feed", "--docs", docsDir,
      "--budget", "48", "--windows-per-shard", "4",
      "--bpe-merges", "4",
      "--out-shards", outDir, "--output", manDir))
    val back = spark.read.parquet(outDir)
    // per packed doc, span lengths tile the TOKENIZER's subword count,
    // not the regex word count — the CLI flag reached the arithmetic
    val docs = spark.read.parquet(docsDir)
    val bpe = graft.text.Bpe.docSubwordCounts(docs, col("doc_id"),
        col("text"),
        graft.text.Bpe.learnMerges(
          graft.text.Bpe.wordFreq(docs, col("text")), 4)._2)
      .select("doc_id", "n_bpe").as[(Long, Long)].collect().toMap
    val perDoc = back.groupBy("doc_id").agg(sum("len").as("t"))
      .as[(Long, Long)].collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (id, t) => assert(t === bpe(id), s"doc $id") }
    // and n_bpe > regex n_tok for multi-char words at 4 merges, so the
    // totals could not coincide by accident
    val manTok = spark.read.parquet(manDir).agg(sum("shard_tokens"))
      .head().getLong(0)
    assert(manTok === perDoc.map(_._2).sum)
  }

  test("ingest-daily first-ever run: band/fp/sem indices bootstrap from an empty catalog") {
    import graft.ann.Vectors
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    // NOTHING pre-built: day 1 IS the bootstrap. The reads see empty
    // indices, candidates are new×new only, and the appends land the
    // first real file sets under the right bucket specs.
    Seq("cli_boot_band", "cli_boot_fp", "cli_boot_sem",
      "cli_boot_band__ingests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val docs = Seq(
        11L -> "the quick brown fox jumps over the lazy dog near the river bank",
        12L -> "the quick brown fox jumps over the lazy dog near the river bank",
        13L -> "harbor cranes unload container ships beneath sodium lamps")
        .toDF("doc_id", "text")
      val docsDir = tmpDir("cli_boot_docs")
      docs.write.mode("overwrite").parquet(docsDir)
      val fps = Seq(11L -> 0x7FFFL, 12L -> 0x7FFBL, 13L -> 0x00F0L)
        .toDF("doc_id", "fp")
      val fpDir = tmpDir("cli_boot_fps")
      fps.write.mode("overwrite").parquet(fpDir)
      def at(deg: Double): Seq[Float] = {
        val r = math.toRadians(deg)
        Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
      }
      val vecs = Seq(11L -> at(0), 12L -> at(1), 13L -> at(80))
        .toDF("vec_id", "embedding")
      val vecsDir = tmpDir("cli_boot_vecs")
      vecs.write.mode("overwrite").parquet(vecsDir)
      val cents = Vectors.stepCentroids(vecs, "vec_id", "embedding", 2)
        .localCheckpoint()
      val centsDir = tmpDir("cli_boot_cents")
      cents.write.mode("overwrite").parquet(centsDir)
      val out = tmpDir("cli_boot_out") + "/pairs"
      val fpOut = tmpDir("cli_boot_out_fp") + "/fp_pairs"
      val semOut = tmpDir("cli_boot_out_sem") + "/sem_pairs"
      Main.run(spark, Array("ingest-daily", "--docs", docsDir,
        "--band-table", "cli_boot_band", "--buckets", "4",
        "--min-jaccard", "0.5", "--shard-id", "day-1",
        "--fp-parquet", fpDir, "--fp-table", "cli_boot_fp",
        "--fp-output", fpOut,
        "--sem-vectors", vecsDir, "--sem-table", "cli_boot_sem",
        "--sem-cents", centsDir, "--sem-output", semOut,
        "--output", out))
      // new×new pairs surfaced on the bootstrap day in all three modes
      val textPairs = spark.read.parquet(out)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(textPairs === Set((11L, 12L)), s"got $textPairs")
      val fpPairs = spark.read.parquet(fpOut)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(fpPairs === Set((11L, 12L)), s"got $fpPairs")
      val semPairs = spark.read.parquet(semOut)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(semPairs === Set((11L, 12L)), s"got $semPairs")
      // all three indices now exist, carry the shard, and keep the
      // bucket spec an append path needs
      assert(Dedup.readBandIndex(spark, "cli_boot_band").count() === 6L)
      assert(Dedup.readBandIndex(spark, "cli_boot_fp").count() === 6L)
      assert(Vectors.readSemanticIndex(spark, "cli_boot_sem").count() === 3L)
      assert(Bucketing.bucketCount(spark, "cli_boot_band") === 4)
      assert(Bucketing.bucketCount(spark, "cli_boot_sem") === 4)
      // day 2 joins new×old against the day-1 index (no re-bootstrap)
      val day2 = Seq(21L ->
        "the quick brown fox jumps over the lazy dog near the river bank")
        .toDF("doc_id", "text")
      val day2Dir = tmpDir("cli_boot_day2")
      day2.write.mode("overwrite").parquet(day2Dir)
      val out2 = tmpDir("cli_boot_out2") + "/pairs"
      Main.run(spark, Array("ingest-daily", "--docs", day2Dir,
        "--corpus", docsDir,
        "--band-table", "cli_boot_band", "--buckets", "4",
        "--min-jaccard", "0.5", "--shard-id", "day-2",
        "--output", out2))
      val pairs2 = spark.read.parquet(out2)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs2.contains((11L, 21L)), s"got $pairs2")
    } finally Seq("cli_boot_band", "cli_boot_fp", "cli_boot_sem",
      "cli_boot_band__ingests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ingest-daily crash replay: duplicate band rows heal at the next compaction") {
    import graft.core.Bucketing
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    Seq("cli_heal_idx", "cli_heal_idx__ingests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      val corpus = Seq(
        1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2L -> "mountain trails wind through cedar groves toward the snow line",
        3L -> "harbor cranes unload container ships beneath sodium lamps",
        4L -> "desert winds carve long ridges into the shifting orange dunes")
        .toDF("doc_id", "text")
      Dedup.writeBandIndex(Dedup.bandedSignatures(
        Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
        "cli_heal_idx", buckets = 4)
      val shard = Seq(
        101L -> "subway platforms echo with late night announcements",
        102L -> "glaciers calve into the fjord with a sound like thunder")
        .toDF("doc_id", "text")
      val shardDir = tmpDir("cli_heal_shard")
      shard.write.mode("overwrite").parquet(shardDir)
      val argsDay = Array("ingest-daily", "--docs", shardDir,
        "--band-table", "cli_heal_idx", "--buckets", "4",
        "--shard-id", "day-1", "--compact-every", "1")
      Main.run(spark, argsDay)
      val once = Dedup.readBandIndex(spark, "cli_heal_idx")
        .filter(col("doc_id") >= 100L).count()
      assert(once === 4L) // 2 docs × (8 seeds / band size 4)
      // CRASH WINDOW: the append landed but the ledger marker write was
      // lost — model it by erasing the ledger, then let the scheduler
      // retry the day. The rerun re-appends (at-least-once) and its own
      // compaction pass heals the exact duplicates via dropDuplicates.
      spark.sql("DROP TABLE cli_heal_idx__ingests")
      Main.run(spark, argsDay)
      val healed = Dedup.readBandIndex(spark, "cli_heal_idx")
      assert(healed.filter(col("doc_id") >= 100L).count() === 4L,
        "replayed band rows were not healed")
      assert(healed.groupBy("doc_id", "band").count()
        .filter(col("count") > 1).count() === 0L)
      // compaction also collapsed the file debt back to ≤ one per bucket
      assert(Bucketing.dataFiles(spark, "cli_heal_idx").size <= 4)
    } finally Seq("cli_heal_idx", "cli_heal_idx__ingests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("export subcommand: kept corpus lands as tar shards, round-trippable") {
    val docs = (0L until 30L)
      .map(i => (i, s"document $i body with enough words to matter"))
      .toDF("doc_id", "text")
    val docsDir = tmpDir("cli_export_docs")
    docs.write.mode("overwrite").parquet(docsDir)
    val outDir = tmpDir("cli_export_out") + "/shards"
    Main.run(spark, Array("export", "--docs", docsDir,
      "--output", outDir, "--shards", "3"))
    val back = graft.multimodal.TarShards.readTarShards(spark, outDir)
      .selectExpr("name", "CAST(content AS STRING) AS text")
      .as[(String, String)].collect().toMap
    assert(back.keySet === (0L until 30L).map(i => s"$i.txt").toSet)
    assert(back("7.txt") === "document 7 body with enough words to matter")
    val nShards = new java.io.File(outDir).listFiles
      .count(_.getName.endsWith(".tar"))
    assert(nShards >= 1 && nShards <= 3)
  }

  test("export --chunk: sliding token windows land as addressable tar members") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks -> windows at 0/4/8
      (2L, "short doc"),
      (3L, "!!!")                  // tokenless: exports nothing
    ).toDF("doc_id", "text")
    val docsDir = tmpDir("cli_exportchunk_docs")
    docs.write.mode("overwrite").parquet(docsDir)
    val outDir = tmpDir("cli_exportchunk_out") + "/shards"
    Main.run(spark, Array("export", "--docs", docsDir, "--chunk", "8,4",
      "--output", outDir, "--shards", "2"))
    val back = graft.multimodal.TarShards.readTarShards(spark, outDir)
      .selectExpr("name", "CAST(content AS STRING) AS text")
      .as[(String, String)].collect().toMap
    assert(back.keySet ===
      Set("1_w0.txt", "1_w1.txt", "1_w2.txt", "2_w0.txt"))
    assert(back("1_w0.txt") === "a b c d e f g h")
    assert(back("1_w1.txt") === "e f g h i j")
    assert(back("1_w2.txt") === "i j")
    assert(back("2_w0.txt") === "short doc")
  }

  test("END-TO-END: dedup → pack → export composes raw docs into training tar shards") {
    // the full curation→training handoff through the real CLI surface:
    // near-dups collapse, the kept corpus packs into token windows, and
    // the same kept corpus exports as tar shards a loader would stream
    val near = "the quick brown fox jumps over the lazy dog near the " +
      "riverbank every single morning before the sun rises over the hills"
    val docs = Seq(
      (1L, near, "en"),
      (2L, near + " and keeps running onward", "en"),
      (3L, "harbor cranes unload container ships beneath sodium lamps " +
        "through the night while foremen call out berth numbers", "en"),
      (4L, "desert winds carve long ridges into the shifting orange dunes " +
        "far beyond the last paved road on the southern plateau", "fr"))
      .toDF("doc_id", "text", "lang")
    val docsDir = tmpDir("cli_e2e_docs")
    docs.write.mode("overwrite").parquet(docsDir)
    val keptDir = tmpDir("cli_e2e_kept") + "/kept"
    Main.run(spark, Array("dedup", "--docs", docsDir,
      "--min-quality", "0.0", "--keep-by", "length", "--output", keptDir))
    val keptIds = spark.read.parquet(keptDir)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds === Set(2L, 3L, 4L)) // 1-2 collapsed, longest kept
    val packDir = tmpDir("cli_e2e_pack") + "/shards"
    Main.run(spark, Array("pack", "--docs", keptDir, "--group", "lang",
      "--budget", "16", "--windows-per-shard", "2", "--out-shards", packDir))
    val spans = spark.read.parquet(packDir)
    assert(spans.select("doc_id").as[Long].collect().toSet === keptIds)
    val tarDir = tmpDir("cli_e2e_tar") + "/tars"
    Main.run(spark, Array("export", "--docs", keptDir,
      "--output", tarDir, "--shards", "2"))
    val back = graft.multimodal.TarShards.readTarShards(spark, tarDir)
      .selectExpr("name", "CAST(content AS STRING) AS text")
      .as[(String, String)].collect().toMap
    assert(back.keySet === keptIds.map(i => s"$i.txt"))
    assert(back("2.txt").endsWith("keeps running onward"))
  }

  test("mixture subcommand: temperature plan lands in --output as json") {
    val docs = (0L until 30L).map(i =>
        (i, "some text content here", if (i < 24) "en" else "fr"))
      .toDF("doc_id", "text", "lang")
    val docsDir = tmpDir("cli_mix")
    val outDir = tmpDir("cli_mixout") + "/plan"
    docs.write.mode("overwrite").parquet(docsDir)
    Main.run(spark, Array("mixture", "--docs", docsDir,
      "--alpha", "0.5", "--budget", "10", "--output", outDir))
    val plan = spark.read.json(outDir)
    assert(plan.count() === 2L) // one row per lang
  }

  /** The first line of a flag error names the problem; the rest is the
    * command's generated flag list, which names every flag.
    */
  private def flagError(argv: String*): String =
    intercept[IllegalArgumentException](Main.run(spark, argv.toArray))
      .getMessage.linesIterator.next()

  test("every command rejects a bad invocation before any read, naming the flag (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // every path is absent: reaching a read raises a path error, not the
    // flag error each case expects
    val absent = tmpDir("cli_prop") + "/absent"
    for ((cmd, flags) <- Main.commands) {
      // the smallest invocation the table accepts: the first flag of the
      // oneOf group and every required flag
      val minimal = (flags.sources.take(1) ++ flags.requiredFlags).map(f => Seq(f, absent))
      def rejects(argv: Seq[String], flag: String): Boolean =
        flagError(cmd +: argv: _*).contains(flag)
      val unknown = Gen.identifier.map("--x-" + _)
      val prop = Prop.forAll(unknown, Gen.choose(0, minimal.size),
          Gen.oneOf(minimal), Gen.oneOf(flags.valued)) { (bad, at, given, value) =>
        val (pre, post) = minimal.splitAt(at)
        // a value flag with no value: last, or followed by another flag
        val rest = minimal.filterNot(_.head == value).flatten
        rejects((pre ++ Seq(Seq(bad)) ++ post).flatten, bad) &&
          minimal.indices.forall { i =>
            rejects(minimal.patch(i, Nil, 1).flatten, minimal(i).head) } &&
          rejects(rest :+ value, value) && rejects(value +: rest, value) &&
          rejects((minimal :+ given).flatten, given.head)
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
      assert(res.passed, s"$cmd: ${res.status}")
    }
  }

  test("ingest-daily: a vector/fp/sem shard without its table fails before the band append") {
    val docsDir = tmpDir("cli_novec_docs")
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(docsDir)
    val dir = tmpDir("cli_novec_side")
    for ((flag, missing) <- Seq("--vectors" -> "--vec-table",
                                "--fp-parquet" -> "--fp-table",
                                "--sem-vectors" -> "--sem-table")) {
      val msg = flagError("ingest-daily", "--docs", docsDir,
        "--band-table", "cli_novec_band", "--buckets", "4", flag, dir)
      assert(msg.contains(flag) && msg.contains(missing), msg)
      assert(!spark.catalog.tableExists("cli_novec_band"))
    }
  }

  test("refresh keeps its new quantizers and sync pairs its transfer dirs, by the flag table") {
    val absent = tmpDir("cli_refresh_rules") + "/absent"
    val vecMsg = flagError("refresh", "--vectors", absent, "--vec-table", "t",
      "--out-cents", absent)
    assert(vecMsg.contains("--vec-table") && vecMsg.contains("--out-books"), vecMsg)
    val semMsg = flagError("refresh", "--vectors", absent, "--sem-table", "t")
    assert(semMsg.contains("--sem-table") && semMsg.contains("--out-sem-cents"), semMsg)
    for ((given, missing) <- Seq("--src" -> "--dst", "--dst" -> "--src")) {
      val msg = flagError("sync", "--remote", absent, "--local", absent, given, absent)
      assert(msg.contains(given) && msg.contains(missing), msg)
    }
  }

  test("malformed --chunk, --resize and --profile values fail naming the flag, before the read") {
    val absent = tmpDir("cli_badval") + "/absent"
    for (bad <- Seq("8", "8,4,2", "a,b")) {
      val msg = flagError("export", "--docs", absent, "--output", absent, "--chunk", bad)
      assert(msg.contains("--chunk") && msg.contains("W,S"), msg)
    }
    val resize = flagError("decode", "--files", absent, "--resize", "4")
    assert(resize.contains("--resize") && resize.contains("WxH"), resize)
    val profile = flagError("train", "--manifest", absent, "--profile", "hrad")
    assert(profile.contains("--profile") && profile.contains("easy|medium|hard"), profile)
  }

  test("train, curriculum, evaluate and sync run end to end through the table") {
    import org.apache.spark.sql.functions.col
    val rows = for {
      i <- 1 to 30
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = tmpDir("cli_smoke_manifest")
    rows.toDF("key", "prefix").write.mode("overwrite").parquet(manifest)
    val trainOut = tmpDir("cli_smoke_train") + "/feed"
    Main.run(spark, Array("train", "--manifest", manifest, "--profile", "easy",
      "--output", trainOut))
    val diffs = spark.read.parquet(trainOut).select("difficulty").as[String].collect()
    assert(diffs.nonEmpty && diffs.forall(_ == "easy"), diffs.toSeq)
    val curOut = tmpDir("cli_smoke_cur")
    Main.run(spark, Array("curriculum", "--manifest", manifest, "--output", curOut))
    for (stage <- Seq("easy", "medium", "hard"))
      assert(spark.read.parquet(s"$curOut/stage=$stage").count() > 0, stage)

    val test = tmpDir("cli_smoke_test")
    Seq("s1", "s2").toDF("stem").write.mode("overwrite").parquet(test)
    val scores = tmpDir("cli_smoke_scores")
    Seq(("m", "s1", "ssim", 0.5), ("m", "s2", "ssim", 0.7), ("m", "s3", "ssim", 0.0))
      .toDF("model", "stem", "metric", "value").write.mode("overwrite").parquet(scores)
    val evalOut = tmpDir("cli_smoke_eval") + "/summary"
    Main.run(spark, Array("evaluate", "--test", test, "--scores", scores,
      "--metrics", "ssim", "--output", evalOut))
    val ssim = spark.read.json(evalOut).select(col("ssim")).as[Double].collect()
    assert(ssim.length == 1 && math.abs(ssim.head - 0.6) < 1e-9, ssim.toSeq) // s3 is not a test stem

    val src = Files.createTempDirectory("cli_smoke_src")
    for (k <- Seq("a.bin", "b.bin")) Files.write(src.resolve(k), k.getBytes)
    val dst = Files.createTempDirectory("cli_smoke_dst")
    val remote = tmpDir("cli_smoke_remote")
    Seq("a.bin", "b.bin").toDF("key").write.mode("overwrite").parquet(remote)
    val local = tmpDir("cli_smoke_local")
    Seq("a.bin").toDF("key").write.mode("overwrite").parquet(local)
    Main.run(spark, Array("sync", "--remote", remote, "--local", local,
      "--src", src.toString, "--dst", dst.toString))
    assert(Files.exists(dst.resolve("b.bin")) && !Files.exists(dst.resolve("a.bin")))
  }

  test("ingest, scrub, pq, decode and snapshot run end to end through the table") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.col
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    val indexDocs = Seq((1L, text), (2L, "completely unrelated words about sodium lamps"))
      .toDF("doc_id", "text")
    val index = tmpDir("cli_smoke_index")
    Dedup.bandedSignatures(Dedup.minhashSignatures(indexDocs, col("doc_id"), col("text"), 8), 4)
      .write.mode("overwrite").parquet(index)
    val shard = tmpDir("cli_smoke_shard")
    Seq((3L, text)).toDF("doc_id", "text").write.mode("overwrite").parquet(shard)
    val pairsOut = tmpDir("cli_smoke_pairs") + "/p"
    Main.run(spark, Array("ingest", "--docs", shard, "--index", index, "--output", pairsOut))
    val pairs = spark.read.parquet(pairsOut).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    assert(pairs === Set((1L, 3L)), pairs)

    val scrubDocs = tmpDir("cli_smoke_scrub")
    Seq((1L, text), (2L, text + " and more")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(scrubDocs)
    val scrubOut = tmpDir("cli_smoke_scrubout") + "/s"
    Main.run(spark, Array("scrub", "--docs", scrubDocs, "--ngram", "5", "--output", scrubOut))
    assert(spark.read.parquet(scrubOut).count() === 2L)

    val vecs = tmpDir("cli_smoke_vecs")
    (0 until 8).map(i => (i.toLong, Array(i.toDouble, (i % 3).toDouble, 1.0, -i.toDouble)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(vecs)
    val pqOut = tmpDir("cli_smoke_pq")
    Main.run(spark, Array("pq", "--vectors", vecs, "--m", "2", "--k", "2", "--output", pqOut))
    assert(spark.read.parquet(s"$pqOut/codes").count() === 8L)
    assert(spark.read.parquet(s"$pqOut/books").count() > 0)

    val images = Files.createTempDirectory("cli_smoke_img")
    val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    Files.write(images.resolve("a.png"), bos.toByteArray)
    val decodeOut = tmpDir("cli_smoke_decode") + "/d"
    Main.run(spark, Array("decode", "--files", images.toString, "--resize", "2x3",
      "--output", decodeOut))
    val dims = spark.read.parquet(decodeOut).select("width", "height").as[(Int, Int)].collect()
    assert(dims.toSeq === Seq((2, 3)), dims.toSeq)

    val epoch = tmpDir("cli_smoke_epoch")
    Seq((1L, "a", false), (2L, "b", false)).toDF("k", "v", "_deleted")
      .write.mode("overwrite").parquet(epoch)
    val snapDir = tmpDir("cli_smoke_snap") + "/snap"
    val snapOut = tmpDir("cli_smoke_snapout") + "/s"
    Main.run(spark, Array("snapshot", "--dir", snapDir, "--keys", "k",
      "--write-epoch", epoch, "--version", "0", "--output", snapOut))
    val snap = spark.read.parquet(snapOut).select("k", "v").as[(Long, String)].collect().toSet
    assert(snap === Set((1L, "a"), (2L, "b")), snap)
  }
}

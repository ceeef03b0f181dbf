package graft.pipelines

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelinesSpec extends SparkSpec {

  import spark.implicits._

  test("trainingFeed: manifest → triplets → stratified sample → stable order") {
    val rows = for {
      i <- 1 to 60
      diff = if (i % 3 == 0) "easy" else if (i % 3 == 1) "medium" else "hard"
      suffix <- if (i % 10 == 0) Seq("person") // incomplete stems
                else Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val feed = Pipelines.trainingFeed(manifest,
      Map("easy" -> 1.0, "medium" -> 0.5, "hard" -> 0.0)).cache()
    val counts = feed.groupBy("difficulty").count()
      .as[(String, Long)].collect().toMap
    // 60 stems, 6 incomplete (i%10==0); per difficulty 20-ish complete
    assert(counts.getOrElse("hard", 0L) === 0L)
    assert(counts("easy") > 0 && counts("medium") > 0)
    // complete triplets only: all three asset columns non-null
    assert(feed.filter(col("initial_image").isNull || col("cloth_image").isNull ||
      col("try_on_image").isNull).count() === 0)
    // stable feed order: pos is a permutation and reproducible
    val pos = feed.select("pos").as[Long].collect().sorted.toSeq
    assert(pos === (1L to pos.length))
  }

  test("trainingFeed: distributed form equals the window form, positions included") {
    val rows = for {
      i <- 1 to 90
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- if (i % 10 == 0) Seq("person")
                else Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val profile = Map("easy" -> 0.8, "medium" -> 0.5, "hard" -> 0.25)
    def rowsOf(feed: org.apache.spark.sql.DataFrame) =
      feed.select("stem", "difficulty", "pos")
        .as[(String, String, Long)].collect().toSet
    // the window-form reference over the same triplets
    val window = graft.ops.SamplingSpec.shufflePosition(
      graft.ops.Sampling.stratifiedExact(Pipelines.feedTriplets(manifest),
        col("difficulty"), xxhash64(col("stem")), profile),
      xxhash64(col("stem")))
    // identical rows AND identical permutation positions: the scale forms
    // are drop-in, not approximately-equal
    val distributed = rowsOf(Pipelines.trainingFeed(manifest, profile))
    assert(distributed === rowsOf(window))
    assert(distributed.nonEmpty)
  }

  test("packedWindows materializes the trainingFeed into exact window spans") {
    val rows = for {
      i <- 1 to 60
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val feed = Pipelines.trainingFeed(manifest,
        Map("easy" -> 1.0, "medium" -> 1.0, "hard" -> 1.0))
      // per-sample token cost (deterministic stand-in for a tokenizer):
      // straddles are guaranteed because costs aren't divisors of 64
      .withColumn("n_tok", (xxhash64(col("stem")) % 37 + 38).cast("long"))
      .localCheckpoint()
    val budget = 64L
    val spans = graft.ops.Planners.packedWindows(
      feed, "difficulty", "pos", "n_tok", budget).cache()
    val byDoc = spans.groupBy("difficulty", "pos")
      .agg(sum("len").as("s"), min("doc_offset").as("mn"),
        max(col("doc_offset") + col("len")).as("mx"))
      .join(feed.select(col("difficulty"), col("pos"), col("n_tok")),
        Seq("difficulty", "pos"))
    // per document: spans partition its tokens exactly, starting at 0
    assert(byDoc.filter(col("s") =!= col("n_tok") || col("mn") =!= 0 ||
      col("mx") =!= col("n_tok")).count() === 0)
    // per window: spans tile [0, budget) exactly, except each group's last
    val byWin = spans.groupBy("difficulty", "seq")
      .agg(sum("len").as("s"), min("win_offset").as("mn"),
        max(col("win_offset") + col("len")).as("mx"),
        max("seq").as("sq"))
    val lastSeq = spans.groupBy("difficulty").agg(max("seq").as("last"))
    assert(byWin.join(lastSeq, "difficulty")
      .filter(col("sq") < col("last"))
      .filter(col("s") =!= budget || col("mn") =!= 0 || col("mx") =!= budget)
      .count() === 0)
    // a straddling doc exists (budget=64, doc costs 38..74) and its two
    // spans are adjacent in both doc space and window space
    val straddle = spans.groupBy("difficulty", "pos").count()
      .filter(col("count") > 1)
    assert(straddle.count() > 0)
    assert(spans.filter(col("len") <= 0).count() === 0)
  }

  test("writePackedShards: addressable shard dirs hold exactly their window range, one sorted file each") {
    val docs = (1 to 200).map { i =>
      (Seq("web", "code")(i % 2), i.toLong, (i % 37 + 38).toLong)
    }.toDF("source", "doc", "n_tok")
    val budget = 64L
    val out = java.nio.file.Files.createTempDirectory("packed").toString
    Pipelines.writePackedShards(docs, "source", "doc", "n_tok", budget,
      windowsPerShard = 8, outDir = out)
    val back = spark.read.parquet(out)
    // round-trip equals the packedWindows relation with shard = seq div 8
    val want = graft.ops.Planners.packedWindows(
        docs, "source", "doc", "n_tok", budget)
      .withColumn("shard", expr("seq div 8"))
      .select("source", "shard", "seq", "doc", "doc_offset", "win_offset", "len")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    val got = back
      .select("source", "shard", "seq", "doc", "doc_offset", "win_offset", "len")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
    // shard addressing: every span in dir shard=s has seq in [8s, 8s+8)
    assert(back.filter(col("seq") < col("shard") * 8 ||
      col("seq") >= (col("shard") + 1) * 8).count() === 0)
    // one parquet file per shard dir, spans sorted (seq, win_offset) in it
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
    assert(dirs.nonEmpty)
    for (g <- dirs; s <- g.listFiles.filter(_.isDirectory)) {
      val files = s.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${s.getPath}: ${files.length} files")
      val inFile = spark.read.parquet(files.head.getPath)
        .select("seq", "win_offset").as[(Long, Long)].collect()
      assert(inFile.sameElements(inFile.sortBy(p => (p._1, p._2))),
        s"${s.getPath} not in (seq, win_offset) order")
    }
  }

  test("curatedFeed with a DSIR-selection curate closure: only importance-sampled docs feed the pack") {
    import graft.ops.Dsir
    // two-population corpus: every third doc is target-like
    val docs = (1 to 120).map { i =>
      val txt =
        if (i % 3 == 0) "the solar system has planets and the sun is a star"
        else "buy cheap pills now now now cheap deals"
      (i.toLong, Seq("web", "code")(i % 2), txt, (i % 17 + 20).toLong)
    }.toDF("doc_id", "source", "text", "n_tok")
    val weights = Seq(("web", 1), ("code", 1)).toDF("source", "w")
    val model = Dsir.importanceModel(docs,
      docs.filter(col("doc_id") % 3 === 0), col("text"), 32)
    val dsirSelect: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = d => {
      val keep = Dsir.importanceResample(
        Dsir.importanceWeights(d, col("doc_id"), col("text"), model, 32),
        col("doc_id"), k = 40, seed = 5L)
        .select(col("doc_id").as("__keep"))
      d.join(broadcast(keep), col("doc_id") === col("__keep")).drop("__keep")
    }
    val out = java.nio.file.Files.createTempDirectory("dsirfeed").toString
    Pipelines.curatedFeed(docs, "doc_id", "source", weights, col("n_tok"),
      budget = 64, windowsPerShard = 4, outDir = out, curate = dsirSelect)
    val packed = spark.read.parquet(out)
      .select("doc_id").distinct().as[Long].collect().toSet
    val selected = Dsir.importanceResample(
      Dsir.importanceWeights(docs, col("doc_id"), col("text"), model, 32),
      col("doc_id"), 40, 5L).select("doc_id").as[Long].collect().toSet
    assert(packed.nonEmpty && packed.subsetOf(selected))
    // the draw skews hard toward the target-like population
    assert(selected.count(_ % 3 == 0) > selected.size / 2,
      s"selected ${selected.size}, target-like ${selected.count(_ % 3 == 0)}")
  }

  test("curatedFeed: plan → exact-count sample → packed shards; manifest and dirs agree") {
    val docs = (1 to 300).map { i =>
      (i.toLong, Seq("web", "code")(i % 2), (i % 37 + 38).toLong)
    }.toDF("doc_id", "source", "n_tok")
    val weights = Seq(("web", 1), ("code", 3)).toDF("source", "w")
    val out = java.nio.file.Files.createTempDirectory("feed").toString
    val manifest = Pipelines.curatedFeed(docs, "doc_id", "source", weights,
      col("n_tok"), budget = 64, windowsPerShard = 4, outDir = out,
      curate = _.filter(col("doc_id") =!= 7L)) // a visible curation stage
    // expected per-source sample sizes: the x18 floor arithmetic over the
    // CURATED corpus (doc 7 gone)
    val kept = docs.filter(col("doc_id") =!= 7L)
    val per = kept.groupBy("source")
      .agg(sum("n_tok").as("st"), count(lit(1)).as("n"))
      .join(weights, "source")
      .as[(String, Long, Long, Int)].collect()
      .map { case (s, st, n, w) => s -> ((st, n, w.toLong)) }.toMap
    val totTok = per.values.map(_._1).sum.toDouble
    val totW = per.values.map(_._3).sum.toDouble
    val expected = per.map { case (s, (st, n, w)) =>
      val frac = BigDecimal(math.min(1.0, (w / totW) * totTok / st))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s, math.floor(n * frac).toLong)
    }
    // the shard spans reference exactly the sampled docs: per source, the
    // distinct doc count equals the plan's floor arithmetic, and the
    // curated-out doc never appears
    val back = spark.read.parquet(out)
    assert(back.filter(col("doc_id") === 7L).count() === 0)
    val gotDocs = back.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .as[(String, Long)].collect().toMap
    assert(gotDocs === expected, s"got $gotDocs want $expected")
    // manifest ≡ the written layout: same (source, shard) rows, window
    // counts match the dirs' distinct seqs, token totals match span sums
    val manRows = manifest
      .select(col("source"), col("shard"), col("n_windows"), col("shard_tokens"))
      .as[(String, Long, Long, Long)].collect().toSet
    val dirRows = back.groupBy("source", "shard")
      .agg(countDistinct(col("seq")).as("nw"), sum(col("len")).as("tk"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(manRows === dirRows && manRows.nonEmpty)
    // resumable-read contract: within each shard dir the spans replay in
    // (seq, win_offset) order and tile each non-final window to the budget
    val maxSeqs = back.groupBy("source").agg(max("seq").as("__mx"))
    val windowTotals = back.join(maxSeqs, "source")
      .filter(col("seq") =!= col("__mx"))
      .groupBy("source", "seq").agg(sum("len").as("wtok"))
      .select("wtok").distinct().as[Long].collect().toSet
    assert(windowTotals === Set(64L), windowTotals.toString)
  }

  test("curatedFeed tokenCounts: packing arithmetic runs in learned-token units") {
    val docs = (1 to 120).map { i =>
      (i.toLong, Seq("web", "code")(i % 2),
        s"alpha bravo charlie delta echo number$i tail words here now")
    }.toDF("doc_id", "source", "text")
    val weights = Seq(("web", 1), ("code", 1)).toDF("source", "w")
    val vocab = graft.text.Bpe.learnMerges(
      graft.text.Bpe.wordFreq(docs, col("text")), 4)._2
    val counts = graft.text.Bpe.docSubwordCounts(docs, col("doc_id"),
        col("text"), vocab)
      .select(col("doc_id"), col("n_bpe").as("n_tok"))
    val out = Files.createTempDirectory("bpefeed").toString
    val manifest = Pipelines.curatedFeed(docs, "doc_id", "source", weights,
      lit(-1L), // the expression MUST be ignored when tokenCounts is set
      budget = 64, windowsPerShard = 4, outDir = out,
      tokenCounts = Some(counts))
    val back = spark.read.parquet(out)
    // per sampled doc, the span lengths tile exactly the TOKENIZER's
    // count — proof the budget/pack chain consumed n_bpe, not the
    // (poisoned) nTok expression
    val bpeById = counts.as[(Long, Long)].collect().toMap
    val perDoc = back.groupBy("doc_id").agg(sum("len").as("t"))
      .as[(Long, Long)].collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { case (id, t) =>
      assert(t === bpeById(id), s"doc $id packed $t, tokenizer says ${bpeById(id)}")
    }
    // and the manifest's accounting sums to the same model-unit total
    val manTot = manifest.agg(sum("shard_tokens")).as[Long].collect().head
    assert(manTot === perDoc.map(_._2).sum)
  }

  test("dedupCorpus urlCol+domainDeny: denied apex vanishes first; the cap keys on registrable domain") {
    val docs = Seq(
      (1L, "https://www.spamfarm.com/a", "alpha beta gamma delta one"),
      (2L, "https://cdn.spamfarm.com/b", "epsilon zeta eta theta two"),
      (3L, "https://www.example.com/c", "iota kappa lambda mu three"),
      (4L, "https://blog.example.com/d", "nu xi omicron pi four"),
      (5L, "https://keep.org/e", "rho sigma tau upsilon five"))
      .toDF("doc_id", "url", "text")
    val deny = Seq("spamfarm.com").toDF("domain")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, urlCol = Some("url"), domainDeny = Some(deny),
      maxPerSource = 1)
    val m = stages.toMap
    // the deny gate runs FIRST and takes the subdomain down with the apex
    assert(m.contains("domain_gate"))
    assert(m("domain_gate").select("doc_id").as[Long].collect().toSet
      === Set(3L, 4L, 5L))
    // the domain cap groups www./blog. under one registrable domain —
    // no `source` column exists on this corpus at all
    val kept = stages.last._2.select("doc_id").as[Long].collect().toSet
    assert(kept.contains(5L))
    assert(kept.size === 2 && (kept - 5L).subsetOf(Set(3L, 4L)), kept.toString)
  }

  test("dedupCorpus urlExactDedup: re-crawls of one canonical URL collapse before any text work") {
    val docs = Seq(
      (5L, "https://www.x.com/a/b", "alpha beta gamma delta one"),
      (2L, "https://x.com/a/b#frag", "epsilon zeta eta theta two"),
      (9L, "https://x.com/a/b?utm_source=f", "iota kappa lambda mu three"),
      (7L, "https://y.org/other", "nu xi omicron pi four"))
      .toDF("doc_id", "url", "text")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, urlCol = Some("url"), urlExactDedup = true)
    val m = stages.toMap
    assert(m.contains("url_dedup"))
    // min id per canonical: the three x.com/a/b variants keep doc 2
    assert(m("url_dedup").select("doc_id").as[Long].collect().toSet
      === Set(2L, 7L))
    assert(stages.last._2.select("doc_id").as[Long].collect().toSet
      === Set(2L, 7L))
    // without a url column the flag fails loudly, never silently no-ops
    val e = intercept[IllegalArgumentException] {
      Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        urlExactDedup = true)
    }
    assert(e.getMessage.contains("--url-col"), e.getMessage)
  }

  test("dedupCorpus lmTarget+lmMinAvgLogp: the CCNet perplexity gate drops gibberish, spares short docs") {
    val target = Seq("the cat sat on the mat", "the cat sat on the rug",
      "the dog sat on the mat").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat"),   // in-distribution
      (2L, "the dog sat on the rug"),   // recombines seen context
      (3L, "zq xv wk jn qp mm ll"),     // gibberish — every layer OOV
      (4L, "too short"))                // < 3 tokens: unscorable, passes
      .toDF("doc_id", "text")
    // derive the cutoff from the scorer itself (no hand-tuned float):
    // halfway between the worst in-distribution doc and the gibberish
    val scored = graft.text.TextFunctions.scoreKn(docs, col("doc_id"),
        col("text"), graft.text.TextFunctions.fitKn(target, col("text"), 3))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(1L) > scored(3L) && scored(2L) > scored(3L))
    val cut = (math.min(scored(1L), scored(2L)) + scored(3L)) / 2
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, lmTarget = Some(target), lmMinAvgLogp = Some(cut))
    val m = stages.toMap
    assert(m.contains("lm_gate"))
    assert(m("lm_gate").select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 4L))
    // the gate's verdicts survive to the kept corpus
    assert(stages.last._2.select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 4L))
    // one knob without the other fails loudly, never silently skips
    val e = intercept[IllegalArgumentException] {
      Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        lmTarget = Some(target))
    }
    assert(e.getMessage.contains("--lm-min-logp"), e.getMessage)
  }

  test("dedupCorpus lmOrder=5: the KenLM-parity gate branch gates like lmGateKn directly") {
    val target = Seq("the cat sat on the mat today here",
      "the cat sat on the rug today here",
      "the dog sat on the mat today here").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the mat today"),  // in-distribution
      (2L, "zq xv wk jn qp mm ll"),          // gibberish — every layer OOV
      (3L, "four token doc here"))           // < 5 tokens: unscorable, passes
      .toDF("doc_id", "text")
    val model = graft.text.TextFunctions.fitKn(target, col("text"), 5)
    val scored = graft.text.TextFunctions.scoreKn(
        docs, col("doc_id"), col("text"), model)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(1L) > scored(2L))
    val cut = (scored(1L) + scored(2L)) / 2
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, lmTarget = Some(target), lmMinAvgLogp = Some(cut),
      lmOrder = 5)
    val m = stages.toMap
    assert(m.contains("lm_gate"))
    assert(m("lm_gate").select("doc_id").as[Long].collect().toSet
      === Set(1L, 3L))
    // ≡ the gate operator called directly with the same model + cutoff
    val direct = graft.text.TextFunctions.lmGateKn(docs, col("doc_id"),
        col("text"), model, cut)
      .select("doc_id").as[Long].collect().toSet
    assert(direct === Set(1L, 3L))
  }

  test("lang gate: trained classifier drops off-language docs before the scoring stages") {
    // the 4-language seed whose TRAIN-set accuracy (8/8) is pinned in
    // LangIdClassifierSpec; the pipeline docs are drawn from it so the
    // gate decision is deterministic-correct, not held-out luck (a
    // 2-head model trains to mirror weights w_en = -w_de and sits at
    // σ≈0.51 on held-out text — too weak to assert memberships on)
    val seed = Seq(
      ("the quick brown fox jumps over the lazy dog and the cat sleeps", "en"),
      ("she said that this is the best thing with the right words", "en"),
      ("der schnelle braune fuchs springt über den faulen hund und die katze", "de"),
      ("sie sagte daß dies das beste ding mit den richtigen wörtern ist", "de"),
      ("el rápido zorro marrón salta sobre el perro perezoso y el niño", "es"),
      ("ella dijo que esto es lo mejor con las palabras señaladas así", "es"),
      ("le renard brun rapide saute par dessus le chien paresseux déjà", "fr"),
      ("elle a dit que c'était la meilleure chose avec les bons mots", "fr"))
      .toDF("text", "lang")
    val models = graft.text.LangIdClassifier.train(seed, col("text"),
      col("lang"), Seq("de", "en", "es", "fr"))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the cat sleeps"),
      (2L, "der schnelle braune fuchs springt über den faulen hund und die katze"),
      (3L, "she said that this is the best thing with the right words"))
      .toDF("doc_id", "text")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, langKeep = Some((models, Set("en"))))
    val m = stages.toMap
    assert(m.contains("lang_gate"))
    val kept = m("lang_gate").select("doc_id").as[Long].collect().toSet
    // the gate IS predict-then-filter (the contract the stage states)
    val direct = graft.text.LangIdClassifier.predict(docs, col("text"), models)
      .filter(col("predicted") === "en")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === direct)
    // real discrimination: the German doc drops, the English docs stay
    assert(kept === Set(1L, 3L), kept)
    // the funnel shrinks monotonically through the gate
    val counts = stages.map { case (_, df) => df.count() }
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a }, counts)
    // and the dropped doc never reaches the chain's end
    assert(!stages.last._2.select("doc_id").as[Long].collect().toSet
      .contains(2L))
    // CCNet's confidence rule: with minProb between the two English
    // docs' best-head probabilities, only the more-confident one
    // survives — and the gate stays ≡ predict-then-filter
    val ps = graft.text.LangIdClassifier.predict(docs, col("text"), models)
      .filter(col("predicted") === "en")
      .select(col("doc_id"), greatest(col("p_de"), col("p_en"),
        col("p_es"), col("p_fr")).as("best"))
      .as[(Long, Double)].collect().toMap
    assert(ps.keySet === Set(1L, 3L))
    val tau = (ps(1L) + ps(3L)) / 2
    val confident = graft.text.LangIdClassifier.langGate(docs,
        col("doc_id"), col("text"), models, Set("en"), minProb = tau)
      .select("doc_id").as[Long].collect().toSet
    val expectConf = ps.filter(_._2 >= tau).keySet
    assert(confident === expectConf, s"tau=$tau ps=$ps")
    assert(confident.size === 1, s"tau=$tau ps=$ps")
  }

  test("string doc ids run the WHOLE chain via the internal surrogate; raw-keyed stage joins") {
    // a non-integral-id corpus gets a 128-bit md5-hex surrogate at entry
    // (detHash128, NULL/duplicate/collision-checked) and the caller's ids
    // come back out untouched — real corpora key on string stems/URLs/
    // UUIDs, and the r14 integral-only refusal died on them at the front
    // door; the r15 60-bit fold aborted ~35% of 10⁹-key runs
    val rep10 = Seq.fill(10)("copy").mkString(" ")
    val docsStr = Seq(
      ("stem-alpha", "the cat sat on the mat and purred quietly today ok"),
      ("stem-beta",  "the cat sat on the mat and purred quietly today ok"),
      ("url://c?x",  "the quick brown fox jumped over the lazy dog today"),
      ("url://c2&y", "the quick brown fox jumped over the lazy dog there"),
      ("uuid-dddd",  s"an entirely different document $rep10 about stars"))
      .toDF("doc_id", "text")
    val stages = Pipelines.dedupCorpusStages(docsStr, col("doc_id"),
      col("text"), minQuality = 0.0, minJaccard = 0.3)
    // no internal surrogate column leaks out of ANY emitted stage
    stages.foreach { case (n, df) =>
      assert(!df.columns.contains("__graft_sid"), s"stage $n leaks sid")
    }
    val kept = stages.last._2.select("doc_id").as[String].collect().toSet
    // exact dups collapse to ONE of the stems; the near-dup url pair to
    // ONE of the urls; the distinct doc survives — all original ids
    assert(kept.subsetOf(Set("stem-alpha", "stem-beta", "url://c?x",
      "url://c2&y", "uuid-dddd")))
    assert(kept.count(Set("stem-alpha", "stem-beta")) === 1, kept)
    assert(kept.count(Set("url://c?x", "url://c2&y")) === 1, kept)
    assert(kept.contains("uuid-dddd"))
    // ≡ the integral-id chain on the same corpus: identical surviving
    // TEXT set (representative ids may differ — surrogate vs raw order)
    val docsLong = docsStr.withColumn("doc_id",
      xxhash64(col("doc_id")))
    val keptLong = Pipelines.dedupCorpus(docsLong, col("doc_id"),
      col("text"), minQuality = 0.0, minJaccard = 0.3)
      .select("text").as[String].collect().toSet
    val keptTexts = stages.last._2.select("text").as[String].collect().toSet
    // near-dup clusters have equal-text members only for the exact pair,
    // so compare cluster-invariant structure: survivor counts per group
    assert(keptLong.size === keptTexts.size)
    // keepBy states the policy in corpus terms and is surrogate-independent
    val keptBest = Pipelines.dedupCorpusStages(docsStr, col("doc_id"),
        col("text"), minQuality = 0.0, minJaccard = 0.3,
        keepBy = Some(length(col("text")).cast("long"))).last._2
      .select("doc_id").as[String].collect().toSet
    assert(keptBest.contains("uuid-dddd"))
    assert(keptBest.count(Set("stem-alpha", "stem-beta")) === 1)
    // NULL ids fail loudly at entry on the surrogate path
    val withNull = Seq((null.asInstanceOf[String], "some text here"),
      ("ok-id", "other text here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Pipelines.dedupCorpusStages(withNull, col("doc_id"), col("text"))
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // DUPLICATE ids fail loudly too (r15 ADVICE: the per-sid countDistinct
    // check could never see two rows carrying the SAME key — exactDedupThin's
    // winner semi-join would then keep every row sharing the winner id)
    val withDup = Seq(("u://a", "some text here"), ("u://a", "same key!"),
      ("u://b", "other text here")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      Pipelines.dedupCorpusStages(withDup, col("doc_id"), col("text"))
    }
    assert(e2.getMessage.contains("unique-id"), e2.getMessage)
    // INTEGRAL ids are checked too (r16): duplicate long ids previously
    // passed the entry unchecked and corrupted clusters silently —
    // exactly the failure the surrogate path's check prevents
    val withDupL = Seq((7L, "first text body here"),
      (7L, "second text body here"), (8L, "third text body here"))
      .toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException] {
      Pipelines.dedupCorpusStages(withDupL, col("doc_id"), col("text"))
    }
    assert(e3.getMessage.contains("unique-id"), e3.getMessage)
    // verifyIds = false restores the trusted-upstream zero-check path
    assert(Pipelines.dedupCorpusStages(withDupL, col("doc_id"),
      col("text"), minQuality = 0.0, verifyIds = false).nonEmpty)
    // the SEMANTIC stage rides the string surrogate raw (comparison-only
    // pair/prune; only k-means seeding folds it to a long): two docs with
    // near-identical embeddings and distinct text collapse to one
    val docsEmb = Seq(
      ("em-a", "first version of the paraphrased passage entirely", Seq(1.0, 0.0, 0.2)),
      ("em-b", "a rewording that shares no shingle with the first", Seq(0.999, 0.001, 0.2)),
      ("em-c", "a genuinely orthogonal document about other topics", Seq(0.0, 1.0, 0.0)))
      .toDF("doc_id", "text", "emb")
    val keptEmb = Pipelines.dedupCorpusStages(docsEmb, col("doc_id"), col("text"),
        minQuality = 0.0, embeddingCol = Some("emb"), semCells = 2,
        minCosine = 0.99).last._2
      .select("doc_id").as[String].collect().toSet
    assert(keptEmb.contains("em-c"), keptEmb)
    assert(keptEmb.count(Set("em-a", "em-b")) === 1, keptEmb)
    // the raw-join shape itself, end-to-end with integral ids: scrub,
    // decont, and substring scrub all fire on the docs they should
    val boiler = "nav bar boilerplate line"
    val rep = "copy copy copy copy copy copy copy copy copy copy"
    val docs = Seq(
      (1L, s"$boiler\nthe cat sat on the mat"),
      (2L, s"$boiler\nthe dog sat on the rug"),
      (3L, s"$boiler\n$rep"),                                    // internal repeats
      (4L, s"$boiler\nthe eval passage leaks here verbatim now")) // contaminated
      .toDF("doc_id", "text")
    val eval = Seq("the eval passage leaks here verbatim now").toDF("text")
    val stages2 = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, lineScrubDf = 3, evalDocs = Some(eval), decontN = 5,
      substrN = Some(5))
    val m = stages2.toMap
    // scrub actually fired: the shared boilerplate line is gone
    val cleaned = m("line_scrub").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(!cleaned(1L).contains(boiler), cleaned(1L))
    assert(cleaned(1L).contains("the cat sat"))
    // decontamination dropped the leaked doc
    assert(m("decontaminated").select("doc_id").as[Long].collect().toSet
      === Set(1L, 2L, 3L))
    // substring scrub kept every surviving doc — the INNER join keyed
    // right (with a nulled cast key this stage returned an EMPTY corpus)
    val sub = m("substring_scrub").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sub.keySet === Set(1L, 2L, 3L))
  }

  test("DecimalType(p,0) doc ids ride the surrogate path end-to-end") {
    // parquet unsigned-64 columns commonly read as DECIMAL(20,0) — the
    // r14 ADVICE case the integral-only require broke; they take the
    // surrogate path (any non-integral type) and come back out untouched
    val docsDec = Seq(
      ("101", "the cat sat on the mat and purred quietly today ok"),
      ("102", "the cat sat on the mat and purred quietly today ok"),
      ("103", "an entirely different document about spark and scale"))
      .toDF("doc_id", "text")
      .withColumn("doc_id", col("doc_id").cast("decimal(20,0)"))
    val kept = Pipelines.dedupCorpus(docsDec, col("doc_id"), col("text"),
      minQuality = 0.0)
    assert(kept.schema("doc_id").dataType ===
      org.apache.spark.sql.types.DecimalType(20, 0))
    val ids = kept.select(col("doc_id").cast("string"))
      .as[String].collect().toSet
    assert(ids.size === 2, ids)
    assert(ids.contains("103"))
    assert(ids.count(Set("101", "102")) === 1, ids)
  }

  test("curatedFeed epochs: same sampled docs, decorrelated deterministic layouts, doc ids carried") {
    val docs = (1 to 200).map { i =>
      (i.toLong, Seq("web", "code")(i % 2), (i % 37 + 38).toLong)
    }.toDF("doc_id", "source", "n_tok")
    val weights = Seq(("web", 2), ("code", 2)).toDF("source", "w")
    def run(epoch: Option[Long]): org.apache.spark.sql.DataFrame = {
      val out = java.nio.file.Files.createTempDirectory("feed_ep").toString
      Pipelines.curatedFeed(docs, "doc_id", "source", weights,
        col("n_tok"), budget = 64, windowsPerShard = 4, outDir = out,
        epoch = epoch).count()
      spark.read.parquet(out)
    }
    def docsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").distinct().as[Long].collect().toSet
    def layout(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "seq", "doc_id", "len")
        .as[(String, Long, Long, Long)].collect().toSet
    val e1 = run(Some(1L)); val e1b = run(Some(1L)); val e2 = run(Some(2L))
    // epoch spans carry the doc id (the pack order is the permutation,
    // but the consumable identity stays doc_id)
    assert(e1.columns.contains("doc_id") && e1.columns.contains("pos"))
    // sampling is epoch-independent: identical doc sets
    assert(docsOf(e1) === docsOf(e2) && docsOf(e1).nonEmpty)
    // same epoch → identical layout (resumable); different epoch →
    // different window composition over the same docs
    assert(layout(e1) === layout(e1b))
    assert(layout(e1) !== layout(e2))
    // each epoch layout still tiles: per doc the span lengths sum to the
    // doc's token count
    val perDoc = e2.groupBy("doc_id").agg(sum("len").as("tl"))
      .join(docs, "doc_id")
      .filter(col("tl") =!= col("n_tok")).count()
    assert(perDoc === 0)
  }

  test("dedupCorpus imageCol: pixel near-dups cluster and dedup like text near-dups") {
    import graft.multimodal.Multimodal
    // four docs with DISTINCT texts (no text pair fires); docs 1-2 carry
    // near-identical images (one gray nudged, same gradient signs), doc 3
    // a reversed gradient, doc 4 another unrelated profile
    val texts = Map(
      1L -> "alpine meadows under clear morning light with distant peaks",
      2L -> "harbor cranes unload container ships beneath sodium lamps",
      3L -> "desert winds carve long ridges into the orange dune field",
      4L -> "subway platforms echo with late night maintenance announcements")
    val grays = Map(
      1L -> Seq(200, 150, 100, 50, 210, 160, 110, 60, 220, 170, 120, 70, 230, 180, 130, 80),
      2L -> Seq(198, 150, 100, 50, 210, 160, 110, 60, 220, 170, 120, 70, 230, 180, 130, 80),
      3L -> Seq(50, 100, 150, 200, 60, 110, 160, 210, 70, 120, 170, 220, 80, 130, 180, 230),
      4L -> Seq(10, 240, 20, 230, 30, 220, 40, 210, 50, 200, 60, 190, 70, 180, 80, 170))
    val docs = texts.keys.toSeq.sorted.map(i => (i, texts(i), grays(i)))
      .toDF("doc_id", "text", "grays")
      .select(col("doc_id"), col("text"),
        Multimodal.bmpImageRows(lit(6), col("grays")).as("img"))
      .localCheckpoint()
    val keptNoImg = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptNoImg === Set(1L, 2L, 3L, 4L)) // texts are all distinct
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, imageCol = Some("img")).last._2
      .select("doc_id").as[Long].collect().toSet
    // image near-dup 1-2 collapses to the min-id representative
    assert(kept === Set(1L, 3L, 4L))
  }

  test("dedupCorpus string ids + imageCol: perceptual dedup rides the 128-bit surrogate") {
    import graft.multimodal.Multimodal
    // the r16 ADVICE regression: string-keyed corpora with a perceptual
    // column threw under ANSI (fingerprint functions cast the md5-hex
    // surrogate to long). Same geometry as the long-keyed imageCol test,
    // keyed by URLs.
    val texts = Map(
      "https://a.example/one" ->
        "alpine meadows under clear morning light with distant peaks",
      "https://b.example/two" ->
        "harbor cranes unload container ships beneath sodium lamps",
      "https://c.example/three" ->
        "desert winds carve long ridges into the orange dune field")
    val grays = Map(
      "https://a.example/one" ->
        Seq(200, 150, 100, 50, 210, 160, 110, 60, 220, 170, 120, 70, 230, 180, 130, 80),
      "https://b.example/two" ->
        Seq(198, 150, 100, 50, 210, 160, 110, 60, 220, 170, 120, 70, 230, 180, 130, 80),
      "https://c.example/three" ->
        Seq(50, 100, 150, 200, 60, 110, 160, 210, 70, 120, 170, 220, 80, 130, 180, 230))
    val docs = texts.keys.toSeq.sorted.map(k => (k, texts(k), grays(k)))
      .toDF("doc_id", "text", "grays")
      .select(col("doc_id"), col("text"),
        Multimodal.bmpImageRows(lit(6), col("grays")).as("img"))
      .localCheckpoint()
    // fingerprint functions preserve the caller's id type end-to-end
    val fpTyped = Multimodal.imageDHashById(docs, col("doc_id"), col("img"), 16)
    assert(fpTyped.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(fpTyped.count() === 3)
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, imageCol = Some("img")).last._2
      .select("doc_id").as[String].collect().toSet
    // a/b are pixel near-dups: exactly one survives; c is untouched
    assert(kept.contains("https://c.example/three") && kept.size === 2)
    assert((kept - "https://c.example/three").subsetOf(
      Set("https://a.example/one", "https://b.example/two")))
  }

  test("dedupCorpus on a CJK corpus: quality gate keeps non-Latin docs, word-gram dedup collapses them (r17 Unicode tokens)") {
    // pre-r17 this corpus died at the quality gate (ASCII tokenizer →
    // zero tokens → tokenless score) and deduped nothing; now each Han
    // char is a token, so the MinHash/LSH word-gram chain sees shingles
    val passage = "深層学習の訓練データは重複排除によって品質が大きく向上する" +
      "ことが知られている統計的な言語モデルの評価では同一文書の繰り返しが" +
      "指標を歪めるため除去が必要である"
    val docs = Seq(
      (1L, passage),
      (2L, passage + "追加の一文がある"), // near-dup: shared shingles
      (3L, "自然言語処理の検索基盤は転置索引と分散処理で構成されており" +
        "大規模な文書集合に対して高速な問い合わせ応答を実現するものである"))
      .toDF("doc_id", "text").localCheckpoint()
    // tokens are non-empty (char-unit fallback), so the quality gate has
    // signal instead of zeroes
    val nToks = docs.select(
      graft.text.TextFunctions.tokenCount(col("text")).as("n")).as[Int].collect()
    assert(nToks.forall(_ > 30), nToks.toSeq)
    val kept = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L)) // 1-2 collapse to min id; 3 distinct
  }

  test("dedupCorpus keepBy: the best-scoring cluster member survives, not the min id") {
    val near = "the quick brown fox jumps over the lazy dog near the " +
      "riverbank every single morning before the sun rises over the hills"
    val docs = Seq(
      (1L, near),
      (2L, near + " and keeps running"), // the LONGER near-dup copy
      (3L, "completely different text about container ships unloading " +
        "beneath sodium lamps at the harbor through the night"))
      .toDF("doc_id", "text").localCheckpoint()
    val keptDefault = Pipelines.dedupCorpus(docs, col("doc_id"),
        col("text"), minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptDefault === Set(1L, 3L)) // min-id keeps the shorter copy
    val keptBest = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, keepBy = Some(length(col("text")))).last._2
      .select("doc_id").as[Long].collect().toSet
    assert(keptBest === Set(2L, 3L)) // keep-by-length keeps the longer
    // ties fall back to min id: two byte-identical lengths
    val tied = Seq((7L, near), (8L, near),
      (9L, "unrelated content that stands alone in its own cluster " +
        "speaking of deserts and dunes and long orange ridgelines"))
      .toDF("doc_id", "text").localCheckpoint()
    val keptTied = Pipelines.dedupCorpusStages(tied, col("doc_id"), col("text"),
        minQuality = 0.0, keepBy = Some(length(col("text")))).last._2
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied === Set(7L, 9L))
  }

  test("dedupCorpus audioCol/videoCol: every perceptual axis joins one cluster graph") {
    import graft.multimodal.Multimodal
    // five docs with DISTINCT texts; docs 1-2 carry near-identical AUDIO
    // (uniform gain shift — same energy gradient), docs 3-4 near-identical
    // VIDEO (uniform brightness shift — same temporal gradient); doc 5
    // unrelated on both axes. One CC pass must collapse both pairs.
    val texts = Map(
      1L -> "alpine meadows under clear morning light with distant peaks",
      2L -> "harbor cranes unload container ships beneath sodium lamps",
      3L -> "desert winds carve long ridges into the orange dune field",
      4L -> "subway platforms echo with late night maintenance announcements",
      5L -> "tidal pools glitter between basalt shelves at low water")
    // fingerprint-distinct 16-step profiles (gradient-sign patterns are
    // pairwise >= 7 bits apart, and the one 2-bit-close pair C/E never
    // shares a band value, so no spurious candidate is even proposed)
    val A = (0 until 16).map(i => if (i % 2 == 0) 235 else 15)  // fp 0x5555
    val B = (0 until 16).map(i => 200 - i * 9)                  // fp 0x7FFF
    val C = (0 until 16).map(i => 40 + i * 12)                  // fp 0x8000
    val E = (0 until 16).map(i => if (i < 8) 220 else 30)       // fp 0x0080
    val F = (0 until 16).map(i => if (i % 2 == 0) 15 else 235)  // fp 0xAAAA
    def shift(p: Seq[Int], d: Int) = p.map(_ + d)
    // audio pair 1-2 (E vs gain-shifted E); video pair 3-4 (F vs re-graded F)
    val audioEnv = Map(1L -> E, 2L -> shift(E, 5), 3L -> A, 4L -> B, 5L -> C)
    val videoEnv = Map(1L -> A, 2L -> B, 3L -> F, 4L -> shift(F, 2), 5L -> C)
    val docs = texts.keys.toSeq.sorted
      .map(i => (i, texts(i), audioEnv(i), videoEnv(i)))
      .toDF("doc_id", "text", "aenv", "venv")
      .select(col("doc_id"), col("text"),
        Multimodal.wavPcm16(lit(8000), lit(1),
          flatten(transform(col("aenv"), a => array(a, a, a, a)))).as("aud"),
        Multimodal.y4mVideo(lit(4), lit(3), col("venv")).as("vid"))
      .localCheckpoint()
    val keptPlain = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPlain === Set(1L, 2L, 3L, 4L, 5L)) // texts all distinct
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, audioCol = Some("aud"), videoCol = Some("vid")).last._2
      .select("doc_id").as[Long].collect().toSet
    // audio near-dup 1-2 AND video near-dup 3-4 both collapse to min-id
    assert(kept === Set(1L, 3L, 5L))
  }

  test("dedupCorpus embeddingCol: semantic near-dups collapse without any shared n-gram") {
    // four docs with DISTINCT texts (no lexical pair fires); docs 1-2 are
    // paraphrases — near-identical embeddings (cosine ~0.99995), no shared
    // 3-gram; docs 3-4 orthogonal to everything
    val docs = Seq(
      (1L, "alpine meadows under clear morning light with distant peaks",
        Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, "harbor cranes unload container ships beneath sodium lamps",
        Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, "desert winds carve long ridges into the orange dune field",
        Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, "subway platforms echo with late night maintenance announcements",
        Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("doc_id", "text", "emb").localCheckpoint()
    val keptPlain = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPlain === Set(1L, 2L, 3L, 4L))
    // semCells=1 keeps the 4-doc fixture deterministic (one cell → pure
    // within-cell exact cosine; a k=2 split of near-orthogonal vectors
    // depends on init). Cell partitioning itself is VectorsSpec's job.
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, embeddingCol = Some("emb"), semCells = 1).last._2
      .select("doc_id").as[Long].collect().toSet
    // semantic near-dup 1-2 collapses to the min-id representative
    assert(kept === Set(1L, 3L, 4L))
  }

  test("dedupCorpus protoPruneFraction: D4 prune drops the per-cell most-prototypical survivors") {
    import graft.ann.Vectors
    val docs = Seq(
      (1L, "alpine meadows under clear morning light with distant peaks",
        Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, "harbor cranes unload container ships beneath sodium lamps",
        Seq(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, "desert winds carve long ridges into the orange dune field",
        Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, "subway platforms echo with late night maintenance announcements",
        Seq(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("doc_id", "text", "emb").localCheckpoint()
    // fraction 0.5 over the 3 survivors in the single cell: floor(1.5) = 1
    // pruned (floor semantics — AT MOST the fraction; 0.3 would floor to 0)
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, embeddingCol = Some("emb"), semCells = 1,
      protoPruneFraction = 0.5)
    val byName = stages.toMap
    assert(stages.map(_._1).contains("proto_prune"))
    // semantic near-dup 1-2 collapsed first; then floor(0.5 × 3) = 1 of
    // the survivors pruned as most-prototypical
    val clusterKept = byName("cluster_representatives")
      .select("doc_id").as[Long].collect().toSet
    assert(clusterKept === Set(1L, 3L, 4L))
    val kept = stages.last._2.select("doc_id").as[Long].collect().toSet
    assert(kept.size === 2 && kept.subsetOf(clusterKept))
    // the dropped doc is exactly what the library operator picks under
    // the SAME frozen centroids (k-means over the exact-dedup survivors)
    val cents = Vectors.kmeansCentroids(
      byName("exact_dedup").select(col("doc_id").as("vec_id"), col("emb")),
      "vec_id", "emb", 1)
    val wantDrop = Vectors.prototypicalityPrune(
        clusterKept.toSeq.map(i => i -> Map(1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
          3L -> Seq(0.0f, 1.0f, 0.0f, 0.0f),
          4L -> Seq(0.0f, 0.0f, 1.0f, 0.0f))(i)).toDF("vec_id", "emb"),
        "vec_id", "emb", cents, 0.5)
      .filter(col("pruned")).select("vec_id").as[Long].collect().toSet
    assert(clusterKept -- kept === wantDrop)
    // fraction 0 is the identity (no proto_prune stage at all)
    val plain = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, embeddingCol = Some("emb"), semCells = 1)
    assert(!plain.map(_._1).contains("proto_prune"))
  }

  test("dedupCorpus embeddingCol: empty and tiny corpora survive the semantic stage") {
    val schema = "doc_id LONG, text STRING, source STRING, emb ARRAY<FLOAT>"
    // EMPTY corpus: the semantic stage short-circuits to zero pairs
    // instead of tripping kmeansCentroids' k = 0 refusal
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val keptEmpty = Pipelines.dedupCorpusStages(empty, col("doc_id"), col("text"),
        minQuality = 0.0, embeddingCol = Some("emb"), semCells = 4).last._2
      .select("doc_id").as[Long].collect()
    assert(keptEmpty.isEmpty)
    // corpus SMALLER than semCells: k clamps to the corpus size
    val tiny = Seq(
      (1L, "alpine meadows under clear morning light with distant peaks",
        "a", Seq(1.0f, 0.0f)),
      (2L, "harbor cranes unload container ships beneath sodium lamps",
        "a", Seq(0.0f, 1.0f)))
      .toDF("doc_id", "text", "source", "emb")
    val keptTiny = Pipelines.dedupCorpusStages(tiny, col("doc_id"), col("text"),
        minQuality = 0.0, embeddingCol = Some("emb"), semCells = 64).last._2
      .select("doc_id").as[Long].collect().toSet
    assert(keptTiny === Set(1L, 2L))
  }

  test("evaluate: scores ⋈ test manifest → model × metric pivot") {
    val test = Seq("s1", "s2").toDF("stem")
    val scores = Seq(
      ("catvton", "s1", "lpips", 0.10), ("catvton", "s2", "lpips", 0.20),
      ("catvton", "s1", "ssim", 0.90),
      ("dit", "s1", "lpips", 0.30),
      ("dit", "s9", "lpips", 9.99)) // s9 not in test set: skipped
      .toDF("model", "stem", "metric", "value")
    val got = Pipelines.evaluate(test, scores, Seq("lpips", "ssim"))
      .orderBy("model").collect()
    assert(got.length === 2)
    assert(math.abs(got(0).getAs[Double]("lpips") - 0.15) < 1e-9)
    assert(math.abs(got(1).getAs[Double]("lpips") - 0.30) < 1e-9)
  }

  test("imagePairScores: in-engine PSNR/SSIM/MSE rows feed evaluate") {
    val pairs = Seq(
      ("m1", "s1", Array(0.0, 0.0), Array(1.0, 1.0)),
      ("m1", "s2", Array(0.5, 0.5), Array(0.5, 0.5)))
      .toDF("model", "stem", "pred", "truth")
    val scores = Pipelines.imagePairScores(pairs, col("model"), col("stem"),
      col("pred"), col("truth"))
    assert(scores.count() === 6) // 2 pairs × 3 metrics, long format
    val out = Pipelines.evaluate(Seq("s1", "s2").toDF("stem"), scores,
      Seq("mse", "ssim")).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Double]("mse") === 0.5)  // mean of 1.0 and 0.0
    assert(out(0).getAs[Double]("ssim") < 1.0)   // s1 pair differs
  }

  test("sync: manifest diff + executor-side file transfer") {
    val src = Files.createTempDirectory("syncsrc")
    val dst = Files.createTempDirectory("syncdst")
    Seq("f1", "f2", "f3").foreach(n =>
      Files.write(src.resolve(n), n.getBytes))
    val remote = Seq("f1", "f2", "f3").toDF("key")
    val local = Seq("f2").toDF("key")
    val pending = Pipelines.sync(remote, local, "key",
      Some((src.toString, dst.toString)))
    assert(pending.as[String].collect().toSet === Set("f1", "f3"))
    // Hadoop LocalFileSystem emits .crc sidecars — ignore dotfiles
    assert(dst.toFile.list().filterNot(_.startsWith(".")).toSet === Set("f1", "f3"))
  }

  test("curriculum runs the three stage profiles over one manifest") {
    val rows = for {
      i <- 1 to 30
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val stages = Pipelines.curriculum(manifest).toMap
    assert(stages.keySet === Set("easy", "medium", "hard"))
    val easyCounts = stages("easy").groupBy("difficulty").count()
      .as[(String, Long)].collect().toMap
    assert(easyCounts.keySet === Set("easy"))       // stage 1: easy only
    val hardCounts = stages("hard").groupBy("difficulty").count()
      .as[(String, Long)].collect().toMap
    assert(hardCounts.getOrElse("hard", 0L) === 5L) // floor(10 * 0.5)
  }

  test("shardedFeedSink: shards hold contiguous sorted pos ranges replaying the global order") {
    val out = Files.createTempDirectory("feed").toString + "/shards"
    val feed = (1L to 1000L).map(i => (i, s"item$i")).toDF("pos", "payload")
      .orderBy(rand(7)) // scrambled input: the sink must restore order
    Pipelines.shardedFeedSink(feed, out, shards = 4)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length === 4)
    // per-file ranges are sorted, contiguous, and non-overlapping in file
    // name order — reading shards sequentially replays pos 1..1000
    val perFile = files.map(f =>
      spark.read.parquet(f.getPath).select("pos").as[Long].collect().toSeq)
    perFile.foreach(p => assert(p === p.sorted))
    val all = perFile.flatten.toSeq
    assert(all.sorted === (1L to 1000L))
    val ranges = perFile.map(p => (p.min, p.max)).toSeq
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping shard ranges: $ranges")
      case _ =>
    }
  }

  test("pairs CSV round-trip (S5 source)") {
    val dir = Files.createTempDirectory("pairs").toString + "/pairs_csv"
    val pairs = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("person_id", "garment_id")
    Sources.writePairs(pairs, dir)
    val back = Sources.readPairs(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(back === Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("labels CSV reads the {split}_labels.txt shape (S5 source)") {
    val dir = Files.createTempDirectory("labels")
    Files.write(dir.resolve("train_labels.txt"),
      "images/a.jpg 3\nimages/b.jpg 0\nimages/c.jpg 12\n".getBytes)
    val got = Sources.readLabels(spark, dir.toString + "/train_labels.txt")
      .as[(String, Int)].collect().toSet
    assert(got === Set(("images/a.jpg", 3), ("images/b.jpg", 0), ("images/c.jpg", 12)))
  }

  test("dedupCorpus end-to-end: quality gate, exact dups, near-dup clusters") {
    import org.apache.spark.sql.functions.col
    // long sentences score above the 0.5 quality gate; "xx" does not.
    val base = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer"
    val docs = Seq(
      1L -> base,                                // representative
      2L -> base,                                // exact dup of 1 -> dropped
      3L -> (base + " tonight"),                 // near dup of 1 -> clustered, dropped
      4L -> ("completely different content about spark shuffles and " +
        "partitions and aggregate hash maps spilling to local disk under " +
        "memory pressure during wide transformations at large scale"),
      5L -> "xx")                                // below quality gate -> dropped
      .map { case (i, t) => (i, t) }.toDF("doc_id", "text")
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minhashK = 8, bandSize = 4, ngram = 3, minJaccard = 0.3).last._2
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("dedupCorpus gopherGate: the per-rule gate drops what the scored gate passes") {
    import org.apache.spark.sql.functions.col
    // both long docs clear the SCORED quality gate (length + stopwords);
    // doc 2 additionally trips Gopher's top-token-dominance rule (one
    // word 6× in 35 tokens > 1/10) — only the per-rule gate sees that
    val clean = ((1 to 30).map(i => s"alpha$i") ++ Seq("the", "a", "is", "that"))
      .mkString(" ")
    val topHeavy = ((1 to 25).map(i => s"beta$i") ++
      Seq.fill(6)("repeatme") ++ Seq("the", "a", "is", "that")).mkString(" ")
    val docs = Seq(1L -> clean, 2L -> topHeavy, 3L -> "xx")
      .toDF("doc_id", "text")
    val off = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(off === Set(1L, 2L)) // scored gate alone keeps both long docs
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      gopherGate = true)
    assert(stages.map(_._1).contains("gopher_gate"))
    val on = stages.last._2.select("doc_id").as[Long].collect().toSet
    assert(on === Set(1L))
    // the stage is exactly the keepExpr filter of the scored-gate output
    val q = stages.toMap.apply("quality_gate")
    val g = stages.toMap.apply("gopher_gate")
    assert(g.select("doc_id").as[Long].collect().toSet ===
      q.filter(graft.text.GopherRules.keepExpr(col("text")))
        .select("doc_id").as[Long].collect().toSet)
  }

  test("dedupCorpus opt-in stages: containment catches doc-in-doc dups; domain cap bounds each source") {
    import org.apache.spark.sql.functions.col
    val long = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer " +
      "before returning home across the wide river under the evening sky"
    val short = "the quick brown fox jumps over the lazy dog and then runs"
    val other = "completely different content about spark shuffles and " +
      "partitions and aggregate hash maps spilling to local disk under " +
      "memory pressure during wide transformations at large scale"
    // doc 2 is wholly CONTAINED in doc 1: containment ~1.0, Jaccard low
    // (the union is dominated by the long side) — without the containment
    // stage both survive
    val docs = Seq((1L, long, "a"), (2L, short, "a"), (3L, other, "b"))
      .toDF("doc_id", "text", "source")
    def keptIds(minC: Option[Double]) =
      Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
          minhashK = 8, bandSize = 4, ngram = 3, minJaccard = 0.5,
          minContainment = minC).last._2
        .select("doc_id").as[Long].collect().toSet
    assert(keptIds(None) === Set(1L, 2L, 3L), "precondition: Jaccard misses the embedded doc")
    assert(keptIds(Some(0.8)) === Set(1L, 3L), "containment collapses doc-in-doc")
    // domain cap: 12 distinct quality docs in source "big" (genuinely
    // different texts — near-dups would collapse in the LSH stage and mask
    // the cap), cap at 3 — the cap applies before dedup and bounds every
    // source independently
    val bigTexts = Seq(
      "the harbor lights flickered while fishing boats returned with the evening tide",
      "a mountain trail winds through cedar groves toward the snowline above the valley",
      "fresh bread and roasted coffee filled the market square early on saturday morning",
      "the orchestra tuned quietly before the conductor raised a baton over the hall",
      "monsoon clouds gathered over the rice terraces as farmers watched from the ridge",
      "an old librarian catalogued maps of forgotten railways across the northern plains",
      "solar panels tilted toward noon while the battery bank charged behind the barn",
      "the chess club met on thursdays to study endgames from a century of tournaments",
      "migrating cranes circled the wetland twice before settling among the reeds at dusk",
      "a potter shaped river clay into tall jars glazed with ash from the kiln fire",
      "the night train crossed the steel bridge as frost settled on the signal wires",
      "volunteers repainted the lighthouse stairs and replaced the lamp room windows")
    val many = bigTexts.zipWithIndex.map { case (t, i) =>
        (10L + i, t, "big") } :+ ((30L, long, "small"))
    val kept2 = Pipelines.dedupCorpusStages(many.toDF("doc_id", "text", "source"),
        col("doc_id"), col("text"), maxPerSource = 3).last._2
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept2("big") === 3L && kept2("small") === 1L)
  }

  test("dedupCorpus preClean: markup stripped and PII redacted BEFORE the gate; raw PII never in the kept corpus") {
    import org.apache.spark.sql.functions.col
    val clean = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer"
    // tag soup around otherwise-good prose: without preClean the <div>
    // tokens depress the quality score below the gate
    val taggy = "<div><p>the quick brown fox jumps over the lazy dog and " +
      "then runs far away into the quiet green forest to rest for a while " +
      "longer tonight</p></div>"
    val pii = "completely different content about spark shuffles and " +
      "partitions contact alice@example.com or +1-555-0100-200 for the " +
      "cluster access keys during wide transformations at large scale"
    val docs = Seq((1L, clean), (2L, taggy), (3L, pii)).toDF("doc_id", "text")
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        preClean = true).last._2
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // doc 2 survives the gate because tags were stripped first — but its
    // stripped text is now a near-dup of doc 1 and clusters away
    assert(kept.keySet === Set(1L, 3L), s"got ${kept.keySet}")
    assert(!kept(3L).contains("alice@example.com") &&
      !kept(3L).contains("555-0100"), "raw PII reached the kept corpus")
    assert(kept(3L).contains("<EMAIL>") && kept(3L).contains("<PHONE>"))
    // without preClean the taggy doc is gated out and the PII doc keeps
    // its raw identifiers — the stage changes both outcomes
    val raw = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(raw.keySet === Set(1L, 3L))
    assert(raw(3L).contains("alice@example.com"))
  }

  test("dedupCorpus with EVERY opt-in stage on: clean, decontaminate, cap, containment, scrub compose") {
    import org.apache.spark.sql.functions.col
    val long = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer " +
      "before returning home across the wide river under the evening sky"
    val short = "the quick brown fox jumps over the lazy dog and then runs"
    val evalText = "held out benchmark question about the capital of france " +
      "and its famous tower near the river in the spring"
    val docs = Seq(
      // markup + PII, survives only because preClean strips tags first
      (1L, "<p>" + long + " contact bob@example.com today</p>", "a"),
      (2L, short, "a"),              // contained in 1 -> containment drop
      (3L, "leaked text where the held out benchmark question about the " +
        "capital of france appears verbatim in otherwise long unremarkable " +
        "prose about european geography and travel", "b"), // contaminated
      (4L, "completely different content about spark shuffles and " +
        "partitions and aggregate hash maps spilling to local disk under " +
        "memory pressure during wide transformations at large scale", "b"))
      .toDF("doc_id", "text", "source")
    val eval = Seq((100L, evalText)).toDF("doc_id", "text")
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        preClean = true, evalDocs = Some(eval),
        minContainment = Some(0.8), maxPerSource = 5,
        substrN = Some(5)).last._2
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // 1 kept (cleaned), 2 contained-in-1, 3 contaminated, 4 kept
    assert(kept.keySet === Set(1L, 4L), s"got ${kept.keySet}")
    // substrN rewrites kept text as the normalized token stream (documented)
    // — so the <EMAIL> placeholder survives as the token "email"; what must
    // never appear is the raw markup or the raw address
    assert(!kept(1L).contains("<p>") && !kept(1L).contains("bob") &&
      !kept(1L).contains("@"), kept(1L))
    assert(kept(1L).contains("email"), kept(1L))
  }

  test("dedupCorpusStages: the funnel audit exposes every active stage, monotonically shrinking") {
    import org.apache.spark.sql.functions.col
    val long = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away into the quiet green forest to rest for a while longer"
    val evalText = "held out benchmark question about the capital of france " +
      "and its famous tower near the river in the spring"
    val docs = Seq(
      (1L, "<p>" + long + "</p>", "a"),
      (2L, long + " tonight", "a"),       // near-dup of 1 -> clustered away
      (3L, "leaked " + evalText + " embedded in long prose about european " +
        "travel and geography for padding the document", "b"),
      (4L, "completely different content about spark shuffles and " +
        "partitions and aggregate hash maps spilling to local disk under " +
        "memory pressure during wide transformations at large scale", "b"),
      (5L, "xx", "b"))                    // below the quality gate
      .toDF("doc_id", "text", "source")
    val eval = Seq((100L, evalText)).toDF("doc_id", "text")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      preClean = true, evalDocs = Some(eval), maxPerSource = 10,
      substrN = Some(5))
    assert(stages.map(_._1) === Seq("input", "pre_clean", "quality_gate",
      "domain_cap", "decontaminated", "exact_dedup",
      "cluster_representatives", "substring_scrub"))
    val counts = stages.map { case (n, df) => n -> df.count() }
    // the funnel only narrows (pre_clean rewrites, never drops)
    counts.sliding(2).foreach { case Seq((a, ca), (b, cb)) =>
      assert(cb <= ca, s"$b ($cb) grew over $a ($ca)")
    }
    assert(counts.toMap.apply("input") === 5L)
    assert(counts.toMap.apply("quality_gate") === 4L)   // doc 5 gated
    assert(counts.toMap.apply("decontaminated") === 3L) // doc 3 dropped
    assert(counts.toMap.apply("cluster_representatives") === 2L) // doc 2 clustered
    // and dedupCorpus IS the chain's last stage, each of its settings
    // forwarded: the banner line all 5 docs share goes at lineScrubDf = 3,
    // and doc 5 passes the gate at minQuality = 0
    val framed = docs.withColumn("text", concat(lit("shared nav banner\n"), col("text")))
    def keptOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").as[(Long, String)].collect().toSet
    val direct = Seq(0, 3).map { k =>
      val thin = keptOf(Pipelines.dedupCorpus(framed, col("doc_id"), col("text"),
        minQuality = 0.0, minJaccard = 0.5, lineScrubDf = k))
      assert(thin === keptOf(Pipelines.dedupCorpusStages(framed, col("doc_id"),
        col("text"), minQuality = 0.0, minJaccard = 0.5, lineScrubDf = k).last._2),
        s"lineScrubDf=$k")
      thin
    }
    assert(direct(0).forall(_._2.startsWith("shared nav banner")), direct(0))
    assert(direct(1).forall(!_._2.contains("shared nav banner")), direct(1))
    assert(direct.forall(_.map(_._1).contains(5L)), direct)
  }

  test("dedupCorpus decontamination: docs sharing eval n-grams are dropped before dedup") {
    import org.apache.spark.sql.functions.col
    val evalText = "the held out benchmark question asks about the capital " +
      "of france and its famous tower near the river"
    val contaminated = "training document that leaked the held out benchmark " +
      "question asks about the capital of france verbatim somewhere inside " +
      "its long body of otherwise unremarkable prose about geography"
    val cleanDoc = "completely different content about spark shuffles and " +
      "partitions and aggregate hash maps spilling to local disk under " +
      "memory pressure during wide transformations at large scale"
    val docs = Seq((1L, contaminated), (2L, cleanDoc)).toDF("doc_id", "text")
    val eval = Seq((100L, evalText)).toDF("doc_id", "text")
    val kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        evalDocs = Some(eval)).last._2
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L), s"contaminated doc survived: $kept")
    // without the stage both survive (they are not near-dups of each other)
    val noStage = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(noStage === Set(1L, 2L))
    // the operator itself reports the overlap for auditing
    val audit = graft.dedup.Dedup.contaminatedIds(docs, col("doc_id"),
      col("text"), eval, col("text"), 5).as[(Long, Long)].collect().toMap
    assert(audit.keySet === Set(1L) && audit(1L) >= 5L)
  }

  test("dedupCorpus lineScrubDf: boilerplate lines vanish before gating and signatures") {
    import spark.implicits._
    // the same cookie-banner line rides every doc; bodies are distinct
    val docs = Seq(
      (1L, "accept all cookies to continue browsing this site\nglacier valleys"),
      (2L, "accept all cookies to continue browsing this site\nharbor sandbars"),
      (3L, "accept all cookies to continue browsing this site\nviolin rehairs"))
      .toDF("doc_id", "text")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, lineScrubDf = 2)
    assert(stages.map(_._1).contains("line_scrub"))
    val scrubbed = stages.toMap.apply("line_scrub")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(scrubbed(1L) === "glacier valleys")
    assert(scrubbed(2L) === "harbor sandbars")
    // downstream: all three survive (bodies are not near-dups once the
    // shared banner line is gone)
    val kept = stages.last._2.select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
    // WITHOUT the scrub the shared banner dominates the docs' 3-gram
    // sets: the pairwise jaccard clears the 0.3 verification gate (the
    // banding step that would surface the pair is probabilistic, so the
    // assertion checks the deterministic gate quantity, not the
    // end-to-end collapse)
    val rawJac = graft.dedup.Dedup.ngramJaccardPairs(docs, col("doc_id"),
        col("text"), 3, 0.3)
    assert(rawJac.count() > 0, "banner-laden docs should clear the gate")
  }

  test("dedupCorpus lineScrubDf with preClean: the scrub sees the lines markup stripping would join") {
    import spark.implicits._
    // 40 docs share a marked-up nav line; each body is its own, with a tag
    // and an email for pre-clean to strip and redact
    val docs = (1L to 40L).map { i =>
      (i, s"<nav>home | about | contact</nav>\n<p>body $i of <b>doc</b> " +
        s"number $i, write to user$i@example.org</p>")
    }.toDF("doc_id", "text")
    val stages = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      minQuality = 0.0, preClean = true, lineScrubDf = 3)
    val gated = stages.toMap.apply("quality_gate")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(gated.size === 40)
    assert(gated.values.forall(!_.contains("home |")), gated.values.take(3))
    assert(gated(7L) === "body 7 of doc number 7, write to <EMAIL>")
  }

  test("clusterSplit: clusters never straddle a split; fractions land; singletons keyed by id") {
    import spark.implicits._
    // 400 docs; docs 2k and 2k+1 share cluster k for k < 100 (200 docs in
    // 100 two-member clusters), the rest are uncovered singletons
    val docs = (0L until 400L).toDF("doc_id")
    val clusters = (0L until 200L).map(i => (i, i / 2)).toDF("doc_id", "cluster")
    val out = Pipelines.clusterSplit(docs, col("doc_id"), clusters,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), seed = 3L)
      .as[(Long, Long, String)].collect()
    assert(out.length === 400 && out.map(_._1).distinct.length === 400)
    // LEAKAGE GUARD: every cluster maps to exactly one split
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length === 1,
        s"cluster $c straddles splits: ${members.toSeq}")
    }
    // paired docs share their cluster; uncovered docs ride their own id
    out.filter(_._1 < 200L).foreach { case (d, c, _) => assert(c === d / 2) }
    out.filter(_._1 >= 200L).foreach { case (d, c, _) => assert(c === d) }
    // fraction sanity over the 300 distinct clusters (PRF is uniform;
    // ±0.15 absolute keeps the assertion far from flake territory)
    val frac = out.groupBy(_._3).view.mapValues(_.length / 400.0).toMap
    assert(math.abs(frac("train") - 0.75) < 0.15, frac.toString)
    assert(frac.getOrElse("val", 0.0) > 0.0 && frac.getOrElse("test", 0.0) > 0.0)
    // deterministic: same seed reproduces; different seed re-deals
    val again = Pipelines.clusterSplit(docs, col("doc_id"), clusters,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), seed = 3L)
      .as[(Long, Long, String)].collect()
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    val reseed = Pipelines.clusterSplit(docs, col("doc_id"), clusters,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125), seed = 4L)
      .as[(Long, Long, String)].collect()
    assert(reseed.sortBy(_._1).map(_._3).toSeq !== out.sortBy(_._1).map(_._3).toSeq)
  }
}

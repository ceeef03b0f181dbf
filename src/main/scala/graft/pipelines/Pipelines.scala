package graft.pipelines

import graft.ops.{ManifestOps, Sampling}
import graft.ops.Stats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline compositions mirroring the reference's three entry
  * points (SURVEY §3): the training feed (train.py), the evaluation harness
  * (evaluate_all_models.py), and the checkpoint sync (upload.py /
  * download.py). Each is a pure composition of the already-oracle-checked
  * operators; PipelinesSpec drives them on synthetic manifests.
  */
object Pipelines {

  /** §3.1 TrainingFeed: manifest → extension filter → stem/type/difficulty
    * projection → triplet discovery → exact-count stratified sample →
    * deterministic shuffle position. Input: a file manifest with
    * (key, prefix) columns. Output: one row per sampled complete triplet
    * with a stable feed order.
    *
    * The sample runs on the *metadata* manifest before any payload fetch —
    * the reference's sample-before-download discipline
    * (train/common/dataset.py:69-71) that makes the plan viable at 100 TB.
    *
    * The sample and the shuffle are one scale form —
    * [[Sampling.stratifiedShufflePosition]], the x1 sample
    * ([[Sampling.stratifiedExactDistributed]]) and the x3 position
    * ([[Sampling.shufflePositionDistributed]]) from one hash-bucket
    * aggregate, since both rank by the same hash — so the feed plan has
    * NO single-task stage: the window forms serialize the whole feed
    * through one task per stratum (sample) and ONE task total (shuffle),
    * which is the 100-TB straggler cliff their own docs warn about. The
    * forms are oracle-proven row-identical to the window forms (x1 / x3),
    * and PipelinesSpec asserts the feed equals the window forms over
    * [[feedTriplets]], positions included.
    */
  def trainingFeed(manifest: DataFrame, profile: Map[String, Double]): DataFrame =
    // xxhash64(stem) is unique per triplet row (tripletDiscovery emits one
    // row per stem), satisfying the position's unique-key contract.
    Sampling.stratifiedShufflePosition(feedTriplets(manifest),
      col("difficulty"), xxhash64(col("stem")), profile)

  /** The feed's candidates: one row per complete (person, cloth, try-on)
    * triplet of the manifest, with its difficulty — what [[trainingFeed]]
    * samples and orders.
    */
  def feedTriplets(manifest: DataFrame): DataFrame = {
    val typed = manifest
      .filter(ManifestOps.isImageKey(col("key")))
      .withColumn("filename", ManifestOps.basename(col("key")))
      .withColumn("stem", ManifestOps.stem(col("filename")))
      .withColumn("image_type", ManifestOps.imageType(col("filename")))
      .withColumn("difficulty", ManifestOps.difficulty(col("prefix")))
      .filter(col("image_type").isNotNull)
    // ONE pass, ONE shuffle: difficulty rides the triplet aggregate itself
    // (max per stem — deterministic) instead of a second projection pass +
    // dropDuplicates + stem join, which re-executed the manifest scan and
    // dominated the feed at a 13.5M-row probe (SURVEY §6.1)
    ManifestOps.tripletDiscoveryWith(
      typed.select("stem", "image_type", "key", "difficulty"),
      Seq("difficulty"))
  }

  /** §3.2 Evaluate: test manifest ⋈ predictions on stem (inner = the
    * reference's skip-missing), model × metric summary of the per-(model,
    * metric) mean ([[Stats.statsPack]]'s `mean`, rounded the same way).
    * `scores` must have (model, stem, metric, value) — metric kernels are
    * model-backed and run out-of-engine (SURVEY §7.5); the engine consumes
    * their outputs.
    *
    * One conditional aggregate per model, one column per metric: a pivot
    * of the stats pack plans a second aggregate, and its exchange, over
    * the pack.
    */
  def evaluate(testManifest: DataFrame, scores: DataFrame,
               metrics: Seq[String]): DataFrame = {
    require(metrics.nonEmpty, "evaluate: no metrics to summarize")
    val means = metrics.map(m =>
      round(avg(when(col("metric") === m, col("value"))), 4).as(m))
    scores.join(testManifest.select("stem"), Seq("stem"))
      .groupBy("model").agg(means.head, means.tail: _*)
  }

  /** §3.2b: pure-math image-pair metrics computed IN-engine — the
    * PSNR / SSIM-lite / MSE subset of the reference's metric suite
    * (common/metrics.py:123-221) that needs no model forward pass, as
    * column expressions over (prediction, ground-truth) array pairs.
    * Output is long-format (model, stem, metric, value) rows, directly
    * consumable by [[evaluate]] alongside the out-of-engine model-backed
    * scores (LPIPS/FID stay external per SURVEY §7.5).
    */
  def imagePairScores(pairs: DataFrame, model: Column, stem: Column,
                      pred: Column, truth: Column,
                      maxVal: Double = 1.0): DataFrame =
    pairs.select(model.as("model"), stem.as("stem"),
        round(Stats.arrayMse(pred, truth), 6).as("mse"),
        round(Stats.psnr(pred, truth, maxVal), 6).as("psnr"),
        round(Stats.ssimLite(pred, truth, maxVal), 6).as("ssim"))
      .select(col("model"), col("stem"),
        explode(map(lit("mse"), col("mse"), lit("psnr"), col("psnr"),
          lit("ssim"), col("ssim"))).as(Seq("metric", "value")))

  /** T5: the curriculum stage schedule — easy → medium → hard weight
    * profiles, as in the reference bash drivers
    * (reference train/bash_scripts/curriculum/README.md:19-41,
    * train/common/dataset.py:320-374).
    */
  val curriculumStages: Seq[(String, Map[String, Double])] = Seq(
    "easy"   -> Map("easy" -> 1.0, "medium" -> 0.0, "hard" -> 0.0),
    "medium" -> Map("easy" -> 0.3, "medium" -> 0.7, "hard" -> 0.0),
    "hard"   -> Map("easy" -> 0.25, "medium" -> 0.25, "hard" -> 0.5))

  /** T5 Curriculum: sequential batch feeds over changing source filters —
    * one [[trainingFeed]] per stage, mirroring the reference's separate
    * bash-driven training runs sharing a checkpoint dir (stage boundaries
    * stay batch jobs, per SURVEY §7.4 item 6). Returns stage → feed.
    */
  def curriculum(manifest: DataFrame,
                 stages: Seq[(String, Map[String, Double])] = curriculumStages)
      : Seq[(String, DataFrame)] =
    stages.map { case (name, profile) => name -> trainingFeed(manifest, profile) }

  /** Feed sink: write the shuffled training feed as `shards` parquet
    * shards that preserve the global feed order — shard i holds a
    * contiguous `posCol` range (range repartition) and is internally
    * sorted, so a dataloader reading shards in file order replays the
    * exact permutation with no global sort at read time. At 100 TB this
    * is the only viable layout: one writer task per shard, no
    * single-task order stage, and consumers can start on shard 0 while
    * later shards are still being written.
    */
  def shardedFeedSink(feed: DataFrame, outDir: String, shards: Int,
                      posCol: String = "pos"): Unit =
    feed.repartitionByRange(shards, col(posCol))
      .sortWithinPartitions(posCol)
      .write.mode("overwrite").parquet(outDir)

  /** The packing LAST MILE: materialize [[graft.ops.Planners
    * .packedWindows]] span layout as addressable training shards —
    * `outDir/<group>=…/shard=<s>/` holds EXACTLY the spans of windows
    * [s·windowsPerShard, (s+1)·windowsPerShard), one parquet file per
    * shard, spans sorted (seq, win_offset) inside it.
    *
    * Deterministic by construction, which `repartitionByRange` +
    * `maxRecordsPerFile` (the [[shardedFeedSink]] shape) is NOT: range
    * boundaries come from sampling and file splits from write-task row
    * counts, so two runs of the same corpus could cut different shard
    * boundaries — poison for resumable training, where "shard 17" must
    * name the same windows on every rerun and on the rerun of a
    * preempted writer. Here the shard id is arithmetic on the window id
    * (`seq div windowsPerShard`), the one shuffle is a hash repartition
    * on (group, shard) — work ∝ spans, no sampling pass, no global
    * sort — and each shard directory is one task's single sorted file.
    * A trainer resumes mid-epoch by opening exactly the shard dirs at
    * and after its cursor; the span schema (seq, doc span, offsets) is
    * self-describing, so within-file order is a sequential-IO
    * optimization, not a correctness carrier.
    *
    * Shard size is governed, not emergent: windowsPerShard ×
    * budget tokens per shard (± the straddling spans), the knob that
    * keeps object-store files in the flat range at 100 TB regardless of
    * document length distribution.
    *
    * Returns the SHARD MANIFEST of what was written
    * ([[graft.ops.Planners.shardManifest]]'s columns), aggregated from the
    * shard files themselves: the files are the layout's one
    * materialization, so the manifest costs a read of the thin span
    * files and never a second layout pass. The relation is lazy — read it
    * before `outDir` is rewritten.
    */
  def writePackedShards(docs: DataFrame, group: String, order: String,
                        nTok: String, budget: Long, windowsPerShard: Long,
                        outDir: String, carry: Seq[String] = Nil): DataFrame = {
    require(windowsPerShard > 0,
      s"writePackedShards: windowsPerShard must be positive, got $windowsPerShard")
    val spans = graft.ops.Planners.packedWindowsDistributed(docs, group, order,
        nTok, budget, carry = carry)
      .withColumn("shard", expr(s"seq div $windowsPerShard"))
    spans.repartition(col(group), col("shard"))
      .sortWithinPartitions(col("seq"), col("win_offset"))
      .write.partitionBy(group, "shard").mode("overwrite").parquet(outDir)
    // the explicit schema types the partition columns as written
    graft.ops.Planners.shardTotals(
      docs.sparkSession.read.schema(spans.schema).parquet(outDir), group)
  }

  /** MIXTURE-APPLIED PACKED FEED — the composition that turns a corpus
    * into a materialized, resumable training feed in one call, closing
    * the loop between the mixture planners (x10), the exact-count sampler
    * (x1), the curation pipeline (d6) and the pack/shard writer
    * (x16/x17), which until now only coexisted:
    *
    *  1. `curate` (default identity; pass a [[dedupCorpus]] closure to
    *     fold the full curation chain in) — survivors only;
    *  2. per-source token totals joined with the caller's mixture
    *     `weights` relation (`(sourceCol, w)`) →
    *     [[graft.ops.Planners.tokenBudgetMixture]] fractions — a
    *     sources-sized broadcast plan, never collected;
    *  3. exact-count per-source sampling at the planned fractions
    *     ([[graft.ops.Sampling.stratifiedExactByPlan]], the distributed
    *     rank form, deterministic in the doc id) — per-source sampled
    *     counts land exactly at floor(n_src × fraction), the x18 oracle;
    *  4. [[writePackedShards]]: concat-then-chunk spans into
    *     `budget`-token windows, `windowsPerShard` windows per
    *     deterministic `source=<s>/shard=<k>` dir under `outDir`.
    *
    * Returns the SHARD MANIFEST ([[writePackedShards]]' manifest of the
    * written layout) — the addressing/accounting view a resumable trainer
    * budgets from. The shard files carry doc-id SPANS,
    * not text (the x16 contract): window assembly joins them back to the
    * curated corpus by id, so the feed never duplicates corpus bytes.
    *
    * Scale shape: the curate chain is computed ONCE — the sampler/planner
    * run on a scratch-materialized (id, source, n_tok) projection (the
    * narrow-checkpoint rule: never pin corpus text in executor storage;
    * columnar scratch, not localCheckpoint — the corpus-row-scaled thin
    * relation is exactly the measured 40M object-block cliff shape,
    * §6.3 budgetdiag). The sample is a lazy hash-bucket rank over that
    * projection, consumed once by the pack; the span layout is computed
    * ONCE and its only materialization is the shard files, from which the
    * manifest is aggregated. The corpus-sized shuffles are the sampler's
    * bucket partition, the pack's range partition and the shard write's
    * hash partition; plans and rank offsets stay sources×buckets-sized
    * broadcasts.
    */
  def curatedFeed(docs: DataFrame, idCol: String, sourceCol: String,
                  weights: DataFrame, nTok: Column,
                  budget: Long, windowsPerShard: Long, outDir: String,
                  curate: DataFrame => DataFrame = identity,
                  epoch: Option[Long] = None,
                  tokenCounts: Option[DataFrame] = None): DataFrame = {
    // `tokenCounts` ((idCol, n_tok) relation) overrides the `nTok`
    // expression — the hook that runs the WHOLE packing arithmetic in
    // learned-model units (x22): pass Bpe.docSubwordCounts' n_bpe and
    // every downstream number — mixture fractions, window budgets, shard
    // manifests — is measured by the tokenizer the model will train
    // with, not the regex word count. The count relation is thin
    // (id, long) and joins the narrow projection by id before the
    // scratch materialization, so the scale shape is unchanged; docs
    // absent from the relation (token-less under the tokenizer) drop,
    // matching docSubwordCounts' own gate.
    val curated = curate(docs)
    val withTok = tokenCounts match {
      case Some(tc) => curated.select(col(idCol), col(sourceCol))
        .join(tc.select(col(idCol), col("n_tok").cast("long").as("__ntok")),
          Seq(idCol))
      case None => curated
        .select(col(idCol), col(sourceCol), nTok.cast("long").as("__ntok"))
    }
    val narrow = graft.core.Scratch.materialize(withTok, "feednarrow")
    val per = narrow.groupBy(col(sourceCol).as("source"))
      .agg(sum(col("__ntok")).as("src_tokens"))
      .join(weights.select(col(sourceCol).as("source"), col("w")), "source")
    val plan = graft.ops.Planners.tokenBudgetMixture(per)
    val sampled0 = graft.ops.Sampling.stratifiedExactByPlan(narrow,
      col(sourceCol), col(idCol), plan, "source")
    // per-EPOCH reshuffle (the x14 machinery): with `epoch` set, the pack
    // order is the epoch's deterministic dense permutation instead of the
    // id — each epoch gets an independent, reproducible window layout
    // (trainers repack per epoch so window neighborhoods decorrelate)
    // while the SAMPLED DOC SET stays identical across epochs (sampling
    // ranks on the id hash, untouched by the epoch). Positions are
    // globally dense, hence unique per group — packedWindows' contract.
    val (sampled, orderCol, carryCols) = epoch match {
      case Some(e) => (graft.ops.Sampling.epochShufflePosition(
        sampled0, col(idCol), e), "pos", Seq(idCol))
      case None => (sampled0, idCol, Nil)
    }
    writePackedShards(sampled, sourceCol, orderCol, "__ntok", budget,
      windowsPerShard, outDir, carry = carryCols)
  }

  /** The perceptual modes' fingerprint bits, band width and Hamming
    * bound, and the semantic mode's hot-cell cap, in [[dedupCorpusStages]].
    */
  private val ImageGridRows = 16
  private val ImageBandBits = 8
  private val MaxImageHamming = 2
  private val SemMaxCell = 512

  /** The kept documents of the [[dedupCorpusStages]] curation chain (its
    * last stage), for callers that set only the quality cutoff, the
    * verify Jaccard and the line-scrub cap. Every other setting is the
    * chain's default; set one through `dedupCorpusStages(...).last._2`.
    */
  def dedupCorpus(docs: DataFrame, id: Column, text: Column,
                  minQuality: Double = 0.5, minJaccard: Double = 0.3,
                  lineScrubDf: Int = 0): DataFrame =
    dedupCorpusStages(docs, id, text, minQuality = minQuality,
      minJaccard = minJaccard, lineScrubDf = lineScrubDf).last._2

  /** Corpus curation end-to-end — the flagship LLM-training-data pipeline
    * composed from the engine's own stages, in the order that minimizes
    * work at scale:
    *
    *  1. quality gate FIRST (cheap per-row score, runs map-side against
    *     the scan — everything downstream shrinks);
    *  2. exact dedup (one shuffle on the content fingerprint, min-id
    *     representative);
    *  3. MinHash-LSH candidate pairs (shuffle-free signatures via the
    *     native kernel, banded equi-join, per-bucket cap);
    *  4. exact n-gram Jaccard verification of ONLY the candidates;
    *  5. connected components over verified pairs → duplicate clusters;
    *  6. keep one representative per cluster (the min doc id);
    *  7. (optional, `substrN`) cross-document EXACT substring scrub over
    *     the survivors — shared word-n-gram runs are removed from each
    *     kept document (Lee et al. 2022; the d10 operator). Runs AFTER
    *     cluster removal so shared passages between a duplicate and its
    *     representative don't trigger double work; the scrubbed text is
    *     the normalized token stream (see
    *     [[graft.dedup.Dedup.scrubDuplicateRuns]]) written back to
    *     `textColName`.
    *
    * Four opt-in stages extend the chain (the d8/d11/x15/tx operators):
    *
    *  - `preClean`: a PRE-CLEAN pass BEFORE the quality gate and AFTER
    *    the line scrub (stripping collapses newlines, so a scrub after
    *    it would see each doc as one line) — strip
    *    markup, then redact PII ([[graft.text.TextFunctions.stripMarkup]]
    *    → [[graft.text.TextFunctions.redactPii]], in that order: tags are
    *    boilerplate the gate must not score, and PII must be gone before
    *    any text is kept). Web-corpus curation normalizes/cleans before
    *    any filtering (the reference's dataloaders do the same ahead of
    *    use, train/train_CATVTON/dataloader.py:53-64). The cleaned text
    *    REPLACES `textColName` for every later stage AND in the output —
    *    raw PII never reaches the kept corpus.
    *  - `evalDocs`: DECONTAMINATION right after the quality gate/domain
    *    cap — any doc sharing ≥ `decontMinShared` distinct word
    *    `decontN`-grams with the eval set is dropped before the
    *    signature stages ([[graft.dedup.Dedup.contaminatedIds]]; the d8
    *    overlap test). Runs early so contaminated docs never pay LSH /
    *    verify / CC work. The eval relation must carry `textColName`.
    *
    *  - `maxPerSource` + `sourceCol`: a PRE-SAMPLING DOMAIN CAP applied
    *    right after the quality gate — at most N docs per source, chosen
    *    by deterministic hash rank ([[graft.ops.Sampling.domainCap]]), so
    *    one crawled domain cannot dominate the corpus AND every later
    *    stage (signatures, pair joins, CC) shrinks with it. Windows are
    *    per-source, never corpus-global.
    *  - `urlCol` + `domainDeny`: URL-level curation (the CCNet/
    *    RefinedWeb first stage) — docs whose registrable domain
    *    ([[graft.text.Urls.registrableDomain]]) appears in the deny
    *    relation (`domain` column) are dropped BEFORE any text-derived
    *    stage, via a broadcast anti-join; and with `maxPerSource` set,
    *    the cap key becomes the registrable domain instead of
    *    `sourceCol` — the unit a web corpus is actually skewed by.
    *    `psl` swaps the embedded multi-part-suffix subset for a full
    *    Public Suffix List ([[graft.text.Urls.loadPsl]]; CLI `--psl`)
    *    under FULL rule semantics — literals at any depth, wildcards,
    *    exceptions ([[graft.text.Urls.registrableDomainPsl]]) — so ccTLD
    *    registries like `com.ar`/`*.ck` key the gate and cap correctly;
    *    default stays the embedded subset.
    *    `urlExactDedup` (CLI `--url-dedup`) adds the Dolma stage-0
    *    pass right after the gate: one survivor (min id) per CANONICAL
    *    URL ([[graft.text.Urls.canonicalUrl]] — fragment/tracking-param
    *    strip, authority normalization), so re-crawls of one page never
    *    pay cleaning, scoring, or signature cost.
    *  - `lmTarget` + `lmMinAvgLogp`: the CCNet LM-PERPLEXITY GATE — an
    *    interpolated-KN model of order `lmOrder` fit once on the target
    *    slice ([[graft.text.TextFunctions.fitKn]]) scores every
    *    surviving doc with full OOV back-off, and docs below the
    *    avg_logp cutoff (= −ln perplexity; derive it from
    *    [[graft.text.TextFunctions.ccnetBuckets]]' tercile boundary on
    *    a reference corpus) are dropped before decontamination and all
    *    signature work. Docs too short to score pass through — the
    *    gate drops on evidence, shortness is `minQuality`'s
    *    jurisdiction.
    *
    * `id` contract: ids must be globally UNIQUE and NON-NULL — the
    * exact-dedup stage runs the THIN winner form
    * ([[graft.dedup.Dedup.exactDedupThin]]), whose survivor semi-join
    * can keep more than one row per fingerprint under duplicate ids.
    * Any id TYPE is accepted (r15; the r14 integral-only `require` is
    * gone): integral ids key the chain directly; string / UUID / URL /
    * decimal ids — the shapes real corpora key on, like the reference's
    * string stems (common/dataset.py:112-159) — get an internal 128-BIT
    * surrogate ([[graft.ops.Determinism.detHash128]], the full md5 hex;
    * r16 — the previous 60-bit fold expected ~0.43 collisions at 10⁹
    * URL keys and aborted ~35% of crawl-scale runs) at entry, run the
    * comparison-keyed cluster machinery on it, and come back out
    * untouched; NULLs, DUPLICATE ids, and (surrogate path) hash
    * collisions are all enforced eagerly on BOTH key paths (one
    * column-pruned aggregate; `verifyIds = false` opts out for trusted
    * dense-keyed upstreams), so the contract fails loudly at entry
    * instead of corrupting clusters mid-chain. Under a surrogate the default min-id representative is
    * the min-SURROGATE member (deterministic, but not the lexicographic
    * min) — pass `keepBy` for a corpus-stated policy.
    *  - `minContainment`: a CONTAINMENT pass alongside Jaccard
    *    verification — doc-in-doc near-superset duplicates (|A∩B| /
    *    min(|A|,|B|), Broder) whose Jaccard stays low join the pair
    *    relation before clustering, so an embedded copy collapses into
    *    its superset's cluster ([[graft.dedup.Dedup
    *    .ngramContainmentPairs]]; same inverted-index + stop-gram cap).
    *  - `imageCol` / `audioCol` / `videoCol`: PERCEPTUAL near-dup pairs
    *    per modality — dHash fingerprints from the binary column's REAL
    *    decoded payload (pixels via
    *    [[graft.multimodal.Multimodal.imageDHashById]], PCM energy
    *    envelope via [[Multimodal.audioFingerprintById]], demuxed frame
    *    lumas via [[Multimodal.videoFingerprintById]]), banded in Hamming
    *    space and verified by exact bit distance
    *    ([[graft.dedup.Dedup.imageNearDupPairs]], fingerprint-agnostic),
    *    unioned into the same cluster graph as the text pairs: a doc
    *    duplicated by pixels, waveform, or frames collapses like one
    *    duplicated by words — the multimodal axes a training corpus of
    *    image triplets needs deduped as much as text. All three modes
    *    share one Hamming configuration (16-bit fingerprints, 8-bit
    *    bands, at most 2 differing bits).
    *  - `embeddingCol`: SEMANTIC near-dup pairs (SemDeDup, Abbas et al.
    *    2023) — a `semCells`-cell k-means quantizer
    *    ([[graft.ann.Vectors.kmeansCentroids]], driver holds k×dim only)
    *    partitions the embedding space, and docs within `minCosine` of
    *    each other in the same cell pair up
    *    ([[graft.ann.Vectors.semanticNearDupPairsWith]]: cell-bounded
    *    exact cosine, never the corpus square, hot cells capped at
    *    512 docs) and join the cluster graph too — catching
    *    paraphrase duplicates that share no n-gram, pixel, or byte with
    *    their twin. With every mode on, one CC pass collapses lexical,
    *    perceptual (image/audio/video), and semantic duplicates
    *    together.
    *  - `protoPruneFraction` (with `embeddingCol`): D4-style
    *    PROTOTYPICALITY prune after cluster collapse — per quantizer
    *    cell, drop the top fraction of surviving docs by
    *    cosine-to-own-centroid ([[graft.ann.Vectors
    *    .prototypicalityPrune]]), removing the over-represented dense
    *    core SemDeDup's pairwise threshold never touches. Same frozen
    *    centroids as the pair stage.
    *
    * Returns every ACTIVE stage's output as (stageName, relation) — the
    * FUNNEL AUDIT a production curation run reports: counting each stage
    * gives per-stage drop numbers ("gate dropped 12%, decontamination
    * 0.3%, clusters 18%, ..."), and any stage can be inspected or sampled
    * for QA. Stages not enabled by the parameters are absent from the
    * list. The last element is the kept documents with their original
    * columns (the text column rewritten when `substrN`, `preClean`,
    * `lineScrubDf` or `nfc` is set) — what [[dedupCorpus]] returns.
    * Counting every stage re-executes the shared prefix per count (Spark
    * relations are lazy) EXCEPT the exact-dedup checkpoint boundary,
    * which all later stages reuse — cheap enough for a per-ingest report.
    * All stages are the same oracle-checked operators as
    * d1/d2/d5/d6/d7/d10/d11/x15.
    */
  def dedupCorpusStages(docs: DataFrame, id: Column, text: Column,
                        minQuality: Double = 0.5, minhashK: Int = 8,
                        bandSize: Int = 4, ngram: Int = 3,
                        minJaccard: Double = 0.3,
                        substrN: Option[Int] = None,
                        textColName: String = "text",
                        minContainment: Option[Double] = None,
                        maxPerSource: Int = 0,
                        sourceCol: String = "source",
                        preClean: Boolean = false,
                        evalDocs: Option[DataFrame] = None,
                        decontN: Int = 5,
                        decontMinShared: Int = 1,
                        imageCol: Option[String] = None,
                        audioCol: Option[String] = None,
                        videoCol: Option[String] = None,
                        embeddingCol: Option[String] = None,
                        semCells: Int = 64,
                        minCosine: Double = 0.99,
                        protoPruneFraction: Double = 0.0,
                        keepBy: Option[Column] = None,
                        lineScrubDf: Int = 0,
                        gopherGate: Boolean = false,
                        urlCol: Option[String] = None,
                        domainDeny: Option[DataFrame] = None,
                        psl: Option[graft.text.Urls.PslRules] = None,
                        lmTarget: Option[DataFrame] = None,
                        lmMinAvgLogp: Option[Double] = None,
                        lmOrder: Int = 3,
                        urlExactDedup: Boolean = false,
                        langKeep: Option[(Seq[(String, Array[Double])], Set[String])] = None,
                        langK: Int = 12,
                        langMinProb: Double = 0.0,
                        nfc: Boolean = true,
                        verifyIds: Boolean = true)
      : Seq[(String, DataFrame)] = {
    import graft.dedup.Dedup
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    // loud failure, not silent ignore (round-12 ADVICE): a deny list can
    // only key on a URL column. The reverse combo (urlCol alone) stays
    // legal — it re-keys the maxPerSource cap by registrable domain.
    require(domainDeny.isEmpty || urlCol.isDefined,
      "domainDeny requires urlCol: the deny list matches registrable " +
        "domains parsed from a URL column — pass urlCol (CLI: --url-col) " +
        "alongside the deny relation (CLI: --domain-gate)")
    require(psl.isEmpty || urlCol.isDefined,
      "psl without urlCol has no effect — pass urlCol (CLI: " +
        "--url-col) so the suffix rules can key the domain gate/cap")
    require(lmTarget.isDefined == lmMinAvgLogp.isDefined,
      "the LM gate needs BOTH a target corpus to fit the KN model on " +
        "(CLI: --lm-target) AND a score cutoff (CLI: --lm-min-logp) — " +
        "one without the other would silently skip the gate")
    require(!urlExactDedup || urlCol.isDefined,
      "urlExactDedup requires urlCol: exact-URL dedup keys on the " +
        "canonical form of a URL column (CLI: --url-col)")
    // the near-dup cluster machinery is COMPARISON-ONLY on the doc id
    // (CC label election, min-representative, pair orientation) — but
    // some sub-paths still do id ARITHMETIC (k-means seeding) and the
    // original id type must survive the chain intact. Integral ids run
    // the chain directly. ANY other id type — string
    // stems (the reference keys every sample dict by one,
    // common/dataset.py:112-159), URLs/UUIDs, DecimalType — gets an
    // internal 128-BIT SURROGATE at entry: sid = detHash128(id) (the
    // full md5 hex string, oracle-expressible — d26_string_ids pins the
    // whole string-keyed chain against DuckDB). Fixed-length lowercase
    // hex orders identically to the underlying 128-bit value in both
    // engines, so the chain runs comparison-keyed on it, and every
    // emitted stage drops the column — callers see their own id
    // untouched end-to-end. 128 bits, not the previous 60-bit long
    // fold: at 10⁹ keys (one URL-keyed crawl) the 60-bit space expected
    // ~0.43 collisions — a ~35% chance of aborting the run — while
    // 2¹²⁸ expects ~10⁻²¹ (round-15 verdict #1).
    // The entry aggregate enforces the chain's standing id contract
    // EAGERLY on BOTH key paths (verifyIds, default on): NULL ids,
    // DUPLICATE ids (two rows carrying the same key — the r15 ADVICE
    // gap: per-sid countDistinct alone cannot see them), and surrogate
    // collisions across distinct ids all fail loudly HERE, never as a
    // silently-merged cluster mid-chain. Under a surrogate, the default "min id" representative
    // means min SURROGATE — deterministic and seed-free, but not the
    // lexicographically-min original id; pass `keepBy` for a policy
    // stated in corpus terms. Every id-keyed join below uses the chain
    // id expression RAW (never a cast that could fail open — the r13
    // lmGateKn lesson); the ANN vec paths use `vecId`/`vecSeedId` below.
    val idType = docs.select(id).schema.head.dataType
    val idIsIntegral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType).contains(idType)
    val sidCol = "__graft_sid"
    val (chainSrc, cid) =
      if (idIsIntegral) (docs, id)
      else {
        require(!docs.columns.contains(sidCol),
          s"dedupCorpus: input already carries a $sidCol column — rename " +
            "it; the name is reserved for the internal surrogate id")
        (docs.withColumn(sidCol, graft.ops.Determinism.detHash128(id)),
          col(sidCol))
      }
    // ID-CONTRACT ENFORCEMENT — BOTH key paths (r16; the r15 form only
    // checked the surrogate path, so integral-keyed corpora with
    // duplicate or NULL ids still corrupted clusters silently — the
    // exact failure the check exists to prevent). ONE corpus-wide
    // aggregate over the column-pruned id projection — no groupBy key
    // skew, exact countDistinct (two-stage expand): total vs non-null
    // catches NULLs, non-null vs distinct catches DUPLICATE keys, and
    // on the surrogate path distinct ids vs distinct sids catches hash
    // collisions (kept for defense — at 128 bits it cannot fire on any
    // physical corpus). `verifyIds = false` opts out for pipelines
    // whose upstream already guarantees dense unique keys and cannot
    // afford the extra corpus pass.
    if (verifyIds) {
      val aggs = Seq(count(lit(1)).as("__total"),
        count(id).as("__nonnull"),
        countDistinct(id).as("__nid")) ++
        (if (idIsIntegral) Nil
         else Seq(countDistinct(col(sidCol)).as("__nsid")))
      val chk = chainSrc.agg(aggs.head, aggs.tail: _*).head()
      val nulls = chk.getLong(0) - chk.getLong(1)
      require(nulls == 0L,
        s"dedupCorpus: $nulls NULL doc ids — every chain contract " +
          "(unique ids, surrogate hashing) needs each doc keyed")
      val dups = chk.getLong(1) - chk.getLong(2)
      require(dups == 0L,
        s"dedupCorpus: $dups rows carry a " +
          "doc id another row also carries — the chain's unique-id " +
          "contract is violated at entry (WET ingest: recrawled URLs; " +
          "uniquify the id, e.g. url + record ordinal, or " +
          "dropDuplicates first)")
      if (!idIsIntegral)
        require(chk.getLong(2) == chk.getLong(3),
          "dedupCorpus: surrogate-id collision across distinct doc ids " +
            "(md5 128-bit space) — this cannot happen on a physical " +
            "corpus; the id column is likely adversarial")
    }
    // ANN vec-id expressions. The semantic PAIR/PRUNE stages are
    // comparison-only on the id (assignCells groups, pairsImpl orients
    // with `<`, the prune window orders) — the string surrogate rides
    // them RAW. Only centroid SEEDING (kmeansCentroids' detHash init)
    // does id arithmetic and needs a LONG: the surrogate path folds the
    // md5's first 60 bits, where a collision merely perturbs which
    // vectors seed k-means — never cluster identity.
    val vecId: Column =
      if (idIsIntegral) cid.cast("long") else cid
    val vecSeedId: Column =
      if (idIsIntegral) cid.cast("long")
      else graft.ops.Determinism.detHash128Fold(cid)
    // registrable-domain policy for BOTH url-keyed stages (gate + cap):
    // the embedded PSL subset unless the caller loaded a full list
    // (graft.text.Urls.loadPsl; CLI --psl) — full wildcard/exception/
    // any-depth rule semantics when loaded, and still a map-only
    // InSet-predicate when-chain either way, never a join
    val domainOf: Column => Column = psl match {
      case Some(r) => h => graft.text.Urls.registrableDomainPsl(h, r)
      case None    => h => graft.text.Urls.registrableDomain(h)
    }
    val stages = Seq.newBuilder[(String, DataFrame)]
    // stage emission strips the internal surrogate so the funnel audit
    // and the returned corpus carry exactly the caller's columns
    def emit(name: String, df: DataFrame): Unit =
      stages += (name -> (if (idIsIntegral) df else df.drop(sidCol)))
    emit("input", docs)
    // DOMAIN GATE (urlCol + domainDeny): the classic FIRST stage of
    // web-corpus curation — registrable-domain blocklist before any
    // text-derived stage spends a cycle on a doc from a denied site.
    // Broadcast anti-join on the domain (graft.text.Urls.domainGate):
    // map-side at any corpus scale. Denying an apex drops subdomains.
    val docs0 = (urlCol, domainDeny) match {
      case (Some(u), Some(deny)) => psl match {
        case Some(r) => graft.text.Urls.domainGate(chainSrc, col(u), deny, r)
        case None    => graft.text.Urls.domainGate(chainSrc, col(u), deny)
      }
      case _ => chainSrc
    }
    if (urlCol.isDefined && domainDeny.isDefined)
      emit("domain_gate", docs0)
    // EXACT-URL DEDUP (urlExactDedup + urlCol): Dolma/RefinedWeb stage
    // 0 — one survivor (min id, crawl order) per canonical URL
    // (fragment/tracking-param strip, authority normalization), BEFORE
    // any text-derived work: re-crawls of one page never pay cleaning,
    // quality scoring, or signature cost. Thin-winner shape — the doc
    // text never crosses the fingerprint exchange.
    val docsU =
      if (!urlExactDedup) docs0
      else graft.text.Urls.dedupByCanonicalUrl(docs0,
        col(urlCol.get), cid)
    if (urlExactDedup) emit("url_dedup", docsU)
    // UNICODE NFC (default-on, r15 verdict missing #2): composed vs
    // decomposed renderings of identical text (U+00E9 vs e+U+0301 —
    // ubiquitous in crawled text) get different fingerprints/MinHashes
    // and evade every dedup stage. Recompose ONCE at entry, rewriting the
    // text column IN PLACE, so the scrub, the gate, signatures, LM and
    // langid stats, and the returned corpus all see one canonical
    // rendering. Native quick-check kernel (graft.functions
    // .NfcNormalizeExpr): already-NFC text — virtually every row of a
    // real corpus — passes through without allocation. Oracle twin:
    // DuckDB nfc_normalize (tx_nfc_fingerprint pins engine parity).
    // textSpace puts the LM target and the eval set in the corpus's text
    // space (NFC, then pre-clean; see the lm_gate and decontaminated
    // stages) — the line scrub is the corpus's own and applies to neither.
    def nfcOf(t: Column): Column =
      if (nfc) graft.text.TextFunctions.nfcNormalize(t) else t
    def preCleaned(t: Column): Column =
      graft.text.TextFunctions.redactPii(graft.text.TextFunctions.stripMarkup(t))
    def textSpace(df: DataFrame, t: Column): DataFrame =
      if (!preClean && !nfc) df
      else df.withColumn(textColName,
        if (preClean) preCleaned(nfcOf(t)) else nfcOf(t))
    val nfcSrc = if (nfc) docsU.withColumn(textColName, nfcOf(text)) else docsU
    val nfcText = if (nfc) col(textColName) else text
    // CCNet line scrub (lineScrubDf > 0): drop \n-lines in the corpus's
    // frequent-line set (df above the cap) — boilerplate removal BEFORE
    // the quality gate, so nav-bar/footer text neither props up a doc's
    // quality score nor pollutes its dedup signatures. Runs BEFORE
    // pre-clean: stripMarkup collapses every whitespace run, newlines
    // included, so after it each doc would be one line. Rewrites the
    // text column in place: every row stays, a null-text doc keeps its
    // null and the quality gate accounts for it downstream (round-11
    // ADVICE).
    val (scrubSrc, scrubText) =
      if (lineScrubDf <= 0) (nfcSrc, nfcText)
      else (Dedup.scrubFrequentLines(nfcSrc, cid, nfcText, textColName,
        lineScrubDf), col(textColName))
    if (lineScrubDf > 0) emit("line_scrub", scrubSrc)
    // pre-clean rewrites the text column IN PLACE so every later stage —
    // gate, signatures, verification, substring scrub — and the returned
    // corpus see only the cleaned form. Computed once: the quality gate
    // reads the text three times, and a filter pushed through a plain
    // projection would run the regex chain per read.
    val (cleanSrc, cleanText) =
      if (!preClean) (scrubSrc, scrubText)
      else (scrubSrc.withColumn(textColName,
        graft.functions.EvalOnce(preCleaned(scrubText))), col(textColName))
    if (preClean) emit("pre_clean", cleanSrc)
    val quality = cleanSrc.filter(
      round(graft.text.TextFunctions.qualityScoreNative(cleanText), 6) >= minQuality)
    emit("quality_gate", quality)
    // Gopher per-rule gate (opt-in): the named-rule filter on top of the
    // scored gate — one more map-only predicate (keepExpr let-binds the
    // token array, so the six rules cost one tokenization), no shuffle;
    // the tx_gopher_funnel view is the audit for what it drops
    val gated =
      if (!gopherGate) quality
      else quality.filter(graft.text.GopherRules.keepExpr(cleanText))
    if (gopherGate) emit("gopher_gate", gated)
    // LANGUAGE GATE (langKeep): CCNet's stage 1 — drop docs whose
    // TRAINED-classifier language ([[graft.text.LangIdClassifier]]) is
    // outside the target set, BEFORE the domain cap and the scoring
    // joins (lm gate, decontamination, signatures) spend anything on
    // them. One thin (id, trigram-counts) scratch pass + a raw-id
    // semi-join; ≡ predict-then-filter by construction.
    val langGated = langKeep match {
      case Some((models, keepLangs)) =>
        graft.text.LangIdClassifier.langGate(gated, cid, cleanText,
          models, keepLangs, langK, langMinProb)
      case None => gated
    }
    if (langKeep.isDefined) emit("lang_gate", langGated)
    // with a urlCol, the cap key is the REGISTRABLE DOMAIN — the unit a
    // web corpus is actually skewed by — not a pre-supplied source label
    val capped0 =
      if (maxPerSource <= 0) langGated
      else graft.ops.Sampling.domainCap(langGated,
        urlCol.map(u => domainOf(
          graft.text.Urls.normalizedHost(col(u))))
          .getOrElse(col(sourceCol)),
        cid, maxPerSource)
    if (maxPerSource > 0) emit("domain_cap", capped0)
    // LM-PERPLEXITY GATE (lmTarget + lmMinAvgLogp): CCNet's deployed
    // quality filter — an interpolated-KN model of order `lmOrder`
    // (default 3; 5 = KenLM parity, CLI --lm-order) is fit ONCE on the
    // target slice (fitKn; count tables ≪ corpus, on
    // columnar scratch) and every surviving doc is scored with full OOV
    // back-off; docs whose avg_logp (= −ln ppl) falls below the cutoff
    // are dropped — the frozen-cutoff form of the head/middle/tail cut
    // (a deployment derives the cutoff from ccnetBuckets' tercile
    // boundaries on a reference corpus, then gates shards against it
    // without a corpus-global rank). Docs too short to score (< lmOrder
    // tokens) pass through: the gate drops on EVIDENCE of high
    // perplexity, and shortness is the quality gate's jurisdiction.
    // Runs after the cheap map gates and the domain cap (fewer docs pay
    // the scoring joins), before decontamination and all signature
    // work.
    val lmGated = (lmTarget, lmMinAvgLogp) match {
      case (Some(tgt), Some(minLp)) =>
        // model and corpus must meet in the SAME text space (the
        // decontamination stage's rule below): with preClean on, the
        // corpus side is markup-stripped + PII-redacted before scoring,
        // so the target gets the identical rewrite — a markup-bearing
        // target would otherwise train on tokens the cleaned corpus can
        // never produce, depressing every score via OOV back-off
        graft.text.TextFunctions.lmGateKn(capped0, cid, cleanText,
          graft.text.TextFunctions.fitKn(
            textSpace(tgt, col(textColName)), col(textColName),
            lmOrder),
          minLp)
      case _ => capped0
    }
    if (lmTarget.isDefined && lmMinAvgLogp.isDefined)
      emit("lm_gate", lmGated)
    val capped = evalDocs match {
      case None => lmGated
      case Some(ev) =>
        // compare in the SAME text space: with preClean on, the train side
        // is markup-stripped + PII-redacted, so the eval side must get the
        // identical rewrite — an eval doc carrying markup (common in
        // benchmark dumps) would otherwise produce different n-grams than
        // the cleaned train copy of the same passage and evade the stage
        // precisely when pre-clean is enabled (round-9 ADVICE)
        val dirty = Dedup.contaminatedIds(lmGated, cid, cleanText,
            textSpace(ev, col(textColName)), col(textColName), decontN,
            decontMinShared)
          .select(col("doc_id").as("__dirty_id"))
        // raw-id anti-join (the r13 lmGateKn lesson): contaminatedIds keys
        // by `id` as-is; a cast("long") on non-numeric ids would null
        // every key and the decontamination stage would silently PASS
        // every contaminated doc — a fail-open gate
        lmGated.join(broadcast(dirty), cid === col("__dirty_id"),
          "left_anti")
    }
    if (evalDocs.isDefined) emit("decontaminated", capped)
    // the exact-dedup survivor set (WITH its text column) feeds every
    // later stage — signatures, verify, containment, perceptual
    // fingerprints, the semantic quantizer, and the final survivor
    // filter. COLUMNAR scratch, not localCheckpoint: pinning corpus text
    // as deserialized object blocks is precisely the executor-storage
    // pattern curatedFeed's narrow-relation discipline exists to avoid
    // (round-11 verdict); a parquet scratch write is one columnar pass,
    // pins zero storage memory, and every re-read runs at scan speed.
    // THIN form, not the fingerprint window: winners decided on a
    // (fp, id) projection so corpus text never crosses the fingerprint
    // exchange — measured better at 10M docs (Probe `exactdedup`)
    // and structurally better at 100 TB. Requires unique doc ids (the
    // pipeline's standing contract).
    val exact = graft.core.Scratch.materialize(
      Dedup.exactDedupThin(capped, cid, cleanText), "dedup_exact")
    emit("exact_dedup", exact)
    // projected banding: the minhash kernel computes band signatures
    // inside the scan — no signature-stage exchange (r17; row-identical
    // to the long-format composition, DedupSpec). Auto form (r18): a
    // user-supplied bandSize that does not divide minhashK falls back to
    // the aggregate composition (trailing partial band) instead of
    // failing the projected form's divisibility require (r17 ADVICE).
    val cands = Dedup.lshCandidatePairsAuto(
      exact, cid, cleanText, minhashK, bandSize)
    val verified = Dedup.verifyCandidates(exact, cands, cid, cleanText, ngram,
        minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val pairs = minContainment match {
      case None => verified
      case Some(minC) =>
        verified.union(
          Dedup.ngramContainmentPairs(exact, cid, cleanText, ngram, minC)
            .select(col("doc_a"), col("doc_b")))
    }
    // perceptual modes: near-dup pairs over each enabled binary column
    // join the SAME cluster graph as the text pairs, so a doc duplicated
    // by pixels, waveform, or frames collapses into its cluster exactly
    // like one duplicated by words — multimodal corpora (the reference's
    // image triplets) dedup every axis in one CC pass. Fingerprints are
    // computed over the exact-dedup survivors only (everything upstream
    // already shrank the relation), and all three fingerprint families
    // share the Hamming banding/verify machinery.
    val perceptual: Seq[DataFrame] =
      imageCol.map { ic =>
        graft.multimodal.Multimodal.imageDHashById(exact, cid, col(ic),
          ImageGridRows).withColumnRenamed("dhash", "__fp")
      }.toSeq ++
      audioCol.map { ac =>
        graft.multimodal.Multimodal.audioFingerprintById(exact, cid, col(ac),
          ImageGridRows).withColumnRenamed("afp", "__fp")
      } ++
      videoCol.map { vc =>
        graft.multimodal.Multimodal.videoFingerprintById(exact, cid, col(vc),
          ImageGridRows).withColumnRenamed("vfp", "__fp")
      }
    val perceptualPairs = perceptual.foldLeft(pairs) { (acc, hashes) =>
      acc.union(
        Dedup.imageNearDupPairs(hashes, col("doc_id"), col("__fp"),
          ImageGridRows, ImageBandBits, MaxImageHamming)
          .select(col("doc_a"), col("doc_b")))
    }
    // semantic mode: IVF-cell-bounded exact-cosine pairs over the
    // embedding column (SemDeDup) — paraphrase duplicates that share no
    // n-gram or byte with their twin still collapse into the one graph
    // semantic-mode quantizer, shared by the SemDeDup pair stage AND the
    // opt-in prototypicality prune below (frozen-centroid discipline: one
    // k-means over the exact-dedup survivors, both stages read the same
    // cells). The PRODUCTION quantizer (SemDeDup proper clusters with
    // k-means), not the oracle's step rule: step centroids come from
    // vec_id % step == 0, which silently yields ZERO cells — and zero
    // pairs — on a corpus whose ids happen to skip the multiples. k is
    // bounded by the corpus (kmeansCentroids loudly refuses k > rows),
    // probed with a BOUNDED limit(semCells).count() — k never exceeds
    // semCells, so only the first semCells rows decide it; a full
    // vecs.count() here would re-scan the whole exact-dedup relation
    // during stage CONSTRUCTION even for callers that only inspect
    // plans. An EMPTY corpus short-circuits to the perceptual graph
    // (zero semantic pairs, no prune) instead of tripping
    // kmeansCentroids' loud k = 0 refusal.
    val semCents: Option[DataFrame] = embeddingCol.flatMap { ec =>
      // SEEDING path: the one id-arithmetic consumer — long-folded under
      // a surrogate (collisions perturb seeding only, see vecSeedId)
      val vecs = exact.select(vecSeedId.as("vec_id"), col(ec))
      val k = vecs.limit(semCells).count().toInt
      if (k == 0) None
      else Some(graft.ann.Vectors.kmeansCentroids(vecs, "vec_id", ec, k))
    }
    val allPairs = (embeddingCol, semCents) match {
      case (Some(ec), Some(cents)) =>
        // PAIR path: comparison-only — the chain id itself (long or the
        // 128-bit surrogate) rides it, so emitted pairs land directly in
        // the cluster graph's key space with no translation join
        val vecs = exact.select(vecId.as("vec_id"), col(ec))
        perceptualPairs.union(
          graft.ann.Vectors.semanticNearDupPairsWith(vecs, "vec_id", ec,
            cents, minCosine, SemMaxCell)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      case _ => perceptualPairs
    }
    // star CC: its round count does not grow with component DIAMETER,
    // and the 100× probe (§6.3) showed a real curation graph grows
    // >25-long near-dup chains (A≈B≈C≈… through varied copies +
    // containment pairs), on which diameter-round min-label propagation
    // threw its convergence guard.
    val clusters = Dedup.connectedComponentsStar(allPairs, "doc_a", "doc_b")
    // drop every clustered doc that is not its cluster's representative.
    // Default policy: the min-id member (== the cluster label). With
    // `keepBy`, the KEPT member maximizes (keepBy, -doc_id) — keep the
    // best-quality / longest copy among near-dups, the production
    // curation choice (min-id keeps whichever copy happened to be
    // crawled first). One extra aggregate over CLUSTERED docs only; the
    // score column is evaluated against the exact-dedup survivors, so it
    // sees pre-cleaned text. Tie-break min doc_id keeps the policy
    // deterministic (and oracle-expressible, d17).
    // (distinct working name so the join condition resolves unambiguously)
    val dropIds = keepBy match {
      case None =>
        clusters.filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as("__drop_id"))
      case Some(score) =>
        // raw id: clusters' doc_id carries the chain id type as-is
        // (pairs/CC never cast). COMPARISON-ONLY keeper election — the
        // old max_by(doc_id, struct(__kb, -doc_id)) negated the id for
        // its tie-break, which throws on the string surrogate; instead:
        // max score per cluster (null-safe: an all-null-score cluster
        // keeps its min-id member, matching max_by's nulls-last order),
        // then min id among the score ties. Two aggregates + one join,
        // all over CLUSTERED docs only (≪ corpus).
        val scored = clusters.join(
          exact.select(cid.as("doc_id"), score.as("__kb")),
          "doc_id")
        val best = scored.groupBy("cluster").agg(max(col("__kb")).as("__kbx"))
        val keepers = scored.join(best, "cluster")
          .filter(col("__kb") <=> col("__kbx"))
          .groupBy("cluster").agg(min(col("doc_id")).as("__keep_id"))
        scored.join(keepers, "cluster")
          .filter(col("doc_id") =!= col("__keep_id"))
          .select(col("doc_id").as("__drop_id"))
    }
    // raw-id anti-join: under ANSI a cast("long") on a non-numeric id
    // THROWS mid-pipeline (and pre-ANSI it nulled every key, keeping
    // every duplicate) — the r13 lmGateKn lesson again
    val kept = exact.join(dropIds, cid === col("__drop_id"), "left_anti")
    emit("cluster_representatives", kept)
    // opt-in PROTOTYPICALITY prune (the D4 recipe, Tirumala et al. 2023:
    // dedup THEN density-prune): after near-duplicate clusters collapsed,
    // drop the per-cell most-prototypical fraction of the SURVIVORS —
    // the over-represented core of every embedding cluster that SemDeDup's
    // pairwise threshold never touches. Same frozen centroids as the
    // semantic pair stage (cells stay comparable); anti-join, never a
    // broadcast of the drop set (it is pruneFraction × corpus).
    val protoKept = (embeddingCol, semCents) match {
      case (Some(ec), Some(cents)) if protoPruneFraction > 0 =>
        // comparison-only stage (prune window orders by (proto, id)) —
        // the chain id rides raw, so the anti-join needs no cast that
        // could throw on the string surrogate
        val keptVecs = kept.select(vecId.as("vec_id"), col(ec))
        val drops = graft.ann.Vectors.prototypicalityPrune(keptVecs,
            "vec_id", ec, cents, protoPruneFraction)
          .filter(col("pruned")).select(col("vec_id").as("__proto_drop"))
        val p = kept.join(drops, vecId === col("__proto_drop"),
          "left_anti")
        emit("proto_prune", p)
        p
      case _ => kept
    }
    substrN.foreach { n =>
      // internal output name: an input that already carries a
      // "clean_text" column (or textColName == "clean_text") would make
      // the join ambiguous with the default name (round-5 ADVICE)
      val cleaned = Dedup.scrubbedText(protoKept, cid, cleanText, n,
          textOutCol = "__graft_clean_text")
        .withColumnRenamed("doc_id", "__scrub_id")
      // raw-id join (the r13 lmGateKn lesson): scrubbedText keys by `id`
      // as-is, and this one is INNER — a cast("long") on non-numeric ids
      // would null every key and silently EMPTY the surviving corpus
      emit("substring_scrub",
        protoKept.join(cleaned, cid === col("__scrub_id"))
          .drop(textColName, "__scrub_id")
          .withColumnRenamed("__graft_clean_text", textColName))
    }
    stages.result()
  }

  /** LEAKAGE-SAFE SPLIT — train/val/test assignment by duplicate
    * CLUSTER, not by document. A hash split over raw doc ids puts two
    * near-duplicate documents on opposite sides of the split with
    * probability 2·p·(1−p) per pair — the eval set then contains
    * near-copies of training docs and the benchmark leaks. Here the
    * split key is the document's dedup cluster id (any (doc_id, cluster)
    * relation — [[graft.dedup.Dedup.connectedComponentsStar]] output,
    * the maintained cluster table, or an exact-dup grouping); every
    * member of a cluster lands on the same side BY CONSTRUCTION. Docs
    * absent from `clusters` are singleton clusters keyed by their own id.
    *
    * Assignment is the engine's deterministic cross-engine PRF
    * ([[graft.ops.Determinism]]): u = detHash(detHash(cluster) + seed) /
    * 2⁶⁰ — the same nested decorrelation the epoch shuffle uses, so a
    * seed change re-deals clusters independently and any worker
    * recomputing the split sees identical assignments. Prefer fractions
    * exactly representable in binary (0.75/0.125/0.125) when an external
    * system must reproduce the thresholds bit-for-bit.
    *
    * Scale shape: one equi-join docs↔clusters on doc_id (no payload
    * columns needed) plus a codegen'd hash projection — no window, no
    * driver state. Output: (doc_id, cluster, split).
    */
  def clusterSplit(docs: DataFrame, id: Column, clusters: DataFrame,
                   fractions: Seq[(String, Double)],
                   seed: Long = 0L): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      "split fractions must be positive")
    val total = fractions.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split fractions must sum to 1 (got $total)")
    val keyed = docs.select(id.as("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster")),
        Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val u = graft.ops.Determinism.detHash(
        graft.ops.Determinism.detHash(col("cluster")) + lit(seed)) /
      lit(graft.ops.Determinism.Space.toDouble)
    // cumulative upper bounds; the LAST bucket is the otherwise-branch so
    // float accumulation error can never orphan a row
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val split = fractions.init.zip(cum.init)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), hi)) =>
        Some(acc.map(_.when(u < hi, name)).getOrElse(when(u < hi, name)))
      }
      .map(_.otherwise(fractions.last._1))
      .getOrElse(lit(fractions.last._1))
    keyed.select(col("doc_id"), col("cluster"), split.as("split"))
  }

  /** §3.3 Sync: manifest diff → parallel transfer. Returns the pending
    * manifest (remote minus local, by key) and, when `execute` is set,
    * copies each pending file `srcDir/key` → `dstDir/key` from the
    * executors via the Hadoop FS API (foreachPartition, one FS handle per
    * partition — the reference's sequential loop parallelized,
    * checkpoints/download.py:37-66).
    */
  def sync(remote: DataFrame, local: DataFrame, keyCol: String = "key",
           transfer: Option[(String, String)] = None): DataFrame = {
    val pending = remote.join(local.select(keyCol), Seq(keyCol), "left_anti")
    transfer.foreach { case (srcDir, dstDir) =>
      val conf = new org.apache.spark.util.SerializableConfiguration(
        remote.sparkSession.sparkContext.hadoopConfiguration)
      pending.select(col(keyCol).cast("string"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          // resolve each side against its OWN filesystem: src may be local
          // and dst an object store (the reference's upload direction)
          val srcFs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf.value)
          val dstFs = new org.apache.hadoop.fs.Path(dstDir).getFileSystem(conf.value)
          rows.foreach { r =>
            val name = r.getString(0)
            org.apache.hadoop.fs.FileUtil.copy(
              srcFs, new org.apache.hadoop.fs.Path(srcDir, name),
              dstFs, new org.apache.hadoop.fs.Path(dstDir, name),
              false, conf.value)
          }
        }
    }
    pending
  }
}

package graft.dedup

import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale text corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All stages are hash-aggregates and
  * equi-joins — the shapes that scale to 100 TB:
  *
  *  - exact dedup: one shuffle on the md5 fingerprint;
  *  - MinHash: explode(shingles × seeds) is map-side only, then a single
  *    hash-aggregate `min()` per (doc, seed) — partial aggregation collapses
  *    the explosion before the shuffle;
  *  - LSH banding: a second hash-aggregate to band signatures, then one
  *    exchange *on the band signature* that caps each bucket and pairs
  *    its members — never an all-pairs product;
  *  - SimHash: same explode/aggregate shape with ±1 bit voting.
  *
  * MinHash values are md5 hex strings compared lexicographically (min of k
  * seeded hashes). Hex-string order equals unsigned-integer order of the
  * hash, and is reproducible in any engine with md5 — the property the
  * DuckDB oracle relies on.
  */
object Dedup {

  /** Exact duplicate groups: fingerprint → (canonical doc, group size). */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(fingerprint(text).as("fp"))
      .agg(min(id).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Exact-dedup survivors: the canonical (min-id) row per fingerprint.
    * One shuffle: `row_number` over the fingerprint partition — no second
    * scan, no join-back.
    *
    * Kept beside [[exactDedupThin]] for Probe `exactdedup`'s A/B.
    */
  def exactDedup(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(fingerprint(text)).orderBy(id)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** [[exactDedup]] WITHOUT shuffling the payload — the 100-TB form. The
    * window form above moves every text byte through the fingerprint
    * exchange; here the winners are decided on a THIN (fingerprint, id)
    * projection (map-side partial `min` collapses duplicate groups
    * before the shuffle, so ~32 bytes/doc cross the wire) and survivors
    * come back via a left-semi join on the id alone. That join
    * broadcasts when the winner set is small, stays exchange-free on an
    * id-bucketed corpus, and otherwise shuffles the corpus once on its
    * OWN key (reusable by downstream id-keyed stages) instead of on a
    * throwaway fingerprint. Requires globally unique ids (the
    * engine-wide doc_id contract; [[exactDedup]]'s min-id winner is
    * only well-defined under the same assumption). Result ≡
    * [[exactDedup]] row-for-row — ScalaCheck-asserted in DedupSpec;
    * the A/B at 1M/10M docs lives in Probe `exactdedup`.
    */
  def exactDedupThin(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val winners = docs.select(fingerprint(text).as("__fp"), id.as("__wid"))
      .groupBy("__fp").agg(min("__wid").as("__keep"))
      .select(col("__keep"))
    docs.join(winners, id === col("__keep"), "left_semi")
  }

  /** Long-format MinHash signatures: (id, seed, minhash) for seeds 0..k-1
    * over distinct word shingles.
    *
    * Shuffle-FREE: the native [[graft.functions.MinhashExpr]] kernel
    * computes all k minima per document inside the scan's projection, so
    * the signature stage is scan → project → posexplode (k rows per doc) —
    * no (doc, shingle) rows ever shuffle. Bit-parity with the relational
    * form (`DedupSpec.minhashSignaturesExploded`, the kernel's executable
    * specification) is asserted in DedupSpec; the DuckDB oracle still
    * checks the end numbers.
    */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val sig = ColumnShim.column(
      graft.functions.MinhashExpr(ColumnShim.expression(text), k))
    docs.select(id.as("doc_id"), posexplode(sig))
      .select(col("doc_id"), col("pos").cast("long").as("seed"),
        col("col").as("minhash"))
  }

  /** LSH BAND PLANNING — choose (bandSize r, bands b) for a MinHash
    * index from a TARGET Jaccard threshold, the knob every deployment
    * actually has in mind ("catch pairs above ~0.3"). The standard LSH
    * S-curve: a pair with true Jaccard s collides in at least one band
    * with probability p(s) = 1 − (1 − s^r)^b, whose 50%-crossing sits
    * near (1/b)^(1/r). For each target threshold this picks, among the
    * band sizes r dividing k (the [[bandedSignaturesProjected]]
    * contract), the one whose crossing lands closest to the target —
    * ties broken toward SMALLER r (more bands = higher recall at equal
    * crossing, the curation-side preference) — and reports the plan
    * plus the curve at the pair-qualifying points a tuner inspects.
    *
    * Pure arithmetic over a divisors × targets grid (rows = |divisors|
    * × |targets|, driver-trivial, broadcast-safe at any scale) — the
    * plan is decided BEFORE any corpus pass, which is the point:
    * re-banding a 100-TB index because r was guessed wrong is the
    * expensive mistake this relation exists to prevent.
    * Output: (target, r, b, threshold, p_at_target, p_below, p_above)
    * — p(s) at the target itself, at 0.8× target (false-positive
    * exposure), and at 1.25× target (recall at the band edge).
    */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, k: Int,
                  targets: Seq[Double], roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"lshBandPlan: k $k < 1")
    require(targets.nonEmpty && targets.forall(t => t > 0 && t < 1),
      "lshBandPlan: targets must lie in (0, 1)")
    import spark.implicits._
    val divisors = (1 to k).filter(k % _ == 0)
    def pCollide(s: Column, r: Column, b: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, r), b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("target")
      .orderBy(abs(col("threshold") - col("target")), col("r"))
    // the grid is |divisors| × |targets| in-memory constants — built
    // driver-side (no cross join in the plan; the board-wide
    // product-join sweep stays clean)
    (for (t <- targets; r <- divisors) yield (t, r, k / r))
      .toDF("target", "r", "b")
      .withColumn("threshold",
        pow(lit(1.0) / col("b"), lit(1.0) / col("r")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("target"), col("r"), col("b"),
        round(col("threshold"), roundTo).as("threshold"),
        round(pCollide(col("target"), col("r"), col("b")), roundTo)
          .as("p_at_target"),
        round(pCollide(col("target") * 0.8, col("r"), col("b")), roundTo)
          .as("p_below"),
        round(pCollide(least(col("target") * 1.25, lit(1.0)), col("r"),
          col("b")), roundTo).as("p_above"))
  }

  /** (doc_id, band, band_sig) banded signatures — the LSH index ARTIFACT.
    * This is the relation a production pipeline persists (bucketed by
    * band_sig) so that tomorrow's ingest joins against it without touching
    * yesterday's corpus; [[lshBuckets]], [[lshCandidatePairs]] and
    * [[incrementalCandidatePairs]] all derive from it.
    */
  def bandedSignatures(signatures: DataFrame, bandSize: Int): DataFrame =
    signatures
      .withColumn("band", (col("seed") / bandSize).cast("long"))
      .groupBy(col("doc_id"), col("band"))
      .agg(md5(array_join(transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
        x => x.getField("minhash")), "|")).as("band_sig"))

  /** [[bandedSignatures]] as a STATELESS projection straight from documents:
    * the native kernel yields all k minima per document inside the scan, so
    * each band signature is an md5 over an array slice — no aggregation, no
    * shuffle, no state. Row-identical to composing [[minhashSignatures]] +
    * [[bandedSignatures]] (asserted in DedupSpec), and because it is pure
    * projection it runs on a STREAMING DataFrame unchanged — the form
    * [[graft.streaming.Streaming.ingestCandidates]] uses. Token-less
    * documents produce no rows, matching the aggregate form.
    *
    * PRECONDITION: `bandSize` must divide `k`. The aggregate form emits a
    * trailing partial band for the remainder seeds (band = seed/bandSize
    * groups whatever is left), while this projection would silently drop
    * them — so a non-divisible bandSize is rejected loudly instead of
    * breaking the row-identity contract (round-4 ADVICE).
    */
  def bandedSignaturesProjected(docs: DataFrame, id: Column, text: Column,
                                k: Int, bandSize: Int): DataFrame = {
    require(k % bandSize == 0,
      s"bandSize=$bandSize must divide k=$k: the trailing ${k % bandSize} " +
        "seeds would form a partial band in the aggregate form but be " +
        "dropped by the projected form, breaking row-identity")
    import org.apache.spark.sql.graftshim.ColumnShim
    // FUSED band kernel + one posexplode (r17): the previous shape
    // (sig array column → null filter → per-band md5 branches) had the
    // whole MinHash walk inlined into the filter AND every band branch
    // by CollapseProject — the kernel ran 3× per doc. The fused form
    // evaluates once per row inside the Generate; a null (token-less
    // doc) explodes to no rows, preserving the aggregate form's
    // row-identity.
    val bands = ColumnShim.column(graft.functions.MinhashBandsExpr(
      ColumnShim.expression(text), k, bandSize))
    docs.select(id.as("doc_id"), posexplode(bands))
      .select(col("doc_id"), col("pos").cast("long").as("band"),
        col("col").as("band_sig"))
  }

  /** LSH buckets: band the signature (bandSize seeds per band), hash each
    * band, and report multi-document buckets — the candidate groups.
    * Output: (band, band_sig, n_docs, min_doc, max_doc).
    */
  def lshBuckets(signatures: DataFrame, bandSize: Int): DataFrame =
    bandedSignatures(signatures, bandSize)
      .groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") > 1)

  /** D19: band-bucket OCCUPANCY / overflow accounting — the no-silent-caps
    * rule applied to the LSH band machinery (`v17_cell_occupancy`'s twin
    * for the band index): every candidate generator here caps hot buckets
    * with [[capBuckets]] ([[lshCandidatePairs]] /
    * [[incrementalCandidatePairs]] / the Hamming fingerprint path) —
    * correct as a worst-case bound, but a doc in an over-cap bucket
    * silently loses its candidacy in that band with no way to see how
    * much recall the cap spent. This view makes it measurable: per
    * collision bucket, its size, whether the cap drops it, and how many
    * doc slots it drops (`docs_dropped` = n_docs for an over-cap bucket —
    * per-band slots, not distinct docs: a doc can still be recovered by
    * another band, which is exactly what banding is for; the view is the
    * upper bound on what the cap can cost). Singleton buckets generate no
    * pairs and are excluded, so the output is collision-sized, never
    * corpus-sized; the aggregate is one map-side-combining groupBy that on
    * a persisted [[writeBandIndex]] table rides the bucket partitioning.
    * Any (doc_id, band, band_sig) relation works — MinHash text bands and
    * [[fingerprintBands]] Hamming bands share the schema.
    */
  def bandOccupancy(banded: DataFrame, maxBucket: Int = 64): DataFrame =
    banded.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .withColumn("over_cap", col("n_docs") > maxBucket)
      .withColumn("docs_dropped",
        when(col("over_cap"), col("n_docs")).otherwise(lit(0L)))

  /** The bucket key of every banded relation. */
  private[graft] val BandKey = Seq("band", "band_sig")

  /** The WHOLE-BUCKET cap every candidate generator shares (band buckets
    * here and in [[graft.streaming.Streaming]], IVF cells in
    * [[graft.ann.Vectors]]): a bucket — the rows sharing `keys` — with
    * more than `maxBucket` members is dropped wholesale, so a degenerate
    * bucket (boilerplate band signature, a solid-color image, a hot
    * cell) costs at most maxBucket² pairs. One window over `keys`: it
    * rides an existing partitioning on them (a table bucketed on the key,
    * an upstream exchange), and a consumer grouping or joining on the same
    * keys reuses its exchange. [[bandOccupancy]] (d19) accounts for what
    * it drops.
    */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String],
                                maxBucket: Int): DataFrame =
    df.withColumn("bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
      .filter(col("bn") <= maxBucket)
      .drop("bn")

  /** Candidate near-duplicate pairs from LSH buckets, with a per-bucket cap
    * to bound the worst-case quadratic blowup of a degenerate bucket
    * (e.g. boilerplate-heavy corpora). Pairs are (a < b), distinct.
    */
  def lshCandidatePairs(signatures: DataFrame, bandSize: Int,
                        maxBucket: Int = 64): DataFrame =
    pairsFromCappedBuckets(
      capBuckets(bandedSignatures(signatures, bandSize), BandKey, maxBucket))

  /** [[lshCandidatePairs]] for USER-SUPPLIED (k, bandSize), straight from
    * documents. When `bandSize` divides `k` the bands come from the
    * SHUFFLE-FREE projection ([[bandedSignaturesProjected]] — the native
    * minhash kernel computes all k minima inside the scan): row-identical
    * to `lshCandidatePairs(minhashSignatures(docs, id, text, k), bandSize)`
    * (asserted in DedupSpec), but the signature stage pays NO exchange,
    * where the long-format composition shuffles corpus × k signature rows
    * into the (doc_id, band) aggregate first (guide §2.4 — at 100 TB that
    * exchange is the largest intermediate of the whole candidate chain).
    * Every in-engine chain consumer (d5/d7 family, dedupCorpus, the CLI
    * report) rides this form. Otherwise it falls back to the
    * aggregate-banded composition, which groups the remainder seeds into
    * a trailing partial band instead of dropping them (r17 ADVICE:
    * routing user input through the projection alone turned a working
    * trailing-partial-band configuration into a `require` failure).
    */
  def lshCandidatePairsAuto(docs: DataFrame, id: Column, text: Column,
                            k: Int, bandSize: Int,
                            maxBucket: Int = 64): DataFrame =
    if (k % bandSize == 0)
      pairsFromCappedBuckets(capBuckets(
        bandedSignaturesProjected(docs, id, text, k, bandSize), BandKey,
        maxBucket))
    else
      lshCandidatePairs(minhashSignatures(docs, id, text, k), bandSize,
        maxBucket)

  /** The one pair generator: distinct (doc_a < doc_b) pairs sharing a
    * (band, band_sig) bucket of a relation ALREADY capped by
    * [[capBuckets]] — batch LSH, Hamming fingerprint bands and the
    * new×new half of [[incrementalCandidatePairs]] all end here.
    */
  private def pairsFromCappedBuckets(capped: DataFrame): DataFrame = {
    // ONE shuffle on (band, band_sig), then pairs by pure projection
    // (r18 optimization round; guide §2.4). The cap window establishes
    // hashpartitioning(band, band_sig) and the bucket-member aggregate
    // REUSES it (same keys ⇒ EnsureRequirements inserts no second
    // exchange), so the whole candidate stage is:
    // scan → minhash kernel → Exchange(band, band_sig) → cap window →
    // collect members → explode pairs → distinct. A self-join on the
    // bucket key would pay a join (in batch, also a scratch write + two
    // scans), all corpus×bands-sized, for information the single
    // partitioned pass already holds. Degenerate buckets stay safe: the
    // cap window sees the over-cap bucket and drops it BEFORE the
    // aggregate, so collected member arrays are ≤ maxBucket elements —
    // never boilerplate-bucket-sized.
    //
    // Pair semantics are the join's, exactly: members sort ascending
    // (sort_array and the old join's `<` use the same type ordering —
    // long or UTF8String binary), pairs are (ds[i], ds[j]) with i < j,
    // and the `<` filter excludes the doc_a = doc_b rows a duplicate id
    // inside one bucket would produce (the join's a.doc_id < b.doc_id
    // excluded them too). Row-identity with the aggregate composition
    // is asserted in DedupSpec, as before.
    capped
      .groupBy(col("band"), col("band_sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("__ds"))
      .select(col("__ds"), posexplode(col("__ds")).as(Seq("__i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("__ds"), col("__i") + lit(2), size(col("__ds"))))
          .as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** Persist the [[bandedSignatures]] index as a BUCKETED, in-bucket-sorted
    * table on band_sig — the at-scale layout for [[incrementalCandidatePairs]]:
    * the corpus-sized index side of every future ingest join reads
    * pre-partitioned (its cap window AND the band join both ride the bucket
    * partitioning, zero exchanges on that branch — asserted in
    * BucketingSpec), while only the shard side shuffles into alignment.
    * Pay the index shuffle once at build time, not per ingest.
    */
  def writeBandIndex(banded: DataFrame, table: String, buckets: Int = 64): Unit =
    graft.core.Bucketing.writeBucketed(banded, table, "band_sig", buckets)

  /** Reopen a [[writeBandIndex]] table (bucket metadata from the catalog). */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession,
                    table: String): DataFrame = spark.table(table)

  /** Fold a deduplicated shard's banded signatures INTO the persisted band
    * index — the step that closes the d9 ingest loop: after
    * [[incrementalCandidatePairs]] has verified today's shard, its
    * signatures become part of the index tomorrow's shard joins against.
    * Only the shard shuffles into buckets (cost ∝ shard); the index is
    * never rewritten. Each append lands one more file set per bucket —
    * run [[graft.core.Bucketing.compactBucketed]] on the same cadence the
    * snapshot chain compacts (every K ingests) to keep per-bucket file
    * count O(K); the shuffle-free rewrite preserves the bucket spec, so
    * the exchange-free ingest join is unaffected.
    */
  def appendBandIndex(banded: DataFrame, table: String,
                      buckets: Int = 64): Unit =
    graft.core.Bucketing.appendBucketed(banded, table, "band_sig", buckets)

  /** Maintain a [[writeBandIndex]] table PRE-CAPPED — the PRODUCER of
    * the `indexPreCapped = true` contract ([[incrementalCandidatePairs]]
    * skips its per-ingest index cap window when the persisted table is
    * maintained this way): one shuffle-free
    * [[graft.core.Bucketing.compactBucketed]] rewrite whose transform
    * heals crash-replay duplicates FIRST (dropDuplicates — replayed
    * appends must not inflate a bucket over the cap) and then drops every
    * over-cap (band, band_sig) bucket WHOLESALE with the query-time
    * [[capBuckets]] itself, so pre-capped + skip ≡ uncapped + window
    * (asserted in DedupSpec). The cap window partitions by
    * (band, band_sig) ⊇ the bucket key, so it rides the bucketed scan
    * with no exchange and the one-file-per-bucket write survives —
    * compaction cost stays read + write, never a shuffle of the index.
    *
    * Cap-then-append drift, documented: rows appended AFTER a bucket was
    * dropped restart its count from zero, so a once-hot signature can
    * re-enter the index until the next cap pass. That is the price of a
    * cap that costs O(compaction) instead of O(every ingest); run
    * [[bandOccupancy]] (d19) at the same cadence to account for what
    * each pass dropped — the no-silent-caps rule.
    */
  def capBandIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   maxBucket: Int = 64): Unit =
    graft.core.Bucketing.compactBucketed(spark, table, df =>
      capBuckets(df.dropDuplicates(), BandKey, maxBucket))

  /** D9: INCREMENTAL candidate pairs — a new ingest shard against the
    * persisted [[bandedSignatures]] index of the existing corpus, plus
    * new×new, but never old×old. At 100 TB this is the only dedup query
    * that actually runs day-to-day: you dedup the corpus ONCE, persist the
    * band index (tiny next to the corpus — k/bandSize hex rows per doc),
    * and every subsequent shard pays work proportional to ITS size: the
    * band equi-join touches only index buckets the shard's signatures
    * land in.
    *
    * The per-bucket cap is applied PER SIDE (shard buckets and index
    * buckets separately), so a boilerplate band-signature that is hot in
    * the historical index cannot explode a small shard's join: worst-case
    * pair count per bucket is maxBucket² regardless of corpus size.
    * The index is SEMI-JOINED to the shard's (band, band_sig) set BEFORE
    * its cap window — the semi-join keeps whole buckets, so per-bucket
    * counts (and therefore which buckets the cap drops) are identical to
    * capping the full index, but the window shuffles only buckets the
    * shard actually touches and the broadcast semi-join keeps the index
    * scan itself exchange-free (the [[graft.ann.Vectors
    * .incrementalSemanticPairs]] discipline). Pass `indexPreCapped =
    * true` when the persisted index is maintained pre-capped
    * ([[capBandIndex]], `ingest-daily --pre-capped`) to skip its window
    * entirely. The new×new half is [[pairsFromCappedBuckets]] over the
    * capped shard — the batch generator, no self-join. Output: distinct
    * (doc_a < doc_b) with at least one side new.
    */
  def incrementalCandidatePairs(newBanded: DataFrame, indexBanded: DataFrame,
                                maxBucket: Int = 64,
                                indexPreCapped: Boolean = false): DataFrame = {
    // the shard side feeds both halves; the index side is read once
    val nw = capBuckets(newBanded, BandKey, maxBucket).localCheckpoint(false)
    val pruned = indexBanded.join(
      broadcast(nw.select(col("band"), col("band_sig")).distinct()),
      BandKey, "left_semi")
    val old = if (indexPreCapped) pruned else capBuckets(pruned, BandKey, maxBucket)
    val newOld = nw.as("a").join(old.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    pairsFromCappedBuckets(nw).union(newOld).distinct()
  }

  /** First-seen n-gram NOVELTY per document — the dedup-aware curation
    * signal between exact-dup (0 against an earlier twin) and fully fresh
    * (1): the fraction of a doc's distinct word n-grams whose corpus-wide
    * first appearance (min id — ingest order at scale) is THIS document.
    * Boilerplate-heavy docs score low with no pairwise work anywhere:
    * one explode + one min-per-gram hash-aggregate (map-side partial min
    * collapses hot boilerplate grams before the shuffle) + one per-doc
    * re-aggregate — linear in corpus size. Docs with fewer than n tokens
    * have no n-grams and are absent from the output by construction.
    * Output: (doc_id, n_ngrams, n_novel, novelty).
    *
    * `hashGrams = true` is the 100 TB form (the [[dupGramPositions]]
    * trade): the gram STRING never shuffles — its 64-bit xxhash does, an
    * order-of-magnitude byte shrink on the one big exchange here. A hash
    * collision merges two grams, so a later doc's gram can have its
    * first-seen stolen by an earlier colliding gram: novelty is only ever
    * UNDER-counted (a doc can score lower, never higher) — the safe
    * direction for a keep-the-novel curation gate. Parity with the exact
    * form is asserted in DedupSpec.
    */
  def noveltyScores(docs: DataFrame, id: Column, text: Column,
                    n: Int = 3, roundTo: Int = 6,
                    hashGrams: Boolean = false): DataFrame = {
    val grams = docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(wordNgramsFromTokens(col("toks"), n))).as("g0"))
      .select(col("doc_id"),
        (if (hashGrams) xxhash64(col("g0")) else col("g0")).as("g"))
    // r17: no instance-scale join-back. A doc's novel-gram count is the
    // number of grams it is the min-owner OF — countable on the gram-TYPE
    // relation (each doc's grams are distinct, so per (g, first_doc) there
    // is exactly one contributing row) — and its gram total is a per-doc
    // aggregate. The corpus-gram ⋈ gram-type exchange the old join-back
    // paid (the one big shuffle here) becomes two map-side-combining
    // aggregates plus a doc-sized join. Row-identical by construction;
    // the d-family oracle hash pins it.
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    val novel = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      .groupBy("first_doc").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_ngrams"), roundTo))
  }

  /** SKETCH-ACCURACY audit — for every LSH candidate pair, the MinHash
    * ESTIMATE of Jaccard (the fraction of the k seeds whose minhash
    * agrees — the estimator banding's S-curve is built on) against the
    * exact char-n-gram Jaccard, with the absolute error. Run it on a
    * daily shard before trusting the sketch at full scale: a drifting
    * corpus (shorter docs, new alphabet, different shingle density)
    * degrades the word-shingle sketch silently, and this view makes the
    * degradation a number. Pairs with NO shared n-gram — pure band
    * collisions, the most interesting rows — keep exact = 0.0 via the
    * left join. Cost: the d5 verify pipeline plus one join against the
    * (k rows per doc) signature relation.
    * Output: (doc_a, doc_b, est_jaccard, jaccard, abs_err).
    */
  def sketchAccuracy(docs: DataFrame, id: Column, text: Column,
                     k: Int = 8, bandSize: Int = 4, ngram: Int = 3,
                     roundTo: Int = 6): DataFrame = {
    val sigs = minhashSignatures(docs, id, text, k)
    // candidate generation via the shuffle-free banded projection when
    // bandSize divides k (r17; row-identical, DedupSpec) — the
    // long-format sigs above still feed the per-seed agreement joins
    val cands = lshCandidatePairsAuto(docs, id, text, k, bandSize)
    val est = cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("seed"),
        col("minhash").as("mh_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("seed"),
        col("minhash").as("mh_b")), Seq("doc_b", "seed"))
      .groupBy("doc_a", "doc_b")
      .agg(round(avg(when(col("mh_a") === col("mh_b"), 1.0)
        .otherwise(0.0)), roundTo).as("est_jaccard"))
    val exact = verifyCandidates(docs, cands, id, text, ngram,
        minJaccard = 0.0, roundTo)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("jaccard")), roundTo))
  }

  /** Long-format SimHash bits: (id, bit_idx ∈ 1..32, bit ∈ {0,1}).
    * bit_i votes +1 when hex digit i of md5(token) is >= '8' (top bit of the
    * nibble set), −1 otherwise; the sign of the per-document vote sum is the
    * bit. 32 hex digits ⇒ a 32-bit SimHash with 4 bits of hash per digit
    * collapsed to 1 — deterministic and oracle-expressible.
    *
    * Shuffle-FREE like [[minhashSignatures]]: the native
    * [[graft.functions.SimhashExpr]] kernel md5s each distinct token once
    * and votes all 32 bits inside the scan's projection; row-identity with
    * the aggregate form (`DedupSpec.simhashBitsExploded`, the kernel's
    * executable specification) is ScalaCheck-asserted in DedupSpec.
    */
  def simhashBits(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val bits = ColumnShim.column(
      graft.functions.SimhashExpr(ColumnShim.expression(text)))
    docs.select(id.as("doc_id"), posexplode(bits))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("bit_idx"),
        col("col").as("bit"))
  }

  /** Verification stage of the two-phase dedup pipeline: exact n-gram
    * Jaccard computed ONLY for LSH candidate pairs, with work proportional
    * to |candidates| × grams-per-doc. Each candidate doc's distinct char
    * n-grams are ONE sorted set (a [[graft.functions.GramSetKernel]] row,
    * written once to a scratch), and the plan is pairs ⋈ set(doc_a) ⋈
    * set(doc_b): one row per candidate pair, where a linear merge of the
    * two sets gives |A∩B| and the array sizes give |A| and |B| — all that
    * exact Jaccard (Broder 1997) needs. The sets are exact: grams of at
    * most 7 bytes are packed injectively into longs (length byte + bytes),
    * longer ones stay UTF-8 strings, so set equality is byte equality, as
    * with the gram strings themselves; no gram hash. An inverted-index
    * self-join over the candidate docs' grams would instead degenerate
    * when candidates are dense — ONE hot n-gram shared by d candidate
    * docs emits d²/2 join rows regardless of which pairs were proposed
    * (observed: 30 s for 22k pairs at sf0.1). LSH bounds the candidates;
    * verification scales with candidates, not with gram document
    * frequency.
    *
    * Against the exploded form — pairs ⋈ doc_a's gram ROWS, an equi-join
    * on (doc_b, gram) and an aggregate of the shared gram rows back to
    * pairs, now DedupSpec's reference — on perfbench `curate` (4-vCPU
    * host): traced seed 11, `dedup.verify` self time 3.45 → 1.27 s and
    * 11 → 9 jobs; `tools/ab.py --pairs 10 --seed 23`, `job_s` median
    * 6.30 → 4.12 s (per-pair ratio 0.705, 10/10 pairs) with the eager
    * pair relation of [[connectedComponentsStar]].
    *
    * Pairs that share no gram yield no row at any `minJaccard`, a null
    * text yields no row, an empty text is the one gram "". Duplicate
    * input pairs are deduplicated first: Jaccard is per (doc_a, doc_b).
    *
    * Each kept pair merges its two sets ONCE: the merge is projected
    * under [[graft.functions.EvalOnce]], so the `inter > 0` and Jaccard
    * filters read its column instead of being pushed into the join
    * condition, where the optimizer put three more copies of the merge
    * (PlanAuditSpec counts them). Before any merge, the exact
    * SIZE filter drops a pair whose bound
    * round(min(|A|,|B|) / max(|A|,|B|), roundTo) is below `minJaccard`:
    * |A∩B| ≤ min and |A∪B| ≥ max make that ratio an upper bound on the
    * Jaccard, and rounding is monotone, so no kept pair is lost.
    *
    * The pair-list broadcast is GUARDED, not unconditional: up to
    * [[VerifyBroadcastPairs]] pairs (~50 B/row → ~100 MB) the pair
    * relation broadcasts and the doc_a set join stays map-side; beyond
    * it — a genuinely duplicated 100-TB corpus can propose candidate sets
    * past executor memory — the hint is dropped and Spark plans an
    * ordinary shuffle join: same rows, no broadcast OOM cliff (round-9
    * verdict). Identity of the two paths is asserted in DedupSpec.
    * The guard's row count comes from the job that materializes the
    * candidates, not from a `count()` after it (two more jobs under AQE).
    */
  def verifyCandidates(docs: DataFrame, candidates: DataFrame, id: Column,
                       text: Column, n: Int, minJaccard: Double,
                       roundTo: Int = 6): DataFrame =
    verifyCandidates(docs, candidates, id, text, n, minJaccard, roundTo,
      VerifyBroadcastPairs)

  /** The most candidate pairs [[verifyCandidates]] broadcasts. */
  private val VerifyBroadcastPairs = 2000000L

  /** [[verifyCandidates]] with its broadcast bound as an argument, so
    * DedupSpec can force the shuffle join.
    */
  private[dedup] def verifyCandidates(docs: DataFrame, candidates: DataFrame,
                                      id: Column, text: Column, n: Int,
                                      minJaccard: Double, roundTo: Int,
                                      maxBroadcastPairs: Long): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    // cands feeds two plan branches (the doc set + the pair joins): share
    // it or the LSH chain is recomputed per branch. localCheckpoint
    // instead of cache(): eager one-time materialization whose blocks the
    // ContextCleaner releases on GC, instead of a CacheManager pin that
    // outlives the call (round-2 ADVICE).
    val (cands, nCands) = org.apache.spark.sql.graftshim.CheckpointShim
      .localCheckpointCounted(candidates.dropDuplicates("doc_a", "doc_b"))
    // a semi-join's build side needs no distinct: duplicate keys match
    // the same docs
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id")))
    // the set relation is candidate-DOC scale, and on the corpora dedup
    // exists for (heavy duplication ⇒ candidates ≈ corpus) that is
    // corpus-token scale in its array payload. COLUMNAR scratch: one
    // eager write (the kernel runs once per doc), both join sides read it
    // at scan speed with zero executor storage pinned. The semi-join runs
    // BEFORE the kernel (r17), so only candidate docs are shingled.
    val sets = graft.core.Scratch.materialize(
      docs.select(id.as("doc_id"), text.as("__vtext"))
        .join(candDocs, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), ColumnShim.column(graft.functions.GramSetExpr(
          ColumnShim.expression(col("__vtext")), n)).as("gs")),
      "verifygrams")
    def side(s: String) =
      sets.select(col("doc_id").as(s"doc_$s"), col("gs").as(s"__g$s"))
    def setSize(g: String) = size(col(s"$g.packed")) + size(col(s"$g.wide"))
    (if (nCands <= maxBroadcastPairs) broadcast(cands) else cands)
      .join(side("a"), "doc_a")
      .join(side("b"), "doc_b")
      // the size filter (scaladoc): sets are never empty, the floor of 1
      // only keeps the division total
      .filter(round(least(setSize("__ga"), setSize("__gb")) /
        greatest(setSize("__ga"), setSize("__gb"), lit(1)), roundTo) >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EvalOnce(ColumnShim.column(graft.functions.GramOverlapExpr(
          ColumnShim.expression(col("__ga")), ColumnShim.expression(col("__gb")))))
          .as("inter"),
        setSize("__ga").as("sz_a"), setSize("__gb").as("sz_b"))
      .filter(col("inter") > 0)
      .withColumn("jaccard", round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")), roundTo))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard over character n-gram *sets* for candidate pairs —
    * the verification stage after LSH, or a direct measure on a bounded
    * subset. Input must have (id, text).
    *
    * `maxDocFreq` caps the document frequency of grams admitted to the
    * inverted-index self-join: a stop-gram appearing in d documents
    * contributes d² join rows, so one hot gram ("the") makes the join
    * quadratic on a real corpus. Grams above the cap are excluded from both
    * the intersection AND the per-doc set sizes, keeping the Jaccard ratio
    * consistent over the filtered gram universe (the standard
    * stop-shingle-removal semantics; the oracle applies the same cap).
    */
  /** Shared inverted-index core of [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: explode char n-gram sets, drop grams
    * above the df cap, self-join on the gram, and return per-pair
    * (doc_a, doc_b, inter, sz_a, sz_b) — the sufficient statistics for
    * any set-overlap measure. ONE definition so the two measures can
    * never disagree on which pairs enter scoring.
    *
    * localCheckpoint sharing of the gram relation was A/B-measured at
    * the 10× probe and came out FLAT (16.1 vs 16.8 s duplicated-corpus,
    * 4.0 vs 4.1 s sf-native: the df aggregate dominates and checkpoint
    * block IO offsets the explode recompute) — kept unshared for the
    * simpler lineage, unlike verifyCandidates where the upstream LSH
    * chain makes recompute 3× expensive.
    */
  private def ngramPairStats(docs: DataFrame, id: Column, text: Column,
                             n: Int, maxDocFreq: Int): DataFrame = {
    val allGrams = docs.select(id.as("doc_id"),
        explode(distinctCharNgrams(text, n)).as("g"))
    val rareGrams = allGrams.groupBy("g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("g")
    val grams = allGrams.join(rareGrams, Seq("g"), "left_semi")
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
  }

  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                        minJaccard: Double, roundTo: Int = 6,
                        maxDocFreq: Int = 1000): DataFrame =
    ngramPairStats(docs, id, text, n, maxDocFreq)
      .withColumn("jaccard", round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")), roundTo))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")

  /** Exact n-gram CONTAINMENT over character n-gram sets —
    * max-containment |A∩B| / min(|A|,|B|), the doc-in-doc measure
    * (Broder's containment): a short document wholly embedded in a long
    * one scores ~1.0 here while its Jaccard stays low (the union is
    * dominated by the long side), so near-superset duplicates that
    * [[ngramJaccardPairs]] misses are caught. Same inverted-index shape
    * and stop-gram cap as Jaccard — one gram shuffle, pairs only via the
    * index join, never all-pairs.
    */
  def ngramContainmentPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                            minContainment: Double, roundTo: Int = 6,
                            maxDocFreq: Int = 1000): DataFrame =
    ngramPairStats(docs, id, text, n, maxDocFreq)
      .withColumn("containment", round(col("inter") /
        least(col("sz_a"), col("sz_b")), roundTo))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "containment")

  /** Benchmark DECONTAMINATION — the d8 overlap test as a reusable
    * operator: ids of `docs` sharing at least `minShared` distinct word
    * n-grams with ANY document in `evalDocs`. Pretraining corpora are
    * scrubbed against held-out eval sets before training (the reference
    * keeps its test data in its own directory for the same isolation,
    * train/common/metrics.py:271-329); this is the engine-side pass that
    * enforces it.
    *
    * Scale shape: the train side is one projection + explode (distinct
    * grams per doc, no pairwise work); the eval side is a benchmark —
    * small by construction — so its distinct gram set BROADCASTS and the
    * membership test is a map-side semi-join. The only shuffle is the
    * per-train-doc gram count, carrying (id, count) pairs for matching
    * grams only. Work tracks the train corpus linearly at any scale.
    *
    * BOUNDEDNESS CONTRACT (why this broadcast is unconditional where
    * [[verifyCandidates]]' is guarded): the broadcast side is the distinct
    * gram set of the EVAL relation, and eval sets are held-out benchmarks —
    * thousands to low millions of grams, fixed ahead of the run, never
    * scaling with the train corpus. A caller passing a corpus-sized
    * relation as `evalDocs` is using the wrong operator (that is
    * [[duplicateNgramPositions]]' shared-gram test), not hitting a hidden
    * cliff in this one.
    *
    * Output: (doc_id, shared_ngrams) for contaminated train docs —
    * anti-join against it to scrub, join to flag/audit.
    */
  def contaminatedIds(docs: DataFrame, id: Column, text: Column,
                      evalDocs: DataFrame, evalText: Column,
                      n: Int = 5, minShared: Int = 1): DataFrame = {
    val trainG = docGrams(docs, id, text, n)
    val evalG = docGrams(evalDocs, lit(0L), evalText, n).select("g").distinct()
    trainG.join(broadcast(evalG), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** D8c: eval-side CONTAMINATION REPORT — the QA view the benchmark
    * owner needs after decontamination: per EVAL document, how much of it
    * leaks in the training corpus — total distinct word `n`-grams, how
    * many appear in at least one train doc, and the leaked fraction.
    * A fully-leaked item (contamination → 1.0) means the benchmark can't
    * measure that capability against this corpus no matter how the train
    * side is scrubbed; the report is what decides re-drawing eval items
    * vs dropping train docs.
    *
    * Same boundedness contract as [[contaminatedIds]], orientation
    * flipped: the eval gram relation (benchmark-sized, id-keyed)
    * broadcasts; train grams stream map-side through the broadcast hash
    * join and only the MATCHES shuffle (for the distinct (eval_doc, gram)
    * count) — nothing scales with eval × train. Output:
    * (eval_doc, n_grams, n_shared, contamination), one row per eval doc
    * with at least n tokens.
    */
  def contaminationReport(docs: DataFrame, id: Column, text: Column,
                          evalDocs: DataFrame, evalId: Column,
                          evalText: Column, n: Int = 5,
                          roundTo: Int = 6): DataFrame = {
    val trainG = docGrams(docs, id, text, n).select("g")
    val evalG = docGrams(evalDocs, evalId, evalText, n)
      .select(col("doc_id").as("eval_doc"), col("g")).localCheckpoint(false)
    val totals = evalG.groupBy("eval_doc").agg(count(lit(1)).as("n_grams"))
    val shared = trainG.join(broadcast(evalG), Seq("g"))
      .select("eval_doc", "g").distinct()
      .groupBy("eval_doc").agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("eval_doc"), "left")
      .select(col("eval_doc"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) / col("n_grams"), roundTo)
          .as("contamination"))
  }

  /** Per-doc DISTINCT word n-grams — the shared gram builder behind the
    * decontamination operators. Tokenize ONCE into a bound attribute —
    * n-grams straight off the text re-run the interpreted split per gram
    * position (HOF lambdas are CodegenFallback; the tx_word_bigrams
    * lesson, ~10× at sf0.1); docs shorter than n tokens have no n-gram
    * (the greatest() guard in the gram builder would otherwise emit a
    * truncated pseudo-gram).
    */
  private def docGrams(df: DataFrame, idc: Column, txt: Column,
                       n: Int): DataFrame = {
    import graft.text.TextFunctions.{tokens, wordNgramsFromTokens}
    df.select(idc.as("doc_id"), tokens(txt).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(wordNgramsFromTokens(col("__toks"), n))).as("g"))
  }

  /** [[contaminatedIds]] at the scale where the eval gram set itself
    * outgrows the broadcast budget (a consortium eval suite, a
    * many-benchmark union): instead of broadcasting the exact gram set, a
    * FIXED-SIZE Bloom filter over the eval grams ships to every task and
    * pre-filters train grams map-side; only the survivors — true matches
    * plus an `fpp` fraction of false positives — reach the exact
    * semi-join, which Spark now plans at survivor volume (broadcast if
    * the eval side still fits, shuffle otherwise — unhinted either way).
    *
    * The result is EXACTLY [[contaminatedIds]]' (same oracle): the bloom
    * can only let extra grams reach the exact verify, never change its
    * decision — asserted in DedupSpec including an undersized-filter
    * stress case.
    *
    * Scale contract: driver and executors hold the filter's bits —
    * `-expectedEvalGrams · ln(fpp) / ln²2` bits (~4.8 MB for 4M grams at
    * 1%), independent of the train corpus — and the exact join's shuffle
    * shrinks from every train gram to `matches + fpp · |train grams|`.
    * Both sides hash grams to longs with the codegen'd `xxhash64` first,
    * so the membership probe is [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * (the expression behind Spark's own runtime row-group filtering) on
    * 8-byte keys — no UDF, no string re-hash per probe.
    */
  def contaminatedIdsBloom(docs: DataFrame, id: Column, text: Column,
                           evalDocs: DataFrame, evalText: Column,
                           n: Int = 5, minShared: Int = 1,
                           expectedEvalGrams: Long = 4000000L,
                           fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    val trainG = docGrams(docs, id, text, n)
    val evalG = docGrams(evalDocs, lit(0L), evalText, n).select("g").distinct()
    // distributed build; the driver holds only the merged filter bits
    val bf = evalG.select(xxhash64(col("g")).as("h"))
      .stat.bloomFilter("h", expectedEvalGrams, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val might = ColumnShim.column(new BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      ColumnShim.expression(xxhash64(col("g")))))
    trainG.filter(might)
      .join(evalG, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Single-column form of the [[ccKeyNorm]] rule for id relations
    * (forget requests, pair logs): numeric → long, anything else raw.
    */
  private def idKeyNorm(df: DataFrame, c: String): Column => Column =
    if (df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]) _.cast("long")
    else identity

  /** CC key normalization: numeric keys flatten to LONG (the historical
    * contract - mixed int/long inputs compare and label identically);
    * any OTHER type (string stems/URLs/UUIDs - the keys real corpora
    * use) passes through RAW, because the whole cluster machinery is
    * comparison-only (min/least/greatest/coalesce + an xxhash64
    * signature), never arithmetic. Both endpoint columns must agree on
    * numeric-ness - a mixed pair relation is a caller bug surfaced
    * loudly, not coerced.
    */
  private def ccKeyNorm(pairs: DataFrame, aCol: String,
                        bCol: String): Column => Column = {
    import org.apache.spark.sql.types.NumericType
    val aNum = pairs.schema(aCol).dataType.isInstanceOf[NumericType]
    val bNum = pairs.schema(bCol).dataType.isInstanceOf[NumericType]
    require(aNum == bNum,
      s"connected components: endpoint columns $aCol/$bCol mix numeric " +
        "and non-numeric key types - re-key one side")
    if (aNum) _.cast("long") else identity
  }

  /** Connected components over an undirected pair relation — the final
    * stage of at-scale dedup: verified near-dup PAIRS become duplicate
    * CLUSTERS (cluster id = min member id), so "keep one representative
    * per cluster" is `filter(doc_id === cluster)`. Input pairs need
    * columns (aCol, bCol); self-pairs are ignored. Output: (doc_id,
    * cluster) for every vertex that appears in a pair. The engine's one
    * CC algorithm: every pipeline, the d7 board family and the
    * incremental cluster maintenance run through it.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR edge rewriting
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — O(log²) rounds whatever the component diameter, so
    * long chains (entity-resolution links, reference chains, the
    * >25-long near-dup chains a varied-copy curation graph grows)
    * converge as fast as dense clusters. Min-label propagation, whose
    * round count IS the diameter, is no faster on dense clusters either
    * (d7's own sf0.1 input: 3.07 s star vs 3.49 s min-label median on
    * `local[4]`; 10× exact-copy cliques: a tie), so this is the one form.
    *
    * Each round: large-star connects every node's larger neighbors to its
    * minimum neighbor; small-star (on the max→min orientation) connects
    * each node and its smaller neighbors to the minimum. Both are one
    * per-node minimum over the edge list; the edge set only contracts
    * toward stars centered at component minima. Convergence = edge-set
    * fixpoint (count + order-insensitive bit_xor hash — bit_xor, not sum:
    * ANSI mode overflows on summed hashes); a graph that has not reached
    * it after `maxIter` alternations throws instead of returning split
    * components.
    *
    * FINISH SMALL (Kiveris et al.: contract until the graph fits one
    * machine, then finish there): once the edge set fits the driver
    * bound, it is collected to the driver and labelled by a union-find,
    * returned as a local relation with the same columns and types. Two
    * checks: the row count of the pair relation before round 0, taken
    * from the one parallel job that materializes it (the rounds read it
    * anyway; a lazy one made a bounded collect run its upstream one
    * partition, then the rest), and each round's signature edge count
    * (no extra job). The
    * driver never holds more than bound edges. Only LONG and
    * default-collation (UTF8_BINARY) STRING keys take it, labelled in
    * Spark's own order (UTF-8 byte order for strings, which is code point
    * order, not `String.compareTo`'s UTF-16 order); other key types keep
    * the rounds. Above the bound the rounds, and the `maxIter` guard, are
    * the only path.
    *
    * The bound is 2^20 edges, or fewer where a quarter of the driver's
    * max heap cannot hold that many at the finish's measured peak cost:
    * `CcLongEdgeBytes` 640 B an edge for LONG keys, `CcStringEdgeBytes`
    * 2,100 B for STRING keys, measured at ids of 128 characters (longer
    * ids cost more). So a 1 GB driver finishes up to ~419k LONG or ~128k
    * STRING edges, and an 8 GB one 2^20 LONG or ~1.02M STRING edges.
    * Measured on 10-cliques plus a chain (`local[4]`, 4-vCPU host, two
    * repetitions each; peak = the heap in use sampled every 1 ms over the
    * call, uncollected garbage included, less the heap in use before it;
    * retained = after a full GC, holding the result): 266,000 edges and
    * 154,001 vertices at a 2 GB heap, peak 522-626 B an edge for LONG,
    * 1,058-1,940 for 16-character, 981-1,458 for 64-character and
    * 1,454-1,604 for 128-character STRING ids, retained 51, 130, 185 and
    * 260 B; at a 1 GB heap, the bound's own sizes finished (133,000
    * 128-character STRING edges, peak 1,938-2,097 B an edge; 418,000
    * LONG edges, peak 442-526 B). At 1,045,000 LONG edges (605,001
    * vertices, 4 GB heap) the finish took 2.3-3.2 s (peak 503-612 B an
    * edge) against 44-52 s for the rounds. On the perfbench `curate`
    * graph (3,703 edges) star CC went from 31 Spark jobs (five rounds)
    * to 2.
    *
    * SKEW: the per-node minima are windows partitioned by node, so a
    * partition is one node's degree. Upstream bucket caps bound degrees
    * (≤ bands × maxBucket candidates per doc) in the round-0 edge set
    * ONLY: contraction concentrates edges on component minima, so on a
    * giant duplicate component a later round's window partition is
    * component-sized and runs as one task. The driver finish does not
    * help there — a giant component keeps the edge set above the bound —
    * so hub-safe rounds above the bound are still open (ADVICE medium
    * #1, ROADMAP item 4(b)).
    *
    * Round state is localCheckpoint'ed: that truncates the O(rounds)-deep
    * lineage AND lets the ContextCleaner release the previous round's
    * blocks (a cache() pin would hold every round for the session).
    * CAVEAT — localCheckpoint is NOT fault-tolerant: lineage is truncated
    * and the blocks live unreplicated on their executors, so losing an
    * executor mid-run (dynamic allocation, spot/preemptible nodes — the
    * 100-TB regime) fails the job instead of recomputing. For long runs
    * on such clusters pass `checkpointDir`: the per-round state then goes
    * through RELIABLE checkpoints (HDFS/object store) and survives
    * executor loss, at the cost of a write per round.
    *
    * Property-tested against a driver-side union-find in DedupSpec; the
    * d7/d7b/d7c board rows check it against a recursive-CTE closure.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 20,
                              checkpointDir: Option[String] = None): DataFrame =
    starComponents(pairs, aCol, bCol, maxIter, checkpointDir)

  /** Most edges [[connectedComponentsStar]] finishes on the driver, and
    * the finish's measured driver heap per collected edge by key type
    * (see FINISH SMALL there). */
  private val CcDriverEdges: Int = 1 << 20
  private val CcLongEdgeBytes = 640L
  private val CcStringEdgeBytes = 2100L

  /** [[connectedComponentsStar]] with its driver-finish bound exposed, so
    * tests can force the rounds (`driverEdges = 0`) or a mid-loop finish
    * on toy graphs. The heap share still caps the bound. */
  private[graft] def starComponents(pairs: DataFrame, aCol: String,
                                    bCol: String, maxIter: Int,
                                    checkpointDir: Option[String],
                                    driverEdges: Int = CcDriverEdges): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // Size-adaptive round materialization: object blocks below
    // Scratch.objectBlockSafeRows (a per-round scratch write's fixed job
    // cost dominates at dedup-graph sizes), scratch parquet above it,
    // where object blocks hit the measured 40M-row spill cliff (§6.3
    // budgetdiag). Each round's size is the previous signature's edge
    // count; round 0 is blind and degrades softly (spill). The thunk
    // drops round N-1's files once round N is materialized.
    def persistRound(df: DataFrame, rows: Long = -1L): (DataFrame, () => Unit) =
      if (checkpointDir.isDefined) (df.checkpoint(false), () => ())
      else if (rows >= 0L && rows >= graft.core.Scratch.objectBlockSafeRows) {
        val (m, h) = graft.core.Scratch.materializeWithHandle(df, "ccstar")
        (m, () => h.drop())
      } else (df.localCheckpoint(false), () => ())
    val ccNorm = ccKeyNorm(pairs, aCol, bCol)
    // read again after the loop — never dropped. EAGER: one job computes
    // every partition in parallel, and counts them, so the driver finish
    // collects a relation it knows fits in one job. Lazily, a bounded
    // collect would compute it: CollectLimit scans one partition, then
    // the rest in a second job, so a shuffle-free input (verifyCandidates'
    // pair joins) ran its whole upstream as two sequential jobs, the first
    // a single task (JobBudgetSpec pins the one stage). A reliable
    // checkpoint is counted by a job of its own.
    val baseRel = pairs.select(ccNorm(col(aCol)).as("a"), ccNorm(col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
    val (base, baseRows) =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftshim.CheckpointShim.localCheckpointCounted(baseRel)
      else { val b = baseRel.checkpoint(); (b, b.count()) }
    // the driver finish takes LONG and UTF8_BINARY STRING keys only, in
    // at most a quarter of the driver heap
    val keyType = base.schema("a").dataType
    val edgeBytes = keyType match {
      case _ if base.schema("b").dataType != keyType => 0L
      case org.apache.spark.sql.types.LongType => CcLongEdgeBytes
      case t: org.apache.spark.sql.types.StringType
          if t.collationId == org.apache.spark.sql.types.StringType.collationId =>
        CcStringEdgeBytes
      case _ => 0L
    }
    val bound = if (edgeBytes == 0L) 0 else
      math.min(driverEdges.toLong, Runtime.getRuntime.maxMemory / 4 / edgeBytes).toInt
    val onDriver = bound > 0
    if (onDriver && baseRows <= bound) return labelOnDriver(base, base.collect())
    // canonical orientation: hi > lo
    var (edges, dropEdges) = persistRound(
      base.select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo")).distinct())
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    var iter = 0
    var converged = sig._1 == 0L
    def small = onDriver && sig._1 <= bound
    while (!converged && !small && iter < maxIter) {
      // LARGE-STAR over the bidirectional view: x's min neighbor m (incl.
      // itself); every strictly-larger neighbor y re-attaches to m.
      // The per-node minimum is a WINDOW over the one x-keyed exchange
      // (r18; previously a groupBy + join-back onto the same key — two
      // joins and two exchanges per alternation more than this form).
      // Window partitions are NODE DEGREES: bounded by the upstream
      // bucket caps in the round-0 edge set only — later rounds
      // concentrate edges on component minima (see SKEW in the scaladoc).
      val bi = edges.select(col("hi").as("x"), col("lo").as("y"))
        .union(edges.select(col("lo").as("x"), col("hi").as("y")))
      val withM = bi
        .withColumn("mn", min(col("y")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("x")))
        .withColumn("m", least(col("x"), col("mn")))
      val ls = withM.filter(col("y") > col("x"))
        .select(col("y").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // SMALL-STAR on the hi→lo orientation: hi's minimum smaller neighbor
      // m; hi and every other smaller neighbor re-attach to m
      val joined = ls.withColumn("m", min(col("lo")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("hi")))
      val ss = joined.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(joined.select(col("hi"), col("m").as("lo")))
        .distinct()
      // size the round by the previous signature's edge count — a proxy,
      // not a bound (star rewrites roughly preserve then contract the
      // edge set), with the threshold's margin absorbing the slack
      val (newEdges, dropNew) = persistRound(ss, sig._1)
      val next = signature(newEdges)
      dropEdges() // round N is materialized (and signed); round N-1 is dead
      edges = newEdges
      dropEdges = dropNew
      converged = next == sig
      sig = next
      iter += 1
    }
    // the rewrites keep every component intact, so every vertex of a pair
    // is still an endpoint of the live edge set
    if (small) {
      val rows = edges.collect()
      dropEdges()
      return labelOnDriver(base, rows)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter alternations " +
          "— raise maxIter")
    // at the fixpoint the edges are stars (node → component min): nodes
    // appearing as hi point at their center, centers label themselves
    val vertices = base.select(col("a").as("doc_id"))
      .union(base.select(col("b").as("doc_id"))).distinct()
    vertices.join(edges.select(col("hi").as("doc_id"), col("lo")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lo"), col("doc_id")).as("cluster"))
  }

  /** Driver half of [[connectedComponentsStar]]'s finish: labels every
    * endpoint of `edges` (two key columns, LONG or UTF8_BINARY STRING)
    * with its component minimum. The vertices are sorted in Spark's order
    * and deduplicated, so a vertex's index order is its key order; the
    * union-find links the larger root under the smaller, so every root is
    * its component's minimum. The output rows reuse the collected key
    * objects. Output: a local relation over `like`'s key type,
    * (doc_id, cluster).
    */
  private def labelOnDriver(like: DataFrame,
                            edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val keyType = like.schema("a").dataType
    val order: java.util.Comparator[AnyRef] = keyType match {
      case LongType => (x, y) =>
        x.asInstanceOf[java.lang.Long].compareTo(y.asInstanceOf[java.lang.Long])
      case _ => (x, y) => codePointOrder(x.asInstanceOf[String], y.asInstanceOf[String])
    }
    val n = edges.length
    // the distinct vertices in key order: vs(0 until nv)
    val vs = Array.tabulate[AnyRef](2 * n)(i => edges(i / 2).getAs[AnyRef](i % 2))
    java.util.Arrays.sort(vs, order)
    var nv = 0
    for (i <- vs.indices)
      if (nv == 0 || order.compare(vs(nv - 1), vs(i)) != 0) { vs(nv) = vs(i); nv += 1 }
    def index(v: Any): Int =
      java.util.Arrays.binarySearch(vs, 0, nv, v.asInstanceOf[AnyRef], order)
    val parent = Array.range(0, nv)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (e <- edges) {
      val ra = find(index(e.get(0)))
      val rb = find(index(e.get(1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = new java.util.ArrayList[Row](nv)
    for (i <- 0 until nv) rows.add(Row(vs(i), vs(find(i))))
    val nullable = like.schema("a").nullable || like.schema("b").nullable
    like.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("doc_id", keyType, nullable),
      StructField("cluster", keyType, nullable))))
  }

  /** Spark's UTF8_BINARY string order — UTF-8 byte order, which is code
    * point order. `String.compareTo` compares UTF-16 units, which puts a
    * surrogate pair (code points above U+FFFF) below U+E000-U+FFFF. */
  private def codePointOrder(x: String, y: String): Int = {
    var i = 0
    while (i < x.length && i < y.length) {
      val a = x.codePointAt(i)
      val b = y.codePointAt(i)
      if (a != b) return Integer.compare(a, b)
      i += Character.charCount(a)
    }
    Integer.compare(x.length, y.length)
  }

  /** Day-2 CLUSTER maintenance — fold a shard's new verified pairs into an
    * existing `(doc_id, cluster)` assignment WITHOUT re-clustering the
    * corpus. The missing third step of the incremental-dedup chain: the
    * band index makes candidate generation shard-cost
    * ([[incrementalCandidatePairs]]), verification is pair-cost, but
    * turning pairs into cluster ids previously meant a full
    * [[connectedComponentsStar]] over ALL pairs ever seen. This operator's
    * cost is new-pairs + affected-components only.
    *
    * Algorithm (quotient-graph contraction): map each new-pair endpoint to
    * its existing cluster rep (unknown = itself), run star CC on that
    * REDUCED rep-level graph (∝ new pairs, never the corpus), then relabel
    * the assignment through the broadcast rep→new-rep map. Exactness:
    * every old rep is the MINIMUM of its component (the CC label
    * contract), so the reduced graph's min per merged component equals the
    * batch min over all member vertices — incremental ≡ batch CC over
    * (old edges ∪ new edges), asserted in DedupSpec and by the d20 oracle
    * (which must reproduce d7's full recursive closure).
    *
    * Scale shape: the corpus-sized `assignment` is never shuffled — one
    * broadcast semi-side lookup of the shard's endpoints and one broadcast
    * relabel join, both map-side; every intermediate is bounded by the
    * shard's pair count. `deltaOnly = true` returns just the rows a
    * day-2 upsert needs (new vertices + vertices whose cluster changed)
    * so the maintained cluster table is rewritten at delta cost, not
    * corpus cost.
    *
    * Input: `assignment` with (doc_id, cluster); `newPairs` with
    * (aCol, bCol). Output: (doc_id, cluster) over assignment ∪ new-pair
    * endpoints (or the changed/new subset under `deltaOnly`).
    */
  def incrementalClusters(assignment: DataFrame, newPairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          deltaOnly: Boolean = false): DataFrame = {
    // the ccKeyNorm contract: numeric keys flatten to long, string keys
    // pass raw; assignment and pairs share one id space, so the pair
    // columns decide for both relations
    val ccNorm = ccKeyNorm(newPairs, aCol, bCol)
    val asg = assignment.select(ccNorm(col("doc_id")).as("doc_id"),
      ccNorm(col("cluster")).as("cluster"))
    val pairs = newPairs.select(ccNorm(col(aCol)).as("pa"),
        ccNorm(col(bCol)).as("pb"))
      .filter(col("pa") =!= col("pb")).localCheckpoint(false)
    // shard endpoints → existing rep; the broadcast keeps the corpus-sized
    // assignment scan map-side (endpoints are shard-bounded)
    val endpoints = pairs.select(explode(array(col("pa"), col("pb"))).as("ep"))
      .distinct().localCheckpoint(false)
    val reps = asg.join(broadcast(endpoints), col("doc_id") === col("ep"))
      .select(col("ep"), col("cluster").as("rep"))
      .localCheckpoint(false)
    // rep-level reduced edges: both joins are tiny × tiny
    val ra = pairs.join(reps.withColumnRenamed("ep", "pa")
        .withColumnRenamed("rep", "rep_a"), Seq("pa"), "left")
    val reduced = ra.join(reps.withColumnRenamed("ep", "pb")
        .withColumnRenamed("rep", "rep_b"), Seq("pb"), "left")
      .select(coalesce(col("rep_a"), col("pa")).as("ea"),
        coalesce(col("rep_b"), col("pb")).as("eb"))
      .filter(col("ea") =!= col("eb"))
    // CC over the contracted graph — star form: rep-level graphs are the
    // long-chain regime (each merge round contracts whole components)
    val merged = connectedComponentsStar(reduced, "ea", "eb", maxIter,
        checkpointDir)
      .select(col("doc_id").as("old_rep"), col("cluster").as("new_rep"))
      .localCheckpoint(false)
    // relabel: affected old clusters re-point at the merged rep; the map
    // is bounded by the reduced graph's node count → broadcast, no
    // exchange on the assignment side
    val relabeled = asg.join(
        broadcast(merged.withColumnRenamed("old_rep", "cluster")
          .filter(col("cluster") =!= col("new_rep"))),
        Seq("cluster"), "left")
      .select(col("doc_id"),
        coalesce(col("new_rep"), col("cluster")).as("cluster"),
        col("new_rep").isNotNull.as("__chg"))
    // brand-new vertices: rep = self; their merged label, or themselves if
    // the reduced CC dropped them (only possible for degenerate inputs)
    val fresh = endpoints.join(reps, Seq("ep"), "left_anti")
      .join(merged.withColumnRenamed("old_rep", "ep"), Seq("ep"), "left")
      .select(col("ep").as("doc_id"),
        coalesce(col("new_rep"), col("ep")).as("cluster"),
        lit(true).as("__chg"))
    val full = relabeled.union(fresh)
    (if (deltaOnly) full.filter(col("__chg")) else full).drop("__chg")
  }

  /** Seed the MAINTAINED cluster table: `(doc_id, cluster, epoch)`
    * bucketed on doc_id, the persisted artifact [[ingestClusterDelta]]
    * appends to. Epoch 0 is the seed assignment; each ingest appends only
    * its delta under the next epoch, and [[readClusterAssignment]]
    * resolves last-write-wins. The d9 band-index discipline applied to
    * cluster state: per-day WRITE cost tracks the delta, never the corpus.
    */
  def writeClusterAssignment(assignment: DataFrame, table: String,
                             buckets: Int = 64): Unit =
    graft.core.Bucketing.writeBucketed(
      assignment.select(
        ccKeyNorm(assignment, "doc_id", "cluster")(col("doc_id"))
          .as("doc_id"),
        ccKeyNorm(assignment, "doc_id", "cluster")(col("cluster"))
          .as("cluster"), lit(0L).as("epoch")),
      table, "doc_id", buckets)

  /** The LIVE `(doc_id, cluster)` view of a maintained cluster table:
    * last-write-wins per doc over the appended epochs. doc_id is the
    * bucket key, so the resolve aggregate rides the bucketed scan with no
    * exchange (the a9 LWW shape on the table's natural partitioning).
    */
  def readClusterAssignment(spark: org.apache.spark.sql.SparkSession,
                            table: String): DataFrame =
    spark.table(table).groupBy("doc_id")
      .agg(expr("max_by(cluster, epoch)").as("cluster"))

  /** TIME-TRAVEL read of a maintained cluster table: the assignment as of
    * ingest epoch `asOf` — yesterday's dedup decisions, reproducible for
    * audits and A/Bs as long as the epoch history hasn't been collapsed
    * by a compaction ([[collapseClusterEpochs]] keeps only the latest row
    * per doc; run the as-of read before the compaction horizon). Same
    * exchange-free LWW shape, with the epoch filter pushed to the scan.
    */
  def readClusterAssignmentAsOf(spark: org.apache.spark.sql.SparkSession,
                                table: String, asOf: Long): DataFrame =
    spark.table(table).filter(col("epoch") <= asOf).groupBy("doc_id")
      .agg(expr("max_by(cluster, epoch)").as("cluster"))

  /** Day-2 ingest step for the maintained cluster table: resolve the live
    * assignment, fold `newPairs` in via [[incrementalClusters]], and
    * append ONLY the delta (changed + new rows) under the next epoch.
    * Cost: one read pass over the table (no shuffle of it), rep-level CC
    * ∝ the shard's pairs, and a delta-sized append. History collapses at
    * compaction time — pass [[collapseClusterEpochs]] as the
    * compactBucketed transform on the same cadence as the band index.
    * Returns the number of delta rows appended.
    */
  def ingestClusterDelta(spark: org.apache.spark.sql.SparkSession,
                         table: String, newPairs: DataFrame,
                         aCol: String = "doc_a", bCol: String = "doc_b",
                         buckets: Int = 64): Long = {
    val nextEpoch = spark.table(table)
      .agg(coalesce(max(col("epoch")), lit(0L))).head().getLong(0) + 1L
    val delta = incrementalClusters(readClusterAssignment(spark, table),
        newPairs, aCol, bCol, deltaOnly = true)
      .withColumn("epoch", lit(nextEpoch))
      .localCheckpoint(false)
    graft.core.Bucketing.appendBucketed(delta, table, "doc_id", buckets)
    delta.count()
  }

  /** Compaction transform for a maintained cluster table: collapse the
    * epoch history to one LWW row per doc (keeping the max epoch so the
    * ingest counter stays monotonic). GroupBy on the bucket key — rides
    * compactBucketed's one-task-per-bucket pass with no exchange.
    */
  def collapseClusterEpochs(tbl: DataFrame): DataFrame =
    tbl.groupBy("doc_id").agg(
      expr("max_by(cluster, epoch)").as("cluster"),
      max(col("epoch")).as("epoch"))

  /** FORGET a set of documents from a persisted band/fingerprint index:
    * one shuffle-free bucketed rewrite with the broadcast anti-join folded
    * in (the deletion-request path — takedowns, right-to-be-forgotten,
    * licensing pulls). After it, the docs can never be proposed as
    * candidates again. `ids` needs a doc_id column; cost is the
    * compaction pass it rides (and collapses appended files as a bonus).
    */
  def forgetFromBandIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, ids: DataFrame): Unit = {
    val gone = ids.select(idKeyNorm(ids, "doc_id")(col("doc_id"))
      .as("__gone")).distinct()
    graft.core.Bucketing.compactBucketed(spark, table,
      t => t.join(broadcast(gone), t("doc_id") === col("__gone"), "left_anti"))
  }

  /** Seed / grow the maintained PAIR LOG — the verified-pair edge list as
    * a doc_a-bucketed table, appended per ingest at shard cost. The pair
    * log is what makes [[forgetFromClusterAssignment]] EXACT: labels alone
    * cannot split a component when a bridge doc is forgotten; the edges
    * can.
    */
  def writePairLog(pairs: DataFrame, table: String, buckets: Int = 64): Unit =
    graft.core.Bucketing.writeBucketed(
      pairs.select(ccKeyNorm(pairs, "doc_a", "doc_b")(col("doc_a"))
          .as("doc_a"),
        ccKeyNorm(pairs, "doc_a", "doc_b")(col("doc_b")).as("doc_b")),
      table, "doc_a", buckets)

  /** Append a shard's verified pairs to the pair log (cost ∝ the shard). */
  def appendPairLog(pairs: DataFrame, table: String, buckets: Int = 64): Unit =
    graft.core.Bucketing.appendBucketed(
      pairs.select(ccKeyNorm(pairs, "doc_a", "doc_b")(col("doc_a"))
          .as("doc_a"),
        ccKeyNorm(pairs, "doc_a", "doc_b")(col("doc_b")).as("doc_b")),
      table, "doc_a", buckets)

  /** FORGET documents from a maintained cluster table, with LABEL REPAIR:
    * dropping a doc that was its cluster's REPRESENTATIVE (label = its own
    * id) would leave the label dangling, so surviving members of such
    * clusters relabel to the new minimum member — computed first as a
    * small remap relation (∝ affected clusters only, broadcast-joined in
    * the same shuffle-free bucketed rewrite). Epoch history for forgotten
    * docs is dropped wholesale.
    *
    * CAVEAT (documented, conservative): the table stores labels, not
    * edges, so a forgotten BRIDGE doc cannot split the component it once
    * joined — survivors stay co-clustered. That is the safe direction for
    * dedup (at worst a doc remains deduped against an ex-neighbor); a
    * provable split needs the pair log replayed through
    * [[connectedComponentsStar]].
    */
  def forgetFromClusterAssignment(spark: org.apache.spark.sql.SparkSession,
                                  table: String, ids: DataFrame): Unit = {
    val gone = ids.select(idKeyNorm(ids, "doc_id")(col("doc_id"))
      .as("__gone")).distinct()
      .localCheckpoint(false)
    val live = readClusterAssignment(spark, table)
    // clusters whose label is forgotten → new label = min surviving member
    val remap = live
      .join(broadcast(gone), col("cluster") === col("__gone"), "left_semi")
      .join(broadcast(gone), col("doc_id") === col("__gone"), "left_anti")
      .groupBy(col("cluster")).agg(min(col("doc_id")).as("__new_lbl"))
      .localCheckpoint(false)
    graft.core.Bucketing.compactBucketed(spark, table, t =>
      t.join(broadcast(gone), t("doc_id") === col("__gone"), "left_anti")
        .join(broadcast(remap), Seq("cluster"), "left")
        .select(col("doc_id"),
          coalesce(col("__new_lbl"), col("cluster")).as("cluster"),
          col("epoch")))
  }

  /** EXACT forget for a maintained cluster table, given the pair log: the
    * repair [[forgetFromClusterAssignment]] cannot do from labels alone.
    * Affected components (those containing a forgotten doc) are re-run
    * through star CC over their SURVIVING edges, so a forgotten bridge
    * splits its component and docs left with no surviving pair drop out
    * of the assignment entirely — the post-forget table equals batch CC
    * over (pair log minus edges touching the forgotten ids), asserted in
    * DedupSpec. Unaffected clusters are untouched.
    *
    * Cost: one broadcast-semi read pass over each of the assignment and
    * the pair log (no shuffle of either), CC ∝ the affected components'
    * edges, and the two shuffle-free bucket rewrites. The pair log itself
    * is rewritten to drop edges touching the forgotten ids.
    */
  def forgetFromClusterAssignmentExact(
      spark: org.apache.spark.sql.SparkSession,
      table: String, pairLogTable: String, ids: DataFrame,
      maxIter: Int = 20): Unit = {
    val gone = ids.select(idKeyNorm(ids, "doc_id")(col("doc_id"))
      .as("__gone")).distinct()
      .localCheckpoint(false)
    // two consumers read the resolved live assignment — thin but
    // CORPUS-ROW scale, so columnar scratch, not object blocks (r12
    // sweep rule); every other pin here is request/affected-sized
    val live = graft.core.Scratch.materialize(
      readClusterAssignment(spark, table), "forget_live")
    // labels of every component containing a forgotten doc (tiny)
    val affectedLabels = live
      .join(broadcast(gone), col("doc_id") === col("__gone"), "left_semi")
      .select(col("cluster").as("__aff")).distinct().localCheckpoint(false)
    // their member docs (∝ affected components)
    val members = live.join(broadcast(affectedLabels),
        col("cluster") === col("__aff"), "left_semi")
      .select(col("doc_id")).localCheckpoint(false)
    // the affected components' surviving edges: a doc_a-side semi-join
    // finds every edge (both endpoints share a component by construction)
    val edges = spark.table(pairLogTable)
      .join(broadcast(members.withColumnRenamed("doc_id", "doc_a")),
        Seq("doc_a"), "left_semi")
      .join(broadcast(gone), col("doc_a") === col("__gone"), "left_anti")
      .join(broadcast(gone), col("doc_b") === col("__gone"), "left_anti")
    val repaired = connectedComponentsStar(edges, "doc_a", "doc_b", maxIter)
      .withColumnRenamed("cluster", "__new_lbl").localCheckpoint(false)
    graft.core.Bucketing.compactBucketed(spark, table, t => {
      // collapse epochs first (bucket-key groupBy, exchange-free), then
      // re-point affected docs at their repaired component — inner join,
      // so docs with no surviving pair leave the assignment (the d7
      // contract: only pair-touching docs carry a cluster row)
      val collapsed = collapseClusterEpochs(t)
        .join(broadcast(gone), col("doc_id") === col("__gone"), "left_anti")
      val untouched = collapsed.join(broadcast(affectedLabels),
          col("cluster") === col("__aff"), "left_anti")
      val fixed = collapsed.join(broadcast(affectedLabels),
          col("cluster") === col("__aff"), "left_semi")
        .join(broadcast(repaired), Seq("doc_id"))
        .select(col("doc_id"), col("__new_lbl").as("cluster"), col("epoch"))
      untouched.unionByName(fixed)
    })
    // scrub the pair log too: forgotten edges must not resurface in a
    // later repair or audit
    graft.core.Bucketing.compactBucketed(spark, pairLogTable, t =>
      t.join(broadcast(gone), col("doc_a") === col("__gone"), "left_anti")
        .join(broadcast(gone), col("doc_b") === col("__gone"), "left_anti"))
  }

  /** EDIT-DISTANCE self-join (Gravano-style q-gram count filtering +
    * Levenshtein verify) — the entity-resolution similarity axis the
    * token-set measures miss: "smal ring" vs "small ring" shares few
    * word shingles but is one edit away. Candidates come from the
    * distinct-q-gram inverted index under the COMPLETE count bound: one
    * edit destroys at most q distinct q-grams, so strings within
    * distance k share at least max(|Ga|,|Gb|) − k·q of them (plus the
    * |len_a − len_b| ≤ k length filter); only candidates pay the exact
    * DP verify. Run it on the DISTINCT-key relation (dedupe first — the
    * classic ER discipline; joining raw rows with duplicated keys grows
    * pair counts quadratically in the duplication factor).
    *
    * COMPLETENESS is the contract, including the short-string hole the
    * textbook filter has: when BOTH sides carry ≤ k·q distinct grams the
    * count bound degenerates to ≥ 0, so a within-distance pair can share
    * ZERO grams and the inverted index never proposes it ("cc" vs "cbc"
    * at k=1, q=2 — caught by the ScalaCheck brute-force property). If
    * either side has > k·q grams the bound forces ≥ 1 shared gram, so
    * the residual is exactly short × short — covered by an explicit
    * length-bucketed equi-join over the (tiny, length < q + k·q) short
    * subset, never a cartesian. The d22 oracle brute-forces every
    * distinct pair, so a candidate lost anywhere hash-fails the query.
    * No silent caps — a hot q-gram (a very common substring) is the
    * scale knob to watch via the same occupancy accounting as the band
    * indexes. Strings shorter than q carry no gram and are excluded
    * (documented).
    *
    * Output: (id_a, id_b, s_a, s_b, dist), id_a < id_b, dist ≤ k.
    */
  def editDistancePairs(rows: DataFrame, id: Column, str: Column,
                        k: Int = 1, q: Int = 2): DataFrame = {
    val base = rows.select(id.cast("long").as("fz_id"), str.as("fz_s"))
      .filter(length(col("fz_s")) >= q)
      .withColumn("fz_grams", array_distinct(expr(
        s"transform(sequence(0, length(fz_s) - $q), i -> substring(fz_s, i + 1, $q))")))
      .withColumn("fz_ng", size(col("fz_grams")))
      .localCheckpoint(false)
    val grams = base.select(col("fz_id"), col("fz_s"), col("fz_ng"),
      explode(col("fz_grams")).as("g"))
    val indexed = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.fz_id") < col("b.fz_id") &&
          abs(length(col("a.fz_s")) - length(col("b.fz_s"))) <= k)
      .groupBy(col("a.fz_id").as("id_a"), col("b.fz_id").as("id_b"),
        col("a.fz_s").as("s_a"), col("b.fz_s").as("s_b"),
        col("a.fz_ng").as("ng_a"), col("b.fz_ng").as("ng_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= greatest(col("ng_a"), col("ng_b")) - k * q)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
    // short-string fallback: length-bucket equi-join (a explodes its
    // admissible partner lengths, so the planner gets a hash join)
    val short = base.filter(col("fz_ng") <= k * q)
    val shortA = short.select(col("fz_id").as("id_a"), col("fz_s").as("s_a"),
      explode(expr(s"sequence(length(fz_s) - $k, length(fz_s) + $k)")).as("bl"))
    val shortB = short.select(col("fz_id").as("id_b"), col("fz_s").as("s_b"),
      length(col("fz_s")).cast("long").as("bl"))
    val shortPairs = shortA.join(shortB,
        Seq("bl")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
    indexed.union(shortPairs).distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"), col("dist"))
  }

  /** Unit-normalized TF-IDF term weights, cross-engine exact by the
    * fixed-point discipline: w = round(tf · ln(N/df), 6), the squared
    * norm sums round(w²·1e12) as exact longs (summation-order-free), and
    * u = round(w/‖w‖, 6). Docs whose every term is corpus-ubiquitous
    * (all idf 0 → zero norm) drop out. `terms` is any ARRAY column —
    * unigram tokens, word shingles ([[graft.text.TextFunctions
    * .wordNgramsFromTokens]], the sparse-vocabulary choice at corpus
    * scale), char grams. Output: (doc_id, term, u).
    */
  def tfidfUnitWeights(docs: DataFrame, id: Column, terms: Column,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    // FUSED weight pipeline (r18 optimization round; guide §2.3/§2.4).
    // Previous shape: materialize (doc, term, tf), aggregate df per term,
    // SEMI-join terms back, join df back AGAIN, aggregate the norm per
    // doc, join THAT back — three joins and two aggregates re-reading the
    // same relation. Each "aggregate + join-back" pair is a window in
    // disguise: df rides a count window over the ONE term-keyed exchange
    // the df aggregate needed anyway (at scale the join-back was a second
    // shuffle of the whole (doc, term) relation — vocabulary-sized df
    // tables don't broadcast), and the norm rides a sum window over one
    // doc-keyed exchange. The maxDf stop-term filter sits between them,
    // unchanged in semantics (df counted over the raw vocabulary, norms
    // over the surviving terms).
    //
    // Still ONE columnar scratch: df/norm are now computed in-line, but
    // the relation keeps multiple consumers (the N aggregate below plus
    // whatever the caller fans out to — d23 reads it four ways), and one
    // thin row per (doc, term) type is corpus-token scale, the tier
    // where object blocks hit the measured 40M-row cliff (§6.3
    // budgetdiag).
    val winT = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val winD = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val tfdf = graft.core.Scratch.materialize(
      docs.select(id.as("doc_id"), explode(terms).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("df", count(lit(1)).over(winT))
        .filter(col("df") <= maxDf),
      "tfidf_w")
    // N = docs with ≥1 surviving term — the denominator the previous
    // form computed over the post-filter relation; identical here
    val n = tfdf.agg(countDistinct(col("doc_id")).as("n"))
    tfdf.join(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("w"))
      .withColumn("q12",
        sum(round(col("w") * col("w") * 1e12).cast("long")).over(winD))
      .filter(col("q12") > 0L)
      .select(col("doc_id"), col("term"),
        round(col("w") / sqrt(col("q12") / 1e12), 6).as("u"))
  }

  /** D23: cosine similarity self-join over sparse TF-IDF vectors — the
    * OTHER classic text near-dup axis (SemDeDup's cosine on learned
    * embeddings; this is its lexical twin on exact term weights), with
    * AllPairs-style PREFIX FILTERING (Bayardo et al., WWW'07): terms per
    * doc are ordered rare-first (df asc), and a doc's tail whose
    * Σ u·maxu < minCos can be left out of the inverted index entirely —
    * any pair with cos ≥ minCos must share a term in one side's indexed
    * prefix (if y misses x's whole prefix, dot ≤ Σ_suffix u·maxu < t).
    * Candidates = prefix-index ⋈ full lists; only candidates pay the
    * pair-driven exact-dot verify (fixed-point: per-term products round
    * to 1e-12 integers before the exact long sums, so the d23 oracle —
    * which computes the UNPRUNED join — puts pruning completeness on the
    * hash hook; DedupSpec also ScalaChecks it against the unpruned
    * term-pair aggregate, `DedupSpec.cosineTfidfPairsUnpruned`).
    * Output: (doc_a, doc_b, cos), doc_a < doc_b, cos = round 6dp ≥ minCos.
    */
  def cosineTfidfPairs(docs: DataFrame, id: Column, terms: Column,
                       minCos: Double,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    // the unit-weight relation ((doc, term, u) — corpus-token scale)
    // feeds the prefix index, both join sides, and the stats aggregate:
    // materialize once, to columnar scratch (the §6.3 object-block cliff
    // rule; localCheckpoint here pinned the whole sparse matrix on-heap)
    val weights = graft.core.Scratch.materialize(
      tfidfUnitWeights(docs, id, terms, maxDf), "d23_weights")
    // tdf/maxu as windows over ONE term-keyed exchange (r18) — the
    // tfidfUnitWeights rationale: the previous aggregate + join-back
    // re-scanned the weight relation and re-shuffled it at scale
    // (term-stat tables are vocabulary-sized, no broadcast)
    val winT = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val ordered = weights
      .withColumn("tdf", count(lit(1)).over(winT))
      .withColumn("maxu", max(col("u")).over(winT))
    // tail-sum from this term onward in the (df asc, term asc) order;
    // rows whose whole tail stays under minCos are suffix — skipped
    // by the index. Per-doc window: bounded.
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tdf"), col("term"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val index = ordered
      .withColumn("ts", sum(col("u") * col("maxu")).over(win))
      .filter(col("ts") >= minCos)
      .select(col("doc_id").as("ix_doc"), col("term"))
    val cands = index.join(weights, "term")
      .filter(col("ix_doc") =!= col("doc_id"))
      .select(least(col("ix_doc"), col("doc_id")).as("doc_a"),
        greatest(col("ix_doc"), col("doc_id")).as("doc_b"))
      .distinct()
    // exact dot over SHARED terms only (non-shared contribute 0 for unit
    // sparse vectors): one term-keyed pair join — Σ df² rows, the
    // quadratic `maxDf` bounds — restricted to the candidate set. Never
    // candidates × full term lists (measured 6× slower at sf0.1).
    val wa = weights.select(col("doc_id").as("doc_a"), col("term"),
      col("u").as("ua"))
    val wb = weights.select(col("doc_id").as("doc_b"), col("term"),
      col("u").as("ub"))
    val termPairs = wa.join(wb, "term")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ua") * col("ub") * 1e12).cast("long").as("p12"))
    termPairs.join(cands, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("p12")).as("dot12"))
      .select(col("doc_a"), col("doc_b"),
        round(col("dot12") / 1e12, 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** D13: band a BIT-FINGERPRINT column (SimHash, image dHash — any
    * Hamming-space signature packed into a long) for LSH bucketing: the
    * `bits`-bit fingerprint splits into `bits / bandBits` contiguous
    * bands, and two fingerprints within Hamming distance d collide on at
    * least one band whenever d < bits/bandBits (pigeonhole) — the same
    * banding guarantee MinHash gets from seed bands, applied to bit
    * space. Pure projection + explode: NO shuffle until a consumer joins
    * on the band (asserted in PlanAuditSpec). Output: (doc_id, band,
    * band_sig) — the band-index schema of the text MinHash bands, so the
    * whole d9 incremental machinery ([[writeBandIndex]] /
    * [[appendBandIndex]] / [[incrementalCandidatePairs]] /
    * [[bandOccupancy]] / [[graft.streaming.Streaming.ingestCandidates]])
    * serves perceptual dedup unchanged: one index discipline for every
    * modality, verified with [[verifyHammingPairs]].
    */
  def fingerprintBands(hashes: DataFrame, id: Column, fp: Column,
                       bits: Int, bandBits: Int): DataFrame = {
    require(bits >= 1 && bits <= 63 && bandBits >= 1 && bits % bandBits == 0,
      s"fingerprintBands: need 1 <= bandBits <= bits <= 63 with bandBits " +
        s"dividing bits, got bits=$bits bandBits=$bandBits")
    val nBands = bits / bandBits
    val mask = (1L << bandBits) - 1L
    val bands = array((0 until nBands).map { b =>
      struct(lit(b.toLong).as("band"),
        shiftright(fp, b * bandBits).bitwiseAND(lit(mask)).as("band_sig"))
    }: _*)
    // the id is comparison-only here (band joins group on it) — it rides
    // RAW so string surrogate keys work; casting to long threw under
    // ANSI on md5-hex ids (r16 ADVICE)
    hashes.select(id.as("doc_id"), explode(bands).as("bv"))
      .select(col("doc_id"), col("bv.band").as("band"),
        col("bv.band_sig").as("band_sig"))
  }

  /** Hamming verification of candidate pairs: join each side's
    * fingerprint and keep pairs with bit_count(xor) <= `maxHamming` —
    * the perceptual twin of [[verifyCandidates]]' exact-Jaccard pass
    * (work ∝ candidates, one codegen'd expression per pair). Candidates
    * must carry (doc_a, doc_b). Output: (doc_a, doc_b, hamming).
    */
  def verifyHammingPairs(hashes: DataFrame, id: Column, fp: Column,
                         candidates: DataFrame, maxHamming: Int): DataFrame = {
    // id rides raw (equi-join key only — string surrogates work); the
    // fingerprint is genuinely numeric, so ITS cast stays
    val fps = hashes.select(id.as("doc_id"),
      fp.cast("long").as("__fp"))
    candidates.select("doc_a", "doc_b")
      .join(fps.select(col("doc_id").as("doc_a"), col("__fp").as("__fa")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("__fp").as("__fb")), "doc_b")
      .withColumn("hamming", bit_count(col("__fa").bitwiseXOR(col("__fb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** D13: perceptual near-duplicate pairs over a bit-fingerprint column —
    * the image twin of the MinHash-LSH → verify chain, with Hamming
    * distance as the verification measure: band the fingerprints
    * ([[fingerprintBands]]), group on (band, band_sig) to propose
    * candidates (never all-pairs; `maxBucket` caps a degenerate bucket —
    * e.g. a corpus full of solid-color images all hashing to 0 — at
    * maxBucket² pairs, the [[lshCandidatePairs]] discipline), then keep
    * pairs whose exact Hamming distance ([[verifyHammingPairs]]) is
    * <= `maxHamming`. Banding recall contract:
    * a pair at distance d is GUARANTEED proposed when d < bits/bandBits;
    * beyond that it is probabilistic — the standard LSH trade, stated
    * rather than hidden. Output: (doc_a, doc_b, hamming), distinct,
    * doc_a < doc_b.
    */
  def imageNearDupPairs(hashes: DataFrame, id: Column, fp: Column,
                        bits: Int, bandBits: Int, maxHamming: Int,
                        maxBucket: Int = 64): DataFrame = {
    // id is comparison-only (band equi-join, `<` orientation, verify
    // equi-join) — raw, so the 128-bit string surrogate rides unharmed
    val fps = hashes.select(id.as("doc_id"),
      fp.cast("long").as("__fp"))
    // cap window → member collect → pair explode on ONE (band, band_sig)
    // exchange (r18) — the batch LSH generator applied to the Hamming
    // bands: the previous self-join re-derived the banding per side and
    // paid two more exchanges for pairs the partitioned pass already holds
    val cands = pairsFromCappedBuckets(capBuckets(
      fingerprintBands(fps, col("doc_id"), col("__fp"), bits, bandBits),
      BandKey, maxBucket))
    verifyHammingPairs(fps, col("doc_id"), col("__fp"), cands, maxHamming)
  }

  /** D10 stage 1: token positions whose word `n`-gram also appears in at
    * least one OTHER document — the marked set behind cross-document exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"; the suffix-array construction there finds
    * duplicated spans ≥ n tokens, which is exactly the set of positions
    * whose length-n gram is shared, merged into runs). Output:
    * (doc_id, pos) with pos the 1-based token index of the gram START.
    *
    * Scale shape: the gram relation is corpus-tokens-sized and shuffles
    * ONCE on the gram key for both the document-frequency aggregate and
    * the semi-join back (the "is this gram shared" test is min(doc) ≠
    * max(doc) — a map-side-combining aggregate, no count-distinct state).
    * `hashGrams=true` replaces the gram string with its 64-bit xxhash —
    * the 100 TB shuffle shrink (an n=5 word gram averages ~30 bytes; the
    * hash is 8): collisions can only OVER-mark (cost ε extra scrub, never
    * a missed duplicate), and a ~10⁸-distinct-gram corpus expects ~10⁻³
    * colliding pairs per 2⁶⁴ space. Kept OFF for the d10 oracle rows so
    * DuckDB reproduces the decision exactly; Probe `textscale` measures both.
    *
    * WHERE THE GRAM FORM DIVERGES FROM SUFFIX-ARRAY ExactSubstr (Lee et
    * al. 2022 build a suffix array and take duplicated substrings of
    * length ≥ L):
    *  1. Minimum-match-length semantics: with L = n tokens the marked
    *     POSITION set is identical — every position inside a ≥n-token
    *     cross-doc verbatim repeat has its n-gram shared, and every
    *     shared n-gram IS such a repeat. The divergence is in the merged
    *     RUNS ([[duplicateNgramRuns]]): consecutive marked grams chain
    *     even when shared with DIFFERENT partner docs, so a reported
    *     span need not appear verbatim anywhere else as a whole
    *     ("chimeric" runs) — runs can only over-merge, never miss. A
    *     suffix array answers any L from one build; re-running the gram
    *     pass per n re-tokenizes, so sweep n outside the hot path.
    *  2. Within-document repeats are invisible by construction (the
    *     shared test is min(doc) ≠ max(doc) ACROSS docs); intra-doc
    *     repetition is [[scrubFrequentSegments]]/tx_scrub_repeats
    *     jurisdiction.
    *  3. Copy policy: this marks EVERY occurrence, so
    *     [[scrubDuplicateRuns]] removes the passage from the whole
    *     corpus. ExactSubstr's deployed form keeps one canonical copy —
    *     [[duplicateNgramPositionsKeepFirst]] (d10c) closes that gap.
    */
  def duplicateNgramPositions(docs: DataFrame, id: Column, text: Column,
                              n: Int, hashGrams: Boolean = false): DataFrame = {
    val grams = d10Grams(docs, id, text, n, hashGrams)
    val shared = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("g"))
    grams.join(shared, Seq("g"), "left_semi").select(col("doc_id"), col("pos"))
  }

  /** The (doc_id, pos, g) gram-occurrence relation both D10 position
    * markers derive from — feeds the doc-frequency aggregate AND the
    * join-back probe, so it is materialized once instead of re-tokenizing
    * the corpus per branch. COLUMNAR scratch, not localCheckpoint: one
    * row per gram OCCURRENCE is corpus-token scale, the §6.3
    * object-block cliff shape (r12 sweep).
    */
  private def d10Grams(docs: DataFrame, id: Column, text: Column,
                       n: Int, hashGrams: Boolean): DataFrame =
    graft.core.Scratch.materialize(docs
      .select(id.as("doc_id"), tokens(text).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(wordNgramsFromTokens(col("toks"), n)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("pos"),
        (if (hashGrams) xxhash64(col("g")) else col("g")).as("g")),
      "d10_grams")

  /** [[duplicateNgramPositions]] under ExactSubstr's KEEP-ONE-COPY
    * policy: the corpus-FIRST occurrence of each shared gram — min
    * (doc_id, pos), deterministic and oracle-expressible — is left
    * unmarked, so the scrubbed corpus retains each duplicated passage
    * exactly once (Lee et al.'s deployed semantics; the default variant
    * removes every copy, which deletes the content from the corpus
    * entirely). Same single gram-key shuffle: the first-occurrence
    * election rides the doc-frequency aggregate as one extra
    * min(struct) — comparison-only, so any orderable id type works.
    */
  def duplicateNgramPositionsKeepFirst(docs: DataFrame, id: Column,
                                       text: Column, n: Int,
                                       hashGrams: Boolean = false): DataFrame = {
    val grams = d10Grams(docs, id, text, n, hashGrams)
    val firsts = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"),
        min(struct(col("doc_id").as("d"), col("pos").as("p"))).as("__first"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("g"), col("__first"))
    grams.join(firsts, Seq("g"))
      .filter(col("doc_id") =!= col("__first.d") ||
        col("pos") =!= col("__first.p"))
      .select(col("doc_id"), col("pos"))
  }

  /** D10 stage 2: merge marked gram-start positions into MAXIMAL duplicated
    * token spans — consecutive starts s..e cover tokens s..e+n−1 (the
    * gaps-and-islands pattern: pos − row_number is constant within a run).
    * Output: (doc_id, start_tok, end_tok, n_gram_starts), 1-based inclusive
    * token indices. The window is per document — partitions are doc-sized,
    * never corpus-sized.
    */
  def duplicateNgramRuns(docs: DataFrame, id: Column, text: Column,
                         n: Int): DataFrame =
    mergeGramRuns(duplicateNgramPositions(docs, id, text, n), n)

  /** [[duplicateNgramRuns]] under the keep-one-copy marking
    * ([[duplicateNgramPositionsKeepFirst]]) — the spans a
    * canonical-copy-preserving scrub would remove (d10c).
    */
  def duplicateNgramRunsKeepFirst(docs: DataFrame, id: Column, text: Column,
                                  n: Int): DataFrame =
    mergeGramRuns(duplicateNgramPositionsKeepFirst(docs, id, text, n), n)

  private def mergeGramRuns(positions: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    positions
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + lit(n - 1)).cast("int").as("end_tok"),
        count(lit(1)).as("n_gram_starts"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"), col("n_gram_starts"))
  }

  /** D10 stage 3: REMOVE every cross-document duplicated span from each
    * document — the scrub pass of exact substring dedup. Tokens inside any
    * [[duplicateNgramRuns]] span are dropped; the cleaned document is the
    * remaining tokens rejoined with single spaces (the scrub operates on
    * the normalized token stream, the same convention as every tx_*
    * operator — raw-byte-offset surgery is a formatting concern the
    * tokenizer already erased). Documents shorter than `n` tokens pass
    * through untouched. Output per input doc:
    * (doc_id, n_toks, n_dup_spans, n_dup_toks, clean_md5).
    *
    * Span membership is evaluated with array HOFs over each doc's own
    * (few) spans — per-row work, no extra shuffle beyond the runs
    * aggregation itself.
    */
  def scrubDuplicateRuns(docs: DataFrame, id: Column, text: Column,
                         n: Int): DataFrame = {
    val spans = duplicateNgramRuns(docs, id, text, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok").as("s"), col("end_tok").as("e")))
        .as("__spans"),
        count(lit(1)).as("n_dup_spans"))
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("__spans").isNull, col("toks"))
          .otherwise(filter(col("toks"), (_, i) =>
            !exists(col("__spans"), sp =>
              (i + 1) >= sp.getField("s") && (i + 1) <= sp.getField("e")))))
      .select(col("doc_id"),
        size(col("toks")).as("n_toks"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (size(col("toks")) - size(col("kept"))).cast("int").as("n_dup_toks"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** [[scrubDuplicateRuns]] variant that RETURNS the cleaned text (tokens
    * rejoined with spaces) instead of the audit summary — the form
    * [[graft.pipelines.Pipelines.dedupCorpus]] appends after near-dup
    * cluster removal. Passes every input row through; only `textOutCol`
    * changes.
    */
  def scrubbedText(docs: DataFrame, id: Column, text: Column, n: Int,
                   textOutCol: String = "clean_text"): DataFrame = {
    val spans = duplicateNgramRuns(docs, id, text, n)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok").as("s"), col("end_tok").as("e")))
        .as("__spans"))
    docs.select(id.as("doc_id"), tokens(text).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          when(col("__spans").isNull, col("toks"))
            .otherwise(filter(col("toks"), (_, i) =>
              !exists(col("__spans"), sp =>
                (i + 1) >= sp.getField("s") && (i + 1) <= sp.getField("e")))),
          " ").as(textOutCol))
  }

  /** CORPUS-FREQUENCY SEGMENT SCRUB — CCNet-style line deduplication
    * (Wenzek et al. 2020: drop a line if it is in the frequent-line set;
    * the boilerplate killer — nav bars, cookie banners, footers).
    * `segments` is any ARRAY column of non-null strings: real lines
    * (`split(text, "\n")`) in a web corpus, token windows
    * ([[graft.text.TextFunctions.tokenWindows]]) where documents are
    * single-line. A segment whose TOTAL occurrence count across the
    * corpus exceeds `maxDf` is removed from every document; survivors are
    * rejoined in original position order.
    *
    * Scale shape (100 TB): the frequent-segment set is one
    * hash-aggregate for the df, partial-combined map-side (a count window
    * over the segment key would put a boilerplate line's entire corpus
    * df in one window partition — exactly the skew this scrub removes;
    * r18 review), keyed by the segment text or, with `hashed = true`, its
    * 8-byte xxhash64 (CCNet itself dedups line HASHES; a 64-bit collision
    * wrongly scrubbing a rare line is ~n²/2⁶⁵; hashed ≡ exact is
    * ScalaCheck-asserted in DedupSpec, the oracle checks the exact form).
    * Only keys with df > `maxDf` leave the aggregate. Up to
    * [[FrequentSetBound]] keys and [[FrequentSetBytes]] key bytes, the
    * set is collected and shipped to the executors as an `InSet`, and
    * each doc's segment array is FILTERED map-side, in order, with
    * `n_kept`/`n_dropped` from the same projection: no line and no doc is
    * shuffled. Past either bound the scrub falls back to the aggregate +
    * join-back + doc-keyed regroup form ([[scrubByJoin]]), whose
    * per-group state is bounded by the doc's own segment count. The set
    * is collected when the DataFrame is built, so `docs`' lineage runs
    * once for it and once more for the result (the join form ran both
    * branches in one plan). In perfbench `curate`'s event log (seed 11, 4 vCPUs,
    * one timed iteration) the pipeline's scrub + quality + exact-dedup
    * work went from one 7-job SQL execution (1.53-1.96 s, 10.9 MB
    * shuffled) to a 3-job key collect (0.25-0.31 s, 4.6 MB) and a 3-job
    * exact-dedup execution (0.82-0.85 s, 0.4 MB).
    *
    * Output: (doc_id, clean_text, n_kept, n_dropped), the counts longs.
    * A doc whose `segments` array is null or empty is absent (callers
    * that must keep such docs rewrite in place instead, as
    * [[scrubFrequentLines]] does); a doc whose every segment is
    * boilerplate is present with an empty clean_text, and the kept/
    * dropped counts make the recall spend visible per document (the
    * no-silent-caps rule). One output row per input row: doc ids are the
    * caller's unique keys.
    */
  def scrubFrequentSegments(docs: DataFrame, id: Column, segments: Column,
                            maxDf: Int, joiner: String = "\n",
                            hashed: Boolean = false): DataFrame =
    scrubSegments(docs, id, segments, maxDf, joiner, hashed, FrequentSetBound)

  /** [[scrubFrequentSegments]] with the set bound as a parameter, so
    * tests can force the fallback.
    */
  private[dedup] def scrubSegments(docs: DataFrame, id: Column,
                                   segments: Column, maxDf: Int,
                                   joiner: String, hashed: Boolean,
                                   bound: Int): DataFrame =
    frequentSegment(docs, segments, maxDf, hashed, bound) match {
      case Some(frequent) =>
        docs.select(id.as("doc_id"), segments.as("__segs"))
          .filter(size(col("__segs")) > 0)
          .select(col("doc_id"), size(col("__segs")).as("__n"),
            filter(col("__segs"), s => !frequent(s)).as("__kept"))
          .select(col("doc_id"), array_join(col("__kept"), joiner).as("clean_text"),
            size(col("__kept")).cast("long").as("n_kept"),
            (col("__n") - size(col("__kept"))).cast("long").as("n_dropped"))
      case None => scrubByJoin(docs, id, segments, maxDf, joiner, hashed)
    }

  /** The line scrub of [[graft.pipelines.Pipelines.dedupCorpusStages]]
    * (run on the NFC'd text, before pre-clean joins its lines):
    * [[scrubFrequentSegments]] over `text`'s `\n`-lines (exact keys),
    * written to column `textCol` (moved last) with every input row kept.
    * A null text stays null. Below the set bound this is one map-side
    * projection; past it, the [[scrubByJoin]] output is left-joined back
    * by the raw id (a cast could null every key — the r13 lmGateKn
    * lesson) and a doc it lacks keeps its text.
    *
    * The map-side form computes the scrubbed text under
    * [[graft.functions.EvalOnce]], whose projection no filter passes: a
    * later filter on any column stays above it. Accepted: on the
    * pipeline, the stages after the scrub either read the scrubbed text
    * (pre-clean, quality, language, LM gates) or sit behind the exact-dedup
    * aggregate, which no filter on a non-key column passes either
    * (PlanAuditSpec pins that a filter over dedupCorpus' output stays
    * above the dedup with and without the scrub).
    */
  def scrubFrequentLines(docs: DataFrame, id: Column, text: Column,
                         textCol: String, maxDf: Int): DataFrame =
    scrubLines(docs, id, text, textCol, maxDf, FrequentSetBound)

  private[dedup] def scrubLines(docs: DataFrame, id: Column, text: Column,
                                textCol: String, maxDf: Int,
                                bound: Int): DataFrame = {
    val lines = split(text, "\n")
    val cleaned = frequentSegment(docs, lines, maxDf, hashed = false, bound) match {
      case Some(frequent) =>
        // once: the quality gate reads the text three times, the
        // exact-dedup fingerprint once more
        docs.withColumn("__ls_clean", graft.functions.EvalOnce(
          array_join(filter(lines, s => !frequent(s)), "\n")))
      case None =>
        // the fallback past the set bound
        val scrubbed = scrubByJoin(docs, id, lines, maxDf, "\n", hashed = false)
          .select(col("doc_id").as("__ls_id"), col("clean_text").as("__ls_by_id"))
        docs.join(scrubbed, id === col("__ls_id"), "left")
          .withColumn("__ls_clean", coalesce(col("__ls_by_id"), text))
          .drop("__ls_id", "__ls_by_id")
    }
    cleaned.drop(textCol).withColumnRenamed("__ls_clean", textCol)
  }

  /** Most frequent-segment keys the filter form ships to executors. */
  private val FrequentSetBound = 1 << 16

  /** Most key BYTES the filter form ships (the UTF-8 length of the exact
    * keys, 8 a hashed key). The set rides inside the plan: every stage's
    * task binary and every plan description the event log records carry
    * it, and a line key can be a whole document (a single-line doc), so
    * the key count alone does not bound it.
    */
  private val FrequentSetBytes = 1L << 20

  /** "Is this segment frequent" (df > `maxDf`) as a predicate over a
    * segment column, or None when the frequent-segment set has more than
    * `bound` keys or more than [[FrequentSetBytes]] key bytes. Runs the
    * df aggregate once, eagerly, when the plan is BUILT: the job computes
    * `docs` (with whatever shuffles its lineage holds, e.g. the
    * pipeline's exact-URL dedup) once for the set, and the query that
    * uses the predicate computes it again. It collects at most `bound` + 1
    * keys, and none of them once their byte total passes the budget.
    */
  private def frequentSegment(docs: DataFrame, segments: Column, maxDf: Int,
                              hashed: Boolean,
                              bound: Int): Option[Column => Column] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.ColumnShim
    val key: Column => Column = if (hashed) c => xxhash64(c) else identity
    val keyBytes = if (hashed) lit(8L) else octet_length(col("__k")).cast("long")
    val rows = docs.select(explode(segments).as("__seg"))
      .groupBy(key(col("__seg")).as("__k"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__k")
      .limit(bound + 1)
      // the byte total over the (at most bound + 1) limited keys, in the
      // one partition the limit leaves; past the budget every key is
      // nulled before it reaches the driver
      .withColumn("__bytes", sum(keyBytes).over(Window.partitionBy()))
      .select(when(col("__bytes") <= FrequentSetBytes, col("__k")).as("__k"),
        col("__bytes"))
      .collect()
    if (rows.length > bound ||
        rows.exists(r => !r.isNullAt(1) && r.getLong(1) > FrequentSetBytes)) None
    else {
      val keys: Set[Any] = rows.iterator.filterNot(_.isNullAt(0)).map(r =>
        if (hashed) r.getLong(0)
        else org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0))).toSet
      Some(s => ColumnShim.column(
        org.apache.spark.sql.catalyst.expressions.InSet(ColumnShim.expression(key(s)), keys)))
    }
  }

  /** The scrub past [[FrequentSetBound]]: df aggregate, join back on the
    * segment key, doc-keyed regroup. Deliberately an AGGREGATE + join-back,
    * not a count window (r18 review): the aggregate partial-combines a
    * boilerplate line's df map-side, and the join-back is
    * AQE-skew-splittable (guide §2.5).
    */
  private[dedup] def scrubByJoin(docs: DataFrame, id: Column, segments: Column,
                                 maxDf: Int, joiner: String,
                                 hashed: Boolean): DataFrame = {
    val seg = docs.select(id.as("doc_id"),
      posexplode(segments).as(Seq("pos", "seg")))
    val key: Column => Column =
      if (hashed) c => xxhash64(c) else identity
    val dfr = seg.groupBy(key(col("seg")).as("__k"))
      .agg(count(lit(1)).as("__df"))
    reassembleSegments(
      seg.join(dfr, key(col("seg")) === col("__k"))
        .withColumn("__keep", col("__df") <= maxDf),
      joiner)
  }

  /** Shared tail of the join-form segment scrubs: (doc_id, pos, seg,
    * __keep) → (doc_id, clean_text, n_kept, n_dropped). Per-group state is
    * bounded by the document's own segment count.
    */
  private def reassembleSegments(tagged: DataFrame,
                                 joiner: String): DataFrame =
    tagged.groupBy("doc_id")
      .agg(
        concat_ws(joiner,
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("pos"), col("seg"))))),
            s => s.getField("seg"))).as("clean_text"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"))

  /** Boilerplate report over the same segmentation: every segment whose
    * corpus df exceeds `maxDf` (the ones [[scrubFrequentSegments]] would
    * remove), with its occurrence count and distinct-document spread —
    * what a curation run reads to audit WHAT the line scrub is about to
    * delete. Output: (seg, df, n_docs).
    */
  def frequentSegments(docs: DataFrame, id: Column, segments: Column,
                       maxDf: Int): DataFrame =
    docs.select(id.as("doc_id"), explode(segments).as("seg"))
      .groupBy("seg")
      .agg(count(lit(1)).as("df"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("df") > maxDf)

  // ---- day-2 line scrub: the persisted LINE-FREQUENCY table ----------
  //
  // The d9 band-index discipline applied to CCNet line dedup: a bucketed
  // (seg_hash, n) table holds the corpus's line occurrence counts;
  // each ingest scrubs its shard against GLOBAL df = persisted + the
  // shard's own counts, then folds the shard's counts in at shard cost.
  // Counts are 64-bit line hashes (CCNet's own representation): 8 B/row,
  // never the line text. Appends land DELTA rows; compaction collapses
  // them ([[collapseLineFreq]] rides the one-task-per-bucket rewrite —
  // the group key IS the bucket key, zero exchanges).
  //
  // Contract (asserted in DedupSpec): scrubbing day-2's shard against
  // day-1's table ≡ the batch [[scrubFrequentSegments]] over day-1 ∪
  // day-2 RESTRICTED to day-2's docs (hashed form) — both see the same
  // union df for every day-2 line. Day-1's already-written output is
  // not retroactively rewritten when a line later becomes frequent
  // (CCNet's sharded behavior; a recount-and-rescrub of old shards is a
  // batch rerun, not an ingest).

  /** The (seg_hash, n) count relation for a corpus/shard. */
  def segmentCounts(docs: DataFrame, id: Column,
                    segments: Column): DataFrame =
    docs.select(explode(segments).as("seg"))
      .groupBy(xxhash64(col("seg")).as("seg_hash"))
      .agg(count(lit(1)).as("n"))

  /** Create the persisted line-frequency table (bucketed on seg_hash). */
  def writeLineFreq(docs: DataFrame, id: Column, segments: Column,
                    table: String, buckets: Int = 64): Unit =
    graft.core.Bucketing.writeBucketed(segmentCounts(docs, id, segments),
      table, "seg_hash", buckets)

  /** Reopen a [[writeLineFreq]] table. */
  def readLineFreq(spark: org.apache.spark.sql.SparkSession,
                   table: String): DataFrame = spark.table(table)

  /** Fold a shard's line counts into the table (delta rows; cost ∝
    * shard). Compact on the usual cadence with [[collapseLineFreq]].
    */
  def appendLineFreq(docs: DataFrame, id: Column, segments: Column,
                     table: String, buckets: Int = 64): Unit =
    graft.core.Bucketing.appendBucketed(segmentCounts(docs, id, segments),
      table, "seg_hash", buckets)

  /** Compaction transform: collapse delta rows to one count per hash.
    * NOTE this is NOT a crash-replay heal — summed deltas are not
    * idempotent (a replayed append would double-count), unlike the band
    * table's dropDuplicates. Appends to this table MUST run under the
    * [[graft.core.Bucketing.ingestOnce]] ledger; the transform merges
    * only legitimately-distinct deltas.
    */
  val collapseLineFreq: DataFrame => DataFrame =
    _.groupBy("seg_hash").agg(sum(col("n")).as("n"))
      // net-zero hashes (every occurrence forgotten) leave the table
      .filter(col("n") =!= 0L)

  /** Deletion-request propagation ([[graft.cli.Main]] `forget`) for the
    * line-frequency table: append NEGATIVE count deltas for the removed
    * documents' lines, then collapse — net counts drop immediately (the
    * pre-collapse sum in [[scrubShardSegments]] already nets negatives,
    * so even an uncompacted table scrubs correctly) and hashes whose
    * count reaches zero leave the table. Needs the deleted docs' TEXT
    * (counts carry no doc attribution): the caller passes the takedown
    * rows, or re-reads them from the corpus snapshot being scrubbed.
    */
  def forgetFromLineFreq(deleted: DataFrame, id: Column, segments: Column,
                         table: String, buckets: Int = 64): Unit = {
    graft.core.Bucketing.appendBucketed(
      segmentCounts(deleted, id, segments)
        .select(col("seg_hash"), (-col("n")).as("n")),
      table, "seg_hash", buckets)
    graft.core.Bucketing.compactBucketed(deleted.sparkSession, table,
      collapseLineFreq)
  }

  /** Scrub an incoming shard against the persisted corpus counts: a
    * shard line's effective df = its in-shard count + the table's total
    * for that hash. Only the shard explodes and shuffles; the bucketed
    * index side aggregates and joins WITHOUT an exchange (group key and
    * join key = the bucket key). Output: [[scrubFrequentSegments]]'
    * shape, hashed semantics.
    */
  def scrubShardSegments(shard: DataFrame, id: Column, segments: Column,
                         index: DataFrame, maxDf: Int,
                         joiner: String = "\n"): DataFrame = {
    // seg is shard-SEGMENT scale with the segment text inline — a day
    // shard of a 100 TB crawl is ~1 TB of segment text, far past what
    // object blocks hold on-heap. COLUMNAR scratch: one eager write
    // shared by the own-count aggregate and the reassembly join, zero
    // executor storage pinned (same fix as the r12 corpus-scale sweep).
    val seg = graft.core.Scratch.materialize(
      shard.select(id.as("doc_id"),
          posexplode(segments).as(Seq("pos", "seg")))
        .withColumn("seg_hash", xxhash64(col("seg"))), "scrubseg")
    val own = seg.groupBy(col("seg_hash")).agg(count(lit(1)).as("__n_own"))
    val idx = index.groupBy(col("seg_hash")).agg(sum(col("n")).as("__n_idx"))
    val tot = own.join(idx, Seq("seg_hash"), "left")
      .select(col("seg_hash"),
        (col("__n_own") + coalesce(col("__n_idx"), lit(0L))).as("__df"))
    reassembleSegments(
      seg.join(tot, "seg_hash").withColumn("__keep", col("__df") <= maxDf),
      joiner)
  }
}

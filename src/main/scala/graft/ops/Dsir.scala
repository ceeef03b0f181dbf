package graft.ops

import graft.text.TextFunctions.{tokens, wordNgramsFromTokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): pick
  * raw-corpus documents that LOOK like a small high-quality target set,
  * by importance weights under hashed bag-of-n-grams bag models.
  *
  *  1. features: word unigrams + bigrams, hashed into `buckets` buckets;
  *  2. model: per-bucket log-likelihood ratio λ_b = ln p̂_target(b) −
  *     ln p̂_raw(b), Laplace-smoothed — a `buckets`-row artifact;
  *  3. weights: a document's importance log-weight is Σ λ_b over its
  *     feature multiset;
  *  4. resample: Gumbel top-k — rank by logw + Gumbel(0,1) noise, which
  *     draws k docs WITHOUT replacement with probability ∝ exp(logw).
  *
  * The reference pipeline has no data-selection pass (it trains on a
  * fixed curated set, reference: train/common/dataset.py); this is part
  * of the LLM-curation surface the brief adds on top (mixture family:
  * [[Planners.tokenBudgetMixture]] plans BETWEEN sources, DSIR selects
  * WITHIN one).
  *
  * Scale shape (100 TB): model fit is two explode → `buckets`-bucket
  * hash-aggregates — partial aggregation collapses the gram explosion
  * map-side, the shuffle moves ≤ `buckets` rows per task. Scoring is
  * SHUFFLE-FREE: the λ table folds into a one-row position-indexed
  * `array<long>` broadcast (the allowlisted one-row broadcast cross —
  * the `bigramLmScores` vocabulary pattern; an array, not a map, because
  * Catalyst map element_at is a linear scan), and each doc sums its own
  * features' entries with `aggregate()` in the project — a map-only pass
  * over the corpus, no doc-keyed shuffle. Resample is a global top-k
  * (per-partition heads, driver merges k rows).
  *
  * Exactness contract (cross-engine oracle): bucket = first 15 hex
  * digits of md5(gram) mod `buckets` (exact in any engine, the
  * [[Determinism]] construction applied to gram STRINGS); λ rounds to
  * 6dp and sums as fixed-point longs (order-insensitive — the
  * tx_classifier/d23 discipline); Gumbel noise is the deterministic
  * [[Determinism.detHash]] PRF, rounded to 6dp before the fixed-point
  * key sum, so ranks are exact integer comparisons in both engines.
  */
object Dsir {

  /** Hashed feature-bucket multiset of one document: word unigrams ++
    * word bigrams, each to `md5-prefix(gram) mod buckets`. Takes the
    * token ARRAY (the [[graft.text.TextFunctions.wordNgramsFromTokens]]
    * CodegenFallback caveat — project `tokens(text)` once first).
    * Singleton docs contribute their unigram only (no degenerate
    * 1-token "bigram"). INPUT CONTRACT: array elements must be non-null
    * (every tokenizer here guarantees it); a null element is rejected
    * loudly at eval (`graft_dsir_buckets` throws IllegalArgumentException
    * in the task) — the HOF spec would yield a null bucket, which the
    * kernel's non-null output type cannot represent. A caller whose token
    * arrays may hold nulls pre-filters them with `array_compact(toks)`.
    *
    * `xxh = true` swaps the md5-prefix bucket hash for `xxhash64 mod B`
    * — the 100 TB fast path (the d10 hashGrams precedent): DSIR's
    * feature hash only needs UNIFORMITY, not a specific function, so
    * any uniform hash yields an equally valid model; xxhash64 skips the
    * 32-hex-digit string + base-16 parse per gram (measured ~2× on both
    * the fit and the scoring pass at 1M docs, §6.3). The md5 form stays
    * the default because the DuckDB oracle can reproduce it exactly.
    *
    * Its HOF executable specification is `DsirSpec.featureBucketsHof`
    * (kernel parity ScalaCheck'd there, both hashes): an interpreted
    * lambda per token plus a second interpreted bigram pass — DSIR
    * scores every raw-corpus document, so the kernel is a per-doc hot
    * path (r17).
    */
  def featureBuckets(toks: Column, buckets: Int,
                     xxh: Boolean = false): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.DsirBucketsExpr(
      ColumnShim.expression(toks), buckets, xxh))
  }

  /** The Laplace pseudo-count of [[importanceModel]] — engine policy; the
    * x20/x21 oracle SQL hard-codes the same 1.0.
    */
  private val Alpha = 1.0

  /** The importance model: one row per bucket 0..buckets-1 with the
    * 6dp fixed-point log-likelihood ratio `lam6` (micro-units, long)
    * and the two raw counts. Laplace smoothing α = [[Alpha]] on both sides:
    * λ_b = round(ln((ct_b+α)/(Nt+αB)) − ln((cr_b+α)/(Nr+αB)), 6).
    * Buckets unseen on both sides still get a row (λ from the smoothing
    * alone), so scoring can treat the map as total.
    *
    * Output: (bucket, target_count, raw_count, lam6) — `buckets` rows,
    * a broadcast-sized artifact at any corpus scale.
    */
  def importanceModel(raw: DataFrame, target: DataFrame, text: Column,
                      buckets: Int, xxh: Boolean = false): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"importanceModel: buckets must be in (0, 65536] (the λ table " +
        s"broadcasts as a one-row array), got $buckets")
    // project tokens into a bound attribute BEFORE featureBuckets: the
    // HOF lambdas are CodegenFallback, so an inlined tokens(text) would
    // re-run the regex split at every element_at of the bigram transform
    // — O(tokens²) per doc (the wordNgramsFromTokens caveat). CollapseProject
    // keeps the boundary because the alias is non-cheap and multiply
    // referenced.
    def counts(df: DataFrame, as: String): DataFrame = df
      .select(tokens(text).as("__toks"))
      .select(explode(featureBuckets(col("__toks"), buckets, xxh)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as(as))
    val spark = raw.sparkSession
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    def side(cnt: Column, total: Column): Column =
      log((cnt + lit(Alpha)) / (total + lit(Alpha * buckets)))
    // materialize the B-row joined counts once: the totals aggregate and
    // the λ projection both read it, and without the pin each would
    // re-run the two corpus explodes (B ≤ 65536 rows — object blocks are
    // the right tool, not scratch parquet)
    val counted = spine
      .join(counts(target, "tc"), Seq("bucket"), "left")
      .join(counts(raw, "rc"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("tc"), lit(0L)).as("target_count"),
        coalesce(col("rc"), lit(0L)).as("raw_count"))
      .localCheckpoint(false)
    // one-row totals broadcast-cross (allowlisted pattern): the ratio
    // needs N_target and N_raw, scalars over the B-row relation
    counted
      .crossJoin(broadcast(counted.agg(
        sum("target_count").as("nt"), sum("raw_count").as("nr"))))
      .select(col("bucket"), col("target_count"), col("raw_count"),
        round(
          (side(col("target_count"), col("nt")) -
            side(col("raw_count"), col("nr"))) * 1e6)
          .cast("long").as("lam6"))
  }

  /** Per-document importance log-weights under `model`
    * ([[importanceModel]] output, built with the same `buckets`):
    * (doc_id, n_feats, logw6, logw). `logw6` is the exact fixed-point
    * micro-unit sum (the resample key arithmetic's input); `logw` its
    * 6dp double for humans. Docs with no features score 0 (the empty
    * fold). Shuffle-free: the λ map rides a one-row broadcast cross and
    * each doc folds its own feature array — a map-only pass over the
    * corpus, nothing doc-keyed ever shuffles.
    */
  def importanceWeights(docs: DataFrame, id: Column, text: Column,
                        model: DataFrame, buckets: Int,
                        xxh: Boolean = false): DataFrame = {
    // POSITION-INDEXED λ array, not a map: Catalyst's ArrayBasedMapData
    // element_at is a LINEAR scan, so a map lookup costs O(B) per
    // feature — the map form measured 133 s vs 7.5 s for this array
    // form on the same 1M-doc scoring pass at B=4096 (§6.3).
    // importanceModel's spine guarantees every bucket 0..B-1 has a row,
    // so sorting by bucket makes position b+1 the bucket-b entry and
    // the fold's lookup O(1).
    val m = model.agg(
      transform(array_sort(collect_list(struct(col("bucket"), col("lam6")))),
        s => s.getField("lam6")).as("__lam"))
    docs.select(id.as("doc_id"), tokens(text).as("__toks"))
      // bind the feature array ONCE: size() and the λ fold both read it,
      // and featureBuckets is itself a non-cheap HOF tree (CollapseProject
      // keeps the boundary for a multiply-referenced non-cheap alias)
      .select(col("doc_id"),
        featureBuckets(col("__toks"), buckets, xxh).as("__fb"))
      .crossJoin(broadcast(m))
      .select(col("doc_id"),
        size(col("__fb")).as("n_feats"),
        aggregate(col("__fb"), lit(0L),
          (acc, b) => acc + element_at(col("__lam"), (b + 1).cast("int")))
          .as("logw6"))
      .select(col("doc_id"), col("n_feats"), col("logw6"),
        round(col("logw6") / 1e6, 6).as("logw"))
  }

  /** The λ table collected into a position-indexed driver array — the
    * input [[importanceWeightsStateless]] wants. Driver-bounded by
    * construction (B ≤ 65536 longs, the importanceModel require); the
    * [[graft.ann.Vectors]] assignCellsStateless precedent for freezing a
    * small model into a projection.
    */
  def collectLambda(model: DataFrame, buckets: Int): Array[Long] = {
    val rows = model.select(col("bucket"), col("lam6")).collect()
    require(rows.length == buckets,
      s"collectLambda: model has ${rows.length} rows, expected $buckets " +
        "(importanceModel always emits the full bucket spine)")
    val a = new Array[Long](buckets)
    rows.foreach(r => a(r.getLong(0).toInt) = r.getLong(1))
    a
  }

  /** STATELESS scoring twin of [[importanceWeights]]: the frozen λ array
    * rides the projection as ONE array literal — no join of any kind, a
    * pure map over the input, which makes it STREAM-SAFE as-is (the
    * day-2 deployment: fit the model once on yesterday's corpus+target,
    * score each incoming shard in its micro-batch; zero state store).
    * Output identical to [[importanceWeights]] under the same model —
    * asserted in DsirSpec and stream==batch in StreamingSpec.
    */
  def importanceWeightsStateless(docs: DataFrame, id: Column, text: Column,
                                 lam6: Array[Long], buckets: Int,
                                 xxh: Boolean = false): DataFrame = {
    require(lam6.length == buckets,
      s"importanceWeightsStateless: λ array has ${lam6.length} entries, " +
        s"expected $buckets")
    val lamLit = typedLit(lam6.toSeq)
    docs.select(id.as("doc_id"), tokens(text).as("__toks"))
      .select(col("doc_id"),
        featureBuckets(col("__toks"), buckets, xxh).as("__fb"))
      .select(col("doc_id"),
        size(col("__fb")).as("n_feats"),
        aggregate(col("__fb"), lit(0L),
          (acc, b) => acc + element_at(lamLit, (b + 1).cast("int")))
          .as("logw6"))
      .select(col("doc_id"), col("n_feats"), col("logw6"),
        round(col("logw6") / 1e6, 6).as("logw"))
  }

  /** Gumbel top-k importance resample over [[importanceWeights]] output:
    * key = logw6 + round(Gumbel(0,1) · 1e6) with the Gumbel drawn from
    * the deterministic PRF u = (detHash(detHash(id)+seed)+0.5)/2^60 —
    * an exact-integer ranking both engines reproduce. Returns the k
    * highest keys (ties broken by doc_id), a without-replacement draw
    * with P(doc) ∝ exp(logw).
    */
  def importanceResample(weighted: DataFrame, id: Column, k: Int,
                         seed: Long): DataFrame = {
    require(k > 0, s"importanceResample: k must be positive, got $k")
    val u = (Determinism.detHash(Determinism.detHash(id) + lit(seed)) +
      lit(0.5)) / lit(Determinism.Space.toDouble)
    weighted
      .withColumn("key6",
        col("logw6") + round(-log(-log(u)) * 1e6).cast("long"))
      .orderBy(col("key6").desc, id)
      .limit(k)
  }
}

package graft.queries

import graft.core.Tables
import graft.ops.{Determinism, Sampling, Skew}
import graft.text.TextFunctions.tokenCountNative
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampling / shuffle queries (SURVEY §2.6) with the reference's exact-count
  * stratified semantics (train/common/dataset.py:180-227), made
  * engine-portable via the deterministic hash (no `rand(seed)`, whose values
  * depend on partition layout and have no oracle counterpart).
  */
object QSampling {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** X2 weight profile: the curriculum's "hard" stage (reference
    * train/common/dataset.py:363-367: easy .25 / medium .25 / hard .5).
    */
  val hardProfile: Map[String, Double] =
    graft.pipelines.Pipelines.curriculumStages.toMap.apply("hard")

  /** Per-priority fractions for the plain stratified sample. */
  val priorityFractions: Map[String, Double] = Map(
    "1-URGENT" -> 0.5, "2-HIGH" -> 0.3, "3-MEDIUM" -> 0.2,
    "4-NOT SPECIFIED" -> 0.1, "5-LOW" -> 0.05)

  private def fracCaseSql: String =
    "CASE o_orderpriority " + priorityFractions.map {
      case (k, v) => s"WHEN '$k' THEN $v"
    }.mkString(" ") + " ELSE 0.0 END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1: exact-count stratified sample, deterministic-hash order — the
    // distributed-rank form (parallelism independent of the stratum
    // count; x2 exercises the single-window form, same oracle shape).
    "x1_stratified_exact" -> ((s, d) =>
      Sampling.stratifiedExactDistributed(t(s, d, "orders"), col("o_orderpriority"),
        col("o_orderkey"), priorityFractions)
        .select(col("o_orderkey"), col("o_orderpriority"))),

    // X1b: shuffle-free deterministic Bernoulli sample.
    "x1_bernoulli" -> ((s, d) =>
      Sampling.bernoulli(t(s, d, "lineitem"), col("l_orderkey") * 8 + col("l_linenumber"), 0.1)
        .select(col("l_orderkey"), col("l_linenumber"))),

    // X10: token-budget mixture planner — the data-mixing pass that turns
    // per-source token counts + target mixture weights into per-source
    // sampling fractions (capped at 1: a source smaller than its target
    // share is taken whole — the remaining deficit is a reweighting
    // decision, not silently shifted). Weights here derive from the source
    // index (src7 -> 8) so the plan is deterministic and oracle-checkable.
    "x10_mixture_plan" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      val per = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(tokenCountNative(col("text")).cast("long")).as("src_tokens"))
        .withColumn("w",
          regexp_extract(col("source"), "([0-9]+)", 1).cast("int") + 1)
      graft.ops.Planners.tokenBudgetMixture(per)
    }),

    // X18: MIXTURE-APPLIED sampling — the x10 plan actually executed: the
    // token-budget fractions feed the exact-count sampler as a RELATION
    // (stratifiedExactByPlan — no driver map, no collect), and the
    // per-source sampled counts must land EXACTLY at the plan's floor
    // arithmetic (planned_docs = floor(n_docs × fraction) — the sampled
    // column counts real sampled rows; the oracle states the contract).
    // This is the accounting view of Pipelines.curatedFeed's stage 3.
    "x18_mixture_counts" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
        tokenCountNative(col("text")).cast("long").as("n_tok"))
      val per = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("src_tokens"), count(lit(1)).as("n_docs"))
        .withColumn("w",
          regexp_extract(col("source"), "([0-9]+)", 1).cast("int") + 1)
      val plan = graft.ops.Planners.tokenBudgetMixture(per)
      val sampled = graft.ops.Sampling.stratifiedExactByPlan(docs,
          col("source"), col("doc_id"), plan, "source")
        .groupBy(col("source")).agg(count(lit(1)).as("__got"))
      per.select(col("source"), col("n_docs"))
        .join(plan.select(col("source"), col("fraction")), "source")
        .join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          floor(col("n_docs") * col("fraction")).cast("long").as("planned_docs"),
          coalesce(col("__got"), lit(0L)).as("sampled_docs"))
    }),

    // X11: temperature-scaled mixture weights — the multilingual sampling
    // pass (p_l ∝ n_l^alpha, alpha = 1/T = 0.5) that upweights
    // low-resource languages relative to natural frequency before drawing
    // a training mixture. Two tiny aggregates (per-language counts + a
    // broadcast one-row normalizer); allocation = floor(budget · p_l).
    "x11_temperature_mix" -> ((s, d) =>
      graft.ops.Planners.temperatureMixture(
        t(s, d, "documents").groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
        "lang", "n_docs", alpha = 0.5, budget = 10000)),

    // X12: sequence-packing plan — concatenate-then-chunk assignment of
    // documents to 4096-token training windows, per language, in a
    // deterministic document order: each doc is assigned to the window
    // its FIRST token falls in (seq = floor(tokens-before / 4096)), the
    // GPT-style packing where documents straddle window boundaries, so a
    // window's whole-doc token total can exceed the budget by up to one
    // straddling doc (the chunker splits it; this plan counts it where it
    // starts). NOT first-fit-with-reset, which needs a sequential fold.
    // Output: one row per window with its doc count and token total.
    // Windows are per-language; for a single giant stratum use the
    // distributed-rank shape (see Sampling.stratifiedExactDistributed).
    "x12_pack_plan" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      graft.ops.Planners.packPlan(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            tokenCountNative(col("text")).cast("long").as("n_tok")),
        "lang", "doc_id", "n_tok", budget = 4096)
    }),

    // X16: MATERIALIZED packed sequences — the consumable span relation
    // behind x12's plan summary: one row per (doc × window) with in-doc
    // and in-window offsets, so windows are assembled from spans without
    // re-deriving the layout. budget=256 (vs x12's 4096) so straddling
    // docs — the interesting rows — are common in the oracle data.
    "x16_packed_windows" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      graft.ops.Planners.packedWindows(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            tokenCountNative(col("text")).cast("long").as("n_tok")),
        "lang", "doc_id", "n_tok", budget = 256)
    }),

    // X23 (r17): WITHIN-document sliding token windows — the
    // context-window / embedding prep stage (x16 packs whole docs;
    // this SPLITS one doc into 8-token views every 4, overlap 4).
    // Window text is in the token normal form, so chunk output feeds
    // the dedup/LM stages directly; tail windows keep their true
    // n_tok; zero-token docs emit nothing. Stateless map + explode.
    "x23_chunk_windows" -> ((s, d) =>
      graft.ops.Planners.chunkWindows(
        t(s, d, "documents"), col("doc_id"), col("text"),
        window = 8, stride = 4)),

    // X17: shard manifest — writePackedShards' addressing arithmetic
    // (shard = seq div 8) summarized per (group, shard): the relation a
    // resumable trainer reads to name shard dirs and budget work,
    // derived from the layout, never from file listings.
    "x17_shard_manifest" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      graft.ops.Planners.shardManifest(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            tokenCountNative(col("text")).cast("long").as("n_tok")),
        "lang", "doc_id", "n_tok", budget = 256, windowsPerShard = 8)
    }),

    // X13: sequence-length bucketing — group documents into padded-length
    // bins (next multiple of 64 tokens, capped at 2048) and report the
    // per-bin doc count, token total, and PADDING WASTE (bin length minus
    // actual tokens). This is the batching-efficiency pass a training
    // pipeline runs before forming fixed-length batches: bucketing by
    // length instead of random batching turns pad_waste from ~50% of
    // compute into a rounding cost. One map-side projection + one tiny
    // aggregate; bins × langs output rows.
    "x13_length_buckets" -> ((s, d) => {
      graft.extensions.GraftExtensions.register(s)
      t(s, d, "documents")
        .select(col("lang"), tokenCountNative(col("text")).cast("long").as("n_tok"))
        .withColumn("bucket_len",
          least(ceil(col("n_tok") / lit(64.0)) * 64, lit(2048L)).cast("long"))
        .groupBy(col("lang"), col("bucket_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_sum"),
          sum(greatest(col("bucket_len") - col("n_tok"), lit(0L))).as("pad_waste"))
    }),

    // X9: Z-order layout key — the Morton interleave that clusterByZ sorts
    // on before writing (multi-column min/max pruning layout). Top-100 by
    // (z, key) keeps the oracle small while checking every bit lane.
    "x9_zorder" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          graft.ops.Layout.zValue(col("o_custkey"), col("o_orderkey")).as("z"))
        .orderBy(col("z"), col("o_orderkey")).limit(100)),

    // X1c: exact-count sampling WITH replacement — target 4000 from the
    // ~3000-row 1-URGENT stratum forces the replicate-then-trim path (the
    // reference's random.choices fallback when target > available); 5-LOW
    // stays below its size (copies=1 degenerates to without-replacement).
    "x1b_with_replacement" -> ((s, d) =>
      Sampling.stratifiedWithReplacement(t(s, d, "orders"),
        col("o_orderpriority"), col("o_orderkey"),
        Map("1-URGENT" -> 4000L, "5-LOW" -> 500L))
        .select(col("o_orderkey"), col("o_orderpriority"))),

    // X2+P2+A2: difficulty profile end-to-end — classify, sample with the
    // reference 'hard' curriculum profile, report per-stratum counts
    // (the §7.2 minimum slice over oracle tables).
    "x2_profile_counts" -> ((s, d) => {
      val classified = t(s, d, "orders").withColumn("difficulty",
        when(col("o_orderpriority").startsWith("1-"), "hard")
          .when(col("o_orderpriority").startsWith("2-"), "medium")
          .otherwise("easy"))
      Sampling.stratifiedExact(classified, col("difficulty"), col("o_orderkey"), hardProfile)
        .groupBy(col("difficulty")).agg(count(lit(1)).as("cnt"))
    }),

    // X3: deterministic global shuffle position via the distributed rank
    // (range-repartition + partition-offset join — no single-task stage;
    // produces the identical permutation to the window form).
    "x3_shuffle_pos" -> ((s, d) =>
      Sampling.shufflePositionDistributed(
        Sampling.bernoulli(t(s, d, "orders"), col("o_orderkey"), 0.05)
          .select(col("o_orderkey")),
        col("o_orderkey"))),

    // X14: per-epoch reshuffle — the SAME sampled feed ranked under two
    // different epoch seeds side by side: independent permutations of
    // identical rows, each reproducible, no data rewrite between epochs
    // (the training-loop contract: epoch 2 must not replay epoch 1's
    // order, but any worker recomputing the feed sees the same order).
    "x14_epoch_shuffle" -> ((s, d) => {
      val base = Sampling.bernoulli(t(s, d, "orders"), col("o_orderkey"), 0.05)
        .select(col("o_orderkey"))
      val e1 = Sampling.epochShufflePosition(base, col("o_orderkey"), 1)
        .withColumnRenamed("pos", "pos_e1")
      val e2 = Sampling.epochShufflePosition(base, col("o_orderkey"), 2)
        .withColumnRenamed("pos", "pos_e2")
      e1.join(e2, "o_orderkey")
    }),

    // X7 (skew): two-phase salted aggregation over a 3-value group key —
    // the degenerate-key shape where one reducer would otherwise absorb
    // a third of 100 TB. Salting spreads each key over 16 buckets, the
    // second (tiny) shuffle merges partials; results are EXACTLY the
    // plain groupBy (l_quantity is integer-valued, so re-association is
    // exact), which is what the oracle checks.
    "x7_salted_agg" -> ((s, d) =>
      Skew.saltedSum(t(s, d, "lineitem"), col("l_returnflag"),
          col("l_orderkey") * 8 + col("l_linenumber"), col("l_quantity"), 16)
        .select(col("key"), round(col("sum"), 2).as("sum_qty"), col("cnt"))),

    // X8 (skew): salted fact⋈dim join — the fact side is salted with a
    // deterministic hash, the small dimension replicated per salt, so a
    // hot supplier key spreads over 16 tasks while producing exactly the
    // unsalted join's rows (verified by aggregating them per supplier).
    "x8_salted_join" -> ((s, d) => {
      val fact = t(s, d, "lineitem").select(
        col("l_suppkey").as("suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      val dim = t(s, d, "supplier").select(
        col("s_suppkey").as("suppkey"), col("s_name"))
      Skew.saltedJoin(fact, dim, "suppkey",
          col("l_orderkey") * 8 + col("l_linenumber"), 16)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // X15: per-source document cap — the domain-cap curation op (bound
    // any single domain's share of the corpus, the standard defense
    // against one crawl source dominating the mixture): keep at most 200
    // docs per source, chosen by deterministic hash rank so the cap is
    // reproducible across runs/engines and independent of input order.
    // Window partitions are per-source (bounded-cardinality key), never
    // corpus-global.
    "x15_domain_cap" -> ((s, d) =>
      Sampling.domainCap(t(s, d, "documents"), col("source"), col("doc_id"), 200)
        .select(col("doc_id"), col("source"))),

    // X20: DSIR importance weights (Xie et al. 2023) — score every raw
    // doc by how target-like its hashed unigram+bigram profile is
    // (target = the English slice; the "looks like wiki" selection pass).
    // Model fit is two 64-bucket hash-aggregates; scoring is shuffle-free
    // (one-row broadcast λ map + per-doc array fold). The oracle
    // recomputes the whole chain — md5-prefix bucketing, Laplace
    // smoothing, fixed-point λ sums — so the hash pins the arithmetic
    // end to end.
    "x20_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.ops.Dsir.importanceModel(
        docs, docs.filter(col("lang") === "en"), col("text"), buckets = 64)
      graft.ops.Dsir.importanceWeights(docs, col("doc_id"), col("text"),
        model, buckets = 64)
    }),

    // X21: DSIR Gumbel top-k resample — the weights drawn WITHOUT
    // replacement with P ∝ exp(logw) via the deterministic Gumbel PRF;
    // exact integer key arithmetic makes the draw engine-portable.
    "x21_dsir_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.ops.Dsir.importanceModel(
        docs, docs.filter(col("lang") === "en"), col("text"), buckets = 64)
      graft.ops.Dsir.importanceResample(
        graft.ops.Dsir.importanceWeights(docs, col("doc_id"), col("text"),
          model, buckets = 64),
        col("doc_id"), k = 100, seed = 11L)
    }),

    // X6: seeded per-row augmentation flags — the deterministic form of
    // RandomHorizontalFlip / RandomCrop (reference
    // train/train_stage_1/dataloader.py:46, train_DIT/dataloader.py:52-58):
    // every flag is a pure function of (key, salt), reproducible across
    // runs, engines, and shuffles.
    "x6_aug_flags" -> ((s, d) => {
      val key = col("l_orderkey") * 8 + col("l_linenumber")
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (Determinism.detRand(key) < 0.5).as("hflip"),
        (Determinism.detHash(key * 31 + 1) % 64).cast("int").as("crop_x"),
        (Determinism.detHash(key * 31 + 2) % 64).cast("int").as("crop_y"))
    }))

  // Shared DSIR oracle chain (x20/x21): md5-prefix feature bucketing
  // (unigrams + bigrams mod 64), Laplace-smoothed per-bucket λ in 6dp
  // fixed point, per-doc integer λ sums — the Dsir.scala arithmetic
  // restated in DuckDB. `f` keeps zero-feature docs (a punctuation-only
  // doc has no \p{L}\p{N} token) via the LEFT JOIN at the end.
  private val dsirCtes: String = {
    val toks =
      "list_filter(list_transform(string_split_regex(regexp_replace(text, '([\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> lower(x)), x -> x != '')"
    def bkt(g: String) =
      s"CAST('0x' || substring(md5($g), 1, 15) AS BIGINT) % 64"
    s"""t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
        f AS (SELECT doc_id, lang,
                list_concat(
                  list_transform(toks, g -> ${bkt("g")}),
                  CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)), i ->
                      ${bkt("toks[CAST(i AS INT)] || '_' || toks[CAST(i AS INT) + 1]")})
                  ELSE CAST([] AS BIGINT[]) END) AS fb
              FROM t),
        ex AS (SELECT doc_id, lang, unnest(fb) AS bucket FROM f),
        rc AS (SELECT bucket, count(*) AS rcnt FROM ex GROUP BY 1),
        tc AS (SELECT bucket, count(*) AS tcnt FROM ex
               WHERE lang = 'en' GROUP BY 1),
        m0 AS (SELECT s.bucket,
                      coalesce(tcnt, 0) AS target_count,
                      coalesce(rcnt, 0) AS raw_count
               FROM (SELECT unnest(range(64)) AS bucket) s
               LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)),
        tot AS (SELECT CAST(sum(target_count) AS BIGINT) AS nt,
                       CAST(sum(raw_count) AS BIGINT) AS nr FROM m0),
        m AS (SELECT bucket,
                     CAST(round((ln((target_count + 1.0) / (nt + 64.0)) -
                                 ln((raw_count + 1.0) / (nr + 64.0))) * 1e6)
                       AS BIGINT) AS lam6
              FROM m0 CROSS JOIN tot),
        ds AS (SELECT doc_id, CAST(sum(lam6) AS BIGINT) AS logw6
               FROM ex JOIN m USING (bucket) GROUP BY 1),
        w AS (SELECT f.doc_id, CAST(len(fb) AS INT) AS n_feats,
                     CAST(coalesce(ds.logw6, 0) AS BIGINT) AS logw6,
                     round(CAST(coalesce(ds.logw6, 0) AS BIGINT) / 1e6, 6)
                       AS logw
              FROM f LEFT JOIN ds USING (doc_id))"""
  }

  def oracle: Map[String, String] = {
    val h = Determinism.detHashSql("o_orderkey")
    Map(
      "x20_dsir_weights" ->
        s"""WITH $dsirCtes
            SELECT doc_id, n_feats, logw6, logw FROM w""",
      "x21_dsir_sample" -> {
        val u = s"((${Determinism.detHashSql(
            s"(${Determinism.detHashSql("doc_id")} + 11)")} + 0.5) / ${Determinism.Space}.0)"
        s"""WITH $dsirCtes
            SELECT doc_id, n_feats, logw6, logw,
                   logw6 + CAST(round((-ln(-ln($u))) * 1e6) AS BIGINT) AS key6
            FROM w
            ORDER BY key6 DESC, doc_id LIMIT 100"""
      },
      "x1_stratified_exact" ->
        s"""WITH t AS (
              SELECT o_orderkey, o_orderpriority,
                     row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY $h, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY o_orderpriority) AS n,
                     $fracCaseSql AS frac
              FROM orders)
            SELECT o_orderkey, o_orderpriority FROM t
            WHERE rn <= CAST(floor(n * frac) AS BIGINT)""",
      "x1_bernoulli" ->
        s"""SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE ${Determinism.detRandSql("(l_orderkey * 8 + l_linenumber)")} < 0.1""",
      "x15_domain_cap" ->
        s"""WITH t AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY ${Determinism.detHashSql("doc_id")}, doc_id) AS rn
              FROM documents)
            SELECT doc_id, source FROM t WHERE rn <= 200""",
      "x10_mixture_plan" ->
        """WITH per AS (
             SELECT source,
                    CAST(sum(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != ''))) AS BIGINT) AS src_tokens,
                    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) + 1 AS w
             FROM documents GROUP BY source),
               tot AS (SELECT sum(src_tokens) AS total_tokens, sum(w) AS total_w
                       FROM per)
           SELECT source, src_tokens,
                  round(CAST(w AS DOUBLE) / total_w, 6) AS target_share,
                  round(least(1.0, (CAST(w AS DOUBLE) / total_w) * total_tokens
                    / src_tokens), 6) AS fraction
           FROM per CROSS JOIN tot""",
      "x18_mixture_counts" ->
        """WITH per AS (
             SELECT source,
                    CAST(sum(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != ''))) AS BIGINT) AS src_tokens,
                    count(*) AS n_docs,
                    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) + 1 AS w
             FROM documents GROUP BY source),
               tot AS (SELECT sum(src_tokens) AS total_tokens, sum(w) AS total_w
                       FROM per)
           SELECT source, n_docs,
                  CAST(floor(n_docs * round(least(1.0,
                    (CAST(w AS DOUBLE) / total_w) * total_tokens / src_tokens),
                    6)) AS BIGINT) AS planned_docs,
                  CAST(floor(n_docs * round(least(1.0,
                    (CAST(w AS DOUBLE) / total_w) * total_tokens / src_tokens),
                    6)) AS BIGINT) AS sampled_docs
           FROM per CROSS JOIN tot""",
      "x11_temperature_mix" ->
        """WITH per AS (SELECT lang, count(*) AS n_docs
                        FROM documents GROUP BY lang),
                tot AS (SELECT sum(sqrt(n_docs)) AS z FROM per)
           SELECT lang, n_docs, round(sqrt(n_docs) / z, 6) AS p_temp,
                  CAST(floor(round(10000 * sqrt(n_docs) / z, 6)) AS BIGINT) AS alloc
           FROM per CROSS JOIN tot""",
      "x12_pack_plan" ->
        """WITH tk AS (
             SELECT doc_id, lang,
                    CAST(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != '')) AS BIGINT) AS n_tok
             FROM documents),
               p AS (
             SELECT doc_id, lang, n_tok,
                    CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                      / 4096.0) AS BIGINT) AS seq
             FROM tk)
           SELECT lang, seq, count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS seq_tokens
           FROM p GROUP BY lang, seq""",
      "x16_packed_windows" ->
        """WITH tk AS (
             SELECT doc_id, lang,
                    CAST(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != '')) AS BIGINT) AS n_tok
             FROM documents),
               p AS (
             SELECT doc_id, lang, n_tok,
                    -- CAST: DuckDB sums BIGINT into HUGEINT, and range()
                    -- has no HUGEINT overload
                    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                      AS BIGINT) AS bef
             FROM tk),
               sp AS (
             SELECT lang, doc_id, n_tok, bef,
                    unnest(range(bef // 256, (bef + n_tok - 1) // 256 + 1)) AS seq
             FROM p WHERE n_tok > 0)
           SELECT lang, seq, doc_id,
                  greatest(seq * 256 - bef, 0) AS doc_offset,
                  greatest(bef - seq * 256, 0) AS win_offset,
                  least((seq + 1) * 256, bef + n_tok)
                    - greatest(seq * 256, bef) AS len
           FROM sp""",
      "x23_chunk_windows" ->
        """WITH tk AS (
             SELECT doc_id,
                    list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != '') AS tl
             FROM documents),
               n AS (
             SELECT doc_id, tl, CAST(len(tl) AS INT) AS n
             FROM tk WHERE len(tl) > 0),
               w AS (
             SELECT doc_id, tl, n,
                    CAST(unnest(range(0, (n + 3) // 4)) AS INT) AS win_ix
             FROM n)
           SELECT doc_id, win_ix,
                  least(8, n - win_ix * 4) AS n_tok,
                  array_to_string(
                    list_slice(tl, win_ix * 4 + 1,
                               least(win_ix * 4 + 8, n)), ' ')
                    AS window_text
           FROM w""",
      "x17_shard_manifest" ->
        """WITH tk AS (
             SELECT doc_id, lang,
                    CAST(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != '')) AS BIGINT) AS n_tok
             FROM documents),
               p AS (
             SELECT doc_id, lang, n_tok,
                    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                      AS BIGINT) AS bef
             FROM tk),
               sp AS (
             SELECT lang, doc_id, n_tok, bef,
                    unnest(range(bef // 256, (bef + n_tok - 1) // 256 + 1)) AS seq
             FROM p WHERE n_tok > 0),
               spans AS (
             SELECT lang, seq, seq // 8 AS shard,
                    least((seq + 1) * 256, bef + n_tok)
                      - greatest(seq * 256, bef) AS len
             FROM sp)
           SELECT lang, shard,
                  CAST(count(DISTINCT seq) AS BIGINT) AS n_windows,
                  count(*) AS n_spans,
                  CAST(sum(len) AS BIGINT) AS shard_tokens,
                  min(seq) AS first_seq, max(seq) AS last_seq
           FROM spans GROUP BY lang, shard""",
      "x13_length_buckets" ->
        """WITH t AS (
             SELECT lang,
                    CAST(len(list_filter(list_transform(string_split_regex(regexp_replace(text, '([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> lower(x)),
                      x -> x != '')) AS BIGINT) AS n_tok
             FROM documents),
              b AS (
             SELECT lang, n_tok,
                    least(CAST(ceil(n_tok / 64.0) AS BIGINT) * 64, 2048) AS bucket_len
             FROM t)
           SELECT lang, bucket_len, count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS tok_sum,
                  CAST(sum(greatest(bucket_len - n_tok, 0)) AS BIGINT) AS pad_waste
           FROM b GROUP BY lang, bucket_len""",
      "x9_zorder" ->
        s"""SELECT o_orderkey, o_custkey,
                   ${graft.ops.Layout.zValueSql("o_custkey", "o_orderkey")} AS z
            FROM orders ORDER BY z, o_orderkey LIMIT 100""",
      "x1b_with_replacement" -> {
        val hr = Determinism.detHashSql("o_orderkey * 7919 + rep")
        s"""WITH n AS (SELECT o_orderpriority AS p, count(*) AS n
                       FROM orders GROUP BY 1),
                t(p, tgt) AS (VALUES ('1-URGENT', 4000), ('5-LOW', 500)),
                e AS (SELECT o.o_orderkey, o.o_orderpriority, tgt,
                             CAST(ceil(CAST(tgt AS DOUBLE) / n.n) AS INT) AS copies
                      FROM orders o JOIN n ON o.o_orderpriority = n.p
                      JOIN t ON n.p = t.p),
                x AS (SELECT *, unnest(range(0, greatest(copies, 1))) AS rep
                      FROM e),
                r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY $hr, o_orderkey, rep) AS rn
                      FROM x)
            SELECT o_orderkey, o_orderpriority FROM r WHERE rn <= tgt"""
      },
      "x2_profile_counts" ->
        s"""WITH c AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderpriority LIKE '1-%' THEN 'hard'
                          WHEN o_orderpriority LIKE '2-%' THEN 'medium'
                          ELSE 'easy' END AS difficulty
              FROM orders),
            t AS (
              SELECT difficulty,
                     row_number() OVER (PARTITION BY difficulty ORDER BY $h, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY difficulty) AS n,
                     CASE difficulty WHEN 'easy' THEN 0.25 WHEN 'medium' THEN 0.25
                          WHEN 'hard' THEN 0.5 ELSE 0.0 END AS frac
              FROM c)
            SELECT difficulty, count(*) AS cnt FROM t
            WHERE rn <= CAST(floor(n * frac) AS BIGINT) GROUP BY difficulty""",
      "x3_shuffle_pos" ->
        s"""WITH s AS (
              SELECT o_orderkey FROM orders
              WHERE ${Determinism.detRandSql("o_orderkey")} < 0.05)
            SELECT o_orderkey,
                   CAST(row_number() OVER (ORDER BY $h, o_orderkey) AS BIGINT) AS pos
            FROM s""",
      "x14_epoch_shuffle" -> {
        // epoch hash: detHash(detHash(key) + e) — the md5 re-hash is what
        // decorrelates epochs; mirror the engine's nesting exactly
        def he(e: Int) = Determinism.detHashSql(s"(${Determinism.detHashSql("o_orderkey")} + $e)")
        s"""WITH s AS (
              SELECT o_orderkey FROM orders
              WHERE ${Determinism.detRandSql("o_orderkey")} < 0.05)
            SELECT o_orderkey,
                   CAST(row_number() OVER (ORDER BY ${he(1)}, o_orderkey) AS BIGINT) AS pos_e1,
                   CAST(row_number() OVER (ORDER BY ${he(2)}, o_orderkey) AS BIGINT) AS pos_e2
            FROM s"""
      },
      "x7_salted_agg" ->
        """SELECT l_returnflag AS key, round(sum(l_quantity), 2) AS sum_qty,
                  count(*) AS cnt
           FROM lineitem GROUP BY 1""",
      "x8_salted_join" ->
        """SELECT s_name, count(*) AS n_items,
                  round(sum(l_quantity), 2) AS sum_qty
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1""",
      "x6_aug_flags" -> {
        val k = "(l_orderkey * 8 + l_linenumber)"
        s"""SELECT l_orderkey, l_linenumber,
                   ${Determinism.detRandSql(k)} < 0.5 AS hflip,
                   CAST(${Determinism.detHashSql(s"($k * 31 + 1)")} % 64 AS INT) AS crop_x,
                   CAST(${Determinism.detHashSql(s"($k * 31 + 2)")} % 64 AS INT) AS crop_y
            FROM lineitem"""
      })
  }
}

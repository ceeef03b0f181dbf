package graft.ops

import graft.core.Scratch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-construction planners: tiny aggregates that turn per-source /
  * per-language statistics into sampling fractions, mixture weights, and
  * packing layouts. All driver-free — outputs are DataFrames whose row
  * counts equal the number of sources/windows, never the corpus size, so
  * each plan is a broadcast-sized artifact at any corpus scale.
  */
object Planners {

  /** Token-budget mixture: per-source sampling fractions that hit target
    * shares of the total token budget. Input must have
    * (source, src_tokens, w); a source smaller than its target share is
    * taken whole (fraction capped at 1 — the remaining deficit is a
    * reweighting decision, not silently shifted to other sources).
    * Output: (source, src_tokens, target_share, fraction).
    */
  def tokenBudgetMixture(per: DataFrame, roundTo: Int = 6): DataFrame = {
    val tot = per.agg(sum(col("src_tokens")).as("total_tokens"),
      sum(col("w")).as("total_w"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_share", round(col("w") / col("total_w"), roundTo))
      .withColumn("fraction", round(least(lit(1.0),
        (col("w") / col("total_w")) * col("total_tokens") / col("src_tokens")),
        roundTo))
      .select(col("source"), col("src_tokens"), col("target_share"),
        col("fraction"))
  }

  /** Temperature-scaled mixture: p_g ∝ n_g^alpha over the `group` column's
    * per-group counts (alpha = 1/T; alpha < 1 upweights low-resource
    * groups), plus a floor(budget · p) allocation. alpha = 0.5 uses
    * `sqrt` — `pow(x, 0.5)` is not guaranteed bit-identical to `sqrt(x)`,
    * and the oracle uses sqrt. The allocation floors a ROUNDED quotient:
    * an ulp difference in the normalizer accumulation order must not flip
    * the result at an integer boundary.
    * Input: one row per group with a count column. Output:
    * (group, nCol, p_temp, alloc).
    */
  def temperatureMixture(per: DataFrame, group: String, nCol: String,
                         alpha: Double, budget: Long,
                         roundTo: Int = 6): DataFrame = {
    def wgt(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    val z = per.agg(sum(wgt(col(nCol))).as("z"))
    per.crossJoin(broadcast(z))
      .withColumn("p_temp", round(wgt(col(nCol)) / col("z"), roundTo))
      .withColumn("alloc",
        floor(round(lit(budget.toDouble) * wgt(col(nCol)) / col("z"), roundTo))
          .cast("long"))
      .select(col(group), col(nCol), col("p_temp"), col("alloc"))
  }

  /** Concatenate-then-chunk pack plan: assigns each document to the
    * fixed-budget token window its FIRST token falls in under GPT-style
    * packing (seq = floor(tokens-before / budget), per group, in the
    * deterministic `order`). Documents straddle window boundaries, so a
    * window's whole-doc token total can exceed the budget by up to one
    * straddling doc — the chunker splits it; this plan counts it where it
    * starts. NOT first-fit-with-reset (that needs a sequential fold).
    * Input: one row per doc with a token-count column. Output:
    * (group, seq, n_docs, seq_tokens).
    */
  def packPlan(docs: DataFrame, group: String, order: String, nTok: String,
               budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(group)).orderBy(col(order))
    docs
      .withColumn("seq",
        floor((sum(col(nTok)).over(w) - col(nTok)) / lit(budget.toDouble))
          .cast("long"))
      .groupBy(col(group), col("seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col(nTok)).as("seq_tokens"))
  }

  /** WITHIN-document sliding token windows — the context-window /
    * embedding prep stage [[packedWindows]] deliberately is not (pack
    * concatenates whole docs into budget spans; chunk SPLITS one long
    * doc into `window`-token views every `stride` tokens, overlapping
    * by window − stride). One row per (doc, win_ix): the window's token
    * count and its text in the token normal form
    * ([[graft.text.TextFunctions.tokens]] joined by single spaces — the
    * form the dedup/LM stages already score, so chunk output feeds them
    * directly). Tail windows shorter than `window` are EMITTED with
    * their true n_tok (the consumer's drop threshold is policy, not
    * layout); zero-token docs emit no rows (P7). Stateless map +
    * explode — work ∝ docs + produced windows, no shuffle, no
    * per-group serialization: the 100-TB shape is the scan itself.
    */
  def chunkWindows(docs: DataFrame, id: Column, text: Column,
                   window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"chunkWindows: window must be positive, got $window")
    require(stride >= 1 && stride <= window,
      s"chunkWindows: stride must be in [1, window], got $stride")
    docs.select(id.as("doc_id"),
        graft.text.TextFunctions.tokens(text).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(sequence(lit(0),
          ((col("__n") + (stride - 1)) / stride).cast("int") - 1))
          .as("win_ix"))
      .select(col("doc_id"), col("win_ix"),
        least(lit(window), col("__n") - col("win_ix") * stride)
          .cast("int").as("n_tok"),
        array_join(
          slice(col("__toks"), col("win_ix") * stride + 1, lit(window)),
          " ").as("window_text"))
  }

  /** MATERIALIZED packed sequences — the consumable relation behind
    * [[packPlan]]'s summary: one row per (document × window it occupies)
    * under GPT-style concatenate-then-chunk packing, so a trainer (or the
    * chunker feeding it) can assemble every fixed-`budget` window from doc
    * spans without re-deriving the layout. A document whose tokens
    * straddle window boundaries emits one SPAN row per window it touches.
    *
    * Output columns per span:
    *  - `seq`: the window id within the group (0-based);
    *  - the `order` column: which document the span comes from;
    *  - `doc_offset`: 0-based first token of the span WITHIN the document;
    *  - `win_offset`: 0-based position of the span WITHIN the window
    *    (non-zero only for the first doc continuing into a window);
    *  - `len`: span token count (> 0 always).
    *
    * Invariants (asserted in PipelinesSpec): per document the spans
    * partition its tokens exactly (sum(len) = n_tok, contiguous from
    * doc_offset 0); per window the spans tile [0, budget) exactly except
    * the group's last window, which ends at the group's token total.
    *
    * Same scale shape as [[packPlan]]: ONE per-group window cumsum (the
    * deterministic `order` must be unique per group), then a stateless
    * explode of each doc's window range — work ∝ docs + produced spans,
    * never corpus-global — but the cumsum serializes EACH GROUP through
    * one task; [[packedWindowsDistributed]] is the row-identical form
    * with no single-task stage for few-group (or one-group) corpora.
    * Zero-token docs occupy no tokens and emit no span. Integer `div`
    * arithmetic throughout, so the layout is exact at any corpus size (no
    * double rounding at 2^53 tokens).
    *
    * Kept beside the distributed form as x16's query path (QSampling).
    */
  def packedWindows(docs: DataFrame, group: String, order: String,
                    nTok: String, budget: Long,
                    carry: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"packedWindows: budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(group)).orderBy(col(order))
    spansFromBefore(
      docs.withColumn("__before", sum(col(nTok)).over(w) - col(nTok)),
      group, order, nTok, budget, carry)
  }

  /** [[packedWindows]]' SCALE path — row-identical output with NO
    * single-task stage. The window form's per-group cumsum serializes
    * each group through ONE task, and the common 100-TB corpus has ONE
    * group (a single global pack order) — the same cliff
    * [[graft.ops.Sampling.rankByDistributed]] exists for, with
    * sum-before in place of count-before. Same two-phase discipline (the
    * pack order is data, not a uniform hash, so its buckets are range
    * partitions): range-repartition on (group, order) so partitions hold
    * contiguous runs of the pack order; per-(partition, group) token
    * totals — at most partitions + groups rows — prefix-summed per group
    * (the shared offset arithmetic, `Sampling.prefixOffsets`) and
    * broadcast back as offsets; each row's token-before is its
    * WITHIN-PARTITION running sum (a window keyed by (partition, group),
    * parallelism = partition count) plus its partition's offset.
    * Identical to the window form wherever the range bounds fall because
    * (group, order) is a total order — `order` must be unique per group,
    * the same contract as [[packedWindows]]. The partition count is the
    * input session's `spark.sql.shuffle.partitions`. A scratch-parquet
    * materialization ([[graft.core.Scratch]]) shares the ranged relation
    * between the offsets aggregate and the final join (range exchanges
    * never canonicalize equal, so ReuseExchange cannot unify them; the
    * columnar scratch replaced localCheckpoint after the 40M-row
    * object-block cliff was measured — §6.3 budgetdiag).
    */
  def packedWindowsDistributed(docs: DataFrame, group: String, order: String,
                               nTok: String, budget: Long,
                               carry: Seq[String] = Nil): DataFrame = {
    require(budget > 0,
      s"packedWindowsDistributed: budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
    // project BEFORE materializing (the narrow-checkpoint rule, round-10
    // verdict), then share the ranged relation via SCRATCH PARQUET, not
    // localCheckpoint: the object-block materialization was the measured
    // 40M-row cliff (104 s vs 10.6 s columnar — graft.core.Scratch,
    // SURVEY §6.3 budgetdiag), and the frozen __pid values make both
    // consuming jobs see identical partition assignment by construction.
    val ranged = Scratch.materialize(docs
      .select((Seq(group, order, nTok) ++ carry).distinct.map(col): _*)
      .repartitionByRange(Sampling.numPartitions(docs), col(group), col(order))
      .withColumn("__pid", spark_partition_id()), "pack")
    val offsets = Sampling.prefixOffsets(ranged.groupBy(col("__pid"), col(group))
        .agg(sum(col(nTok)).as("__psum")), Seq(col(group)), col("__pid"),
        col("__psum"))
      .select(col("__pid"), col(group), col("__off"))
    val before = ranged.join(broadcast(offsets), Seq("__pid", group))
      .withColumn("__before",
        col("__off") + coalesce(sum(col(nTok)).over(
          w.partitionBy(col("__pid"), col(group)).orderBy(col(order))
            .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
    spansFromBefore(before, group, order, nTok, budget, carry)
  }

  /** The shared stateless span arithmetic over a relation carrying
    * `__before` (tokens before this doc in its group's pack order).
    */
  private def spansFromBefore(before: DataFrame, group: String,
                              order: String, nTok: String,
                              budget: Long,
                              carry: Seq[String] = Nil): DataFrame =
    // `carry` columns ride the layout untouched (e.g. the doc id when the
    // pack order is an epoch permutation) and append after the span shape
    before
      .filter(col(nTok) > 0)
      .withColumn("seq", explode(sequence(
        expr(s"__before div $budget"),
        expr(s"(__before + $nTok - 1) div $budget"))))
      .select(Seq(col(group), col("seq"), col(order),
        greatest(col("seq") * budget - col("__before"), lit(0L)).as("doc_offset"),
        greatest(col("__before") - col("seq") * budget, lit(0L)).as("win_offset"),
        (least((col("seq") + 1) * budget, col("__before") + col(nTok))
          - greatest(col("seq") * budget, col("__before"))).as("len")) ++
        carry.filterNot(Seq(group, order).contains).map(col): _*)

  /** Shard MANIFEST over [[packedWindows]]' layout under
    * [[graft.pipelines.Pipelines.writePackedShards]]' arithmetic
    * (shard = seq div windowsPerShard): one row per (group, shard) with
    * window/span counts, the token total, and the window range — the
    * trainer-side addressing and accounting relation (which shard dirs
    * exist, how many tokens each holds, where a resume cursor lands)
    * derived WITHOUT listing files. Same scale shape as the layout
    * itself plus one aggregate on (group, shard). The layout comes from
    * [[packedWindowsDistributed]] (row-identical to [[packedWindows]] by
    * contract; the x17 oracle pins it, and PlannersSpec compares it with
    * [[shardTotals]] over the window form).
    */
  def shardManifest(docs: DataFrame, group: String, order: String,
                    nTok: String, budget: Long,
                    windowsPerShard: Long): DataFrame = {
    require(windowsPerShard > 0,
      s"shardManifest: windowsPerShard must be positive, got $windowsPerShard")
    shardTotals(packedWindowsDistributed(docs, group, order, nTok, budget)
      .withColumn("shard", expr(s"seq div $windowsPerShard")), group)
  }

  /** The manifest aggregate over a span layout carrying `shard`: one row
    * per (group, shard). A group's windows are consecutive (its token
    * stream is contiguous, so every window between its first and last
    * holds a span), hence a shard's window count is last − first + 1 —
    * no distinct-count aggregate and its extra exchange.
    */
  private[graft] def shardTotals(spans: DataFrame, group: String): DataFrame =
    spans.groupBy(col(group), col("shard"))
      .agg(min(col("seq")).as("first_seq"), max(col("seq")).as("last_seq"),
        count(lit(1)).as("n_spans"), sum(col("len")).as("shard_tokens"))
      .select(col(group), col("shard"),
        (col("last_seq") - col("first_seq") + 1).as("n_windows"),
        col("n_spans"), col("shard_tokens"), col("first_seq"), col("last_seq"))

  /** TOKEN-BUDGET SELECTION — the greedy quality knapsack of data
    * curation: rank the corpus by (quality DESC, id ASC — a total order)
    * and keep every document whose INCLUSIVE running token count fits
    * `budget`. "Train on the best B tokens we have" as one relational
    * operator, instead of hand-tuning a quality threshold until the
    * token count happens to land ([[graft.queries.QText]]'s
    * tx_quality_sweep measures that curve; this op inverts it exactly).
    *
    * The running sum is a GLOBAL-order cumsum — the same one-group cliff
    * [[packedWindowsDistributed]] exists for — so it uses the identical
    * two-phase discipline: range-repartition on the quality order into
    * the input session's `spark.sql.shuffle.partitions` partitions,
    * per-partition token totals (one row each) prefix-summed
    * under a global window OVER THAT AGGREGATE (the bounded-global-
    * window rule, asserted board-wide in PlanAuditSpec) and broadcast
    * back; each row adds its within-partition inclusive running sum.
    * No single-task stage at any corpus size.
    *
    * Output: one row per KEPT doc — (id, quality, nTok, cum_tokens),
    * cum_tokens ≤ budget. The first over-budget doc and everything after
    * it drop (no partial-doc truncation — that is [[packedWindows]]'
    * job downstream).
    */
  def tokenBudgetSelect(docs: DataFrame, id: String, quality: String,
                        nTok: String, budget: Long): DataFrame = {
    require(budget > 0,
      s"tokenBudgetSelect: budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
    // scratch parquet, not localCheckpoint — the measured 40M cliff
    // (graft.core.Scratch scaladoc)
    val ranged = Scratch.materialize(docs
      .select(Seq(id, quality, nTok).map(col): _*)
      .repartitionByRange(Sampling.numPartitions(docs), col(quality).desc,
        col(id))
      .withColumn("__pid", spark_partition_id()), "budget")
    val offsets = Sampling.prefixOffsets(ranged.groupBy(col("__pid"))
        .agg(sum(col(nTok)).as("__psum")), Nil, col("__pid"), col("__psum"))
      .select(col("__pid"), col("__off"))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn("cum_tokens",
        col("__off") + sum(col(nTok)).over(
          w.partitionBy(col("__pid"))
            .orderBy(col(quality).desc, col(id))
            .rowsBetween(w.unboundedPreceding, 0)))
      .filter(col("cum_tokens") <= budget)
      .select(col(id), col(quality), col(nTok), col("cum_tokens"))
  }
}

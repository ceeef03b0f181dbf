package graft.ops

import graft.core.Scratch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stratified sampling with the reference's *exact-count* semantics
  * (reference: train/common/dataset.py:180-227 — target = int(total * weight)
  * per difficulty stratum), made deterministic and engine-portable via
  * [[Determinism.detHash]] ordering instead of unseeded `random.sample`.
  *
  * Scale notes: the ranking is a single window per stratum — one shuffle on
  * the stratum key. At 100 TB the window sort is bounded per-stratum;
  * skewed strata are handled by AQE skew-split since the subsequent filter
  * is rank-local. For *fraction* (Bernoulli) semantics where exact counts
  * don't matter, prefer [[bernoulli]] which is shuffle-free.
  */
object Sampling {

  /** Exact-count stratified sample: per stratum keep
    * floor(count * fraction) rows, chosen by deterministic-hash order.
    *
    * Plan shape: ONE ordered window per stratum (the rank) plus a
    * broadcast join of the per-stratum counts — the counts relation has
    * one row per stratum, so the second full-data window pass an
    * `count(*) over (partition by stratum)` would cost is replaced by a
    * near-free hash aggregate + broadcast.
    *
    * Kept beside the distributed form as x2's query path (QSampling).
    */
  def stratifiedExact(df: DataFrame, stratum: Column, key: Column,
                      fractions: Map[String, Double]): DataFrame = {
    val fracMap = typedLit(fractions)
    val counts = df.groupBy(stratum.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    df.withColumn("__h", Determinism.detHash(key))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(stratum).orderBy(col("__h"), key)))
      .join(broadcast(counts), stratum === col("__stratum"))
      .withColumn("__frac", coalesce(element_at(fracMap, stratum), lit(0.0)))
      .filter(col("__rn") <= floor(col("__n") * col("__frac")))
      .drop("__h", "__rn", "__stratum", "__n", "__frac")
  }

  /** X1 scale path: the same exact-count stratified sample with NO
    * per-stratum serialization. [[stratifiedExact]]'s single window
    * partitioned by the stratum caps parallelism at the number of strata —
    * 3-5 tasks sorting the entire dataset at 100 TB. Here the global
    * per-stratum rank is assembled from fully-parallel pieces:
    *
    *  1. range-repartition on (hash, key): a total order ACROSS partitions,
    *     so within any stratum, partition i's rows all rank before
    *     partition i+1's;
    *  2. local rank within (stratum, partition) — a window whose partition
    *     count is strata × partitions, full parallelism;
    *  3. rank offset per (stratum, partition) = cumulative counts over
    *     earlier partitions — a strata × partitions row relation, broadcast;
    *  4. global stratum rank = offset + local rank; filter against
    *     floor(stratum_count * fraction) exactly as the window form.
    *
    * Selects the IDENTICAL rows to [[stratifiedExact]] (same (hash, key)
    * total order per stratum — equivalence asserted in SamplingSpec).
    * The ranged relation feeds three consumers (ranks, offsets, totals);
    * a scratch-parquet materialization ([[graft.core.Scratch]]) shares it
    * — replaced localCheckpoint after the 40M-row object-block cliff was
    * measured (§6.3 budgetdiag).
    *
    * Cost shape: a constant-factor overhead (~2× at a 1.5M-row probe,
    * where 5 window tasks of 300k rows are still trivial) traded for
    * per-stratum work that never exceeds one task — the window form's
    * per-stratum sort is a straggler/spill cliff once a stratum outgrows
    * one executor's sort budget, which is the 100-TB regime this exists
    * for. Below that regime, [[stratifiedExact]] is the cheaper choice.
    */
  def stratifiedExactDistributed(df: DataFrame, stratum: Column, key: Column,
                                 fractions: Map[String, Double],
                                 partitions: Int = 0): DataFrame = {
    val fracMap = typedLit(fractions)
    stratifiedDistributedImpl(df, stratum, key, partitions,
      _.withColumn("__frac", coalesce(element_at(fracMap, col("__s")), lit(0.0))))
  }

  /** [[stratifiedExactDistributed]] with the fractions as a RELATION
    * instead of a driver-side map — the form a PLANNER output feeds
    * directly ([[graft.ops.Planners.tokenBudgetMixture]] emits
    * (source, fraction)): the (broadcast, sources-sized) plan join
    * replaces the typedLit map, so nothing is ever collected and the
    * plan→sample composition stays one lazy relation. Strata absent from
    * the plan sample at fraction 0; same selected rows as the map form
    * for equal fractions (asserted in SamplingSpec).
    */
  def stratifiedExactByPlan(df: DataFrame, stratum: Column, key: Column,
                            plan: DataFrame, planStratumCol: String,
                            fractionCol: String = "fraction",
                            partitions: Int = 0): DataFrame = {
    val planSel = plan.select(col(planStratumCol).as("__ps"),
      col(fractionCol).as("__pf"))
    stratifiedDistributedImpl(df, stratum, key, partitions,
      _.join(broadcast(planSel), col("__s") === col("__ps"), "left")
        .withColumn("__frac", coalesce(col("__pf"), lit(0.0)))
        .drop("__ps", "__pf"))
  }

  /** Shared distributed-rank machinery for the two exact-count forms:
    * `attachFrac` appends the per-row `__frac` column (map lookup or plan
    * join) onto the ranked relation carrying `__s`.
    */
  private def stratifiedDistributedImpl(df: DataFrame, stratum: Column,
                                        key: Column, partitions: Int,
                                        attachFrac: DataFrame => DataFrame)
      : DataFrame = {
    val p = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // scratch parquet, not localCheckpoint — the measured 40M cliff
    // (graft.core.Scratch scaladoc)
    val ranged = Scratch.materialize(df.withColumn("__s", stratum)
      .withColumn("__h", Determinism.detHash(key))
      .repartitionByRange(p, col("__h"), key)
      .withColumn("__pid", spark_partition_id()), "strat")
    val totals = ranged.groupBy("__s").agg(count(lit(1)).as("__n"))
    val offsets = ranged.groupBy("__s", "__pid").agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum("__c").over(
        Window.partitionBy("__s").orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__s", "__pid", "__off")
    attachFrac(ranged
        .withColumn("__lrn", row_number().over(
          Window.partitionBy(col("__s"), col("__pid")).orderBy(col("__h"), key)))
        .join(broadcast(offsets), Seq("__s", "__pid"))
        .join(broadcast(totals), Seq("__s")))
      .filter(col("__off") + col("__lrn") <= floor(col("__n") * col("__frac")))
      .drop("__s", "__h", "__pid", "__lrn", "__off", "__n", "__frac")
  }

  /** Shuffle-free Bernoulli sample at `fraction`, deterministic in the key. */
  def bernoulli(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(Determinism.detRand(key) < fraction)

  /** Sampling *with replacement* to hit an exact per-stratum target even when
    * target > available (the reference's `random.choices` fallback,
    * train/common/dataset.py:205-219): each row is replicated
    * ceil(target/n) times then exact-count trimmed.
    */
  def stratifiedWithReplacement(df: DataFrame, stratum: Column, key: Column,
                                targetPerStratum: Map[String, Long]): DataFrame = {
    val tgtMap = typedLit(targetPerStratum)
    // per-stratum sizes via broadcast (one row per stratum), same as
    // stratifiedExact — not a full-data count window
    val counts = df.groupBy(stratum.as("__stratum"))
      .agg(count(lit(1)).as("__n"))
    val exploded = df
      .join(broadcast(counts), stratum === col("__stratum"))
      .withColumn("__tgt", coalesce(element_at(tgtMap, stratum), lit(0L)))
      .withColumn("__copies", ceil(col("__tgt") / col("__n")).cast("int"))
      .withColumn("__rep", explode(sequence(lit(0), greatest(col("__copies") - 1, lit(0)))))
    exploded
      .withColumn("__h", Determinism.detHash(key * lit(7919L) + col("__rep")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(stratum).orderBy(col("__h"), key, col("__rep"))))
      .filter(col("__rn") <= col("__tgt"))
      .drop("__stratum", "__n", "__tgt", "__copies", "__rep", "__h", "__rn")
  }

  /** X15: per-source DOMAIN CAP — keep at most `maxPerSource` rows per
    * `source`, chosen by deterministic hash rank (detHash(key), then key —
    * a stable, seedless uniform draw, the X1 convention), so one crawled
    * domain cannot dominate a training corpus. The row_number window
    * partitions BY SOURCE: per-group sorts of bounded groups, never a
    * corpus-global order. Skewed sources (one domain = half the corpus)
    * are exactly the case the cap exists for; the window sort of that one
    * group is the cost of selecting its N survivors, bounded by the
    * group's own size.
    */
  def domainCap(df: DataFrame, source: Column, key: Column,
                maxPerSource: Int): DataFrame = {
    require(maxPerSource > 0, s"domainCap: cap must be positive, got $maxPerSource")
    df.withColumn("__r", row_number().over(
        Window.partitionBy(source).orderBy(Determinism.detHash(key), key)))
      .filter(col("__r") <= maxPerSource)
      .drop("__r")
  }

  /** X3: deterministic global shuffle — a stable permutation position.
    * Simple form: a global window = every row through ONE task. Use only
    * for driver-bounded inputs; [[shufflePositionDistributed]] computes the
    * identical permutation at scale.
    *
    * Kept as SamplingSpec's reference for that distributed form.
    */
  def shufflePosition(df: DataFrame, key: Column): DataFrame =
    df.withColumn("__h", Determinism.detHash(key))
      .withColumn("pos",
        row_number().over(Window.orderBy(col("__h"), key)).cast("long"))
      .drop("__h")

  /** X3 scale path: the same global rank with NO single-task stage.
    * Range-repartition on (hash, key) gives a total order ACROSS partitions
    * (partition i's rows all sort before partition i+1's); within each
    * partition `monotonically_increasing_id` encodes (partitionId << 33 |
    * localIndex) after the in-partition sort, so the global position is
    * localIndex + the cumulative size of earlier partitions — a tiny
    * (numPartitions-row) offset relation broadcast back. Positions are
    * identical to [[shufflePosition]] regardless of where the range bounds
    * fall because (hash, key) is a total order (`key` must be unique).
    * Requires < 2^33 rows per partition (monotonic-id local-index width).
    */
  def shufflePositionDistributed(df: DataFrame, key: Column,
                                 partitions: Int = 0): DataFrame =
    shufflePositionDistributedBy(df, Determinism.detHash(key), key, partitions)

  /** X14: per-EPOCH deterministic reshuffle — epoch e ranks by the
    * re-seeded hash h_e(k) = detHash(detHash(k) + e), so every epoch is an
    * independent, reproducible permutation of the SAME feed with no data
    * rewrite (the training-loop need: epoch 2 must not replay epoch 1's
    * order, yet any worker recomputing the feed must see the same order).
    * Same no-single-task machinery and unique-key contract as
    * [[shufflePositionDistributed]] (which is exactly epoch-less ranking
    * by detHash(k)); the md5 re-hash decorrelates epochs completely —
    * a +e offset WITHOUT the outer hash would shift ties, not permute.
    */
  def epochShufflePosition(df: DataFrame, key: Column, epoch: Long,
                           partitions: Int = 0): DataFrame =
    shufflePositionDistributedBy(df,
      Determinism.detHash(Determinism.detHash(key) + lit(epoch)), key, partitions)

  /** Generic two-phase distributed rank: `pos` = 1-based position under
    * (`order` ASC, `key` ASC) — the [[shufflePositionDistributed]]
    * machinery with a caller-supplied order column instead of the
    * deterministic hash (for DESC, pass the negated column — exact for
    * doubles). No single-task stage at any size; `key` must be unique.
    * The CCNet perplexity-bucketing path ([[graft.text.TextFunctions]]
    * ccnetBuckets) ranks corpus-wide on this.
    */
  def rankByDistributed(df: DataFrame, order: Column, key: Column,
                        partitions: Int = 0): DataFrame =
    shufflePositionDistributedBy(df, order, key, partitions)

  /** Shared rank machinery: positions by the caller-supplied total order
    * (`hash`, then `key` as tie-break; `key` must be unique).
    */
  private def shufflePositionDistributedBy(df: DataFrame, hash: Column,
                                           key: Column,
                                           partitions: Int): DataFrame = {
    val p = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // Both consumers (the offsets aggregate and the final join) need the
    // ranged+sorted relation. ReuseExchange does NOT unify the two range
    // exchanges (verified on the physical plan: rangepartitioning samples
    // its bounds per instance, so the branches never canonicalize equal),
    // so share one SCRATCH-PARQUET materialization (graft.core.Scratch —
    // replaced localCheckpoint after the 40M-row object-block cliff was
    // measured, §6.3 budgetdiag; also survives executor loss, which
    // unreplicated checkpoint blocks did not). The frozen __mid/__pid/
    // __li values in the files are what make both consuming jobs
    // consistent; positions are deterministic regardless: (__h, key) is
    // a total order.
    val ranged = Scratch.materialize(df.withColumn("__h", hash)
      .repartitionByRange(p, col("__h"), key)
      .sortWithinPartitions(col("__h"), key)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__li", col("__mid").bitwiseAND(lit((1L << 33) - 1))),
      "shuf")
    val offsets = ranged.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("__pid", "__off")
    // pos stays LONG: this is the >2^31-row path; an int cast would wrap
    // positions negative exactly in the regime the function exists for
    ranged.join(broadcast(offsets), "__pid")
      .withColumn("pos", col("__off") + col("__li") + 1)
      .drop("__h", "__mid", "__pid", "__li", "__off")
  }
}

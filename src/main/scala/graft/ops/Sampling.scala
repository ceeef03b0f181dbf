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
    *  1. bucket = the top bits of the rank hash ([[hashBucketed]]): the
    *     hash is uniform on [0, 2^60), so the bucket is a balanced range
    *     bucket of the (hash, key) order with no bound-sampling pass —
    *     every row of bucket b ranks before every row of bucket b+1;
    *  2. local rank within (stratum, bucket) — a window whose partition
    *     count is strata × buckets, full parallelism;
    *  3. one (stratum, bucket) count aggregate gives the rows of earlier
    *     buckets (the rank offset) and the stratum total
    *     ([[bucketCounts]]) — a strata × buckets row relation, broadcast;
    *  4. a row is kept iff offset + local rank ≤ floor(stratum_count ×
    *     fraction), exactly as the window form.
    *
    * Selects the IDENTICAL rows to [[stratifiedExact]] (same (hash, key)
    * total order per stratum — equivalence asserted in SamplingSpec).
    * The bucket is a pure function of the row, so the two consumers of
    * the bucketed relation (the counts and the ranks) agree without a
    * materialization between them.
    *
    * Cost shape: a constant-factor overhead (the relation is read by two
    * branches) traded for per-stratum work that never exceeds one task —
    * the window form's per-stratum sort is a straggler/spill cliff once a
    * stratum outgrows one executor's sort budget, which is the 100-TB
    * regime this exists for. Below that regime, [[stratifiedExact]] is the
    * cheaper choice.
    */
  def stratifiedExactDistributed(df: DataFrame, stratum: Column, key: Column,
                                 fractions: Map[String, Double]): DataFrame =
    stratifiedDistributedImpl(df, stratum, key, fracOf(fractions))

  /** [[stratifiedExactDistributed]] with the fractions as a RELATION
    * instead of a driver-side map — the form a PLANNER output feeds
    * directly ([[graft.ops.Planners.tokenBudgetMixture]] emits
    * (source, fraction)): the (broadcast, sources-sized) plan join onto
    * the bucket-count relation replaces the typedLit map, so nothing is
    * ever collected and the plan→sample composition stays one lazy
    * relation. Strata absent from the plan sample at fraction 0; same
    * selected rows as the map form for equal fractions (asserted in
    * SamplingSpec).
    */
  def stratifiedExactByPlan(df: DataFrame, stratum: Column, key: Column,
                            plan: DataFrame, planStratumCol: String,
                            fractionCol: String = "fraction"): DataFrame = {
    val planSel = plan.select(col(planStratumCol).as("__ps"),
      col(fractionCol).as("__pf"))
    stratifiedDistributedImpl(df, stratum, key,
      _.join(broadcast(planSel), col("__s") === col("__ps"), "left")
        .withColumn("__frac", coalesce(col("__pf"), lit(0.0)))
        .drop("__ps", "__pf"))
  }

  /** [[stratifiedExactDistributed]] followed by [[shufflePositionDistributed]]
    * on the same key, from ONE bucket aggregate: both order by
    * detHash(key), so the kept rows of (stratum, bucket) are
    * clamp(limit − offset, 0, count) and the position of a kept row is the
    * kept rows of earlier buckets plus its rank among the kept rows of its
    * bucket. One explicit hash partitioning on the bucket serves both
    * windows. Rows and positions are identical to the two-step form
    * (asserted in SamplingSpec); `key` must be unique.
    */
  def stratifiedShufflePosition(df: DataFrame, stratum: Column, key: Column,
                                fractions: Map[String, Double]): DataFrame = {
    val bucketed = hashBucketed(df, stratum, Determinism.detHash(key))
    val kept = keptCounts(bucketed, fracOf(fractions))
      // kept rows of every stratum in earlier buckets: a window over the
      // one-partition count relation, never over the data
      .withColumn("__poff", coalesce(sum("__k").over(Window.orderBy("__b")
        .rangeBetween(Window.unboundedPreceding, -1)), lit(0L)))
    keptRows(bucketed, key, kept)
      .withColumn("pos", col("__poff") + row_number().over(
        Window.partitionBy("__b").orderBy(col("__h"), key)))
      .drop("__s", "__h", "__b", "__lrn", "__k", "__poff")
  }

  /** Shared hash-bucket machinery for the two exact-count forms:
    * `attachFrac` appends the per-stratum `__frac` column (map lookup or
    * plan join) onto the (stratum, bucket) count relation.
    */
  private def stratifiedDistributedImpl(df: DataFrame, stratum: Column,
                                        key: Column,
                                        attachFrac: DataFrame => DataFrame)
      : DataFrame = {
    val bucketed = hashBucketed(df, stratum, Determinism.detHash(key))
    keptRows(bucketed, key, keptCounts(bucketed, attachFrac))
      .drop("__s", "__h", "__b", "__lrn", "__k")
  }

  /** `attachFrac` for a driver-side fraction map (absent strata: 0). */
  private def fracOf(fractions: Map[String, Double]): DataFrame => DataFrame = {
    val fracMap = typedLit(fractions)
    _.withColumn("__frac", coalesce(element_at(fracMap, col("__s")), lit(0.0)))
  }

  /** Per (stratum, bucket), `__k`: the rows that rank within the
    * stratum's first floor(n × fraction) — clamp(limit − `__off`, 0,
    * `__c`).
    */
  private def keptCounts(bucketed: DataFrame,
                         attachFrac: DataFrame => DataFrame): DataFrame =
    attachFrac(bucketCounts(bucketed))
      .select(col("__s"), col("__b"), least(greatest(
        floor(col("__n") * col("__frac")) - col("__off"), lit(0L)),
        col("__c")).as("__k"))

  /** `bucketed`'s rows that rank within their bucket's kept count `__k`
    * (`kept` carries it per (stratum, bucket), plus any columns the
    * caller adds there), with their local rank `__lrn`.
    */
  private def keptRows(bucketed: DataFrame, key: Column,
                       kept: DataFrame): DataFrame =
    localRank(bucketed, key)
      .join(broadcast(kept), Seq("__s", "__b"))
      .filter(col("__lrn") <= col("__k"))

  /** Every distributed form's partition count: the input session's. */
  private[ops] def numPartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** log2 of the bucket count for `p` partitions: 2^(⌈log₂ p⌉ + 3)
    * buckets, eight or more per partition, so hashing buckets onto p
    * partitions stays balanced.
    */
  private def bucketBits(p: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.max(p, 1) - 1) + 3

  /** `df` with `__s` (stratum), `__h` (the rank hash, uniform on
    * [0, 2^60) — [[Determinism.detHash]] or a re-hash of it) and `__b`, the
    * hash's top [[bucketBits]] bits. The bucket is monotone in the hash,
    * so bucket order is (hash, key) order at bucket granularity — an
    * exact, balanced range bucket found without sampling bounds or
    * materializing anything. A null key hashes to null, which sorts first
    * in the window forms: its bucket is −1.
    */
  private def hashBucketed(df: DataFrame, stratum: Column,
                           hash: Column): DataFrame =
    df.withColumn("__s", stratum).withColumn("__h", hash)
      .withColumn("__b", coalesce(shiftright(col("__h"),
        60 - bucketBits(numPartitions(df))), lit(-1L)))

  /** `__lrn`: the rank within (stratum, bucket) by (hash, key), over ONE
    * hash partitioning on the bucket (p partitions) — which also serves
    * any later window keyed by the bucket alone.
    */
  private def localRank(bucketed: DataFrame, key: Column): DataFrame =
    bucketed.repartition(numPartitions(bucketed), col("__b"))
      .withColumn("__lrn", row_number().over(
        Window.partitionBy("__s", "__b").orderBy(col("__h"), key)))

  /** One row per (`__s`, `__b`) of a bucketed relation: `__c` rows, and
    * from [[prefixOffsets]] `__off` (rows of the stratum in earlier
    * buckets) and `__n` (rows of the stratum).
    */
  private def bucketCounts(bucketed: DataFrame): DataFrame =
    prefixOffsets(bucketed.groupBy("__s", "__b").agg(count(lit(1)).as("__c")),
      Seq(col("__s")), col("__b"), col("__c"))

  /** The offset arithmetic of every two-phase distributed rank and cumsum
    * (these forms and [[graft.ops.Planners]]' pack and budget forms): over
    * `agg`, one row per (strata, bucket) with a per-bucket total `value`,
    * adds `__off` — the stratum's total over earlier buckets — and `__n` —
    * the stratum's total. `agg` has strata × buckets rows, so it moves to
    * ONE partition once, and both windows run there with no exchange of
    * their own; the aggregate before that move stays parallel.
    */
  private[ops] def prefixOffsets(agg: DataFrame, strata: Seq[Column],
                                 bucket: Column, value: Column): DataFrame = {
    val w = Window.partitionBy(strata: _*).orderBy(bucket)
    agg.repartition(1, strata: _*)
      .withColumn("__off", coalesce(sum(value).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(value).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** `pos` = `__off` + `__lrn`: `ranked` is `bucketed` with a local rank
    * `__lrn`; the offsets come from `bucketed`'s counts (aggregated before
    * any exchange of `ranked`, so the count is partial map-side). The
    * bucket columns are dropped.
    */
  private def positions(bucketed: DataFrame, ranked: DataFrame): DataFrame =
    ranked.join(broadcast(bucketCounts(bucketed).select("__s", "__b", "__off")),
        Seq("__s", "__b"))
      .withColumn("pos", col("__off") + col("__lrn"))
      .drop("__s", "__h", "__b", "__lrn", "__off")

  /** Positions under (`hash`, `key`) for a hash uniform on [0, 2^60). */
  private def hashPositions(df: DataFrame, hash: Column,
                            key: Column): DataFrame = {
    val bucketed = hashBucketed(df, lit(0), hash)
    positions(bucketed, localRank(bucketed, key))
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

  /** X3 scale path: the same global rank with NO single-task stage.
    * The hash's top bits bucket the rows ([[hashBucketed]]; bucket i's
    * rows all sort before bucket i+1's), each row's rank within its
    * bucket is a bucket-partitioned window, and the global position is
    * that rank plus the row count of earlier buckets — a tiny
    * (buckets-row) offset relation broadcast back. Positions are
    * identical to the single global window `row_number() over (order by
    * detHash(key), key)` (`SamplingSpec.shufflePosition`, its executable
    * specification) because (hash, key) is a total order (`key` must be
    * unique).
    */
  def shufflePositionDistributed(df: DataFrame, key: Column): DataFrame =
    hashPositions(df, Determinism.detHash(key), key)

  /** X14: per-EPOCH deterministic reshuffle — epoch e ranks by the
    * re-seeded hash h_e(k) = detHash(detHash(k) + e), so every epoch is an
    * independent, reproducible permutation of the SAME feed with no data
    * rewrite (the training-loop need: epoch 2 must not replay epoch 1's
    * order, yet any worker recomputing the feed must see the same order).
    * Same hash-bucket machinery and unique-key contract as
    * [[shufflePositionDistributed]] (which is exactly epoch-less ranking
    * by detHash(k)) — h_e is a detHash, so it is uniform on [0, 2^60)
    * too; the md5 re-hash decorrelates epochs completely — a +e offset
    * WITHOUT the outer hash would shift ties, not permute.
    */
  def epochShufflePosition(df: DataFrame, key: Column,
                           epoch: Long): DataFrame =
    hashPositions(df, Determinism.detHash(Determinism.detHash(key) + lit(epoch)),
      key)

  /** Generic two-phase distributed rank: `pos` = 1-based position under
    * (`order` ASC, `key` ASC), with a caller-supplied order column instead
    * of the deterministic hash (for DESC, pass the negated column — exact
    * for doubles). No single-task stage at any size; `key` must be unique.
    * The CCNet perplexity-bucketing path ([[graft.text.TextFunctions]]
    * ccnetBuckets) ranks corpus-wide on this.
    *
    * An order from data is not uniform, so its buckets are range
    * partitions: range-repartition on (order, key), and the bucket is the
    * partition id, the local rank the in-partition index that
    * `monotonically_increasing_id` encodes (partitionId << 33 | index)
    * after the in-partition sort (< 2^33 rows per partition). The offset
    * arithmetic is the hash forms' ([[positions]]). Range bounds are
    * sampled per exchange instance, so the two consumers (the offsets
    * aggregate and the final join) share one SCRATCH-PARQUET
    * materialization ([[graft.core.Scratch]] — not localCheckpoint, after
    * the 40M-row object-block cliff, §6.3 budgetdiag), whose frozen ids
    * make both see the same partitions.
    */
  def rankByDistributed(df: DataFrame, order: Column,
                        key: Column): DataFrame = {
    val ranged = Scratch.materialize(df.withColumn("__h", order)
      .repartitionByRange(numPartitions(df), col("__h"), key)
      .sortWithinPartitions(col("__h"), key)
      .withColumn("__mid", monotonically_increasing_id()), "shuf")
    // pos stays LONG: this is the >2^31-row path; an int cast would wrap
    // positions negative exactly in the regime the function exists for
    val bucketed = ranged
      .withColumn("__s", lit(0))
      .withColumn("__b", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__lrn", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
      .drop("__mid")
    positions(bucketed, bucketed)
  }
}

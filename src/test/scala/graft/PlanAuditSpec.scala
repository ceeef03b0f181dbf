package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: the properties that make these queries viable at
  * 100 TB, asserted on the optimized plans so a regression fails the suite
  * instead of surfacing as a cluster incident. (`.explain` discipline from
  * the build brief, made executable.)
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("s1_scan: filter and projection reach the parquet source") {
    val p = plan("s1_scan")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema: only the 3 selected columns are read
    assert(!p.contains("l_shipdate"), p)
  }

  test("j6_broadcast: small dimension is broadcast, not shuffled") {
    assert(plan("j6_broadcast").contains("BroadcastHashJoin"))
  }

  test("j7_range_join: equi-join with residual, never a nested-loop plan") {
    val p = plan("j7_range_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("a2_group_count: partial (map-side) aggregation before the shuffle") {
    // two HashAggregate operators: partial_count then final count
    val p = plan("a2_group_count")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial_count"), p)
  }

  test("d2_lsh_buckets / d4_ngram_jaccard: banding and inverted index are equi-joins, no products") {
    Seq("d2_lsh_buckets", "d4_ngram_jaccard", "v4_lsh_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("tx_fingerprint: scalar text expressions stay inside codegen stages") {
    // regexp_replace/trim/lower/md5 are codegen'd ('*(n)' stage markers).
    // Note: higher-order array functions (filter/transform lambdas, e.g. in
    // tx_tokens) are CodegenFallback in Spark and evaluate interpreted —
    // a known engine limitation, not a plan regression.
    val p = plan("tx_fingerprint")
    assert(p.contains("*(1)"), p)
  }

  test("p10_url_parse: URL canonicalization is one map-only codegen stage — no exchange, no UDF") {
    val p = plan("p10_url_parse")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // regex host/domain extraction rides whole-stage codegen
    assert(p.contains("*(1)"), p)
  }

  test("tx_domain_gate: the deny list broadcasts — the gate is a map-side anti-join") {
    val p = plan("tx_domain_gate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // the corpus side never sort-merge-joins against the list-sized deny
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sweep: no unintentional product joins anywhere in the query surface") {
    // Queries where a product is BY DESIGN (bounded side, deliberate):
    //  - j8_cross: the cross-join operator itself
    //  - v1/v3: brute-force ANN baselines (broadcast NL against a bounded
    //    query/id set is the point)
    //  - v5/v6: centroid assignment/probing cross-joins the tiny
    //    centroid set
    // (d2_*/d5 used to fan out 8 seeds via a broadcast NL join; the
    // k-column aggregate form has no product at all.)
    //  - v7: recall evaluation embeds the brute-force baseline by design
    //  - v8: same tiny-centroid assignment cross-join as v5/v6
    //  - tx_tfidf / tx_pmi / x10 / x11: broadcast of one-row corpus-total
    //    aggregates
    //  - v9: k-means recall harness — brute baseline + tiny-centroid
    //    assignment crosses, both by design
    //  - v12: recall evaluation embeds the v1 brute-force baseline by
    //    design (the ADC side itself is equi-join only)
    //  - v14: v13's tiny-centroid crosses (corpus cell assignment + query
    //    probe ranking), twice — once more for the residual encoding; the
    //    code joins stay equi on (ivf_cell, sub, cell)
    //  - v15: the same tiny-centroid crosses as v13 (shard cell assignment
    //    at append time + query probe ranking against the frozen centroids)
    //  - v16: v8's tiny-centroid assignment cross, twice (index build +
    //    shard assignment against the frozen centroids); the pair joins
    //    themselves stay equi on cell
    val intentional = Set("j8_cross", "v1_cosine_topk", "v3_cosine_neardup",
      "v5_ivf_topk", "v6_ivf_nprobe", "v7_lsh_recall", "v8_semantic_dedup",
      "v9_kmeans_recall", "v12_pq_adc_recall", "v13_ivfpq_topk",
      "v14_ivfpq_residual_topk", "v15_ivfpq_append_topk",
      "v16_incremental_semantic",
      // v17: v8's tiny-centroid assignment cross again (occupancy is an
      // aggregate over the same assignment relation)
      "v17_cell_occupancy",
      // v18: the same tiny-centroid assignment cross (prototypicality is
      // a window over the assignment relation; the centroid re-join for
      // scoring is equi on cell)
      "v18_prototypicality",
      // v19: v5's tiny-centroid assignment cross (hard negatives probe
      // the query's cell; the candidate join stays equi on cell)
      "v19_hard_negatives",
      // v21: the same tiny-centroid assignment cross, both sides
      "v21_semantic_contamination",
      // v20: bounded-id all-pairs distortion measurement — the BNLJ over
      // 48 vectors is the point (the projection itself is a pure map)
      "v20_jl_distortion",
      "tx_tfidf", "tx_pmi", "x10_mixture_plan", "x11_temperature_mix",
      // tx_lm_score: tx_pmi's one-row broadcast cross (the vocabulary
      // scalar); the count joins stay equi on bigram/prefix
      "tx_lm_score",
      // x18: embeds x10's plan (the one-row broadcast normalizer cross);
      // the sampler itself joins equi on (stratum, pid) / broadcast plan
      "x18_mixture_counts",
      // v22: one-row broadcast crosses attaching the corpus/live-table
      // n_vecs aggregate to each regime's one-row fixed-point mean
      "v22_refresh_drift",
      // v23: the stale regime re-derives the tiny-centroid assignment
      // cross in memory (v8's pattern); the refreshed regime reads the
      // swapped table with an equi-join on cell
      "v23_semantic_refresh",
      // x20/x21: DSIR's two one-row broadcast crosses — the N_t/N_r
      // totals over the B-row model, and the λ-map scoring cross (the
      // tx_lm_score vocabulary pattern); nothing doc-keyed shuffles
      "x20_dsir_weights", "x21_dsir_sample",
      // BPE: each of the 8 merge rounds crosses the vocab relation with
      // the one-row argmax winner (broadcast); vocab-sized, never the
      // corpus
      "tx_bpe_merges", "tx_bpe_doc_tokens",
      // KN scoring: the one-row type total rides the same broadcast
      // cross as tx_lm_score's vocabulary (TextFunctions.lmScoresKn
      // attaches tt the same way at orders 2 and 3)
      "tx_lm_kn", "tx_lm_kn3",
      // CCNet buckets: the type-total AND corpus-count one-row crosses
      "tx_ccnet_buckets",
      // trigram CCNet: the same two one-row crosses (trigram pair-type
      // total in the scorer + corpus count in the tercile cut)
      "tx_ccnet_kn3",
      // the cutoff export rides the same chain plus one more one-row
      // count cross for the boundary positions
      "tx_ccnet_cut",
      // order-5 KN: the identical one-row type-total broadcast cross
      // (TextFunctions.scoreKn attaches tt the same way at every
      // order); all count joins stay equi on the w1..w5 tails
      "tx_ccnet_kn5")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val p = try plan(q) catch { case e: Throwable => s"PLAN_FAIL ${e.getMessage}" }
      val bad = (p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin")) && !intentional(q)
      if (bad || p.startsWith("PLAN_FAIL")) Some(q) else None
    }
    assert(offenders.isEmpty, s"unexpected product/failed plans: $offenders")
  }

  test("d13 banding: fingerprint → bands is exchange-free (pure projection + explode)") {
    import spark.implicits._
    val imgs = Seq((1L, Seq(200, 150, 100, 50))).toDF("doc_id", "grays")
      .select(col("doc_id"),
        graft.multimodal.Multimodal.bmpImageRows(lit(5), col("grays"))
          .as("content"))
    val hashes = graft.multimodal.Multimodal.imageDHashById(
      imgs, col("doc_id"), col("content"), 4)
    val banded = graft.dedup.Dedup.fingerprintBands(
      hashes, col("doc_id"), col("dhash"), 4, 2)
    // the signature stage of image dedup must add NO shuffle on top of the
    // decode edge — banding is projection + explode, exactly like the
    // MinHash kernel's shuffle-free signature stage
    val p = banded.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("d9: the new×new half is the collect/explode pair generator, not a (band, band_sig) self-join") {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = SparkEntry.queries("d9_incremental_dedup")(spark, sf0001)
      .queryExecution.sparkPlan
    // the one inner join on the bucket key is new×index; a second would
    // be the shard joined to itself
    val bandJoins = p.collect {
      case j: BaseJoinExec if j.joinType == Inner &&
          j.leftKeys.exists(_.references.exists(_.name == "band_sig")) => j
    }
    assert(bandJoins.size === 1, p.toString)
    assert(p.toString.contains("collect_list"), p.toString)
  }

  test("d12_decontaminated_keep: eval side broadcasts; train side never sort-merge-joins") {
    // the decontamination scale contract: the eval gram set (benchmark-
    // sized) reaches the train side as a BROADCAST semi-join, and the
    // kept-corpus anti-join is also broadcast (contaminated ids are
    // bounded by the eval set's reach) — a SortMergeJoin anywhere here
    // would mean the corpus-sized side is being shuffled for membership
    // tests against benchmark-sized relations
    val p = plan("d12_decontaminated_keep")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).nonEmpty, p)
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the doc_id >= 50 split reaches the parquet source on both branches
    assert(p.contains("GreaterThanOrEqual(doc_id,50)"), p)
  }

  test("d8c_contamination_report: eval grams broadcast; train grams never shuffle for membership") {
    // the flipped-orientation decontamination contract: the eval gram
    // relation (benchmark-sized, id-keyed) is the BROADCAST side of the
    // inner join; the corpus-sized train gram stream stays map-side. A
    // SortMergeJoin on the GRAM key would shuffle the whole train corpus
    // to score a benchmark — the final totals⟗shared outer join on
    // eval_doc is benchmark-bounded on both sides and may plan as SMJ
    val p = plan("d8c_contamination_report")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("SortMergeJoin \\[g#".r.findFirstIn(p).isEmpty, p)
  }

  test("trainingFeed (distributed): every global window runs over a bounded aggregate, never the feed") {
    // audited on the OPTIMIZED LOGICAL plan: AQE wraps the physical plan in
    // AdaptiveSparkPlanExec (a leaf to collect()), and the logical Window /
    // Aggregate shape is what determines the single-task funnel anyway
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
    import spark.implicits._
    val rows = for {
      i <- 1 to 30
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val profile = Map("easy" -> 0.5, "medium" -> 0.5, "hard" -> 0.5)
    // a global (empty-partition-spec) window is bounded iff its input is an
    // aggregate BEFORE any join or raw scan — e.g. the numPartitions-row
    // offsets relation of shufflePositionDistributed, never the feed itself
    def boundedInput(p: LogicalPlan): Boolean = p match {
      case _: Aggregate                 => true
      case j if j.children.length > 1   => false // join below the window: full data
      case l if l.children.isEmpty      => false // raw scan below the window
      case other                        => other.children.forall(boundedInput)
    }
    val feed = graft.pipelines.Pipelines.trainingFeed(manifest, profile)
    val globals = feed.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    globals.foreach { w =>
      assert(boundedInput(w.child),
        s"single-task window over unbounded input:\n$w")
    }
    // discriminating power: the window form DOES funnel the feed through
    // one task (this is exactly what the assert above rejects)
    import graft.ops.Sampling
    val winForm = graft.ops.SamplingSpec.shufflePosition(
      Sampling.stratifiedExact(graft.pipelines.Pipelines.feedTriplets(manifest),
        col("difficulty"), xxhash64(col("stem")), profile),
      xxhash64(col("stem")))
    val offending = winForm.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !boundedInput(w.child) => w
    }
    assert(offending.nonEmpty,
      "expected the non-distributed form to contain a full-feed global window")
  }

  test("x1_stratified_exact: the bucket exchange takes the session's shuffle partitions") {
    // the distributed forms have no partition argument: a session with 8
    // shuffle partitions (the suite's has 4) must hash the ranks on the
    // hash bucket into 8 partitions
    val s8 = spark.newSession()
    s8.conf.set("spark.sql.shuffle.partitions", "8")
    val p = SparkEntry.queries("x1_stratified_exact")(s8, sf0001)
      .queryExecution.executedPlan.toString
    assert("""Exchange hashpartitioning\(__b#\d+L?, 8\)""".r.findFirstIn(p).nonEmpty, p)
  }

  test("sweep: every unpartitioned window on the board runs over a provably bounded relation") {
    // The board-wide twin of the trainingFeed bounded-window audit: a
    // global (empty-partition-spec) window serializes its whole input
    // through ONE task, so it is only admissible over a relation that is
    // bounded by construction — an aggregate's output (group-count rows)
    // or the numPartitions-row offset relations of the distributed-rank
    // shape. WindowExec's "No Partition Defined" warning is silenced in
    // Bench on the strength of THIS assertion: any new unbounded global
    // window fails the suite instead of scrolling past in a log tail.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan, Window => LWindow}
    def boundedInput(p: LogicalPlan): Boolean = p match {
      case _: Aggregate                 => true
      case _: GlobalLimit               => true // top-k: at most k rows
      case j if j.children.length > 1   => false // join below the window: full data
      case l if l.children.isEmpty      => false // raw scan below the window
      case other                        => other.children.forall(boundedInput)
    }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      try {
        val plan = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.optimizedPlan
        val bad = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && !boundedInput(w.child) => w
        }
        if (bad.isEmpty) None else Some(s"$q (${bad.size} unbounded)")
      } catch { case e: Throwable => Some(s"$q PLAN_FAIL ${e.getMessage.take(120)}") }
    }
    assert(offenders.isEmpty,
      s"global windows over unbounded input: $offenders")
  }

  test("s13_partition_prune: the partition filter prunes directories at planning time") {
    val p = plan("s13_partition_prune")
    // the filter must land in PartitionFilters (directory pruning), not in
    // PushedFilters/post-scan Filter (row-level evaluation after listing)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderpriority"), p)
    assert(pf.contains("1-URGENT"), p)
  }

  test("d3_simhash / d2_minhash: shuffle-free signature stage (kernel + posexplode)") {
    Seq("d3_simhash", "d2_minhash").foreach { q =>
      val p = plan(q)
      // scan -> kernel projection -> posexplode; NO exchange: the native
      // kernels compute per-document signatures inside the projection
      // (the old plans shuffled (doc, token) rows into a hash aggregate;
      // the round-1 plan even exploded a 1..32 sequence per token)
      assert(p.contains("Generate posexplode"), s"$q:\n$p")
      assert(!p.contains("Exchange"), s"$q should have no shuffle:\n$p")
    }
  }

  test("d5_lsh_verify: verify is one row per pair: no gram Generate, no pair aggregate, no gram-row broadcast") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // audited on the pre-AQE physical plan (the join strategies and build
    // sides are chosen there; AQE's plan is a leaf to collect())
    def offences(p: SparkPlan): Seq[String] =
      p.collect {
        case g: GenerateExec => s"Generate ${g.generator}"
        case a: BaseAggregateExec if a.groupingExpressions
            .flatMap(_.references.map(_.name)).toSet == Set("doc_a", "doc_b") =>
          "aggregate keyed by (doc_a, doc_b)"
        case j: BroadcastHashJoinExec
            if (if (j.buildSide == BuildLeft) j.left else j.right)
              .exists(_.isInstanceOf[GenerateExec]) =>
          "broadcast build side over gram rows"
      }
    val d5 = SparkEntry.queries("d5_lsh_verify")(spark, sf0001).queryExecution.sparkPlan
    assert(offences(d5).isEmpty, d5.toString)
    // negative controls: the exploded-join reference, and a hinted
    // broadcast of gram rows
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val cands = graft.dedup.Dedup.lshCandidatePairsAuto(docs, col("doc_id"),
      col("text"), 8, 4)
    val ref = graft.dedup.ExplodedVerify(docs, cands, col("doc_id"), col("text"), 3, 0.3)
      .queryExecution.sparkPlan
    assert(offences(ref).exists(_.startsWith("Generate")), ref.toString)
    assert(offences(ref).contains("aggregate keyed by (doc_a, doc_b)"), ref.toString)
    val gramRows = docs.select(col("doc_id").as("doc_b"),
      explode(graft.text.TextFunctions.distinctCharNgrams(col("text"), 3)).as("g"))
    val hinted = cands.join(broadcast(gramRows), "doc_b").queryExecution.sparkPlan
    assert(offences(hinted).contains("broadcast build side over gram rows"), hinted.toString)
  }

  test("d5_lsh_verify: the executed plan evaluates graft_gram_overlap exactly once") {
    import graft.functions.{GramOverlapExpr, GramSetExpr}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graftshim.ColumnShim
    // occurrences of the merge over every node of the final (post-AQE)
    // plan: filters pushed into a join condition would each carry a copy
    def merges(df: DataFrame): Int = {
      df.collect()
      new AdaptiveSparkPlanHelper {}.flatMap(df.queryExecution.executedPlan)(
        _.expressions.flatMap(_.collect { case g: GramOverlapExpr => g })).size
    }
    assert(merges(SparkEntry.queries("d5_lsh_verify")(spark, sf0001)) === 1)
    // control: the same shape without the EvalOnce barrier, a merge
    // projected over a join and two filters on it, merges more than once
    val sets = spark.range(3).select(col("id").as("k"),
      ColumnShim.column(GramSetExpr(ColumnShim.expression(
        concat(lit("abcd"), col("id").cast("string"))), 3)).as("g"))
    def shape(once: Boolean) = {
      val m = ColumnShim.column(GramOverlapExpr(
        ColumnShim.expression(col("x.g")), ColumnShim.expression(col("y.g"))))
      sets.as("x").join(sets.as("y"), "k")
        .select((if (once) graft.functions.EvalOnce(m) else m).as("inter"))
        .filter(col("inter") > 0).filter(col("inter") < 9)
    }
    assert(merges(shape(once = false)) > 1)
    assert(merges(shape(once = true)) === 1)
  }

  test("dedupCorpus: a caller's filter on its output reads the exact-dedup scratch, scrub or not") {
    import graft.pipelines.Pipelines
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // the scrub's EvalOnce projection lets no filter pass; the pipeline
    // writes the exact-dedup survivors to a scratch before it returns, so
    // a filter on the returned corpus was never pushed past that write:
    // it reaches the scratch scan in both forms
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    Seq(0, 3).foreach { scrub =>
      val out = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        lineScrubDf = scrub).filter(col("doc_id") > 20)
      out.collect()
      val scans = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s }
      assert(scans.exists(s => s.dataFilters.exists(_.toString.contains("doc_id")) &&
        s.relation.location.rootPaths.exists(_.toString.contains("graft_dedup_exact"))),
        s"lineScrubDf=$scrub: ${out.queryExecution.executedPlan}")
    }
  }

  test("dedupCorpusStages: under preClean the quality gate strips markup once") {
    import graft.pipelines.Pipelines
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    // the gate's score reads its text three times: a filter pushed through
    // the pre-clean projection would strip (and redact) once per read
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val gate = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
      preClean = true).toMap.apply("quality_gate")
    val plan = gate.queryExecution.optimizedPlan
    val strips = plan.flatMap(_.expressions.flatMap(_.collect {
      case r: RegExpReplace if r.regexp.foldable &&
          String.valueOf(r.regexp.eval()) == "<[^>]+>" => r
    }))
    assert(strips.size === 1, plan)
  }
}

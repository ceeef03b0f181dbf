package graft.tools

import graft.SparkEntry
import graft.ann.Vectors
import graft.core.{Bucketing, GraftSession, Scratch}
import graft.dedup.Dedup
import graft.ops.{Planners, Sampling}
import graft.pipelines.Pipelines
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Dev probe runner: single-query timing and plans, dumped plans for the
  * board, and named scale sections that find the cliffs the sf0.1 bench
  * cannot see. Not part of the correctness gate.
  *
  * Usage (`runMain graft.tools.Probe ...`):
  * {{{
  *   query    <sfDir> <name> [--explain] [--times N]
  *   plans    <sfDir> <outDir> <suffix> <q1,q2,...|all>
  *   sections <sfDir> <s1,s2,...> [--copies N]
  * }}}
  *  - `query` times a board query (or an internal relation: `lshpairs`,
  *    `d23weights`) N times with the checksum force; run 1 includes
  *    codegen/JIT warm-up. `--explain` prints the formatted plan first.
  *    `tools/ab.py --probe` runs it in alternating base/change pairs.
  *  - `plans` writes `<outDir>/<query>_<suffix>.txt` formatted plans in
  *    one JVM (a per-query run pays ~20 s of JVM + session boot).
  *  - `sections` runs the named sections in the given order; an unknown
  *    name fails before the session starts and lists the known ones.
  *    `--copies` overrides the copy factor of the sections that amplify
  *    the sf tables (each section's comment gives its default in
  *    brackets); the two-scale sections run at copies/10 and copies so
  *    the scaling exponent reads off the ratio.
  *
  * `SPARK_GRAFT_CPUS` (default 32) sizes `local[n]` and the shuffle
  * partitions. The 10M-doc decades (`lm`, `verify`, `exactdedup`) and the
  * 100× feed need a 48g driver heap (`SPARK_DRIVER_MEM=48g`): the probe
  * pins its amplified inputs.
  */
object Probe {

  /** What a section sees: the session, the sf tables, the one amplify. */
  final class Ctx(val spark: SparkSession, val sfDir: String, val cpus: Int,
                  copiesArg: Option[Int]) {
    def copies(default: Int): Int = copiesArg.getOrElse(default)

    def table(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")

    /** `n` copies of `df`, copy c's `idCol` shifted by c·shift. Copies are
      * EXACT by default — dedup's worst case (every doc gains n-1 exact
      * twins, so pair cliques grow quadratically in n). `vary` rewrites
      * one column per copy from the copy index instead (see [[variedText]],
      * [[rotatedEmbedding]]): each copy-space then replicates the source's
      * near-dup structure, so every stage's input grows linearly, as a
      * really bigger corpus does. `parts > 0` repartitions after the cross
      * join: a one-file source otherwise leaves the whole amplified map
      * side on 1-2 input tasks.
      */
    def amplify(df: DataFrame, idCol: String, n: Int, shift: Long,
                parts: Int = 0,
                vary: Option[(String, Column => Column)] = None): DataFrame = {
      val k = spark.range(0, n).toDF("__copy")
      val shifted = df.crossJoin(broadcast(k))
        .withColumn(idCol, col(idCol) + col("__copy") * shift)
      val varied = vary.fold(shifted) { case (c, f) =>
        shifted.withColumn(c, f(col("__copy"))) }
        .drop("__copy")
      if (parts > 0) varied.repartition(parts) else varied
    }
  }

  /** Copy c's text gets a " copyC" suffix. */
  val variedText: (String, Column => Column) =
    "text" -> (k => concat(col("text"), lit(" copy"), k))

  /** Copy c's embedding is rotated by a copy-keyed ±5 per-dim offset
    * (values are ~N(0,1)), so cross-copy cosines stay low. */
  val rotatedEmbedding: (String, Column => Column) =
    "embedding" -> (k => transform(col("embedding"),
      (x, i) => x + sin((i + 1).cast("double") * (k + 1)) * lit(5.0)))

  def time[A](name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[probe] $name: $s%.3f s")
    (r, s)
  }

  /** Force every output column with Bench's checksum shape: a bare count
    * lets Catalyst prune the projections under test. bit_xor, not sum —
    * ANSI mode overflows on summed hashes. */
  def force(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("__h"))
      .agg(bit_xor(col("__h"))).collect(): Unit

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }

  /** Internal relations the query surface materializes eagerly while it
    * builds a DataFrame (the candidate chain's localCheckpoint / scratch
    * stages), so they never show in a declared query's tail plan. */
  private val relations: Map[String, DataFrame => DataFrame] = Map(
    // the d5/d7-family candidate-pair relation
    "lshpairs" -> (docs =>
      Dedup.lshCandidatePairsAuto(docs, col("doc_id"), col("text"), 8, 4)),
    // the order-2 CCNet Against chain (fitKn on lang='en' + scoreKn):
    // tx_ccnet_buckets ranks it over a scratch read, so its dump never
    // shows the chain
    "ccnet2" -> (docs => graft.queries.QText.ccnetScores(docs, 2)),
    // the d23 TF-IDF unit-weight relation
    "d23weights" -> (docs =>
      Dedup.tfidfUnitWeights(
        docs.select(col("doc_id"),
            TextFunctions.tokens(col("text")).as("__toks"))
          .filter(size(col("__toks")) >= 3),
        col("doc_id"), TextFunctions.wordNgramsFromTokens(col("__toks"), 3))))

  // ---------------------------------------------------------------- sections

  /** The registry: name → section body, in usage order. */
  val sections: ListMap[String, Ctx => Unit] = ListMap(
    "textscale" -> textScale, "vecscale" -> vecScale,
    "eventscale" -> eventScale, "orderscale" -> orderScale,
    "x8" -> x8, "v15" -> v15,
    "chain" -> chain, "cc" -> cc, "fp" -> fp, "novelty" -> novelty,
    "sembuild" -> semBuild, "tar" -> tar, "sem" -> sem,
    "trainfeed" -> trainFeed, "trainfeedparts" -> trainFeedParts,
    "trainfeedpq" -> trainFeedPq, "pipeline" -> pipeline,
    "refresh" -> refresh, "compact" -> compact, "decont" -> decont,
    "curatedfeed" -> curatedFeed, "pack" -> pack, "linescrub" -> lineScrub,
    "budget" -> budget, "budgetdiag" -> budgetDiag, "dsir" -> dsir,
    "bpe" -> bpe, "langid" -> langid, "langid176" -> langid176,
    "docext" -> docext, "chunk" -> chunk, "lm" -> lm, "verify" -> verify,
    "exactdedup" -> exactDedup, "stringid" -> stringId, "warc" -> warc,
    "warcbig" -> warcBig, "clusters" -> clusters, "stream" -> stream)

  /** Parse a comma list of section names; an unknown or empty list fails
    * with the known names. */
  def parseSections(arg: String): Seq[String] = {
    val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(sections.contains)
    require(names.nonEmpty && unknown.isEmpty,
      (if (names.isEmpty) "no probe section named"
       else s"unknown probe section(s): ${unknown.mkString(",")}") +
        s"; known: ${sections.keys.mkString(",")}")
    names
  }

  /** Run `f` at copies/10 and at copies (default 100). */
  private def decade(c: Ctx)(f: Int => Unit): Unit = {
    val n = c.copies(100)
    f(n / 10); f(n)
  }

  // ---- textscale [10]: the dedup + text operators over exact copies ----
  private def textScale(c: Ctx): Unit = {
    import c._
    val (docs, _) = time("amplify documents") {
      val d = amplify(table("documents"), "doc_id", copies(10), 1000000L)
        .cache()
      println(s"[probe] documents rows: ${d.count()}")
      d
    }
    time("d1 exactGroups") {
      Dedup.exactGroups(docs, col("doc_id"), col("text")).count()
    }
    time("d3 simhashBits") {
      Dedup.simhashBits(docs, col("doc_id"), col("text")).count()
    }
    val (sigs, _) = time("d2 minhash") {
      val s = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8)
      s.count(); s
    }
    time("d2 lshBuckets") { Dedup.lshBuckets(sigs, 4).count() }
    val (cands, _) = time("d2 lshCandidatePairs") {
      val p = Dedup.lshCandidatePairs(sigs, 4)
      println(s"[probe] candidate pairs: ${p.count()}")
      p
    }
    val (verified, _) = time("d5 verifyCandidates") {
      val v = Dedup.verifyCandidates(docs, cands, col("doc_id"), col("text"),
        3, 0.3)
      println(s"[probe] verified pairs: ${v.count()}")
      v
    }
    time("d7 connectedComponentsStar (dense cliques)") {
      // every doc is a member of a copies-clique (each original and its
      // exact copies all pair with each other)
      Dedup.connectedComponentsStar(verified, "doc_a", "doc_b").count()
    }
    time("d7 star CC on long-chain(100k) + dense-clique mix") {
      // the verified cliques PLUS a 100k-node chain (diameter 100k): star
      // alternation must converge in O(log²) rounds (the driver finish is
      // off, or this graph would skip the rounds)
      val chain = spark.range(0, 100000)
        .select((col("id") + 10000000L).as("doc_a"),
          (col("id") + 10000001L).as("doc_b"))
      val mixed = verified.select(col("doc_a").cast("long"),
        col("doc_b").cast("long")).union(chain)
      Dedup.starComponents(mixed, "doc_a", "doc_b", maxIter = 40, None,
        driverEdges = 0).count()
    }
    def banded = Dedup.bandedSignatures(sigs, 4)
    time("d9 incrementalCandidatePairs (10% shard vs 90% index)") {
      Dedup.incrementalCandidatePairs(banded.filter(col("doc_id") % 10 === 0),
        banded.filter(col("doc_id") % 10 =!= 0)).count()
    }
    time("d9 incrementalCandidatePairs (1% shard vs 99% index)") {
      // the production steady state: work must track the SHARD, so this
      // should run markedly faster than the 10% line above
      Dedup.incrementalCandidatePairs(banded.filter(col("doc_id") % 100 === 0),
        banded.filter(col("doc_id") % 100 =!= 0)).count()
    }
    // the same 1% ingest against the PERSISTED BUCKETED index: the one-time
    // build pays the shuffle; the per-ingest query rides the bucket
    // partitioning (no index-side exchange — BucketingSpec)
    val pinned = banded.localCheckpoint()
    time("d9 bucketed band-index build (one-time)") {
      Dedup.writeBandIndex(pinned.filter(col("doc_id") % 100 =!= 0),
        "probe_band_idx")
    }
    time("d9 1% shard vs bucketed index (per-ingest query only)") {
      Dedup.incrementalCandidatePairs(pinned.filter(col("doc_id") % 100 === 0),
        Dedup.readBandIndex(spark, "probe_band_idx")).count()
    }
    // exact copies make EVERY gram shared: the worst case for the gram
    // shuffle, the per-doc windows and the span filter alike
    time("d10 duplicateNgramPositions (string grams)") {
      println("[probe] marked positions: " + Dedup.duplicateNgramPositions(
        docs, col("doc_id"), col("text"), 5).count())
    }
    time("d10 duplicateNgramPositions (hashed grams)") {
      println("[probe] marked positions (hashed): " +
        Dedup.duplicateNgramPositions(docs, col("doc_id"), col("text"), 5,
          hashGrams = true).count())
    }
    time("d10 duplicateNgramRuns (gaps-and-islands spans)") {
      Dedup.duplicateNgramRuns(docs, col("doc_id"), col("text"), 5).count()
    }
    time("d10b scrubDuplicateRuns (full scrub incl. span filter)") {
      Dedup.scrubDuplicateRuns(docs, col("doc_id"), col("text"), 5).count()
    }
    time("d4/d11 inverted-index similarity (sf-native docs, cap=100)") {
      // natural df distribution: the real inverted-index join cost
      val d0 = table("documents")
      println("[probe] jaccard pairs: " + Dedup.ngramJaccardPairs(
        d0, col("doc_id"), col("text"), 3, 0.5, maxDocFreq = 100).count())
      println("[probe] containment pairs: " + Dedup.ngramContainmentPairs(
        d0, col("doc_id"), col("text"), 3, 0.6, maxDocFreq = 100).count())
    }
    time("d11 cap defense on the duplicated corpus (cap=5)") {
      // every gram's df >= copies, so the cap drops them ALL and the join
      // does no pair work: the quadratic blowup is bounded by the cap
      println("[probe] containment pairs (all-dup, capped): " +
        Dedup.ngramContainmentPairs(docs, col("doc_id"), col("text"),
          3, 0.6, maxDocFreq = 5).count())
    }
    time("tx tfidf (grouped tf/df + top-term window)") {
      TextFunctions.tfidfTopTerm(docs, col("doc_id"), col("text")).count()
    }
    time("x12 packPlan (per-lang token windows)") {
      Planners.packPlan(docs.select(col("doc_id"), col("lang"),
          TextFunctions.tokenCountNative(col("text")).cast("long").as("n_tok")),
        "lang", "doc_id", "n_tok", budget = 4096).count()
    }
    time("u4 Y4M demux throughput (synthesized clips)") {
      // in-query container synthesis + real demux at the amplified doc
      // count: measures the mapPartitions decode edge, not file IO
      import graft.multimodal.Multimodal
      val nf = (col("doc_id") % 4 + 2).cast("int")
      val vids = docs.select(col("doc_id").cast("string").as("path"),
        Multimodal.y4mVideo((col("doc_id") % 12 + 4).cast("int"),
          (col("doc_id") % 5 + 2).cast("int"),
          transform(sequence(lit(0), nf - 1),
            j => (col("doc_id") * 7 + j * 13) % 256)).as("content"))
      println("[probe] demuxed frames: " +
        Multimodal.demuxY4m(vids, stride = 1, maxFrames = 8).count())
    }
    spark.catalog.clearCache()
  }

  // ---- vecscale [10]: the ANN operators over exact embedding copies ----
  private def vecScale(c: Ctx): Unit = {
    import c._
    val (emb, _) = time("amplify embeddings") {
      val e = amplify(table("embeddings"), "vec_id", copies(10), 1000000L)
        .cache()
      println(s"[probe] embeddings rows: ${e.count()}")
      e
    }
    val q8 = emb.filter(col("vec_id") < 8)
    time("v2 lshBucketHistogram") {
      Vectors.lshBucketHistogram(emb, "vec_id", "embedding", 8, 64).count()
    }
    time("v4 lshBucketTopK (8 queries)") {
      Vectors.lshBucketTopK(emb, q8, "vec_id", "embedding", 5, 8, 64).count()
    }
    time("v5 ivfTopK (8 queries)") {
      Vectors.ivfTopK(emb, q8, "vec_id", "embedding", 5, 50).count()
    }
    time("v8 semanticNearDupPairs (maxCell=512)") {
      // identical copies collapse into the same argmax cell, so within-cell
      // pair counts grow ~copies²: the worst case the maxCell cap bounds
      Vectors.semanticNearDupPairs(emb, "vec_id", "embedding", 50, 0.4)
        .count()
    }
    time("v8 semanticNearDupPairs (uncapped)") {
      // the delta vs the capped run is the quadratic work a degenerate
      // cell re-introduces
      Vectors.semanticNearDupPairs(emb, "vec_id", "embedding", 50, 0.4,
        maxCell = Int.MaxValue).count()
    }
    time("v9 kmeansCentroids (k=64, 3 iters, 10% sample)") {
      Vectors.kmeansCentroids(emb, "vec_id", "embedding",
        k = 64, iters = 3, sampleFrac = 0.1).count()
    }
    time("v10 int8 vs float: stored bytes + brute top-5 scan") {
      val fdir = tmpDir("probe_emb_float")
      val qdir = tmpDir("probe_emb_int8")
      emb.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(fdir)
      val v = Vectors.asDouble(col("embedding"))
      emb.select(col("vec_id"), Vectors.quantizeInt8(v).as("q"),
          array_min(v).as("mn"),
          ((array_max(v) - array_min(v)) / lit(255.0)).as("sc"))
        .write.mode("overwrite").parquet(qdir)
      println(s"[probe] float parquet ${dirBytes(fdir) / 1024} KiB, " +
        s"int8 parquet ${dirBytes(qdir) / 1024} KiB")
      val qf = spark.read.parquet(fdir)
      time("  float brute top-5 (8 queries)") {
        Vectors.bruteForceTopK(qf, qf.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5).count()
      }
      val qq = spark.read.parquet(qdir).select(col("vec_id"),
        Vectors.dequantizeInt8(col("q"), col("mn"), col("sc")).as("embedding"))
      time("  int8 dequantizing brute top-5 (8 queries)") {
        Vectors.bruteForceTopK(qq, qq.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5).count()
      }
    }
    time("v12 PQ: encode (index build) + ADC query, timed separately") {
      // encoding is the ONE-TIME index-build cost; the per-query number is
      // the ADC scan over persisted codes
      val books = Vectors.pqCodebooksStep(emb, "vec_id", "embedding", 8, 200)
        .localCheckpoint()
      val codesDir = tmpDir("probe_pq_codes")
      time("  encode: assign 8 sub-codes per vector + write") {
        Vectors.pqCodes(emb, "vec_id", "embedding", books, 8)
          .write.mode("overwrite").parquet(codesDir)
      }
      time("  ADC top-5 over stored codes (8 queries)") {
        // stored codes are DENSE ranks — decode to cent_ids first
        val stored = Vectors.pqCodesToCells(spark.read.parquet(codesDir), books)
        println("[probe] ADC rows: " + Vectors.pqAdcTopKFromCodes(
          stored, q8, "vec_id", "embedding", books, 8, 5).count())
      }
    }
    time("v11 pqTrain (m=8, k=64, 3 iters, 10% sample)") {
      Vectors.pqTrain(emb, "vec_id", "embedding",
        m = 8, k = 64, iters = 3, sampleFrac = 0.1).count()
    }
    time("v13 IVF-PQ: index build + probed-cell query, timed separately") {
      val books = Vectors.pqCodebooksStep(emb, "vec_id", "embedding", 8, 200)
        .localCheckpoint()
      // the step-rule quantizer, derived the way ivfTopK derives it
      val cents = emb.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cent_id"),
          Vectors.asDouble(col("embedding")).as("cv"))
        .withColumn("cvn", Vectors.l2norm(col("cv")))
        .localCheckpoint()
      val idxDir = tmpDir("probe_ivfpq_index")
      time("  index build: PQ codes + coarse cell per vector + write") {
        Vectors.ivfPqIndex(emb, "vec_id", "embedding", cents, books, 8)
          .write.mode("overwrite").parquet(idxDir)
      }
      time("  probed-cell ADC top-5 over the stored index (8 queries, nprobe=2)") {
        Vectors.ivfPqTopKFromIndex(spark.read.parquet(idxDir), q8,
          "vec_id", "embedding", cents, books, 8, 5, nprobe = 2).count()
      }
    }
    spark.catalog.clearCache()
  }

  // ---- eventscale [10]: sessionize on the hot-user axis (same users,
  // copies× rows each) ----
  private def eventScale(c: Ctx): Unit = {
    import c._
    val (events, _) = time("amplify events") {
      // Tables.load owns the nanos->micros ts normalization
      val e = amplify(graft.core.Tables.load(spark, sfDir, "events"),
        "event_id", copies(10), 100000000L).cache()
      println(s"[probe] events rows: ${e.count()}")
      e
    }
    time("t7 sessionize (hot-user axis)") {
      graft.ops.Sessionize.sessions(
        events, "user_id", "ts", "event_id", 8 * 3600L, col("value")).count()
    }
    spark.catalog.clearCache()
  }

  // ---- orderscale [10]: samplers, layout and snapshots over orders ----
  private def orderScale(c: Ctx): Unit = {
    import c._
    val (orders, _) = time("amplify orders") {
      val o = amplify(table("orders"), "o_orderkey", copies(10), 100000000L)
        .cache()
      println(s"[probe] orders rows: ${o.count()}")
      o
    }
    val fracs = Map("1-URGENT" -> 0.5, "2-HIGH" -> 0.3, "3-MEDIUM" -> 0.2,
      "4-NOT SPECIFIED" -> 0.1, "5-LOW" -> 0.05)
    time("x1 stratifiedExact (window form)") {
      Sampling.stratifiedExact(orders, col("o_orderpriority"),
        col("o_orderkey"), fracs).count()
    }
    time("x1 stratifiedExactDistributed") {
      Sampling.stratifiedExactDistributed(orders, col("o_orderpriority"),
        col("o_orderkey"), fracs).count()
    }
    time("x3 shufflePositionDistributed") {
      Sampling.shufflePositionDistributed(
        Sampling.bernoulli(orders, col("o_orderkey"), 0.05)
          .select("o_orderkey"), col("o_orderkey")).count()
    }
    time("x9 clusterByZ write (z-order layout, 64 files)") {
      graft.ops.Layout.clusterByZ(
          orders.select("o_orderkey", "o_custkey", "o_totalprice"),
          col("o_custkey"), col("o_orderkey"), numFiles = 64)
        .write.mode("overwrite").parquet(tmpDir("probe_zorder"))
    }
    time("s12 compaction plan (cumulative bin-pack per partition)") {
      // the per-priority running-size window partitions by the
      // (bounded-cardinality) table partition key: the honest at-scale
      // cost of a compaction planner
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority").orderBy("o_orderkey")
      orders
        .withColumn("grp", floor(
          (sum(col("o_totalprice")).over(w) - col("o_totalprice")) / 1e7))
        .groupBy("o_orderpriority", "grp")
        .agg(count(lit(1)).as("n_files"), sum("o_totalprice").as("group_bytes"))
        .count()
    }
    // s15 snapshots: MERGE-chain replay cost vs chain length, and the
    // compaction win — epoch 0 is the full keyed table, epochs 1..19 are
    // 5% keyed refreshes (the daily-ingest shape)
    import graft.ops.Snapshots
    val dir = tmpDir("probe_snapshots")
    time("s15 write 20-epoch chain (full base + 19 × 5% refreshes)") {
      Snapshots.writeEpoch(orders.select(col("o_orderkey"),
        col("o_totalprice").as("price"), lit(false).as("_deleted")), dir, 0)
      (1 to 19).foreach { v =>
        Snapshots.writeEpoch(orders.filter(col("o_orderkey") % 20 === v)
          .select(col("o_orderkey"), (col("o_totalprice") * v).as("price"),
            lit(false).as("_deleted")), dir, v)
      }
    }
    time("s15 readAsOf(19) — LWW over all 20 epochs") {
      Snapshots.readAsOf(spark, dir, Seq("o_orderkey"), 19).count()
    }
    time("s15 readAsOf(4) — partition-pruned to 5 epochs") {
      Snapshots.readAsOf(spark, dir, Seq("o_orderkey"), 4).count()
    }
    time("s15 compactTo(15) + readAsOf(19) over the 5 remaining epochs") {
      Snapshots.compactTo(spark, dir, Seq("o_orderkey"), 15)
      Snapshots.readAsOf(spark, dir, Seq("o_orderkey"), 19).count()
    }
    spark.catalog.clearCache()
  }

  // ---- x8 [50]: AQE runtime skew-join splitting vs deterministic salting
  // on a planted hot key (half the fact rows share one key). The dim is
  // forced non-broadcast — with a broadcastable dim neither technique is
  // needed, which is always the first fix to try. ----
  private def x8(c: Ctx): Unit = {
    import c._
    val n = copies(50)
    val orders = amplify(table("orders"), "o_orderkey", n, 100000000L,
      parts = cpus).select("o_orderkey", "o_custkey").localCheckpoint()
    println(s"[probe] x8 fact rows: ${orders.count()}")
    val fact = orders.withColumn("k",
      when(col("o_orderkey") % 2 === 0, lit(-1L)).otherwise(col("o_custkey")))
    val dim = orders.select(col("o_custkey").as("k")).distinct()
      .union(spark.range(-1, 0).select(col("id").as("k")))
      .withColumn("attr", md5(col("k").cast("string")))
      .localCheckpoint()
    // AQE's defaults only fire at 256 MB partitions; scale the thresholds
    // to the probe so the splitting engages (4m/2m at 10×, 16m/8m at 50×)
    val skewMb = math.max(4, n * 16 / 50)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    // run 2 of each form is the warm number
    def twice(label: String)(f: => Any): Unit =
      (1 to 2).foreach(r => time(s"x8/${n}x $label, run $r")(f))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def run() = fact.join(dim, "k").agg(count(lit(1))).collect()
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      twice("plain SMJ, AQE skew-join OFF (straggler reducer)") { run() }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        s"${skewMb}m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${skewMb / 2}m")
      twice("plain SMJ, AQE skew-join ON (runtime split)") { run() }
      twice("saltedJoin (32 buckets, deterministic salt)") {
        graft.ops.Skew.saltedJoin(fact, dim, "k", col("o_orderkey"), 32)
          .agg(count(lit(1))).collect()
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
    spark.catalog.clearCache()
  }

  // ---- v15 [100]: IVF-PQ append cost vs index size (must track the
  // SHARD, not the index) ----
  private def v15(c: Ctx): Unit = {
    import c._
    val n = copies(100)
    val emb = amplify(table("embeddings"), "vec_id", n, 1000000L,
      parts = cpus).localCheckpoint()
    println(s"[probe] v15 embeddings rows: ${emb.count()}")
    // shard on residue 7, NOT 0: the step-rule quantizers sample
    // vec_id % step == 0 ids, and every id divisible by 200 is also
    // divisible by 100 — a %100==0 shard would leave the BASE with zero
    // codebook samples (empty books -> empty index -> NULL MSE)
    val shard = emb.filter(col("vec_id") % 100 === 7)
    val base = emb.filter(col("vec_id") % 100 =!= 7)
    val m = 8
    val books = Vectors.pqCodebooksStep(base, "vec_id", "embedding", m, 200)
      .localCheckpoint()
    val cents = Vectors.stepCentroids(base, "vec_id", "embedding", 50)
      .localCheckpoint()
    val (_, buildS) = time(s"v15/${n}x base index build + bucketed write (99%)") {
      Vectors.writeIvfPqIndex(
        Vectors.ivfPqIndex(base, "vec_id", "embedding", cents, books, m),
        "probe_ivfpq_idx")
    }
    val (baseMse, _) = time(s"v15/${n}x drift baseline meanPqMse (one-time)") {
      Vectors.meanPqMse(base, "vec_id", "embedding", books, m)
    }
    val (_, appendS) = time(s"v15/${n}x append 1% shard (drift check + encode + insert)") {
      Vectors.appendToIvfPqIndex("probe_ivfpq_idx", shard,
        "vec_id", "embedding", cents, books, m, baselineMse = baseMse)
    }
    println(f"[probe] v15/${n}x append/rebuild cost ratio: ${appendS / buildS}%.3f " +
      "(shard is 1% of the corpus; a ratio near 0.01-0.1 means ingest " +
      "tracks the shard, not the index)")
    time(s"v15/${n}x the avoided alternative: re-encode the whole corpus") {
      Vectors.ivfPqIndex(emb, "vec_id", "embedding", cents, books, m).count()
    }
    time(s"v15/${n}x probed query over the appended index (8 queries, nprobe=2)") {
      println("[probe] appended-index topk rows: " +
        Vectors.ivfPqTopKFromIndex(Vectors.readIvfPqIndex(spark, "probe_ivfpq_idx"),
          emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          cents, books, m, 5, nprobe = 2).count())
    }
    spark.catalog.clearCache()
  }

  // ---- chain [100, two scales]: the full LSH dedup chain (minhash → band
  // → verify → CC) over varied copies ----
  private def chain(c: Ctx): Unit = decade(c) { f =>
    import c._
    val docs = amplify(table("documents"), "doc_id", f, 10000000L,
      vary = Some(variedText)).localCheckpoint()
    println(s"[probe] ${f}x docs: ${docs.count()}")
    time(s"${f}x dedup chain (minhash->band->verify->CC)") {
      val sigs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8)
      val cands = Dedup.lshCandidatePairs(sigs, 4)
      val verified = Dedup.verifyCandidates(docs, cands,
        col("doc_id"), col("text"), 3, 0.3).localCheckpoint()
      println(s"[probe] ${f}x verified pairs: ${verified.count()}")
      println(s"[probe] ${f}x clustered docs: " +
        Dedup.connectedComponentsStar(verified, "doc_a", "doc_b").count())
    }
    spark.catalog.clearCache()
  }

  // ---- cc [100, two scales]: star CC on a controlled synthetic graph —
  // CC's cost is driven by the EDGE relation, not the corpus ----
  private def cc(c: Ctx): Unit = decade(c) { f =>
    import c._
    val cliqueDocs = 1000L * f
    // 10-cliques: doc i pairs with the 9 following docs in its block
    val edges = spark.range(0, cliqueDocs)
      .select(col("id").as("doc_a"),
        explode(sequence(lit(1), lit(9))).as("__j"))
      .select(col("doc_a"),
        ((col("doc_a") / 10) * 10 + (col("doc_a") + col("__j")) % 10).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      // plus one long chain (diameter 10k·f)
      .union(spark.range(0, 10000L * f)
        .select((col("id") + 100000000L).as("doc_a"),
          (col("id") + 100000001L).as("doc_b")))
      .localCheckpoint()
    println(s"[probe] ${f}x synthetic edges: ${edges.count()}")
    // the rounds at both scales (the driver finish off), and the default,
    // which finishes on the driver when the edges fit its bound
    time(s"${f}x star CC rounds (cliques + ${10000 * f}-chain)") {
      Dedup.starComponents(edges, "doc_a", "doc_b", maxIter = 60, None,
        driverEdges = 0).count()
    }
    time(s"${f}x connectedComponentsStar default (cliques + ${10000 * f}-chain)") {
      Dedup.connectedComponentsStar(edges, "doc_a", "doc_b", maxIter = 60)
        .count()
    }
  }

  // ---- fp [100, two scales]: the perceptual BAND→VERIFY→CC chain over
  // synthetic 63-bit fingerprints (2% of docs are a 1-bit nudge of a base
  // doc, the rest pseudo-random) at the production grid width ----
  private def fp(c: Ctx): Unit = decade(c) { f =>
    import c._
    val n = 5000L * f
    val base = spark.range(0, n)
      .select(col("id").as("doc_id"), abs(xxhash64(col("id"))).as("fp"))
    val nudged = spark.range(0, n / 50)
      .select((col("id") * 50 + n).as("doc_id"),
        // copy of doc (id*50) with bit (id % 63) flipped; scala
        // shiftleft() wants a literal shift, the SQL function a column
        abs(xxhash64(col("id") * 50))
          .bitwiseXOR(call_function("shiftleft", lit(1L),
            (col("id") % 63).cast("int")))
          .as("fp"))
    val fps = base.union(nudged).localCheckpoint()
    println(s"[probe] ${f}x fingerprints: ${fps.count()}")
    // 3 bands x 21 bits keep buckets near-singleton (a 7-bit band has 128
    // values, so every bucket would exceed the cap) while the pigeonhole
    // still guarantees any pair at Hamming <= 2 collides on one band
    time(s"${f}x fp chain (band->verify->CC, 63-bit, 3x21 bands)") {
      val pairs = Dedup.imageNearDupPairs(fps, col("doc_id"), col("fp"),
        bits = 63, bandBits = 21, maxHamming = 2).localCheckpoint()
      println(s"[probe] ${f}x fp pairs: ${pairs.count()}")
      println(s"[probe] ${f}x fp clustered docs: " +
        Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b").count())
    }
    spark.catalog.clearCache()
  }

  // ---- novelty [100, two scales]: ONE gram-keyed exchange, exact gram
  // strings vs the 64-bit hashed form (8-byte keys instead of ~40-byte
  // trigram strings through that shuffle) ----
  private def novelty(c: Ctx): Unit = decade(c) { f =>
    import c._
    val docs = amplify(table("documents"), "doc_id", f, 10000000L,
      vary = Some(variedText)).localCheckpoint()
    println(s"[probe] ${f}x novelty docs: ${docs.count()}")
    time(s"${f}x noveltyScores EXACT gram shuffle") {
      force(Dedup.noveltyScores(docs, col("doc_id"), col("text"), 3))
    }
    time(s"${f}x noveltyScores HASHED gram shuffle") {
      force(Dedup.noveltyScores(docs, col("doc_id"), col("text"), 3,
        hashGrams = true))
    }
    spark.catalog.clearCache()
  }

  private def rotatedVectors(c: Ctx, f: Int): DataFrame =
    c.amplify(c.table("embeddings"), "vec_id", f, 10000000L, parts = 32,
      vary = Some(rotatedEmbedding)).localCheckpoint()

  // ---- sembuild [100, two scales]: semantic index BUILD forms — the
  // aggregate form (crossJoin×k + max_by + self-join) vs the stateless
  // form (centroids folded in as literals: one projection, no shuffle) ----
  private def semBuild(c: Ctx): Unit = decade(c) { f =>
    import c._
    val vecs = rotatedVectors(c, f)
    println(s"[probe] ${f}x sembuild vectors: ${vecs.count()}")
    val cents = Vectors.kmeansCentroids(vecs, "vec_id", "embedding", 256,
      iters = 2, sampleFrac = 0.05).localCheckpoint()
    // forced on every column: a bare count prunes the vector arrays — the
    // dominant cost — out of both forms
    time(s"${f}x semanticIndex AGGREGATE form (all columns)") {
      force(Vectors.semanticIndex(vecs, "vec_id", "embedding", cents))
    }
    time(s"${f}x semanticIndex STATELESS form (all columns)") {
      force(Vectors.assignCellsStateless(vecs, "vec_id", "embedding", cents)
        .select("vec_id", "cell", "v", "vn"))
    }
    spark.catalog.clearCache()
  }

  // ---- tar [100, two scales]: tar-shard export write + read-back; one
  // hash shuffle + sequential per-shard writes should stay linear ----
  private def tar(c: Ctx): Unit = decade(c) { f =>
    import c._
    import graft.multimodal.TarShards
    val docs = amplify(table("documents"), "doc_id", f, 10000000L,
        vary = Some(variedText))
      .select(concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
        col("text").cast("binary").as("content"))
      .localCheckpoint()
    val n = docs.count()
    println(s"[probe] ${f}x tar entries: $n")
    val dir = tmpDir(s"tarprobe$f")
    time(s"${f}x writeTarShards (32 shards)") {
      TarShards.writeTarShards(docs, "name", "content", dir, 32)
    }
    time(s"${f}x readTarShards (full checksum)") {
      val cnt = TarShards.readTarShards(spark, dir)
        .select(xxhash64(col("name"), col("content")).as("__h"))
        .agg(bit_xor(col("__h")), count(lit(1))).head().getLong(1)
      println(s"[probe] ${f}x tar read-back entries: $cnt")
      require(cnt == n, s"tar round-trip lost rows: $cnt != $n")
    }
    spark.catalog.clearCache()
  }

  // ---- sem [100, two scales]: semantic dedup one-time index build vs the
  // day-2 incremental form ----
  private def sem(c: Ctx): Unit = decade(c) { f =>
    import c._
    val vecs = rotatedVectors(c, f)
    println(s"[probe] ${f}x sem vectors: ${vecs.count()}")
    // k-means quantizer, corpus-independent size (k×dim on the driver)
    val (cents, _) = time(s"${f}x sem kmeans (k=256, 5% sample)") {
      Vectors.kmeansCentroids(vecs, "vec_id", "embedding", 256,
        iters = 2, sampleFrac = 0.05).localCheckpoint()
    }
    val shard = vecs.filter(col("vec_id") % 97 === 0).localCheckpoint()
    val (idx, _) = time(s"${f}x sem index build (one-time)") {
      val i = Vectors.semanticIndex(vecs.filter(col("vec_id") % 97 =!= 0),
        "vec_id", "embedding", cents).localCheckpoint()
      println(s"[probe] ${f}x sem index rows: ${i.count()}")
      i
    }
    time(s"${f}x sem INCREMENTAL (1% shard vs index)") {
      println(s"[probe] ${f}x sem incr pairs: " +
        Vectors.incrementalSemanticPairs(shard, "vec_id", "embedding",
          cents, idx, minCosine = 0.95).count())
    }
    time(s"${f}x sem BATCH (full corpus, the rebuild alternative)") {
      println(s"[probe] ${f}x sem batch pairs: " +
        Vectors.semanticNearDupPairsWith(vecs, "vec_id", "embedding",
          cents, minCosine = 0.95).count())
    }
    spark.catalog.clearCache()
  }

  /** The reference VTON manifest shape from orders: 3 asset keys per
    * stem, difficulty from the order priority. */
  private def manifest(orders: DataFrame): DataFrame = {
    val diff = when(col("o_orderpriority").startsWith("1-"), "hard")
      .when(col("o_orderpriority").startsWith("2-"), "medium")
      .otherwise("easy")
    orders.select(col("o_orderkey"), diff.as("diff"))
      .withColumn("suffix",
        explode(array(lit("person"), lit("cloth_a"), lit("vton"))))
      .select(
        concat(lit("s3://b/"), col("diff"), lit("/stem"), col("o_orderkey"),
          lit("_"), col("suffix"), lit(".jpg")).as("key"),
        concat(lit("s3://b/"), col("diff"), lit("/")).as("prefix"))
  }

  private val feedMix = Map("easy" -> 0.25, "medium" -> 0.25, "hard" -> 0.5)

  /** trainingFeed end-to-end over the copies× manifest, optionally at a
    * different shuffle width. */
  private def trainFeedAt(c: Ctx, f: Int, shufflePartitions: Option[Int]): Unit = {
    import c._
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString))
    try {
      // not localCheckpointed: pinning the full-width amplified orders on
      // heap OOM'd the first 100× run, and recomputing the amplification
      // is cheap. Repartitioned: the one-file source single-threads the
      // whole map side otherwise — that artifact, not the feed, was the
      // original 100× "cliff"
      val amped = amplify(table("orders"), "o_orderkey", f, 100000000L,
        parts = cpus * 4)
      println(s"[probe] ${f}x orders: ${amped.count()}")
      val label = shufflePartitions.map(p => s" (shuffle.partitions=$p)")
        .getOrElse("")
      time(s"${f}x trainingFeed end-to-end$label") {
        println(s"[probe] ${f}x feed rows: " +
          Pipelines.trainingFeed(manifest(amped), feedMix).count())
      }
      spark.catalog.clearCache()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  // ---- trainfeed [100, two scales]: the trainingFeed composition ----
  private def trainFeed(c: Ctx): Unit = decade(c)(trainFeedAt(c, _, None))

  // ---- trainfeedparts [100]: the same feed at the top scale with shuffle
  // partitions scaled to the data (what a cluster deployment does) ----
  private def trainFeedParts(c: Ctx): Unit = {
    val f = c.copies(100)
    trainFeedAt(c, f, Some(c.cpus * f / 10))
  }

  // ---- trainfeedpq [100, two scales]: harness-vs-operator A/B — write
  // the amplified manifest to parquet ONCE, then time trainingFeed reading
  // it back (a real manifest is parquet on disk; the in-memory form
  // recomputes the amplification on every scan) ----
  private def trainFeedPq(c: Ctx): Unit = decade(c) { f =>
    import c._
    val path = s"${tmpDir("probe_manifest")}/manifest_${f}x.parquet"
    time(s"${f}x manifest write to parquet (one-time amplification)") {
      manifest(amplify(table("orders"), "o_orderkey", f, 100000000L))
        .write.mode("overwrite").parquet(path)
    }
    time(s"${f}x trainingFeed from parquet manifest") {
      println(s"[probe] ${f}x feed rows: " +
        Pipelines.trainingFeed(spark.read.parquet(path), feedMix).count())
    }
    spark.catalog.clearCache()
  }

  // ---- pipeline [100, two scales]: FULL dedupCorpus with every opt-in
  // stage on, timed per stage via the dedupCorpusStages funnel. Each stage
  // relation is counted in order (the exact-dedup checkpoint materializes
  // on its own count, so each marginal time is that stage's own cost);
  // the per-stage ratio between the scales exposes a super-linear stage
  // the individually-probed compositions could hide ----
  private def pipeline(c: Ctx): Unit = decade(c) { f =>
    import c._
    val raw = table("documents")
    val docs = amplify(raw, "doc_id", f, 10000000L, vary = Some(variedText))
      .localCheckpoint()
    println(s"[probe] ${f}x pipeline docs: ${docs.count()}")
    // the eval split stays FIXED: a benchmark does not grow with the corpus
    val evalDocs = raw.filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
    val t0 = System.nanoTime()
    val stages = Pipelines.dedupCorpusStages(
      docs, col("doc_id"), col("text"),
      preClean = true, maxPerSource = (docs.count() / 4L).toInt.max(1),
      evalDocs = Some(evalDocs), minContainment = Some(0.9),
      substrN = Some(20))
    // construction is NOT pure planning: the pair broadcast guard runs the
    // minhash → band → verify chain and the CC rounds iterate eagerly —
    // reported as its own line, not folded into the first stage's count
    println(f"[probe] ${f}x eager core (pair gen + verify + CC): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    var prev = System.nanoTime()
    stages.foreach { case (name, df) =>
      val n = df.count()
      val now = System.nanoTime()
      println(f"[probe] ${f}x stage $name%-24s $n%9d rows  " +
        f"${(now - prev) / 1e9}%6.1f s")
      prev = now
    }
    println(f"[probe] ${f}x full dedupCorpus (all stages): " +
      f"${(prev - t0) / 1e9}%.1f s")
    spark.catalog.clearCache()
  }

  // ---- refresh: quantizer refresh vs fresh rebuild. retrainIvfPq =
  // retrain + one corpus re-encode + bucketed write + DROP/RENAME: the
  // same bill as a fresh rebuild with the SAME trainers plus only the
  // metadata epoch swap, so a ratio near 1 means the crash-safe swap
  // costs nothing over the naive drop-and-rebuild ----
  private def refresh(c: Ctx): Unit = {
    import c._
    val emb = amplify(table("embeddings"), "vec_id", 20, 1000000L,
      parts = cpus).localCheckpoint()
    println(s"[probe] refresh embeddings rows: ${emb.count()}")
    val m = 8
    val (_, rebuildS) = time("refresh/rebuild: train + encode + fresh bucketed write") {
      val cents = Vectors.kmeansCentroids(emb, "vec_id", "embedding",
        k = 50, iters = 2, sampleFrac = 0.1)
      val books = Vectors.pqTrain(emb, "vec_id", "embedding", m,
        k = 64, iters = 2, sampleFrac = 0.1)
      Vectors.writeIvfPqIndex(
        Vectors.ivfPqIndex(emb, "vec_id", "embedding", cents, books, m),
        "probe_refresh_idx")
    }
    val (_, refreshS) = time("refresh/epoch-swap: retrainIvfPq (same trainers + swap + new baseline)") {
      Vectors.retrainIvfPq(spark, "probe_refresh_idx", emb,
        "vec_id", "embedding", k = 50, m = m, codes = 64, iters = 2,
        sampleFrac = 0.1)
    }
    println(f"[probe] refresh/rebuild cost ratio: ${refreshS / rebuildS}%.3f " +
      "(retrainIvfPq also computes the new drift baseline — a ratio " +
      "near 1 means the crash-safe epoch swap is free next to the encode)")
    spark.catalog.clearCache()
  }

  // ---- compact: bucketed-table read cost after 10 appends vs compacted ----
  private def compact(c: Ctx): Unit = {
    import c._
    val emb = table("embeddings")
    val m = 8
    val books = Vectors.pqCodebooksStep(emb, "vec_id", "embedding", m, 200)
      .localCheckpoint()
    val cents = Vectors.stepCentroids(emb, "vec_id", "embedding", 50)
      .localCheckpoint()
    Vectors.writeIvfPqIndex(
      Vectors.ivfPqIndex(emb, "vec_id", "embedding", cents, books, m),
      "probe_compact_idx")
    // 10 daily shards (ids shifted so they are new)
    (1 to 10).foreach { day =>
      val shard = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + day * 10000000L)
      Vectors.appendToIvfPqIndex("probe_compact_idx", shard,
        "vec_id", "embedding", cents, books, m)
    }
    def files() = Bucketing.dataFiles(spark, "probe_compact_idx").size
    println(s"[probe] files after 10 appends: ${files()}")
    val q = emb.filter(col("vec_id") < 8)
    def query() =
      Vectors.ivfPqTopKFromIndex(Vectors.readIvfPqIndex(spark, "probe_compact_idx"),
        q, "vec_id", "embedding", cents, books, m, 5, nprobe = 2).count()
    time("compact/query over 11 file sets (warmup)") { query() }
    val (_, beforeS) = time("compact/query over 11 file sets") { query() }
    val (_, compactS) = time("compact/compactBucketed (shuffle-free rewrite)") {
      Bucketing.compactBucketed(spark, "probe_compact_idx")
    }
    println(s"[probe] files after compaction: ${files()}")
    time("compact/query over 1 file set (warmup)") { query() }
    val (_, afterS) = time("compact/query over 1 file set") { query() }
    println(f"[probe] compaction: query $beforeS%.2f s -> $afterS%.2f s, " +
      f"rewrite cost $compactS%.2f s amortized over every later query")
  }

  // ---- decont: decontamination cost linear in the train corpus (the eval
  // side is a fixed-size benchmark; 1x/10x/100x train) ----
  private def decont(c: Ctx): Unit = {
    import c._
    val docs1 = table("documents").localCheckpoint()
    val evalSide = docs1.filter(col("doc_id") < 50)
    def run(df: DataFrame): Long =
      Dedup.contaminatedIds(df.filter(col("doc_id") >= 50), col("doc_id"),
        col("text"), evalSide, col("text"), 5).count()
    time("decont contaminatedIds warmup") { run(docs1) }
    time("decont 1x train corpus") { run(docs1) }
    Seq(10, 100).foreach { n =>
      val docs = amplify(docs1, "doc_id", n, 1000000L, parts = cpus)
        .localCheckpoint()
      println(s"[probe] decont ${n}x rows: ${docs.count()}")
      time(s"decont ${n}x train corpus") { run(docs) }
    }
  }

  // ---- curatedfeed: the mixture-applied packed feed (sampler range
  // shuffle + broadcast plan join + shard write, each linear alone) at 1M
  // and 10M docs; a super-linear stage hiding in the COMPOSITION shows in
  // the ratio ----
  private def curatedFeed(c: Ctx): Unit = {
    import c._
    val weights = spark.range(8)
      .select(concat(lit("src"), col("id").cast("string")).as("source"),
        (col("id") + 1).cast("int").as("w"))
    val walls = Seq(1000000L, 10000000L).map { n =>
      val docs = spark.range(n)
        .select(col("id").as("doc_id"),
          concat(lit("src"), (col("id") % 8).cast("string")).as("source"),
          (col("id") % 37 + 38).as("n_tok"))
        .repartition(cpus).localCheckpoint()
      val out = tmpDir(s"feedprobe$n")
      time(s"curatedfeed/curatedFeed end-to-end, $n docs") {
        Pipelines.curatedFeed(docs, "doc_id", "source", weights,
          col("n_tok"), budget = 4096L, windowsPerShard = 1024L,
          outDir = out).count()
      }._2
    }
    println(f"[probe] curatedfeed 10x-data wall ratio: ${walls(1) / walls(0)}%.2f " +
      "(near 10 = linear composition; the plan/offsets stay broadcast-sized)")
  }

  // ---- linescrub: CCNet line scrub. The batch scrub is ~2 corpus-sized
  // shuffles of 8 B hash keys (linear 1M→10M); the shard scrub's cost
  // tracks the SHARD (the persisted freq table aggregates and joins on its
  // own bucket key — a 10× bigger table must not 10× the ingest) ----
  private def lineScrub(c: Ctx): Unit = {
    import c._
    def mkDocs(n: Long, shift: Long = 0L): DataFrame = spark.range(n)
      .select((col("id") + shift).as("doc_id"),
        concat(lit("accept all cookies to continue\n"),
          lit("body "), (col("id") % 50000).cast("string"),
          lit(" text\n"),
          lit("unique line "), (col("id") + shift).cast("string"))
          .as("text"))
      .repartition(cpus).localCheckpoint()
    def lines = split(col("text"), "\n")
    for (n <- Seq(1000000L, 10000000L)) {
      val docs = mkDocs(n)
      time(s"linescrub/batch hashed scrub, $n docs x 3 lines") {
        Dedup.scrubFrequentSegments(docs, col("doc_id"), lines,
            maxDf = 4, hashed = true)
          .agg(sum(col("n_dropped"))).collect()
      }
    }
    for (n <- Seq(1000000L, 10000000L)) {
      spark.sql("DROP TABLE IF EXISTS probe_lf")
      time(s"linescrub/freq-table build, $n docs (one-time)") {
        Dedup.writeLineFreq(mkDocs(n), col("doc_id"), lines, "probe_lf", 64)
      }
      val shard = mkDocs(100000L, shift = 900000000L)
      time(s"linescrub/shard scrub (100k docs) vs $n-doc table") {
        Dedup.scrubShardSegments(shard, col("doc_id"), lines,
            Dedup.readLineFreq(spark, "probe_lf"), maxDf = 4)
          .agg(sum(col("n_dropped"))).collect()
      }
    }
  }

  /** `n` synthetic docs (id, q = id % 97, n_tok in 38..74) spread over
    * the session's cores — the pack/budget planner input. */
  private def tokDocs(c: Ctx, n: Long, group: Column): DataFrame =
    c.spark.range(n)
      .select(col("id"), group, (col("id") % 37 + 38).as("n_tok"))
      .repartition(c.cpus).localCheckpoint()

  // ---- pack: packedWindows' per-group window cumsum serializes each group
  // through ONE task; one global pack order is the worst case. Both forms
  // on a one-group corpus at 1M/10M/40M docs read the cliff and the fix ----
  private def pack(c: Ctx): Unit = {
    def run(f: => DataFrame): Long =
      f.agg(sum(col("len"))).collect()(0).getLong(0)
    for (n <- Seq(1000000L, 10000000L, 40000000L)) {
      val docs = tokDocs(c, n, lit("all").as("g"))
      time(s"pack/window form, 1 group, $n docs") {
        run(Planners.packedWindows(docs, "g", "id", "n_tok", 4096L))
      }
      time(s"pack/distributed form, 1 group, $n docs") {
        run(Planners.packedWindowsDistributed(docs, "g", "id", "n_tok", 4096L))
      }
    }
  }

  // ---- budget: tokenBudgetSelect's two-phase cumsum on one global order
  // stays linear where a single global window would serialize ----
  private def budget(c: Ctx): Unit =
    for (n <- Seq(1000000L, 10000000L, 40000000L)) {
      val docs = tokDocs(c, n, (col("id") % 97).as("q"))
      time(s"budget/distributed select, $n docs (keep ~1/3)") {
        Planners.tokenBudgetSelect(docs, "id", "q", "n_tok", n * 19L)
          .agg(count(lit(1))).collect()
      }
      if (n == 40000000L) {
        // the partition count is the input session's setting
        val wide = c.spark.newSession()
        wide.conf.set("spark.sql.shuffle.partitions", "256")
        val docs256 = tokDocs(new Ctx(wide, c.sfDir, c.cpus, None), n,
          (col("id") % 97).as("q"))
        time(s"budget/distributed select, $n docs, 256 partitions") {
          Planners.tokenBudgetSelect(docs256, "id", "q", "n_tok", n * 19L)
            .agg(count(lit(1))).collect()
        }
      }
    }

  // ---- budgetdiag: stage-by-stage timing of the two-phase cumsum at the
  // 40M cliff (pack and budget both jump superlinearly 10M→40M: which
  // stage serializes?), plus A/Bs of the ranged relation's materialization
  private def budgetDiag(c: Ctx): Unit = {
    import c._
    val w = org.apache.spark.sql.expressions.Window
    val n = 40000000L
    val (d0, _) = time("diag/source checkpoint (40M)") {
      val d = tokDocs(c, n, (col("id") % 97).as("q")); d.count(); d
    }
    def ranged = d0.repartitionByRange(32, col("q").desc, col("id"))
      .withColumn("__pid", spark_partition_id())
    val (r0, _) = time("diag/rangePartition + pid + checkpoint") {
      val r = ranged.localCheckpoint(); r.count(); r
    }
    val (off, _) = time("diag/offsets aggregate") {
      val o = r0.groupBy(col("__pid")).agg(sum(col("n_tok")).as("__psum"))
        .withColumn("__off", coalesce(sum(col("__psum")).over(
          w.orderBy(col("__pid")).rowsBetween(w.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("__pid"), col("__off")).localCheckpoint()
      o.count(); o
    }
    time("diag/join + per-pid window + filter + count") {
      r0.join(broadcast(off), Seq("__pid"))
        .withColumn("cum", col("__off") + sum(col("n_tok")).over(
          w.partitionBy(col("__pid")).orderBy(col("q").desc, col("id"))
            .rowsBetween(w.unboundedPreceding, 0)))
        .filter(col("cum") <= n * 19L)
        .agg(count(lit(1))).collect()
    }
    val (r1, _) = time("diag/ALT rangePartition + persist(MEMORY_AND_DISK_SER)") {
      val r = ranged
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      r.count(); r
    }
    time("diag/ALT pass over persisted-ser (offsets-shaped agg)") {
      r1.groupBy(col("__pid")).agg(sum(col("n_tok"))).collect()
    }
    r1.unpersist()
    val scratch = tmpDir("diagrange")
    time("diag/ALT rangePartition + scratch parquet write") {
      ranged.write.mode("overwrite").parquet(scratch)
    }
    time("diag/ALT pass over scratch parquet (offsets-shaped agg)") {
      spark.read.parquet(scratch).groupBy(col("__pid"))
        .agg(sum(col("n_tok"))).collect()
    }
  }

  // ---- dsir: model fit (two explode→B-bucket aggregates) + scoring (the
  // shuffle-free broadcast-λ fold) at 100k/1M/10M docs, md5 and the
  // xxhash64 fast path; the wall ratios are the linearity evidence ----
  private def dsir(c: Ctx): Unit = {
    import c._
    import graft.ops.Dsir
    val docs0 = table("documents")
    for (n <- Seq(20, 200, 2000)) {
      val docs = amplify(docs0, "doc_id", n, 10000000L, parts = cpus)
        .localCheckpoint()
      val rows = docs.count()
      // xxh: oracle-inexpressible, same model semantics — the delta is the
      // per-gram hex-string + base-16-parse cost the 100 TB tier avoids
      for (xxh <- Seq(false, true)) {
        val tag = if (xxh) " XXH" else ""
        val (model, _) = time(s"dsir/model fit$tag, $rows docs (B=4096)") {
          val m = Dsir.importanceModel(docs,
              docs.filter(col("lang") === "en"), col("text"), buckets = 4096,
              xxh = xxh)
            .localCheckpoint(false)
          m.count(); m
        }
        time(s"dsir/score + Gumbel top-1k resample$tag, $rows docs") {
          Dsir.importanceResample(
            Dsir.importanceWeights(docs, col("doc_id"), col("text"),
              model, 4096, xxh = xxh),
            col("doc_id"), k = 1000, seed = 1L).count()
        }
      }
    }
    spark.catalog.clearCache()
  }

  // ---- bpe: the corpus pass (wordFreq) scales with the corpus while the
  // k merge rounds, on the vocab relation, stay FLAT as the corpus behind
  // them grows; then per-round cost at realistic merge counts ----
  private def bpe(c: Ctx): Unit = {
    import c._
    import graft.text.Bpe
    val docs0 = table("documents")
    for (n <- Seq(20, 200)) {
      val docs = amplify(docs0, "doc_id", n, 10000000L, parts = cpus)
        .localCheckpoint()
      val rows = docs.count()
      val (vf, _) = time(s"bpe/wordFreq corpus pass, $rows docs") {
        val v = Bpe.wordFreq(docs, col("text")).localCheckpoint(false)
        println(s"[probe] vocab size: ${v.count()}"); v
      }
      time(s"bpe/learnMerges k=8 over the vocab ($rows docs behind it)") {
        Bpe.learnMerges(vf, 8)._1.count()
      }
    }
    // production tokenizers train k=32k merges; each round is vocab-sized,
    // so t(4×k) ≈ 4×t(k). The testdata vocabulary (31 words) is too
    // shallow, so merge depth comes from 8000 distinct tri-syllable words
    // (~40k merges available, Zipf-ish frequencies). Per-round numbers
    // divide by the merges actually LEARNED, never by the requested k.
    val syll = Seq("ba", "be", "bi", "bo", "bu", "da", "de", "di",
      "do", "du", "ka", "ke", "ki", "ko", "ku", "ma", "me", "mi", "mo", "mu")
    val sArr = array(syll.map(lit): _*)
    val vf = spark.range(8000).select(
      concat(
        element_at(sArr, (col("id") / 400).cast("int") + 1),
        element_at(sArr, ((col("id") / 20) % 20).cast("int") + 1),
        element_at(sArr, (col("id") % 20).cast("int") + 1)).as("word"),
      (col("id") % 97 + 1).as("freq"))
      .localCheckpoint(false)
    println(s"[probe] bpe deep-merge vocab size: ${vf.count()}")
    val perRound = Seq(256, 1024).map { kk =>
      val (learned, s) = time(s"bpe/learnMerges k=$kk") {
        Bpe.learnMerges(vf, kk)._1.count()
      }
      println(f"[probe] bpe k=$kk: $learned merges learned, " +
        f"${s / learned * 1000}%.0f ms/round")
      s / learned
    }
    println(f"[probe] bpe per-round ratio k=1024/k=256: " +
      f"${perRound(1) / perRound(0)}%.2f (≈1.0 ⇒ flat, linear in k)")
    spark.catalog.clearCache()
  }

  /** Trained language-ID train + predict for `heads` synthetic languages
    * over `n` amplified copies, at each bucket count in `ks`. */
  private def langidTiers(c: Ctx, tag: String, n: Int, heads: Int,
                          ks: Seq[Int]): Unit = {
    import c._
    import graft.text.LangIdClassifier
    val docs = amplify(table("documents"), "doc_id", n, 10000000L, parts = cpus)
      .withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(heads.toLong))))
      .localCheckpoint()
    val rows = docs.count()
    val langs = (0 until heads).map(i => s"l$i")
    for (k <- ks) {
      val (models, s) = time(s"$tag/train k=$k, $heads heads, 2 passes, $rows docs") {
        LangIdClassifier.train(docs, col("text"), col("lang"), langs,
          k = k, iters = 2)
      }
      println(f"[probe] $tag k=$k: ${s / 2}%.1f s/pass " +
        f"(${langs.size * (k + 1)} gradient columns)")
      // inference: one fused-kernel pass scoring every head
      time(s"$tag/predict k=$k, $heads heads, $rows docs") {
        LangIdClassifier.predict(docs, col("text"), models, k = k)
          .agg(count(when(col("predicted") === langs.head, 1))).head()
      }
    }
    spark.catalog.clearCache()
  }

  // ---- langid: trained language-ID CAPACITY — the lockstep trainer's
  // gradient aggregate is langs×(k+1) sum columns in ONE pass; per-pass
  // cost as k grows (20 heads, ~1M docs) locates the in-engine boundary ----
  private def langid(c: Ctx): Unit =
    langidTiers(c, "langid", 200, 20, Seq(64, 256, 1024))

  // ---- langid176: CCNet-deployment head count — head count multiplies
  // both the gradient width (train) and the score-term fanout (predict);
  // one tier at 176 heads x k=1024 over a smaller corpus ----
  private def langid176(c: Ctx): Unit =
    langidTiers(c, "langid176", 40, 176, Seq(1024))

  // ---- docext: document-extraction throughput — mixed pdf/docx/epub/rtf
  // blobs (one format per id mod 4), then ONE magic-dispatched extraction
  // pass (documentText + the epubHtml fallback, the CLI's map). Per-doc
  // cost should be flat across the tiers: extraction is map-side ----
  private def docext(c: Ctx): Unit = {
    import c._
    import c.spark.implicits._
    import graft.multimodal.DocFormats
    for (n <- Seq(20, 200)) {
      val blobs = amplify(table("documents"), "doc_id", n, 10000000L,
          parts = cpus)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, t) =>
          val b = (id % 4) match {
            case 0 => DocFormats.pdfFixture(
              s"Doc $id report body (draft).", flate = true)
            case 1 => DocFormats.docxFixture(t)
            case 2 => DocFormats.epubFixture(t)
            case _ => DocFormats.rtfFixture(t)
          }
          (id, b)
        }.toDF("doc_id", "content").localCheckpoint()
      val rows = blobs.count()
      val mb = blobs.agg(sum(length(col("content")))).head().getLong(0) / 1e6
      val (chars, s) = time(f"docext/extract $rows mixed blobs ($mb%.0f MB)") {
        blobs.as[(Long, Array[Byte])].map { case (id, b) =>
          val t = DocFormats.documentText(b)
          (id, (if (t.isEmpty) DocFormats.epubHtml(b) else t).length)
        }.toDF("doc_id", "n").agg(sum("n")).head().getLong(0)
      }
      println(f"[probe] docext x$n: ${rows / s / 1000}%.1f kdocs/s, " +
        f"${mb / s}%.1f MB/s, $chars chars out")
      spark.catalog.clearCache()
    }
  }

  // ---- chunk: within-doc sliding windows (x23) — a stateless map +
  // explode, work ∝ docs + windows with no shuffle ----
  private def chunk(c: Ctx): Unit = {
    import c._
    for (n <- Seq(20, 200)) {
      val docs = amplify(table("documents"), "doc_id", n, 10000000L,
        parts = cpus).select(col("doc_id"), col("text")).localCheckpoint()
      val rows = docs.count()
      val (wins, s) = time(s"chunk/windows w=64 s=32, $rows docs") {
        Planners.chunkWindows(docs, col("doc_id"), col("text"),
            window = 64, stride = 32)
          .agg(count(lit(1)), sum(length(col("window_text"))))
          .head().getLong(0)
      }
      println(f"[probe] chunk x$n: $wins windows, ${wins / s / 1000}%.0f kwin/s")
      spark.catalog.clearCache()
    }
  }

  // ---- lm: the KN/CCNet scoring family across two decades — the chain
  // materializes the corpus-token-scale n-gram instance relation to
  // COLUMNAR scratch, so its cost must scale LINEARLY ----
  private def lm(c: Ctx): Unit = {
    import c._
    val docs0 = table("documents")
    for (n <- Seq(20, 200, 2000)) {
      val docs = amplify(docs0, "doc_id", n, 10000000L, parts = cpus)
        .localCheckpoint()
      val rows = docs.count()
      val en = docs.filter(col("lang") === "en")
      // per-type self-trained scoring vs the target-trained broadcast
      // chain; per-decade cost must stay linear at every order
      for (order <- Seq(2, 3, 5)) {
        time(s"lm/KN$order self-trained score, $rows docs") {
          TextFunctions.lmScoresKn(docs, col("doc_id"), col("text"), order)
            .agg(count(lit(1)), sum("n_ngrams")).collect()
        }
        time(s"lm/KN$order CCNet terciles (train-on-en + score + rank), " +
            s"$rows docs") {
          TextFunctions.ccnetBuckets(TextFunctions.scoreKn(docs,
              col("doc_id"), col("text"),
              TextFunctions.fitKn(en, col("text"), order)))
            .groupBy("bucket").agg(count(lit(1))).collect()
        }
      }
      Scratch.cleanupNow()
    }
    spark.catalog.clearCache()
  }

  // ---- verify: LSH proposal + n-gram verify on an ALL-DUP corpus (every
  // doc is half of a 2-copy group, so candidate docs ≈ the whole corpus).
  // Synthetic 30-token docs from a 100k-token vocabulary keep groups
  // hash-distinct, so buckets stay size 2 and pairs track the corpus ----
  private def verify(c: Ctx): Unit = {
    import c._
    for (n <- Seq(100000L, 1000000L, 10000000L)) {
      val docs = spark.range(0, n / 2).toDF("gid")
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0), lit(29)),
            i => concat(lit("w"), pmod(hash(col("gid") * 31 + i), lit(99991))))))
        .crossJoin(broadcast(spark.range(0, 2).toDF("__c")))
        .select((col("gid") * 2 + col("__c")).as("doc_id"), col("text"))
        .repartition(cpus)
        .localCheckpoint()
      val rows = docs.count()
      time(s"verify/lsh propose + ngram verify, all-dup, $rows docs") {
        val cands = Dedup.lshCandidatePairs(
          Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 8), 4)
        Dedup.verifyCandidates(docs, cands, col("doc_id"), col("text"), 3, 0.3)
          .agg(count(lit(1)), avg("jaccard")).collect()
      }
      Scratch.cleanupNow()
    }
    spark.catalog.clearCache()
  }

  // ---- exactdedup: window form (full payload through the fingerprint
  // exchange) vs thin form (winner ids on a (fp, id) projection + semi
  // join) over exact copies; consumers force the payload so both forms
  // pay for delivering survivors, not just deciding them ----
  private def exactDedup(c: Ctx): Unit = {
    import c._
    for (n <- Seq(200, 2000)) {
      val docs = amplify(table("documents"), "doc_id", n, 10000000L,
        parts = cpus).localCheckpoint()
      val rows = docs.count()
      for (run <- 1 to 2) {
        time(s"exactdedup/window form, $rows docs, run $run") {
          Dedup.exactDedup(docs, col("doc_id"), col("text"))
            .agg(count(lit(1)), sum(length(col("text")))).collect()
        }
        time(s"exactdedup/thin form, $rows docs, run $run") {
          Dedup.exactDedupThin(docs, col("doc_id"), col("text"))
            .agg(count(lit(1)), sum(length(col("text")))).collect()
        }
      }
    }
    spark.catalog.clearCache()
  }

  // ---- stringid: the 128-bit surrogate at crawl-key scale. (a) the
  // entry-contract aggregate (NULL + duplicate-id + collision check, the
  // shape dedupCorpusStages runs eagerly) over 2·10⁸ URL keys; (b) the
  // full dedupCorpus at 1M/10M docs string-keyed vs long-keyed — the
  // surrogate's end-to-end overhead is the delta ----
  private def stringId(c: Ctx): Unit = {
    import c._
    val keys = spark.range(0, 200000000L)
      .select(concat(lit("https://example.com/"),
          pmod(hash(col("id")), lit(1000000)), lit("/page/"),
          col("id")).as("doc_id"))
      .repartition(cpus)
    val ((tot, nonNull, nid, nsid), _) =
      time("stringid/entry agg (null+dup+collision check), 2e8 string keys") {
        val r = keys.withColumn("__sid",
            graft.ops.Determinism.detHash128(col("doc_id")))
          .agg(count(lit(1)), count(col("doc_id")),
            countDistinct(col("doc_id")), countDistinct(col("__sid"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    println(s"[probe] stringid/check: total=$tot nonnull=$nonNull " +
      s"distinct_id=$nid distinct_sid=$nsid " +
      s"abort=${nid != nsid || nid != nonNull || tot != nonNull}")
    val docs0 = table("documents").select("doc_id", "text")
    for (n <- Seq(200, 2000)) {
      // unique text per copy: the chain pays real signature/verify/CC work
      // instead of collapsing at exact dedup
      val longDocs = amplify(docs0, "doc_id", n, 10000000L, parts = cpus)
        .withColumn("text", concat(col("text"), lit(" #"), col("doc_id")))
        .localCheckpoint()
      val rows = longDocs.count()
      val strDocs = longDocs.withColumn("doc_id",
          concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")))
        .localCheckpoint()
      for ((label, docs) <- Seq("LONG-keyed" -> longDocs,
          "STRING-keyed (128-bit surrogate)" -> strDocs)) {
        time(s"stringid/chain $label, $rows docs") {
          Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
            minQuality = 0.0).agg(count(lit(1))).collect()
        }
        Scratch.cleanupNow()
      }
      longDocs.unpersist(); strDocs.unpersist()
    }
    spark.catalog.clearCache()
  }

  // ---- warc: crawl-ingest throughput — 200k synthetic ~2 KB HTML pages
  // across 32 shards, read back through the full response path (HTTP
  // envelope + charset sniff + decode) and through extractHtmlText ----
  private def warc(c: Ctx): Unit = {
    import c._
    import graft.sources.Wet
    val nPages = 200000L
    val dir = tmpDir("probe_warc")
    val body = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna ") * 20
    val pages = spark.range(0, nPages)
      .select(concat(lit("https://probe.example/"), col("id")).as("url"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
        concat(lit("<html><head><meta charset=\"utf-8\"/>" +
            "<style>p{x:1}</style></head><body><script>var t=1;</script><p>"),
          lit(body), lit(" page "), col("id"),
          lit("</p></body></html>")).as("html"),
        when(col("id") % 2 === 0, lit("utf-8")).as("cs"))
    val (_, tw) = time(s"warc/write $nPages pages, 32 shards") {
      Wet.writeWarcShards(pages, "url", "ts", "html", Some("cs"), dir, 32)
    }
    val mb = dirBytes(dir) / 1e6
    println(f"[probe] warc/corpus size: $mb%.0f MB (${mb / tw}%.0f MB/s write)")
    val (_, tr) = time(s"warc/read+decode $nPages responses") {
      Wet.readWarc(spark, dir).agg(count(lit(1)), sum(length(col("html"))))
        .collect()
    }
    println(f"[probe] warc/ingest: ${mb / tr}%.0f MB/s, ${nPages / tr}%.0f pages/s")
    val (_, tx) = time(s"warc/read + extractHtmlText $nPages pages") {
      Wet.readWarc(spark, dir).agg(
        sum(length(TextFunctions.extractHtmlText(col("html"))))).collect()
    }
    println(f"[probe] warc/ingest+extract: ${mb / tx}%.0f MB/s, ${nPages / tx}%.0f pages/s")
    spark.catalog.clearCache()
  }

  // ---- warcbig: one synthetic WARC file ABOVE the old whole-file
  // ceilings (>2 GiB raw), read back plain AND through in-flight gunzip.
  // The file cannot exist as one array, so the counts only come back if
  // the reader walks one record at a time ----
  private def warcBig(c: Ctx): Unit = {
    import c._
    import graft.sources.Wet
    val nPages = 2200L
    val dirPlain = tmpDir("probe_warcbig")
    val dirGz = tmpDir("probe_warcbig_gz")
    // ~1 MiB body per page -> one ~2.3 GiB shard
    val line = "the quick brown fox jumps over the lazy dog 0123456789abc "
    val body = line * (1048576 / line.length)
    val pages = spark.range(0, nPages)
      .select(concat(lit("https://big.example/"), col("id")).as("url"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("ts"),
        concat(lit("<html><body><p>"), lit(body), lit(" page "),
          col("id"), lit("</p></body></html>")).as("html"),
        lit(null).cast("string").as("cs"))
    val (_, tw) = time(s"warcbig/write $nPages x ~1MiB pages, 1 shard") {
      Wet.writeWarcShards(pages, "url", "ts", "html", Some("cs"), dirPlain, 1)
    }
    val plainFile = new java.io.File(dirPlain).listFiles()
      .find(_.getName.endsWith(".warc")).get
    val gzFile = new java.io.File(dirGz, "big.warc.gz")
    val gb = plainFile.length() / 1e9
    println(f"[probe] warcbig/file size: $gb%.2f GB (${gb * 1000 / tw}%.0f MB/s write)")
    require(plainFile.length() > (Int.MaxValue.toLong + 1),
      "warcbig: fixture must exceed the old 2 GiB whole-file ceiling " +
        s"to prove the record-streaming walk, got ${plainFile.length()}")
    time("warcbig/gzip the shard (driver, streamed)") {
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(plainFile), 1 << 16)
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(gzFile), 1 << 16))
      try in.transferTo(out) finally { in.close(); out.close() }
    }
    println(f"[probe] warcbig/gz size: ${gzFile.length() / 1e6}%.0f MB (raw $gb%.2f GB)")
    def read(dir: String) = Wet.readWarc(spark, dir)
      .agg(count(lit(1)), sum(length(col("html")))).collect()(0)
    val (cPlain, tr) = time(s"warcbig/read $nPages x 1MiB (plain, >2GiB file)") {
      read(dirPlain)
    }
    require(cPlain.getLong(0) == nPages,
      s"warcbig: plain read returned ${cPlain.getLong(0)} of $nPages")
    println(f"[probe] warcbig/plain ingest: ${gb * 1000 / tr}%.0f MB/s")
    val (cGz, trz) = time(s"warcbig/read $nPages x 1MiB (gz, in-flight inflate)") {
      read(dirGz)
    }
    require(cGz.getLong(0) == nPages && cGz.getLong(1) == cPlain.getLong(1),
      s"warcbig: gz read mismatch (${cGz.getLong(0)} rows, " +
        s"${cGz.getLong(1)} vs ${cPlain.getLong(1)} chars)")
    println(f"[probe] warcbig/gz ingest: ${gb * 1000 / trz}%.0f MB/s decompressed")
    gzFile.delete()
    plainFile.delete()
  }

  // ---- clusters: ingestClusterDelta's fold-in (one no-shuffle read pass
  // over the assignment + rep-level CC ∝ the shard's pairs) vs batch
  // re-clustering over (old star edges ∪ new pairs); a fixed 20k-pair
  // shard against 1M / 10M-doc assignments ----
  private def clusters(c: Ctx): Unit = {
    import c._
    val nNew = 20000L
    for (n <- Seq(1000000L, 10000000L)) {
      // clusters of 4: assignment doc -> floor(id/4)*4
      val asg = spark.range(n)
        .select(col("id").as("doc_id"), (col("id") - col("id") % 4).as("cluster"))
        .repartition(cpus).localCheckpoint()
      // shard: half new-doc-to-old-doc links, half old-old bridges
      val pairs = spark.range(nNew).select(
          when(col("id") % 2 === 0, col("id") + n) // new doc id
            .otherwise((col("id") * 7919L) % n).as("doc_a"),
          ((col("id") * 104729L) % n).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .localCheckpoint()
      time(s"clusters/incremental fold-in, $n-doc assignment, $nNew new pairs") {
        Dedup.incrementalClusters(asg, pairs).agg(count(lit(1))).collect()
      }
      time(s"clusters/batch re-cluster, $n docs + $nNew new pairs") {
        Dedup.connectedComponentsStar(
          asg.select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
            .filter(col("doc_a") =!= col("doc_b"))
            .union(pairs),
          "doc_a", "doc_b").agg(count(lit(1))).collect()
      }
    }
    spark.catalog.clearCache()
  }

  // ---- stream: streaming day-2 ingest rate tracks the SHARD — the
  // stream-static candidate joins read only the index buckets a
  // micro-batch touches, so wall scales with shard rows at a FIXED index
  // size. 1x/10x/100x shards against one persisted index, several
  // micro-batches each, for text bands and semantic cells. Startup and
  // trigger overhead is fixed per run, so the ratio bounds the per-row
  // exponent from above ----
  private def stream(c: Ctx): Unit = {
    import c._
    import graft.streaming.Streaming
    import org.apache.spark.sql.streaming.Trigger
    val tmpRoot = tmpDir("streamprobe")
    def drain(df: DataFrame, name: String): Unit = {
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", s"$tmpRoot/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          println(s"[probe] $name batch=$id candidates=${b.count()}")
        }.start()
      time(s"stream/$name drain") { q.awaitTermination() }
    }
    // `copies`× the `src` slice written as 8 files, read back as a stream
    // of 2 files per trigger
    def shardStream(src: DataFrame, idCol: String, copies: Int,
                    name: String): DataFrame = {
      val in = s"$tmpRoot/${name}_in_$copies"
      amplify(src, idCol, copies, 1000000L)
        .withColumn(idCol, col(idCol) + 900000000L)
        .repartition(8).write.parquet(in)
      spark.readStream.schema(spark.read.parquet(in).schema)
        .option("maxFilesPerTrigger", 2).parquet(in)
    }
    // text: 10x-corpus band index, shards of 500 / 5000 / 50000 docs
    val docs = table("documents")
    val corpus = amplify(docs, "doc_id", 10, 10000000L, parts = cpus)
      .localCheckpoint()
    Dedup.writeBandIndex(Dedup.bandedSignaturesProjected(
      corpus, col("doc_id"), col("text"), 8, 4), "probe_stream_band_idx")
    val bandIdx = Dedup.readBandIndex(spark, "probe_stream_band_idx")
    for (n <- Seq(1, 10, 100))
      drain(Streaming.ingestCandidates(Dedup.bandedSignaturesProjected(
          shardStream(docs.limit(500), "doc_id", n, "text"), col("doc_id"),
          col("text"), 8, 4), bandIdx),
        s"text_${n}x (${n * 500} docs)")
    // semantic: 10x-embeddings cell index, shards of 200 / 2000 / 20000
    val emb = table("embeddings")
    val vcorpus = amplify(emb, "vec_id", 10, 10000000L, parts = cpus)
      .localCheckpoint()
    val cents = Vectors.kmeansCentroids(vcorpus, "vec_id", "embedding", 64)
      .localCheckpoint()
    Vectors.writeSemanticIndex(vcorpus, "vec_id", "embedding", cents,
      "probe_stream_sem_idx")
    val semIdx = Vectors.readSemanticIndex(spark, "probe_stream_sem_idx")
    for (n <- Seq(1, 10, 100))
      drain(Streaming.ingestSemanticCandidates(
          shardStream(emb.limit(200), "vec_id", n, "sem"), semIdx, cents,
          "vec_id", "embedding", minCosine = 0.9),
        s"sem_${n}x (${n * 200} vecs)")
  }

  // ---------------------------------------------------------------- main

  private val usage =
    "usage: Probe query <sfDir> <name> [--explain] [--times N]\n" +
      "       Probe plans <sfDir> <outDir> <suffix> <q1,q2,...|all>\n" +
      "       Probe sections <sfDir> <s1,s2,...> [--copies N]"

  private def flag(args: Seq[String], name: String): Option[Int] =
    args.sliding(2).collectFirst { case Seq(`name`, n) => n.toInt }

  def main(args: Array[String]): Unit = {
    // every argument is checked before the session starts
    val run: Ctx => Unit = args.toSeq match {
      case Seq("query", sfDir, name, rest @ _*) =>
        val build: SparkSession => DataFrame =
          SparkEntry.queries.get(name).map(q => q(_: SparkSession, sfDir))
            .orElse(relations.get(name).map(r => (s: SparkSession) =>
              r(s.read.parquet(s"$sfDir/documents.parquet"))))
            .getOrElse(sys.error(s"unknown query or relation: $name; " +
              s"relations: ${relations.keys.mkString(",")}"))
        val times = flag(rest, "--times").getOrElse(1)
        c => {
          if (rest.contains("--explain")) build(c.spark).explain("formatted")
          (1 to times).foreach { i =>
            time(s"$name run $i")(force(build(c.spark)))
          }
        }
      case Seq("plans", sfDir, outDir, suffix, qlist) =>
        val names =
          if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted
          else qlist.split(",").toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        c => plans(c.spark, sfDir, outDir, suffix, names)
      case Seq("sections", _, list, _*) =>
        val names = parseSections(list)
        c => names.foreach(n => sections(n)(c))
      case _ => sys.error(usage)
    }
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, cpus.toInt)
    try run(new Ctx(spark, sfDir, cpus.toInt, flag(args.toSeq, "--copies")))
    finally spark.stop()
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    suffix: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[probe] plans $name ok")
      } catch { case e: Throwable =>
        println(s"[probe] plans $name FAILED: ${e.getMessage.take(200)}")
      } finally {
        spark.catalog.clearCache()
        Scratch.cleanupNow()
      }
    }
  }
}

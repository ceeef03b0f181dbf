package perfbench

import graft.core.Scratch
import graft.dedup.Dedup
import graft.ops.{ManifestOps, Planners, Sampling}
import graft.pipelines.Pipelines
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload. An iteration is `reset` (untimed), `run` (timed),
  * then `check` (untimed). `run` calls the engine's public pipeline
  * functions; with an enabled [[Tracer]] it calls the same public functions
  * the pipeline composes, in order, each inside its layer's span.
  */
trait Workload {
  /** Opens the generated inputs and does the set-up the workload needs
    * from the program. Timed as part of `setup_s`.
    */
  def setup(spark: SparkSession): Unit
  /** Untimed: brings outputs and maintained tables back to the set-up state. */
  def reset(spark: SparkSession): Unit
  def run(spark: SparkSession, t: Tracer): Unit
  /** Untimed: None when the iteration's outputs are right, else why not. */
  def check(spark: SparkSession): Option[String]
  /** Bytes the last iteration landed in outputs and maintained tables. */
  def bytesWritten: Long
  /** Input properties that need the engine (the generator reports the rest). */
  def inputProps(spark: SparkSession): Map[String, Double]
}

object Workload {
  val K = 8
  val BandSize = 4
  val MaxBucket = 64
  val MinQuality = 0.5

  def apply(name: String, in: String, work: String, truth: Json.Node): Workload =
    name match {
      case "curate" => new Curate(in, work, truth)
      case "feed"   => new Feed(in, work, truth)
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Bytes of the data files under `dir` (hidden and `_` files excluded). */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new java.io.File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete(); ()
    }
    del(new java.io.File(dir))
  }

  /** Share of band slots the per-bucket cap drops ([[Dedup.bandOccupancy]]). */
  def capDropShare(banded: DataFrame): Double = {
    val dropped = Dedup.bandOccupancy(banded, MaxBucket)
      .agg(coalesce(sum(col("docs_dropped")), lit(0L))).head().getLong(0)
    dropped.toDouble / math.max(1L, banded.count())
  }

  def checksum(df: DataFrame): Long =
    df.agg(coalesce(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)),
      lit(0L))).head().getLong(0)
}

/** `Pipelines.dedupCorpus` with its defaults plus `lineScrubDf`, written as
  * parquet: the batch curation chain, where the `dedup` layer does most of
  * the work (candidates, verify, star-CC).
  */
final class Curate(in: String, work: String, truth: Json.Node) extends Workload {
  import Workload._
  private val out = s"$work/out/curate"
  private val lineScrubDf = truth("line_scrub_df").int
  private val exactGroups = truth("exact_groups").items.map(_.items.map(_.long))
  private var docs: DataFrame = _
  private var firstChecksum: Option[Long] = None
  private var inputIds: Set[Long] = Set.empty

  def setup(spark: SparkSession): Unit =
    docs = spark.read.parquet(s"$in/docs")

  def reset(spark: SparkSession): Unit = deleteTree(out)

  def run(spark: SparkSession, t: Tracer): Unit =
    if (!t.enabled)
      Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
          lineScrubDf = lineScrubDf)
        .write.mode("overwrite").parquet(out)
    else runTraced(t)

  /** The `dedupCorpusStages` chain for these parameters (integral ids, NFC
    * on, line scrub on, every other optional stage off), stage by stage.
    */
  private def runTraced(t: Tracer): Unit = {
    val id = col("doc_id")
    t.span("pipelines.id_check") {
      docs.agg(count(lit(1)), count(id), countDistinct(id)).head()
    }
    val nfc = docs.withColumn("text", TextFunctions.nfcNormalize(col("text")))
    val clean = t.span("text.line_scrub") {
      val scrubbed = Dedup.scrubFrequentSegments(nfc, id,
          split(col("text"), "\n"), lineScrubDf)
        .select(col("doc_id").as("__ls_id"), col("clean_text").as("__ls_clean"))
      t.force(nfc.join(scrubbed, id === col("__ls_id"), "left")
        .withColumn("__ls_clean2", coalesce(col("__ls_clean"), col("text")))
        .drop("text", "__ls_id", "__ls_clean")
        .withColumnRenamed("__ls_clean2", "text"))
    }
    val quality = t.span("text.gate") {
      t.force(clean.filter(
        round(TextFunctions.qualityScoreNative(col("text")), 6) >= MinQuality))
    }
    val exact = t.span("dedup.exact") {
      Scratch.materialize(Dedup.exactDedupThin(quality, id, col("text")),
        "dedup_exact")
    }
    val banded = t.span("dedup.minhash") {
      t.force(Dedup.bandedSignaturesProjected(exact, id, col("text"), K, BandSize))
    }
    t.aside(t.count("dedup.bucket_cap_drop_share", capDropShare(banded)))
    val cands = t.span("dedup.candidates") {
      t.force(Dedup.lshCandidatePairsAuto(exact, id, col("text"), K, BandSize))
    }
    val verified = t.span("dedup.verify") {
      t.force(Dedup.verifyCandidates(exact, cands, id, col("text"), 3, 0.3)
        .select(col("doc_a"), col("doc_b")))
    }
    val clusters = t.span("dedup.cc") {
      t.force(Dedup.connectedComponentsStar(verified, "doc_a", "doc_b"))
    }
    t.span("pipelines.write") {
      val drop = clusters.filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id").as("__drop_id"))
      exact.join(drop, id === col("__drop_id"), "left_anti")
        .write.mode("overwrite").parquet(out)
    }
    t.aside {
      val nc = cands.count().toDouble
      val nv = verified.count().toDouble
      t.count("dedup.candidate_pairs", nc)
      t.count("dedup.verified_pairs", nv)
    }
  }

  def check(spark: SparkSession): Option[String] = {
    import spark.implicits._
    if (inputIds.isEmpty) inputIds = docs.select("doc_id").as[Long].collect().toSet
    val kept = spark.read.parquet(out)
    val ids = kept.select("doc_id").as[Long].collect()
    val keptSet = ids.toSet
    val badGroups = exactGroups.count(g => g.count(keptSet) != 1)
    val sum = checksum(kept)
    if (ids.isEmpty) Some("curate: no documents kept")
    else if (keptSet.size != ids.length) Some("curate: kept ids are not unique")
    else if (!keptSet.subsetOf(inputIds)) Some("curate: kept ids not in the input")
    else if (badGroups > 0)
      Some(s"curate: $badGroups planted exact-duplicate groups without exactly one survivor")
    else if (firstChecksum.exists(_ != sum))
      Some(s"curate: output checksum $sum differs from the run's first ${firstChecksum.get}")
    else { firstChecksum = Some(sum); None }
  }

  def bytesWritten: Long = dirBytes(out)

  def inputProps(spark: SparkSession): Map[String, Double] =
    Map("bucket_cap_drop_share" -> capDropShare(Dedup.bandedSignaturesProjected(
      docs.withColumn("text", TextFunctions.nfcNormalize(col("text"))),
      col("doc_id"), col("text"), K, BandSize)))
}

/** The reference's training feed: the curriculum over a VTON manifest with
  * each stage written by `shardedFeedSink`, `evaluate` over metric scores,
  * and `curatedFeed` (identity curate) over a multi-source corpus.
  *
  * The curriculum runs its final stage only, the one that samples all three
  * difficulties: the other two repeat the same calls with other fractions,
  * and a run has no time to spare for them.
  */
final class Feed(in: String, work: String, truth: Json.Node) extends Workload {
  import Workload._
  private val out = s"$work/out/feed"
  private val shards = 8
  private val budget = 2048L
  private val windowsPerShard = 16L
  private val stages = Pipelines.curriculumStages.takeRight(1)
  private val complete = truth("complete").fields.map { case (k, v) => k -> v.long }.toMap
  private val metrics = truth("metrics").items.map(_.string)
  private val models = truth("models").int
  private var manifest, testManifest, scores, corpus, weights: DataFrame = _

  def setup(spark: SparkSession): Unit = {
    import spark.implicits._
    manifest = spark.read.parquet(s"$in/manifest")
    testManifest = spark.read.parquet(s"$in/test_manifest")
    scores = spark.read.parquet(s"$in/scores")
    corpus = spark.read.parquet(s"$in/corpus")
    weights = Seq("web", "books", "code", "wiki", "forums", "papers")
      .map(_ -> 1.0).toDF("source", "w")
  }

  def reset(spark: SparkSession): Unit = deleteTree(out)

  def run(spark: SparkSession, t: Tracer): Unit =
    if (!t.enabled) {
      Pipelines.curriculum(manifest, stages).foreach { case (stage, feed) =>
        Pipelines.shardedFeedSink(feed, s"$out/curriculum/$stage", shards)
      }
      Pipelines.evaluate(testManifest, scores, metrics)
        .write.mode("overwrite").parquet(s"$out/eval")
      Pipelines.curatedFeed(corpus, "doc_id", "source", weights,
          TextFunctions.tokenCountNative(col("text")), budget, windowsPerShard,
          s"$out/packed")
        .write.mode("overwrite").parquet(s"$out/shard_manifest")
    } else runTraced(t)

  /** `curriculum` (`trainingFeed` per stage), `evaluate` and `curatedFeed`
    * (identity curate, no epoch, no token-count override), call by call.
    */
  private def runTraced(t: Tracer): Unit = {
    stages.foreach { case (stage, profile) =>
      val typed = manifest
        .filter(ManifestOps.isImageKey(col("key")))
        .withColumn("filename", ManifestOps.basename(col("key")))
        .withColumn("stem", ManifestOps.stem(col("filename")))
        .withColumn("image_type", ManifestOps.imageType(col("filename")))
        .withColumn("difficulty", ManifestOps.difficulty(col("prefix")))
        .filter(col("image_type").isNotNull)
      val triplets = t.span("ops.manifest.triplets") {
        t.force(ManifestOps.tripletDiscoveryWith(
          typed.select("stem", "image_type", "key", "difficulty"),
          Seq("difficulty")))
      }
      val sampled = t.span("ops.sampling.stratified") {
        t.force(Sampling.stratifiedExactDistributed(triplets, col("difficulty"),
          xxhash64(col("stem")), profile))
      }
      val feed = t.span("ops.sampling.shuffle_pos") {
        t.force(Sampling.shufflePositionDistributed(sampled, xxhash64(col("stem"))))
      }
      t.span("pipelines.feed_sink") {
        Pipelines.shardedFeedSink(feed, s"$out/curriculum/$stage", shards)
      }
    }
    t.span("ops.stats.evaluate") {
      Pipelines.evaluate(testManifest, scores, metrics)
        .write.mode("overwrite").parquet(s"$out/eval")
    }
    val narrow = t.span("text.token_count") {
      Scratch.materialize(corpus.select(col("doc_id"), col("source"),
        TextFunctions.tokenCountNative(col("text")).cast("long").as("__ntok")),
        "feednarrow")
    }
    val plan = t.span("ops.planners.mixture") {
      val per = narrow.groupBy(col("source").as("source"))
        .agg(sum(col("__ntok")).as("src_tokens"))
        .join(weights.select(col("source").as("source"), col("w")), "source")
      t.force(Planners.tokenBudgetMixture(per))
    }
    val sampled = t.span("ops.sampling.stratified") {
      Scratch.materialize(Sampling.stratifiedExactByPlan(narrow, col("source"),
        col("doc_id"), plan, "source"), "feedsample")
    }
    t.span("pipelines.pack") {
      Pipelines.writePackedShards(sampled, "source", "doc_id", "__ntok", budget,
        windowsPerShard, s"$out/packed")
      Planners.shardManifest(sampled, "source", "doc_id", "__ntok", budget,
          windowsPerShard)
        .write.mode("overwrite").parquet(s"$out/shard_manifest")
    }
  }

  def check(spark: SparkSession): Option[String] = {
    val stageErrors = stages.flatMap { case (stage, profile) =>
      val feed = spark.read.parquet(s"$out/curriculum/$stage")
      val counts = feed.groupBy("difficulty").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val plan = complete.map { case (d, n) =>
        d -> math.floor(n.toDouble * profile.getOrElse(d, 0.0)).toLong
      }.filter(_._2 > 0)
      val total = plan.values.sum
      val p = feed.agg(count(lit(1)), countDistinct(col("pos")), min(col("pos")),
        max(col("pos"))).head()
      if (counts != plan) Some(s"feed/$stage: per-stratum counts $counts, plan $plan")
      else if (p.getLong(0) != total || p.getLong(1) != total ||
        p.getLong(2) != 1L || p.getLong(3) != total)
        Some(s"feed/$stage: positions are not a permutation of 1..$total")
      else None
    }
    val eval = spark.read.parquet(s"$out/eval")
    val evalNulls = eval.filter(metrics.map(m => col(m).isNull).reduce(_ || _)).count()
    val spans = spark.read.parquet(s"$out/packed")
    val over = spans.groupBy("source", "seq").agg(sum(col("len")).as("t"))
      .filter(col("t") > budget).count()
    val packedTokens = spans.agg(sum(col("len"))).head().getLong(0)
    val manifestTokens = spark.read.parquet(s"$out/shard_manifest")
      .agg(sum(col("shard_tokens"))).head().getLong(0)
    stageErrors.headOption
      .orElse(if (eval.count() != models || evalNulls > 0)
        Some(s"feed: evaluate has ${eval.count()} rows ($evalNulls with nulls), expected $models")
        else None)
      .orElse(if (over > 0) Some(s"feed: $over packed windows over the $budget-token budget")
        else None)
      .orElse(if (packedTokens != manifestTokens)
        Some(s"feed: shards hold $packedTokens tokens, manifest says $manifestTokens")
        else None)
  }

  def bytesWritten: Long = dirBytes(out)

  def inputProps(spark: SparkSession): Map[String, Double] = Map.empty
}

package graft

import graft.dedup.Dedup
import graft.pipelines.Pipelines
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.JobShim

/** Spark-job ceilings for pipeline entry points on small fixed inputs. Each
  * job is a driver round-trip and a re-plan at any scale, so a change that
  * adds jobs to an entry point fails here; a change that removes jobs
  * lowers the ceiling in the same commit.
  */
class JobBudgetSpec extends SparkSpec {

  import spark.implicits._

  /** Spark jobs that `body` starts on this thread (and the threads Spark
    * hands its local properties to: broadcasts, subqueries). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(JobShim.JobGroupKey) == group)) seen.incrementAndGet()
    }
    JobShim.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try body
    finally {
      sc.clearJobGroup()
      JobShim.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.get()
  }

  test("connectedComponentsStar: a small graph is one driver finish, not per-round jobs") {
    // two chains and a star, 20 edges, 23 vertices
    val pairs = ((1L to 8L).map(i => (i, i + 1)) ++
      (20L to 25L).map(i => (i + 1, i)) ++
      (40L to 45L).map(i => (40L, i + 1))).toDF("doc_a", "doc_b")
    var labels = Map.empty[Long, Long]
    val jobs = jobsOf {
      labels = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
    }
    assert(labels.size === 23 && labels.values.toSet === Set(1L, 20L, 40L))
    // star CC's rounds took 30 jobs on this graph
    assert(jobs <= CcCeiling, s"$jobs jobs")
  }

  test("connectedComponentsStar: one parallel stage computes the pair relation before the finish") {
    // a shuffle-free 4-partition chain that records which stage computed
    // each of its partitions; a lazily materialized pair relation is first
    // computed by the finish's bounded collect, one partition and then
    // the other three, in two sequential stages
    CcStages.seen.clear()
    val pairs = spark.range(0, 40, 1, 4).as[Long].mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      CcStages.seen.add((tc.stageId(), tc.partitionId()))
      it.map(i => (i, i + 1))
    }.toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponentsStar(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(labels.length === 41 && labels.forall(_._2 == 0L))
    val seen = CcStages.seen.toArray.toSeq.map(_.asInstanceOf[(Int, Int)])
    assert(seen.map(_._2).sorted === Seq(0, 1, 2, 3), seen)
    assert(seen.map(_._1).distinct.size === 1, seen)
  }

  test("dedupCorpus: job ceiling on a small corpus") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (1L to 40L).map { i =>
      // four 10-doc families: each doc is its family's text with one word
      // swapped, so the families are near-duplicate clusters
      val fam = words.map(w => s"$w${i % 4}")
      (i, fam.updated((i % 10).toInt, s"x$i").mkString(" "))
    }.toDF("doc_id", "text")
    var kept = 0L
    val jobs = jobsOf {
      kept = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0).count()
    }
    assert(kept > 0L && kept < 40L, s"kept $kept")
    // 44 jobs when star CC ran its rounds here
    assert(jobs <= DedupCorpusCeiling, s"$jobs jobs")
  }

  test("dedupCorpus with the line scrub: job ceiling on a small corpus") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    // the dedupCorpus case's families, each doc framed by a nav line and a
    // footer every doc shares, plus a line 3 docs share
    val docs = (1L to 40L).map { i =>
      val fam = words.map(w => s"$w${i % 4}")
      (i, Seq("home | about | contact",
        fam.updated((i % 10).toInt, s"x$i").mkString(" "),
        if (i % 13 == 0) "shared by three" else s"own line $i",
        "(c) example.org").mkString("\n"))
    }.toDF("doc_id", "text")
    var kept = Array.empty[String]
    val jobs = jobsOf {
      kept = Pipelines.dedupCorpus(docs, col("doc_id"), col("text"),
        minQuality = 0.0, lineScrubDf = 3).select("text").as[String].collect()
    }
    assert(kept.nonEmpty && kept.length < 40, s"kept ${kept.length}")
    assert(kept.forall(t => !t.contains("home |") && !t.contains("(c) example")),
      kept.mkString("; "))
    assert(jobs <= DedupCorpusScrubCeiling, s"$jobs jobs")
  }

  test("dedupCorpus with exact-URL dedup, pre-clean and the line scrub: job ceiling on a small corpus") {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    // the line-scrub case's docs, every fifth a re-crawl of an earlier URL
    val docs = (1L to 40L).map { i =>
      val fam = words.map(w => s"$w${i % 4}")
      (i, s"https://example.org/p${if (i % 5 == 0) i - 1 else i}",
        Seq("home | about | contact",
          fam.updated((i % 10).toInt, s"x$i").mkString(" "),
          s"own line $i", "(c) example.org").mkString("\n"))
    }.toDF("doc_id", "url", "text")
    var kept = Array.empty[String]
    val jobs = jobsOf {
      kept = Pipelines.dedupCorpusStages(docs, col("doc_id"), col("text"),
        minQuality = 0.0, lineScrubDf = 3, preClean = true,
        urlCol = Some("url"), urlExactDedup = true).last._2
        .select("text").as[String].collect()
    }
    // the 8 re-crawls go; the scrub runs before pre-clean joins the
    // lines, so the nav and footer every doc shares go too
    assert(kept.nonEmpty && kept.length <= 32, s"kept ${kept.length}")
    assert(kept.forall(t => !t.contains("home |") && !t.contains("(c) example")),
      kept.mkString("; "))
    assert(jobs <= DedupCorpusUrlScrubCeiling, s"$jobs jobs")
  }

  /** A 60-stem VTON manifest over the three difficulties: 6 of the stems
    * miss their try-on image and 4 keys are not images. */
  private def vtonManifest = {
    val rows = for {
      i <- 1 to 60
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- Seq("person", "cloth_a", "vton") if !(i % 10 == 0 && suffix == "vton")
    } yield (s"s3://b/$diff/stem${i}_$suffix.jpg", s"s3://b/$diff/")
    (rows ++ (1 to 4).map(i => (s"s3://b/easy/notes$i.txt", "s3://b/easy/")))
      .toDF("key", "prefix")
  }

  test("trainingFeed + shardedFeedSink: job ceiling for one curriculum stage") {
    val manifest = vtonManifest
    val out = java.nio.file.Files.createTempDirectory("jb-feed").toString
    val jobs = jobsOf {
      Pipelines.curriculum(manifest, Pipelines.curriculumStages.takeRight(1))
        .foreach { case (stage, feed) =>
          Pipelines.shardedFeedSink(feed, s"$out/$stage", 4)
        }
    }
    val back = spark.read.parquet(s"$out/hard")
    assert(back.count() === back.select("pos").distinct().count() && back.count() > 0)
    assert(jobs <= FeedCeiling, s"$jobs jobs")
  }

  test("evaluate: job ceiling") {
    val stems = (1 to 20).map(i => s"stem$i")
    val scores = for {
      m <- Seq("m1", "m2"); metric <- Seq("lpips", "ssim"); (s, i) <- stems.zipWithIndex
    } yield (m, s, metric, i * 0.01)
    val out = java.nio.file.Files.createTempDirectory("jb-eval").toString
    val jobs = jobsOf {
      Pipelines.evaluate(stems.take(15).toDF("stem"),
          scores.toDF("model", "stem", "metric", "value"), Seq("lpips", "ssim"))
        .write.mode("overwrite").parquet(out)
    }
    assert(spark.read.parquet(out).count() === 2L)
    assert(jobs <= EvaluateCeiling, s"$jobs jobs")
  }

  test("curatedFeed: job ceiling, shards and manifest included") {
    val docs = (1 to 120).map { i =>
      (i.toLong, Seq("web", "code", "wiki")(i % 3), (i % 37 + 38).toLong)
    }.toDF("doc_id", "source", "n_tok")
    val weights = Seq(("web", 1), ("code", 2), ("wiki", 1)).toDF("source", "w")
    val out = java.nio.file.Files.createTempDirectory("jb-packed").toString
    var tokens = 0L
    val jobs = jobsOf {
      tokens = Pipelines.curatedFeed(docs, "doc_id", "source", weights,
          col("n_tok"), budget = 64, windowsPerShard = 4, outDir = s"$out/shards")
        .agg(sum("shard_tokens")).head().getLong(0)
    }
    assert(tokens > 0L && tokens ===
      spark.read.parquet(s"$out/shards").agg(sum("len")).head().getLong(0))
    assert(jobs <= CuratedFeedCeiling, s"$jobs jobs")
  }

  // 3 with the finish's bounded collect (one partition, then the rest);
  // 2 with the pair relation's row count taken from its checkpoint job
  private val CcCeiling = 2
  // 21 with a count() after the candidate checkpoint for the broadcast
  // guard (two jobs under AQE); 19 with the count from the checkpoint job;
  // 18 with CC's finish collecting in one job
  private val DedupCorpusCeiling = 18
  // 24 with the line scrub as a df aggregate, join-back, regroup and a
  // join back to the corpus; 21 with the frequent-line set collected once
  // (its byte total summed beside the keys) and each doc's lines filtered
  // in place; 20 with CC's finish collecting in one job
  private val DedupCorpusScrubCeiling = 20
  // 26 in the join form; 24 though the set's collect runs the URL dedup
  // a second time. Still 24 with the scrub ahead of pre-clean: its
  // frequent-line set is no longer empty (one job more to collect it),
  // and CC's finish collects in one job (one less)
  private val DedupCorpusUrlScrubCeiling = 24
  // range-sampled ranks with a scratch round-trip each took 19; one
  // hash-bucket aggregate for sample and position takes 8
  private val FeedCeiling = 8
  // a pivot over the stats pack took 4; one conditional aggregate takes 3
  private val EvaluateCeiling = 3
  // 35 with a feedsample scratch, a range-ranked sample and the layout
  // built twice (shards, then manifest); 22 with the layout built once
  // (the manifest's token sum here is one job more than a manifest write)
  private val CuratedFeedCeiling = 22
}

/** (stage id, partition id) of every partition a test relation computed. */
private object CcStages {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
}

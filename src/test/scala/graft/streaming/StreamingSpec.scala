package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Stream-equals-batch: the streaming forms must produce exactly the batch
  * results that the DuckDB oracle already verified (t2_step_buckets /
  * t3_resume_state), run over the same sf0.001 events via a file stream
  * with an AvailableNow trigger and a checkpointed foreachBatch sink.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val batchEvents = Tables.load(spark, sf0001, "events").cache()

  private def snapshot(aggregated: org.apache.spark.sql.DataFrame) =
    Streaming.runToSnapshot(spark, aggregated, tmp("out"), tmp("ckpt"))

  test("streaming stepBuckets == batch stepBuckets (oracle-checked)") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val got = snapshot(Streaming.stepBuckets(stream))
      .as[(Long, Long, Double, Double)].collect().toSet
    val want = Streaming.stepBuckets(batchEvents)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got === want)
  }

  test("streaming resumeState == batch resumeState (oracle-checked)") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val got = snapshot(Streaming.resumeState(stream))
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = Streaming.resumeState(batchEvents)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("streaming timeWindowed (with watermark) == batch") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val got = snapshot(Streaming.timeWindowed(stream))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSet
    val want = Streaming.timeWindowed(batchEvents)
      .as[(java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("streaming trainingFeedStream snapshot == batch trainingFeed, across micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val rows = for {
      i <- 1 to 60
      diff = Seq("easy", "medium", "hard")(i % 3)
      suffix <- if (i % 10 == 0) Seq("person") // incomplete stems
                else Seq("person", "cloth_a", "vton")
    } yield (s"s3://b/$diff/stem$i" + s"_$suffix.jpg", s"s3://b/$diff/")
    val manifest = rows.toDF("key", "prefix")
    val profile = Map("easy" -> 0.8, "medium" -> 0.5, "hard" -> 0.25)
    val dir = tmp("feedstream")
    // two disjoint manifest files + maxFilesPerTrigger=1 → two micro-
    // batches: the final snapshot must cover the ACCUMULATED manifest
    // (a triplet split across batches only completes in the second)
    manifest.filter(xxhash64(col("key")) % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    manifest.filter(xxhash64(col("key")) % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.trainingFeedStream(stream, profile,
      s"$dir/manifest", s"$dir/feed", s"$dir/ckpt", Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/feed")
      .select("stem", "difficulty", "pos")
      .as[(String, String, Long)].collect().toSet
    val want = graft.pipelines.Pipelines.trainingFeed(manifest, profile)
      .select("stem", "difficulty", "pos")
      .as[(String, String, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("snapshotEpochStream: each micro-batch is an epoch; readAsOf time-travels the stream == batch chain") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.Snapshots
    val dir = tmp("snapstream")
    // two keyed-update files + maxFilesPerTrigger=1 → two epochs:
    // epoch 0 inserts {1→a, 2→b}; epoch 1 updates 2 and deletes 1
    val b0 = Seq((1L, "a", false), (2L, "b", false))
    val b1 = Seq((2L, "b2", false), (1L, "a", true))
    b0.toDF("k", "val", "_deleted").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    b1.toDF("k", "val", "_deleted").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.snapshotEpochStream(stream, s"$dir/snap", s"$dir/ckpt",
      Trigger.AvailableNow())
    q.awaitTermination()
    assert(Snapshots.versions(spark, s"$dir/snap") === Seq(0, 1))
    def asOf(d: String, v: Int): Map[Long, String] =
      Snapshots.readAsOf(spark, d, Seq("k"), v).as[(Long, String)]
        .collect().toMap
    // file-source ordering: epoch ids are assigned by arrival, so the two
    // possible orders both yield a valid chain; identify epoch 0 by content
    val (first, second) =
      if (asOf(s"$dir/snap", 0).contains(1L)) (b0, b1) else (b1, b0)
    // version-by-version equality with a directly-written batch chain
    val batchDir = tmp("snapbatch")
    Snapshots.writeEpoch(first.toDF("k", "val", "_deleted"), batchDir, 0)
    Snapshots.writeEpoch(second.toDF("k", "val", "_deleted"), batchDir, 1)
    assert(asOf(s"$dir/snap", 0) === asOf(batchDir, 0))
    assert(asOf(s"$dir/snap", 1) === asOf(batchDir, 1))
    // and the final state is the expected LWW-with-deletes result: the
    // later epoch's update and delete both take effect
    val wantFinal = (first.map(r => r._1 -> r).toMap ++
      second.map(r => r._1 -> r).toMap)
      .collect { case (k, (_, v, del)) if !del => k -> v }
    assert(asOf(s"$dir/snap", 1) === wantFinal)
  }

  test("snapshotEpochStream compactEvery: chain stays bounded, readAsOf correct across mid-stream compaction") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.ops.Snapshots
    val dir = tmp("snapcompact")
    // six single-key-update files + maxFilesPerTrigger=1 → six micro-batch
    // epochs (ids 0..5); distinct keys make the final LWW state independent
    // of the file-source arrival order
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "val").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.snapshotEpochStream(stream, s"$dir/snap", s"$dir/ckpt",
      Trigger.AvailableNow(), keyCols = Seq("k"), compactEvery = 2)
    q.awaitTermination()
    // compactions fired at batches 2 and 4 (each targeting id-1): the
    // chain on disk is {base _v=3, 4, 5} — bounded, never all six epochs
    val vs = Snapshots.versions(spark, s"$dir/snap")
    assert(vs === Seq(3, 4, 5), s"chain not compacted: $vs")
    // the compacted chain still answers correctly: final state is all six
    // updates, and the base epoch holds exactly the first four
    val fin = Snapshots.readAsOf(spark, s"$dir/snap", Seq("k"), 5)
      .as[(Long, String)].collect().toMap
    assert(fin === (0 until 6).map(i => i.toLong -> s"v$i").toMap)
    assert(Snapshots.readAsOf(spark, s"$dir/snap", Seq("k"), 3).count() === 4)
  }

  test("streaming decontamination == batch: clean docs pass, contaminated docs dropped, across micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("decontstream")
    val evalText = "held out benchmark question about the capital of france " +
      "and its famous tower near the river in the spring"
    val contaminated = "leaked copy of the held out benchmark question about " +
      "the capital of france pasted into long unremarkable prose"
    val clean1 = "completely different content about spark shuffles and " +
      "partitions and aggregate hash maps spilling to local disk"
    val clean2 = "a mountain trail winds through cedar groves toward the " +
      "snowline above the quiet valley in early autumn light"
    val eval = Seq((100L, evalText)).toDF("doc_id", "text")
    // two files -> two micro-batches, a contaminated doc in each half
    Seq((1L, clean1), (2L, contaminated)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq((3L, clean2), (4L, contaminated + " second occurrence"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.decontaminateStreamSink(stream, eval,
      s"$dir/out", s"$dir/ckpt", 5, Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    // batch twin over the full input
    val all = spark.read.parquet(s"$dir/in")
    val dirty = graft.dedup.Dedup.contaminatedIds(all, col("doc_id"),
      col("text"), eval, col("text"), 5).select(col("doc_id")).as[Long].collect().toSet
    val want = all.select("doc_id").as[Long].collect().toSet -- dirty
    assert(got === want && got === Set(1L, 3L), s"got $got want $want")
  }

  test("streaming KN3 scoring == batch: fit once, score micro-batches with the frozen model") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.text.TextFunctions
    val dir = tmp("lmkn3stream")
    val train = Seq("the cat sat on the mat", "the cat sat on the rug")
      .toDF("text")
    // two files -> two micro-batches; seen, partly-OOV, and fully-OOV docs
    Seq((1L, "the cat sat on"), (2L, "the cat ran on the mat"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq((3L, "zq xv wk"), (4L, "on the mat"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val model = TextFunctions.fitKn(train, col("text"), 3)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.scoreKnStreamSink(stream, model,
      s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_ngrams", "avg_logp")
      .as[(Long, Long, Double)].collect().toSet
    // batch twin over the full input, same frozen model
    val want = TextFunctions.scoreKn(spark.read.parquet(s"$dir/in"),
      col("doc_id"), col("text"), model)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, s"stream $got vs batch $want")
    assert(got.map(_._1) === Set(1L, 2L, 3L, 4L))
  }

  test("streaming KN5 scoring == batch: the generic-order sink with the frozen order-5 model") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.text.TextFunctions
    val dir = tmp("lmkn5stream")
    val train = Seq("the cat sat on the mat today",
      "the cat sat on the rug today").toDF("text")
    Seq((1L, "the cat sat on the"), (2L, "the cat sat on a mat today"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq((3L, "zq xv wk yy zz"), (4L, "too short here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val model = TextFunctions.fitKn(train, col("text"), 5)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.scoreKnStreamSink(stream, model,
      s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_ngrams", "avg_logp")
      .as[(Long, Long, Double)].collect().toSet
    val want = TextFunctions.scoreKn(spark.read.parquet(s"$dir/in"),
      col("doc_id"), col("text"), model)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, s"stream $got vs batch $want")
    // doc 4 (< 5 tokens) is unscorable in BOTH forms — absent, not wrong
    assert(got.map(_._1) === Set(1L, 2L, 3L))
  }

  test("streaming domain gate == batch: Urls.domainGate is stateless, stream-safe as-is") {
    // the gate is a broadcast (stream-static) anti-join over map-only
    // regex projections — no aggregate, no watermark, no state store —
    // so the BATCH operator applies to a streaming relation unchanged:
    // the point of the test is that no streaming twin is NEEDED
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("domgatestream")
    Seq((1L, "https://www.spamfarm.com/a"), (2L, "https://keep.org/b"))
      .toDF("doc_id", "url")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    Seq((3L, "https://cdn.spamfarm.com/c"), (4L, "http://fine.co.uk/d"))
      .toDF("doc_id", "url")
      .coalesce(1).write.mode("append").parquet(s"$dir/in")
    val deny = Seq("spamfarm.com").toDF("domain")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = graft.text.Urls.domainGate(stream, col("url"), deny)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    val want = graft.text.Urls.domainGate(
        spark.read.parquet(s"$dir/in"), col("url"), deny)
      .select("doc_id").as[Long].collect().toSet
    assert(got === want && got === Set(2L, 4L), s"got $got")
  }

  test("streaming line scrub == incremental batch chain: later batches see earlier counts") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("linescrubstream")
    val banner = "accept all cookies to continue browsing"
    val b1 = Seq(
      1L -> s"$banner\nglaciers calve into turquoise fjord water",
      2L -> s"$banner\nviolin sections tune against the oboe drone")
      .toDF("doc_id", "text")
    val b2 = Seq(
      11L -> s"$banner\nnight markets sell skewers beside neon canals")
      .toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(s"$dir/in")
    b2.coalesce(1).write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val q = Streaming.lineScrubStreamSink(stream, s"$dir/counts",
      s"$dir/out", s"$dir/ckpt", maxDf = 2, Trigger.AvailableNow())
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    // batch-1 banner df 2 ≤ 2 survives (as-of semantics); batch-2 sees
    // global df 3 → scrubbed
    assert(got(1L).startsWith(banner) && got(2L).startsWith(banner))
    assert(got(11L) === "night markets sell skewers beside neon canals")
    // the batch-2 output equals scrubShardSegments against batch-1 counts
    val want2 = graft.dedup.Dedup.scrubShardSegments(b2, col("doc_id"),
        split(col("text"), "\n"),
        graft.dedup.Dedup.segmentCounts(b1, col("doc_id"),
          split(col("text"), "\n")), maxDf = 2)
      .as[(Long, String, Long, Long)].collect().toSet
    val got2 = spark.read.parquet(s"$dir/out/batch=1")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got2 === want2)
    // accumulated deltas == batch counts over everything
    val cAll = spark.read.parquet(s"$dir/counts")
      .groupBy("seg_hash").agg(sum("n").as("n"))
      .as[(Long, Long)].collect().toSet
    val cWant = graft.dedup.Dedup.segmentCounts(b1.union(b2), col("doc_id"),
      split(col("text"), "\n")).as[(Long, Long)].collect().toSet
    assert(cAll === cWant)
  }

  test("compactionDue: skips when the chain is already compacted at/beyond the target (stale-checkpoint replay)") {
    import graft.ops.Snapshots
    val dir = tmp("compactdue")
    // chain with epochs 1..3: compaction at id=4 (target 3) is due
    (1 to 3).foreach { v =>
      Snapshots.writeEpoch(Seq((v.toLong, s"v$v")).toDF("k", "val"), s"$dir/c", v)
    }
    assert(Streaming.compactionDue(spark, s"$dir/c", 4))
    // compact the chain to 3 — the same id=4 compaction is now a no-op,
    // and an OLDER id (a stale checkpoint's replayed micro-batch, the
    // unconditional-compactTo crash) must skip rather than call
    // compactTo(1) against an oldest epoch of 3
    Snapshots.compactTo(spark, s"$dir/c", Seq("k"), 3)
    assert(Snapshots.versions(spark, s"$dir/c") === Seq(3))
    assert(!Streaming.compactionDue(spark, s"$dir/c", 4))
    assert(!Streaming.compactionDue(spark, s"$dir/c", 2))
    // empty dir (first ever compacting batch): nothing to compact
    assert(!Streaming.compactionDue(spark, s"$dir/nonexistent", 2))
  }

  test("streaming Y4M demux (binaryFile stream) == batch demuxY4m") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.multimodal.Multimodal
    val dir = tmp("y4mstream")
    // two clips with distinct geometry/lumas
    def y4m(w: Int, h: Int, lumas: Seq[Int]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes("ASCII"))
      lumas.foreach { g =>
        bos.write("FRAME\n".getBytes("ASCII"))
        bos.write(Array.fill(w * h)(g.toByte))
      }
      bos.toByteArray
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/in/a.y4m"), y4m(4, 3, Seq(10, 20, 30)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/in/b.y4m"), y4m(6, 2, Seq(200)))
    // the SAME Dataset operator runs on the stream — flatMap is
    // stream-safe, so video decode needs no batch/stream fork
    val stream = spark.readStream.format("binaryFile")
      .schema(Multimodal.binarySource(spark, s"$dir/in").schema)
      .load(s"$dir/in")
    val q = Multimodal.demuxY4m(stream, stride = 2, maxFrames = 10)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$dir/out").start()
    q.awaitTermination()
    def key(r: (String, Int, Int, Int, Double)) =
      (r._1.split("/").last, r._2, r._3, r._4, r._5)
    val got = spark.read.parquet(s"$dir/out")
      .as[(String, Int, Int, Int, Double)].collect().map(key).toSet
    val want = Multimodal.demuxY4m(
        Multimodal.binarySource(spark, s"$dir/in", "*.y4m"), 2, 10)
      .collect().map(f => key((f.path, f.frame_idx, f.width, f.height, f.mean_luma)))
      .toSet
    assert(got === want)
    assert(got.map(_._1) === Set("a.y4m", "b.y4m"))
  }

  test("streaming DSIR scoring (frozen λ literal) == batch weights") {
    import graft.ops.Dsir
    import org.apache.spark.sql.streaming.Trigger
    val corpus = Seq(
      (1L, "the solar system has planets", "en"),
      (2L, "planets orbit the sun", "en"),
      (3L, "buy cheap pills now now now", "xx"),
      (4L, "the sun is a star", "en")).toDF("doc_id", "text", "lang")
    val B = 16
    // model fit ONCE in batch; λ frozen to the driver
    val lam = Dsir.collectLambda(
      Dsir.importanceModel(corpus, corpus.filter(col("lang") === "en"),
        col("text"), B), B)
    // today's shard arrives as a parquet stream
    val shard = Seq((100L, "planets orbit a star"),
      (101L, "cheap cheap deals now"), (102L, "")).toDF("doc_id", "text")
    val dir = tmp("dsirstream")
    shard.write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val q = Streaming.scoreDsirStream(stream, lam, B)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$dir/out")
      }.start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val want = Dsir.importanceWeights(shard, col("doc_id"), col("text"),
        Dsir.importanceModel(corpus, corpus.filter(col("lang") === "en"),
          col("text"), B), B)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got === want)
    assert(got.size === 3 && got(102L)._2 === 0L) // empty doc scores zero
  }

  test("streaming ingestCandidates == batch incremental dedup (new×index pairs)") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val txt = "the quick brown fox jumps over the lazy dog tonight"
    val other = "completely different content about spark partitions and shuffles"
    val corpus = Seq(1L -> txt, 2L -> other, 3L -> (txt + " again and again"))
    val shard = Seq(100L -> txt, 101L -> "nothing like anything else zebra", 102L -> other)
    // static band index from the existing corpus
    val index = Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus.toDF("doc_id", "text"),
        col("doc_id"), col("text"), 8), 4)
    // new shard arrives as a parquet file stream
    val dir = tmp("ingest")
    shard.toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val out = s"$dir/out"
    val q = Streaming.ingestCandidates(Dedup.bandedSignaturesProjected(
        stream, col("doc_id"), col("text"), 8, 4), index)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    q.awaitTermination()
    // distinct at the sink (per-band repeats are documented)
    val got = spark.read.parquet(out)
      .select(least(col("new_doc"), col("matched_doc")).as("a"),
        greatest(col("new_doc"), col("matched_doc")).as("b"))
      .distinct().as[(Long, Long)].collect().toSet
    // batch ground truth: the new×index subset of incrementalCandidatePairs
    val shardBanded = Dedup.bandedSignatures(
      Dedup.minhashSignatures(shard.toDF("doc_id", "text"),
        col("doc_id"), col("text"), 8), 4)
    val want = Dedup.incrementalCandidatePairs(shardBanded, index)
      .as[(Long, Long)].collect().toSet
      .filter(p => (p._1 < 100L) != (p._2 < 100L)) // one side new
    assert(got === want)
    assert(got.contains((1L, 100L)) && got.contains((2L, 102L)))
  }

  test("streaming perceptual ingest == batch incremental fingerprint dedup (video shard)") {
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.streaming.Trigger
    // existing corpus 1-3 and a new shard 100-102 of REAL Y4M clips;
    // 100 is a re-graded (uniform +3 luma) copy of 1
    def clips(rows: Seq[(Long, Seq[Int])]) =
      rows.toDF("doc_id", "l").select(col("doc_id"),
        Multimodal.y4mVideo(lit(4), lit(3), col("l")).as("content"))
    val down = (0 until 16).map(i => 230 - i * 13)
    val alt = (0 until 16).map(i => if (i % 2 == 0) 15 else 235)
    val up = (0 until 16).map(i => 20 + i * 13)
    val corpus = clips(Seq(1L -> down, 2L -> alt, 3L -> up))
    val shardRows = Seq(100L -> down.map(_ + 3), 101L -> alt.reverse,
      102L -> up.map(_ + 1))
    // persisted perceptual band index from the corpus fingerprints
    val index = Dedup.fingerprintBands(
      Multimodal.videoFingerprintById(corpus, col("doc_id"), col("content"), 16),
      col("doc_id"), col("vfp"), 16, 8)
    // the shard arrives as a parquet stream of binary payloads; the
    // fingerprint map is stateless, so it runs on the stream as-is
    val dir = tmp("fp_ingest")
    clips(shardRows).write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
    val fpStream = Multimodal.videoFingerprintById(stream, col("doc_id"),
      col("content"), 16)
    val out = s"$dir/out"
    // the fingerprint bands share the text band schema, so the one
    // band-stream join serves them
    val q = Streaming.ingestCandidates(Dedup.fingerprintBands(fpStream,
        col("doc_id"), col("vfp"), 16, 8), index)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select(least(col("new_doc"), col("matched_doc")).as("a"),
        greatest(col("new_doc"), col("matched_doc")).as("b"))
      .distinct().as[(Long, Long)].collect().toSet
    // batch ground truth: new×index subset of the d9 fingerprint path
    val shardBanded = Dedup.fingerprintBands(
      Multimodal.videoFingerprintById(clips(shardRows), col("doc_id"),
        col("content"), 16),
      col("doc_id"), col("vfp"), 16, 8)
    val want = Dedup.incrementalCandidatePairs(shardBanded, index)
      .as[(Long, Long)].collect().toSet
      .filter(p => (p._1 < 100L) != (p._2 < 100L))
    assert(got === want)
    // the planted re-graded copy surfaces; 102 (shifted ramp) also
    // fingerprints identically to 3 — same gradient signs
    assert(got.contains((1L, 100L)))
  }

  test("streaming semantic ingest == batch incremental pairs (new×index half)") {
    import graft.ann.Vectors
    import org.apache.spark.sql.streaming.Trigger
    // the BucketingSpec angle fixture: cells split at 45°, planted pair
    // 1° apart, everything else >= 14.5° apart at minCosine 0.99
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    val base = Seq(0L -> at(0), 1L -> at(20), 3L -> at(90), 4L -> at(60))
      .toDF("vec_id", "emb")
    val cents = Vectors.stepCentroids(base, "vec_id", "emb", 3)
      .localCheckpoint()
    val index = Vectors.semanticIndex(base, "vec_id", "emb", cents)
      .localCheckpoint()
    // shard as TWO parquet files, one per micro-batch
    // (maxFilesPerTrigger=1): candidates must compose across batches
    val dir = tmp("sem_ingest")
    Seq(100L -> at(1)).toDF("vec_id", "emb").write.parquet(s"$dir/in")
    Seq(101L -> at(89), 102L -> at(75)).toDF("vec_id", "emb")
      .write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val out = s"$dir/out"
    val q = Streaming.ingestSemanticCandidates(stream, index, cents,
        "vec_id", "emb", minCosine = 0.99)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out)
      }.start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select(least(col("new_doc"), col("matched_doc")).as("a"),
        greatest(col("new_doc"), col("matched_doc")).as("b"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet
    // batch ground truth: incrementalSemanticPairs restricted to its
    // new×index half (the stream checks each arrival against the INDEX;
    // new×new pairs surface once the shard is folded in) — same pairs,
    // same rounded cosines
    val shard = Seq(100L -> at(1), 101L -> at(89), 102L -> at(75))
      .toDF("vec_id", "emb")
    val want = Vectors.incrementalSemanticPairs(shard, "vec_id", "emb",
        cents, index, minCosine = 0.99)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => (p._1 >= 100L) != (p._2 >= 100L))
    assert(got === want)
    // the planted 1°-apart pairs: 100≈0 and 101≈3; 102 (75°) matches
    // nothing in the index
    assert(got.map(p => (p._1, p._2)) === Set((0L, 100L), (3L, 101L)))
  }

  test("streaming watermarked dedup == batch dropDuplicates (same key set)") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val outDir = tmp("out")
    val q = Streaming.dedupStream(stream, Seq("user_id", "event_type"))
      .select("user_id", "event_type", "ts")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
      .select("user_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    val want = batchEvents.dropDuplicates(Seq("user_id", "event_type", "ts"))
      .select("user_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)].collect().toSet
    assert(got === want)
  }

  test("dedupStreamPerKey: one survivor per key, key set == batch dropDuplicates(keys)") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val outDir = tmp("out")
    val q = Streaming.dedupStreamPerKey(stream, Seq("user_id", "event_type"),
        watermark = "365 days") // horizon spans the whole fixture: true per-key dedup
      .select("user_id", "event_type")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
      .as[(Long, String)].collect()
    val want = batchEvents.dropDuplicates(Seq("user_id", "event_type"))
      .select("user_id", "event_type")
      .as[(Long, String)].collect().toSet
    assert(got.length === got.toSet.size, "emitted a duplicate key")
    assert(got.toSet === want)
  }

  test("streaming EMA (mapGroupsWithState) matches the closed-form batch EMA") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
      .as[Streaming.Event]
    val outDir = tmp("out")
    val q = Streaming.emaStream(stream, 0.9).toDF("user_id", "ema")
      .select(col("user_id"), round(col("ema"), 6).as("ema"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
      .as[(Long, Double)].collect().toMap // last update per user wins; single batch
    val want = graft.functions.Ema
      .closedForm(batchEvents.toDF(), "user_id", "event_id", "value", 0.9)
      .select(col("user_id"), round(col("ema"), 6).as("ema"))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (u, e) => assert(math.abs(e - want(u)) < 1e-6, s"user $u") }
  }

  test("dedup stream RESUMES from its checkpoint: restarted run re-emits nothing for known keys") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("dedup_src")
    val ckpt = tmp("ckpt")
    val outDir = tmp("out")
    // stage the events file as batch 1
    val src = new java.io.File(sf0001, "events.parquet").toPath
    Files.copy(src, srcDir.resolve("batch1.parquet"))
    def runOnce(): Long = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir.toString).schema)
        .parquet(srcDir.toString)
      val normalized = Streaming.normalizeEventTs(stream)
      val q = Streaming.dedupStream(normalized, Seq("user_id", "event_type"))
        .select("user_id", "event_type", "ts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).count()
    }
    val afterFirst = runOnce()
    assert(afterFirst > 0)
    // restart: an identical second file is pure duplicates — the resumed
    // state (from the checkpoint, not memory) must suppress all of it
    Files.copy(src, srcDir.resolve("batch2.parquet"))
    val afterSecond = runOnce()
    assert(afterSecond === afterFirst,
      s"duplicate batch re-emitted rows: $afterFirst -> $afterSecond")
  }

  test("EMA stream RESUMES from its checkpoint: two-batch run equals the one-shot closed form") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("ema_src")
    val ckpt = tmp("ckpt")
    val outDir = tmp("out")
    // split the fixture at the global median step: per user, every batch-2
    // step exceeds every batch-1 step, so the resumed fold is the true
    // continuation (emaStream's documented non-decreasing-steps contract)
    val median = batchEvents.stat.approxQuantile("event_id", Array(0.5), 0.0).head
    batchEvents.filter(col("event_id") <= median)
      .coalesce(1).write.parquet(s"$srcDir/b1")
    val schema = spark.read.parquet(s"$srcDir/b1").schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .parquet(srcDir.toString).as[Streaming.Event]
      val q = Streaming.emaStream(stream, 0.9).toDF("user_id", "ema")
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.withColumn("__batch", lit(id)).write.mode("append").parquet(outDir)
        }
        .start()
      q.awaitTermination()
    }
    runOnce()
    batchEvents.filter(col("event_id") > median)
      .coalesce(1).write.parquet(s"$srcDir/b2")
    runOnce()
    // latest emitted state per user (highest batch wins) == closed form
    // over the FULL event set — only true if the second run restored the
    // first run's fold state from the checkpoint
    val got = spark.read.parquet(outDir)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("__batch").desc)))
      .filter(col("__rn") === 1)
      .select("user_id", "ema").as[(Long, Double)].collect().toMap
    val want = graft.functions.Ema
      .closedForm(batchEvents.toDF(), "user_id", "event_id", "value", 0.9)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (u, e) => assert(math.abs(e - want(u)) < 1e-9, s"user $u") }
  }

  test("statefulResume (mapGroupsWithState) matches the aggregate form") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
      .as[Streaming.Event]
    val outDir = tmp("out")
    val q = Streaming.statefulResume(stream).toDF("user_id", "state")
      .select(col("user_id"), col("state.maxStep"), col("state.nEvents"),
        round(col("state.totalValue"), 4).as("totalValue"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
    // last state per user across batches = final state
    val got = spark.read.parquet(outDir)
      .groupBy("user_id")
      .agg(max("maxStep").as("max_step"), max("nEvents").as("n_events"),
        max("totalValue").as("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = Streaming.resumeState(batchEvents)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("streaming session_window == batch Sessionize (8h gap)") {
    val stream = Streaming.eventsFileStream(spark, s"$sf0001/events.parquet")
    val got = snapshot(
        Streaming.sessionizeStream(stream, "user_id", "8 hours"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    // batch twin keyed the same way: sessions identified by start time
    val want = graft.ops.Sessionize.sessions(batchEvents,
        "user_id", "ts", "event_id", 8 * 3600L, col("value"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("streaming WET crawl drop: readWetStream rows == batch; ingestCandidates surfaces the recrawl in-batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.dedup.Dedup
    import graft.sources.Wet
    spark.sql("DROP TABLE IF EXISTS stream_wet_band")
    // day-0 corpus + persisted band index (url-string-keyed)
    val corpus = Seq(
      ("u://c/1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("u://c/2", "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(Dedup.bandedSignatures(
      Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), 8), 4),
      "stream_wet_band", buckets = 4)
    // a WET shard lands in the watched drop dir: one recrawl of c/2 +
    // one new page
    val dir = tmp("wetdrop")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val rows = Seq(
      ("https://drop.example/dup", "2024-02-01 00:00:01",
        "the quick brown fox jumps over the lazy dog near the river bank"),
      ("https://drop.example/new", "2024-02-01 00:00:02",
        "subway platforms echo with late night maintenance announcements"))
      .toDF("url", "ts", "text")
      .withColumn("ts", col("ts").cast("timestamp"))
    Wet.writeWetShards(rows, "url", "ts", "text", s"$dir/in", 1)
    // the SAME parse runs on the stream; doc id = url (unique here)
    val docsStream = Wet.readWetStream(spark, s"$dir/in")
      .select(col("url").as("doc_id"), col("text"))
    val q = Streaming.ingestCandidates(Dedup.bandedSignaturesProjected(
        docsStream, col("doc_id"), col("text"), 8, 4),
        Dedup.readBandIndex(spark, "stream_wet_band"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$dir/out").start()
    q.awaitTermination()
    val pairs = spark.read.parquet(s"$dir/out")
      .select("new_doc", "matched_doc").as[(String, String)]
      .collect().toSet
    assert(pairs.contains(("https://drop.example/dup", "u://c/2")), pairs)
    assert(!pairs.exists(_._1 == "https://drop.example/new"), pairs)
    // stream rows == the batch reader on the same drop dir
    val gotStreamRows = {
      val q2 = Wet.readWetStream(spark, s"$dir/in")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt2")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$dir/rows").start()
      q2.awaitTermination()
      spark.read.parquet(s"$dir/rows")
        .select("url", "record_ts", "text")
        .as[(String, java.sql.Timestamp, String)].collect().toSet
    }
    val batchRows = Wet.readWet(spark, s"$dir/in")
      .select("url", "record_ts", "text")
      .as[(String, java.sql.Timestamp, String)].collect().toSet
    assert(gotStreamRows === batchRows)
    assert(batchRows.size === 2)
  }
}

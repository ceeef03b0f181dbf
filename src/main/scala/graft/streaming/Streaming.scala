package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming forms of the engine's incremental semantics
  * (SURVEY §2.8). The reference's training loop is an unbounded stepwise
  * process with periodic triggers, durable resumable state, and an async
  * background-thread checkpoint sink (reference:
  * train/train_CATVTON/config.py:18-22, train/common/s3_utils.py:20-40,
  * train/train_CATVTON/utils.py:91-134).
  *
  * Design rule: the board queries t2_step_buckets / t2_time_window /
  * t3_resume_state (graft.queries.QEvents) call the transforms here on a
  * batch read, so the oracle checks the streaming expressions themselves
  * and the batch result is the ground truth for the stream (StreamingSpec
  * asserts equality on an AvailableNow run). Streams read exactly what
  * batch reads; only the source (readStream) and sink (writeStream +
  * checkpoint) differ.
  */
object Streaming {

  /** Typed event row (events test table schema, TESTDATA.md). */
  case class Event(event_id: Long, user_id: Long, event_type: String,
                   ts: java.sql.Timestamp, value: Double)

  /** T3 durable state carried per user/run across triggers. */
  case class RunState(maxStep: Long, nEvents: Long, totalValue: Double)

  /** File stream over an events parquet directory. Schema is taken from a
    * batch read of the same directory; the TIMESTAMP(NANOS) column gets the
    * same nanos→micros normalization as Tables.load so stream and batch see
    * identical values.
    */
  def eventsFileStream(spark: SparkSession, path: String): DataFrame = {
    // FileStreamSource requires a directory; test fixtures are single
    // parquet FILES — stage those into a temp dir (tiny, test-only; real
    // deployments point at directories and skip this branch). Stat and
    // copy through the Hadoop FileSystem API, not java.io.File — the
    // same bug class was fixed in runToSnapshot (r12) and the r11 sync
    // path: a java.io probe of an object-store URI answers "not a file"
    // and the branch silently misroutes.
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(path)
    val fs = src.getFileSystem(conf)
    // a GLOB input (dir/*.parquet) has no file status of its own —
    // getFileStatus throws FileNotFoundException even though the reader
    // accepts the pattern fine; treat "not statable" as "not a single
    // file" and pass the path through untouched (r14 ADVICE)
    val isSingleFile =
      try fs.getFileStatus(src).isFile
      catch { case _: java.io.FileNotFoundException => false }
    val dir =
      if (isSingleFile) {
        val d = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(System.getProperty("java.io.tmpdir")),
          s"events_stream_${java.util.UUID.randomUUID.toString.take(13)}")
        val dfs = d.getFileSystem(conf)
        dfs.mkdirs(d)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, src, dfs, new org.apache.hadoop.fs.Path(d, src.getName),
          false, conf)
        d.toString
      } else path
    val batch = spark.read.parquet(dir)
    normalizeEventTs(spark.readStream.schema(batch.schema).parquet(dir))
  }

  /** Normalize an events relation's `ts` to the zoned TIMESTAMP type that
    * event-time operators (withWatermark, session_window) require — same
    * rule as [[graft.core.Tables.load]]: the testdata's physical shape has
    * been nanos-as-Long, NTZ micros, and zoned micros across generations.
    * Works on batch and streaming DataFrames (pure column rewrite).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** T1/T2: every-250-steps trigger buckets — the oracle-checked board
    * query t2_step_buckets. Works on batch or streaming DataFrames.
    */
  def stepBuckets(events: DataFrame): DataFrame =
    events
      .groupBy(floor(col("event_id") / 250).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"))

  /** T2: tumbling event-time window with a watermark — the board query
    * t2_time_window (a batch plan drops the watermark node).
    */
  def timeWindowed(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("cnt"), col("sum_value"))

  /** T3 (aggregate form): resume state per run — the board query
    * t3_resume_state.
    */
  def resumeState(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("max_step"), count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))

  /** T3 (explicit-state form): the same resume bookkeeping as a
    * mapGroupsWithState fold — durable across triggers via the query's
    * checkpoint, the exact analog of latest_checkpoint.pt resume
    * (reference train/train_CATVTON/utils.py:91-134). One state record per
    * user: constant memory per group regardless of stream length.
    */
  def statefulResume(events: Dataset[Event]): Dataset[(Long, RunState)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[RunState, (Long, RunState)](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[RunState]) =>
          val prev = state.getOption.getOrElse(RunState(Long.MinValue, 0L, 0.0))
          val next = rows.foldLeft(prev) { (s, e) =>
            RunState(math.max(s.maxStep, e.event_id), s.nEvents + 1,
              s.totalValue + e.value)
          }
          state.update(next)
          (user, next)
      }
  }

  /** EMA state: last processed step + running EMA value. */
  case class EmaState(lastStep: Long, ema: Double)

  /** A7 streaming form: per-group EMA carried across micro-batches in
    * mapGroupsWithState — the training loop's loss smoothing as a stream.
    * Rows within a batch are step-sorted before folding; across batches
    * steps must be non-decreasing (true of training-step logs; late rows
    * below the carried step are dropped rather than silently misfolded).
    * Single-batch runs match Ema.closedForm exactly (StreamingSpec).
    */
  def emaStream(events: Dataset[Event], decay: Double): Dataset[(Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EmaState, (Long, Double)](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[EmaState]) =>
          val sorted = rows.map(e => (e.event_id, e.value)).toArray.sortBy(_._1)
          val prev = state.getOption
          val fresh = sorted.filter(r => prev.forall(p => r._1 > p.lastStep))
          val next = fresh.foldLeft(prev.getOrElse(
              EmaState(Long.MinValue, Double.NaN))) { case (st, (step, x)) =>
            val e = if (st.ema.isNaN) x else (1 - decay) * x + decay * st.ema
            EmaState(step, e)
          }
          state.update(next)
          (user, next.ema)
      }
  }

  /** Streaming exact dedup per (key, event-time): watermarked
    * `dropDuplicates(keys :+ eventTimeCol)` — duplicate keys at DIFFERENT
    * timestamps all survive; only true replays (same key, same event time,
    * e.g. a re-delivered file) are suppressed. State for event times older
    * than the watermark is evicted, bounding state on an unbounded stream.
    * Batch twin: `dropDuplicates(keys :+ eventTimeCol)` (asserted in
    * StreamingSpec). For per-KEY dedup regardless of timestamp, use
    * [[dedupStreamPerKey]].
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  eventTimeCol: String = "ts",
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ eventTimeCol)

  /** Streaming per-KEY dedup, first-seen wins: `dropDuplicatesWithinWatermark`
    * keeps one row per key among all arrivals whose event times fall within
    * the watermark horizon of the first occurrence — the streaming analog of
    * batch `dropDuplicates(keys)` with state still bounded by the watermark
    * (a plain streaming `dropDuplicates(keys)` would keep every key forever).
    * A key recurring later than the watermark horizon re-emits — the
    * documented trade for bounded state on an unbounded stream.
    */
  def dedupStreamPerKey(events: DataFrame, keys: Seq[String],
                        eventTimeCol: String = "ts",
                        watermark: String = "1 hour"): DataFrame =
    events.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Gap-based session aggregation via `session_window`: sessions close
    * when no event arrives for `gap`, state is evicted once the watermark
    * passes a session's end. Batch twin: graft.ops.Sessionize.sessions
    * (same gap semantics; asserted equal in StreamingSpec — the session
    * ORDINAL is a window-order construct, so the streaming form identifies
    * sessions by their start time instead).
    *
    * Boundary note: `session_window` is half-open — an event at EXACTLY
    * start+gap opens a new session, where the batch form's `diff > gap`
    * keeps it. Sub-second event times make an exact-gap tie measure-zero;
    * callers who need closed-boundary parity subtract 1 µs from the batch
    * gap.
    */
  def sessionizeStream(events: DataFrame, key: String, gap: String,
                       eventTimeCol: String = "ts",
                       watermark: String = "1 hour"): DataFrame =
    events.withWatermark(eventTimeCol, watermark)
      .groupBy(col(key), session_window(col(eventTimeCol), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col(key), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming DSIR scoring — the day-2 deployment of
    * [[graft.ops.Dsir]]: the importance model is FIT ONCE in batch
    * (yesterday's corpus + target), its λ table frozen into the
    * projection as one array literal
    * ([[graft.ops.Dsir.collectLambda]] → importanceWeightsStateless,
    * the assignCellsStateless precedent), and every incoming shard is
    * scored statelessly in its micro-batch — no join, no state store,
    * map-only. stream == batch weights asserted in StreamingSpec.
    * Output per input row: (doc_id, n_feats, logw6, logw).
    */
  def scoreDsirStream(docsStream: DataFrame, lam6: Array[Long],
                      buckets: Int, xxh: Boolean = false): DataFrame =
    graft.ops.Dsir.importanceWeightsStateless(docsStream,
      col("doc_id"), col("text"), lam6, buckets, xxh)

  /** D9 streaming twin: ingest-time dedup candidates. A stream of
    * (doc_id, band, band_sig) rows is stream-static joined to the
    * persisted band index: every micro-batch emits its candidate pairs in
    * append mode. Band the stream STATELESSLY — text with
    * [[graft.dedup.Dedup.bandedSignaturesProjected]] (the kernel computes
    * signatures inside the projection; `bandSize` must divide `k`),
    * bit fingerprints (image dHash, audio envelope, video temporal hash —
    * e.g. [[graft.multimodal.Multimodal.videoFingerprintById]] over a
    * binary file stream) with [[graft.dedup.Dedup.fingerprintBands]] —
    * so there is no streaming aggregation and no state store. Verify
    * downstream (Jaccard or [[graft.dedup.Dedup.verifyHammingPairs]],
    * pair-driven, batch or foreachBatch). Cost bound: the static side is
    * bucket-capped ([[graft.dedup.Dedup.capBuckets]]), so one stream
    * document joins at most bands × maxBucket index rows.
    *
    * Semantics notes: intra-batch (new×new) pairs are NOT produced — they
    * belong to the next index refresh or a foreachBatch-local pass; a
    * document matching an index document through several bands emits the
    * pair once per band (deduplicating in-stream would need a state store —
    * distinct at the sink instead, as StreamingSpec does).
    *
    * COST NOTE — the static side is re-evaluated EVERY micro-batch,
    * including its maxBucket cap window. Pass the index as a
    * [[graft.dedup.Dedup.writeBandIndex]] BUCKETED table: the window and
    * the join both ride the bucket partitioning — no per-batch index
    * shuffle, only the bucket files the stream's signatures touch are
    * read. A plain unbucketed parquet index costs a full index scan +
    * shuffle-backed window per batch, defeating the work-∝-shard-size
    * framing (round-4 ADVICE). Output: (new_doc, matched_doc) per
    * colliding band.
    */
  def ingestCandidates(banded: DataFrame, index: DataFrame,
                       maxBucket: Int = 64): DataFrame = {
    import graft.dedup.Dedup.{BandKey, capBuckets}
    val capped = capBuckets(index, BandKey, maxBucket)
      .select(col("doc_id").as("matched_doc"), col("band"), col("band_sig"))
    banded.join(capped, BandKey)
      .filter(col("doc_id") =!= col("matched_doc"))
      .select(col("doc_id").as("new_doc"), col("matched_doc"))
  }

  /** Streaming SEMANTIC ingest — the embedding twin of
    * [[ingestCandidates]]: a stream of (id, embedding) rows is assigned
    * to its IVF cell STATELESSLY
    * ([[graft.ann.Vectors.assignCellsStateless]] — the frozen centroid
    * set is folded into the projection as literals, so no aggregate and
    * no state store), then stream-static equi-joined on `cell` against
    * the persisted semantic index
    * ([[graft.ann.Vectors.writeSemanticIndex]]'s bucketed table — only
    * the cells today's vectors land in are read). Unlike the band twin,
    * whose Hamming/Jaccard verify is a separate pair-driven stage,
    * verification happens INLINE: cosine is row-pairwise computable, so
    * the emitted candidates are already exact SemDeDup pairs. Zero
    * state; candidates surface within their own micro-batch.
    *
    * `maxBucket` caps a hot historical cell per batch (the
    * [[graft.dedup.Dedup.capBuckets]] window over the static side — it
    * rides the index's bucket partitioning when the index is the
    * bucketed table, the [[ingestCandidates]] cost contract). Output:
    * (new_doc, matched_doc, cosine) with cosine ≥ `minCosine`, rounded
    * to `roundTo` exactly like the batch operator
    * ([[graft.ann.Vectors.incrementalSemanticPairs]]), whose new×index
    * half this equals micro-batch-composed (asserted in StreamingSpec).
    */
  def ingestSemanticCandidates(vecStream: DataFrame, index: DataFrame,
                               cents: DataFrame, idCol: String,
                               vecCol: String, minCosine: Double,
                               maxBucket: Int = 512,
                               roundTo: Int = 6): DataFrame = {
    import graft.ann.Vectors.{assignCellsStateless, dot}
    val nw = assignCellsStateless(vecStream, idCol, vecCol, cents)
      .select(col("vec_id").as("new_doc"), col("cell"),
        col("v").as("__va"), col("vn").as("__na"))
    val capped = graft.dedup.Dedup.capBuckets(index, Seq("cell"), maxBucket)
      .select(col("vec_id").as("matched_doc"), col("cell"),
        col("v").as("__vb"), col("vn").as("__nb"))
    nw.join(capped, Seq("cell"))
      .filter(col("new_doc") =!= col("matched_doc"))
      .withColumn("cosine",
        round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")),
          roundTo))
      .filter(col("cosine") >= minCosine)
      .select(col("new_doc"), col("matched_doc"), col("cosine"))
  }

  /** The one sink shape of every stream here: `body` runs each
    * micro-batch with its batch id, under `checkpointDir`'s bookkeeping.
    * foreachBatch is at-least-once — a batch replayed after a crash
    * between its write and the checkpoint commit runs `body` again — so
    * every body here is IDEMPOTENT per batch id: it overwrites its own
    * `batch=<id>` subdirectory (or epoch), REPLACING its prior output
    * instead of appending duplicates. Readers just `read.parquet(outDir)`
    * (the batch id surfaces as a partition column).
    */
  private def perBatch(stream: DataFrame, mode: OutputMode,
                       checkpointDir: String, trigger: Trigger)
                      (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Streaming DECONTAMINATION sink — the curation pipeline's eval-overlap
    * stage ([[graft.dedup.Dedup.contaminatedIds]]) applied to a document
    * ingest stream: each micro-batch is scrubbed with the EXACT batch
    * operator (foreachBatch = batch semantics per micro-batch, the
    * trainingFeedStream discipline), and only clean documents reach
    * `outDir`. Decontamination is per-document — no cross-batch state —
    * so micro-batch composition is exact, not approximate: the union of
    * scrubbed micro-batches equals the scrubbed union (asserted in
    * StreamingSpec). The eval side is static, benchmark-sized, and
    * broadcast per batch; cost per micro-batch tracks the batch.
    *
    * Idempotent per micro-batch ([[perBatch]]): a replay cannot append
    * duplicates into the clean corpus — the very artifact this pipeline
    * exists to prevent.
    */
  def decontaminateStreamSink(docsStream: DataFrame, evalDocs: DataFrame,
                              outDir: String, checkpointDir: String,
                              n: Int = 5,
                              trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    perBatch(docsStream, OutputMode.Append(), checkpointDir, trigger) {
      (batch, id) =>
        val dirty = graft.dedup.Dedup.contaminatedIds(batch, col("doc_id"),
            col("text"), evalDocs, col("text"), n)
          .select(col("doc_id").as("__dirty_id"))
        batch.join(broadcast(dirty),
            batch("doc_id") === col("__dirty_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }

  /** Streaming LM-PERPLEXITY scoring sink — the day-2 deployment of the
    * CCNet gate at any KN order (5 = KenLM parity): the model is FIT ONCE
    * in batch on the target slice ([[graft.text.TextFunctions.fitKn]] —
    * its count tables live on columnar scratch, reusable across
    * micro-batches at read-only cost), and every incoming shard is
    * scored per-document with the EXACT batch operator
    * ([[graft.text.TextFunctions.scoreKn]]) inside foreachBatch.
    * Scoring is per-document with a frozen model — no cross-batch
    * state — so micro-batch composition is exact: the union of scored
    * micro-batches equals scoring the union (asserted in StreamingSpec).
    * Tercile CUTS stay a batch/nightly concern: head/middle/tail are
    * corpus-global ranks, not per-shard properties — a deployment
    * thresholds on avg_logp per batch (the frozen-cutoff form) or
    * re-buckets the accumulated scores with
    * [[graft.text.TextFunctions.ccnetBuckets]] on its snapshot cadence.
    * Idempotent per micro-batch ([[perBatch]]).
    */
  def scoreKnStreamSink(docsStream: DataFrame,
                        model: graft.text.TextFunctions.KnModel,
                        outDir: String, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    perBatch(docsStream, OutputMode.Append(), checkpointDir, trigger) {
      (batch, id) =>
        graft.text.TextFunctions.scoreKn(batch, col("doc_id"),
            col("text"), model)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }

  /** Streaming twin of the day-2 line scrub ([[graft.dedup.Dedup
    * .scrubShardSegments]]): each micro-batch is scrubbed against the
    * accumulated corpus line counts (global df = prior batches' counts +
    * the batch's own), then its RAW counts land as a delta epoch.
    *
    * Counts live as per-batch DELTA DIRS (`countsDir/batch=<id>`), not
    * the bucketed table: foreachBatch is at-least-once on retry, and a
    * replayed table append would double-count — the batch-id overwrite
    * is the idempotence device every sink here uses, and reading "all
    * delta dirs EXCEPT my own id" makes the scrub exact under replay
    * (the summing scrub needs no collapse: [[graft.dedup.Dedup
    * .scrubShardSegments]] nets deltas in its aggregate). Micro-batches
    * are shard-sized, so the lost bucketed-join exchange matters less
    * than replay exactness; a nightly batch job can fold the deltas into
    * the bucketed table and truncate the dirs if the streaming and daily
    * paths share one corpus.
    *
    * Output per batch: the scrub relation (doc_id, clean_text, n_kept,
    * n_dropped) at `outDir/batch=<id>`. StreamingSpec asserts stream ≡
    * the per-day incremental batch chain.
    */
  def lineScrubStreamSink(docsStream: DataFrame, countsDir: String,
                          outDir: String, checkpointDir: String,
                          maxDf: Int,
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    perBatch(docsStream, OutputMode.Append(), checkpointDir, trigger) {
      (batch, id) =>
        val spark = batch.sparkSession
        val segs = split(col("text"), "\n")
        // Hadoop FS listing, not java.io.File: on an HDFS/S3 countsDir a
        // local listing returns null, silently treating every prior batch
        // as empty — cross-batch boilerplate would escape the scrub with
        // no error (the Scratch/TarShards resolution pattern)
        val cPath = new org.apache.hadoop.fs.Path(countsDir)
        val cFs = cPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val priorDirs =
          (if (cFs.exists(cPath)) cFs.listStatus(cPath).toSeq else Seq.empty)
            .filter(s => s.isDirectory &&
              s.getPath.getName.startsWith("batch=") &&
              s.getPath.getName != s"batch=$id")
            .map(_.getPath.toString)
        val prior =
          if (priorDirs.isEmpty)
            spark.range(0).select(col("id").as("seg_hash"), col("id").as("n"))
          else spark.read.parquet(priorDirs: _*)
        // scopedCleanup: scrubShardSegments materializes its exploded
        // segments to scratch parquet (the r13 sweep); without a
        // per-batch reclaim a continuous stream accumulates one
        // shard-text-sized dir per micro-batch until JVM exit
        graft.core.Scratch.scopedCleanup {
          graft.dedup.Dedup.scrubShardSegments(batch, col("doc_id"), segs,
              prior, maxDf)
            .write.mode("overwrite").parquet(s"$outDir/batch=$id")
          graft.dedup.Dedup.segmentCounts(batch, col("doc_id"), segs)
            .write.mode("overwrite").parquet(s"$countsDir/batch=$id")
        }
    }

  /** T4: async checkpoint sink — each micro-batch is written to
    * `<outDir>/batch=<id>` by foreachBatch, with exactly-once bookkeeping in
    * `checkpointDir` (the reference's background-thread S3 upload,
    * fire-and-forget, made restart-safe). `AvailableNow` drains all
    * available input then stops — the batch-parity trigger used by tests.
    */
  def foreachBatchParquetSink(aggregated: DataFrame, outDir: String,
                              checkpointDir: String,
                              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    perBatch(aggregated, OutputMode.Complete(), checkpointDir, trigger) {
      (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }

  /** T5 streaming twin: incremental training-feed maintenance. Each
    * micro-batch appends its new manifest rows to a persisted manifest
    * table (`manifestDir/batch=<id>` — the batch-id layout makes a
    * replayed batch overwrite its own subdir instead of double-appending,
    * the idempotence device of [[perBatch]]) and then
    * regenerates the feed SNAPSHOT over the ACCUMULATED manifest with the
    * SAME batch operator ([[graft.pipelines.Pipelines.trainingFeed]]) —
    * the stream-static discipline of [[ingestCandidates]]: the stream
    * carries only what is new; the heavy artifact is a persisted table.
    *
    * The feed is overwritten, not appended, because exact-count
    * stratified sampling and the dense shuffle permutation are GLOBAL
    * properties of the manifest — a per-batch incremental feed would
    * break both (x1's exact counts and x3's gap-free positions). Per
    * trigger the regeneration costs one batch-feed run over everything
    * seen so far; at 100 TB you time triggers accordingly (feed refresh
    * is a scheduled recompute, not per-record work — mirroring the
    * reference's per-stage batch feeds). StreamingSpec asserts the
    * drained stream's snapshot equals the batch feed on the same rows.
    */
  def trainingFeedStream(manifestStream: DataFrame,
                         profile: Map[String, Double],
                         manifestDir: String, feedDir: String,
                         checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    perBatch(manifestStream, OutputMode.Append(), checkpointDir, trigger) {
      (batch, id) =>
        batch.write.mode("overwrite").parquet(s"$manifestDir/batch=$id")
        val all = batch.sparkSession.read.parquet(manifestDir)
        graft.pipelines.Pipelines.trainingFeed(all, profile)
          .write.mode("overwrite").parquet(feedDir)
    }

  /** Whether [[snapshotEpochStream]]'s periodic compaction (target
    * `id - 1`) is actually due: only when epochs OLDER than the target
    * still exist. A chain already compacted at or beyond `id - 1` — a
    * checkpoint restored from backup replaying against a dir a newer run
    * compacted further, or an external maintenance job's compaction — made
    * the unconditional `compactTo(id - 1)` throw readAsOf's oldest-epoch
    * guard and KILL the streaming query; skipping is always safe (the
    * chain is already at least as compact as this call would make it).
    */
  def compactionDue(spark: SparkSession, dir: String, id: Int): Boolean =
    graft.ops.Snapshots.versions(spark, dir).headOption.exists(_ < id - 1)

  /** T-family twin of [[graft.ops.Snapshots]]: a keyed UPDATE stream
    * becomes a versioned snapshot table — each micro-batch is written as
    * one immutable MERGE epoch (`_v = batch id`; a replayed batch
    * overwrites its own epoch directory, the idempotence device of
    * [[perBatch]]), so [[graft.ops.Snapshots.readAsOf]]
    * time-travels the ingested stream exactly like the batch chain:
    * asOf(latest) is current state, asOf(N) the state after micro-batch
    * N. Contract per micro-batch: at most one row per key (the s11
    * keyed-refresh shape); a boolean delete-marker column streams
    * deletes. StreamingSpec asserts version-by-version equality with a
    * directly-written batch epoch chain.
    *
    * `compactEvery` (opt-in, requires `keyCols`) bounds the replay chain
    * the way the batch path does with a manual
    * [[graft.ops.Snapshots.compactTo]]: every N micro-batches the chain
    * BELOW the current epoch is compacted into one base. The target is
    * `id - 1`, never `id` itself — a replayed micro-batch overwrites its
    * own `_v=id` directory (the idempotence device above), which would
    * destroy a base compacted AT `id`; at `id - 1` the replay rewrites
    * only its own epoch and the base stays intact, so the
    * compact-then-crash-then-replay path is idempotent. Chain length
    * stays O(compactEvery) instead of O(total micro-batches).
    */
  def snapshotEpochStream(updates: DataFrame, dir: String,
                          checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          keyCols: Seq[String] = Nil,
                          compactEvery: Int = 0): StreamingQuery = {
    require(compactEvery == 0 || keyCols.nonEmpty,
      "snapshotEpochStream: compactEvery needs keyCols for last-writer-wins compaction")
    perBatch(updates, OutputMode.Append(), checkpointDir, trigger) {
      (batch, id) =>
        // epoch versions are Int partition values; a batch id past
        // Int.MaxValue would wrap negative and corrupt last-writer-wins
        // ordering — fail loudly instead
        require(id <= Int.MaxValue,
          s"snapshotEpochStream: micro-batch id $id exceeds Int epoch range")
        graft.ops.Snapshots.writeEpoch(batch, dir, id.toInt)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0 &&
            compactionDue(batch.sparkSession, dir, id.toInt))
          graft.ops.Snapshots.compactTo(
            batch.sparkSession, dir, keyCols, id.toInt - 1)
    }
  }

  /** Run a streaming aggregate to completion over the currently-available
    * input and return the final snapshot as a batch DataFrame (test/driver
    * helper; production queries run with a real trigger instead).
    */
  def runToSnapshot(spark: SparkSession, aggregated: DataFrame,
                    outDir: String, checkpointDir: String): DataFrame = {
    val q = foreachBatchParquetSink(aggregated, outDir, checkpointDir)
    q.awaitTermination()
    // Hadoop-FS listing, not java.io.File: outDir may be any scheme the
    // session writes to (the Streaming.scala:414 scrub-listing lesson)
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .maxBy(n => n.stripPrefix("batch=").toLong)
    spark.read.parquet(s"$outDir/$last")
  }
}

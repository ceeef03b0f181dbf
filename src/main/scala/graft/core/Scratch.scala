package graft.core

import org.apache.spark.sql.DataFrame

/** Scratch-parquet materialization for large SHARED intermediates — the
  * scale replacement for `localCheckpoint` in the two-phase distributed
  * machinery (Sampling's rank forms, Planners' cumsum forms).
  *
  * Why not localCheckpoint: it stores the relation as DESERIALIZED
  * row-object blocks, and at the 40M-row tier that materialization alone
  * measured ~10× the cost of a columnar scratch write, with subsequent
  * passes equally lopsided when blocks spill (Probe `budgetdiag`,
  * SURVEY §6.3). A parquet scratch compresses to a fraction of the
  * object-graph footprint, pins ZERO executor storage memory, and read
  * passes run at columnar scan speed. It is also deterministic across
  * consuming jobs by construction — the values (including any
  * `spark_partition_id` / `monotonically_increasing_id` columns) are
  * frozen in the files, so the eviction-and-recompute nondeterminism
  * that makes plain `persist()` unsafe for pid-carrying relations
  * cannot occur. Unlike localCheckpoint blocks (unreplicated, lost with
  * their executor), the scratch files also survive executor loss.
  *
  * At cluster scale set `graft.scratch.dir` in the session conf to a
  * job-scoped HDFS/object-store URI — the path is resolved through the
  * Hadoop FileSystem API, so any scheme the session can write parquet
  * to works; unset, it uses the local tmpdir (the local[...] case).
  * Scratch dirs are registered with the filesystem's deleteOnExit hook
  * (removed at JVM shutdown); long-running drivers can reclaim earlier
  * between jobs with [[cleanupNow]].
  *
  * Caveats: the relation must be parquet-expressible (every engine type
  * here is); the write is EAGER — the same semantics as the eager
  * localCheckpoint it replaces; and the file-source read widens every
  * field to nullable (Spark marks file-backed relations nullable
  * regardless of the declared schema), so a non-null hint is lost
  * across the round-trip — values and types are identical, only the
  * optimizer hint is dropped (asserted in ScratchSpec).
  */
object Scratch {

  /** Row-count guideline for ITERATIVE operators choosing between
    * localCheckpoint and scratch parquet per round: below this, thin
    * round relations fit executor memory as object blocks and the per-
    * round scratch write's fixed job cost dominates (a 20-round star CC
    * measured 1.4× slower all-scratch at 1.8M edges); above it, object
    * blocks approach the measured 40M-row spill cliff (§6.3 budgetdiag)
    * where one columnar write is ~10× cheaper. Single-shot
    * materializations with multiple consumers should just use
    * [[materialize]] — their fixed cost is paid once and the cliff risk
    * is one-sided. Overridable via the `graft.scratch.objectBlockSafeRows`
    * system property (tests drive the scratch branch at toy sizes with
    * it; a cluster profile can tune it without a rebuild).
    */
  def objectBlockSafeRows: Long =
    Option(System.getProperty("graft.scratch.objectBlockSafeRows"))
      .map(_.toLong).getOrElse(16L * 1000 * 1000)

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[
    (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]()

  // Per-thread ownership list for [[scopedCleanup]]: while a thread is
  // inside a scoped block, its materializations are ALSO recorded here, so
  // the block's cleanup reclaims exactly what the block itself created —
  // never scratch registered concurrently by another query's thread
  // (two streaming sinks in one JVM would otherwise delete each other's
  // in-flight dirs; r13 ADVICE).
  private val scopedOwned = new ThreadLocal[java.util.ArrayList[
    (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]]()

  /** Early-release handle for one scratch dir — for iterative operators
    * (CC rounds) whose per-round relation is dead as soon as the next
    * round is materialized; without it a 20-round job over TB-scale
    * edges would hold every round's files until JVM exit.
    */
  final class Handle private[Scratch] (
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path) {
    /** Delete the dir now. The relation returned alongside this handle
      * (and anything derived from it, unmaterialized) must not be read
      * afterwards.
      */
    def drop(): Unit =
      try { fs.cancelDeleteOnExit(p); fs.delete(p, true); () }
      catch { case _: java.io.IOException => () }
  }

  /** Write `df` to a fresh scratch dir and reopen it (explicit schema, so
    * an empty relation round-trips instead of failing schema inference).
    */
  def materialize(df: DataFrame, tag: String): DataFrame =
    materializeWithHandle(df, tag)._1

  /** [[materialize]] plus a [[Handle]] to reclaim the dir before JVM
    * exit — iterative callers drop round N−1 once round N is on disk.
    */
  def materializeWithHandle(df: DataFrame, tag: String): (DataFrame, Handle) = {
    val spark = df.sparkSession
    val base = Option(spark.conf.get("graft.scratch.dir", null))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val dir = s"$base/graft_${tag}_${java.util.UUID.randomUUID.toString.take(13)}"
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(path)
    live.add((fs, path))
    val owned = scopedOwned.get()
    if (owned != null) { owned.add((fs, path)); () }
    df.write.mode("overwrite").parquet(dir)
    (spark.read.schema(df.schema).parquet(dir), new Handle(fs, path))
  }

  /** Delete every scratch dir written so far. For long-running drivers
    * (streaming, daily-ingest loops) at a point where no consumer still
    * reads a scratch-backed relation — results already materialized to
    * their sinks. The JVM-shutdown deleteOnExit covers everything else.
    */
  def cleanupNow(): Unit = {
    var e = live.poll()
    while (e != null) {
      val (fs, p) = e
      try { fs.cancelDeleteOnExit(p); fs.delete(p, true) }
      catch { case _: java.io.IOException => () }
      e = live.poll()
    }
  }

  /** Run `f`, then reclaim ONLY the scratch dirs `f` itself materialized
    * (on this thread) — the per-micro-batch cleanup for streaming
    * foreachBatch bodies whose operators materialize scratch (a
    * continuous-trigger stream would otherwise accumulate one dir per
    * micro-batch until JVM exit, and the global [[cleanupNow]] would tear
    * other live queries' scratch out from under them). Ownership is a
    * ThreadLocal registration list, NOT a before/after snapshot of the
    * global queue, so two concurrent scoped blocks (two streaming sinks
    * in one JVM, or a sink plus a batch job) can never reclaim each
    * other's in-flight dirs. The block must fully CONSUME what it
    * materializes (foreachBatch bodies do — they end in a write), and
    * must materialize on its own thread (foreachBatch bodies do — the
    * driver-side block runs synchronously; only the launched JOBS fan
    * out to executors). Nesting is supported: the inner scope owns (and
    * reclaims) its dirs; the outer scope keeps its own list.
    */
  def scopedCleanup[A](f: => A): A = {
    val outer = scopedOwned.get()
    val mine = new java.util.ArrayList[
      (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]()
    scopedOwned.set(mine)
    try f
    finally {
      if (outer != null) scopedOwned.set(outer) else scopedOwned.remove()
      mine.forEach { e =>
        val (fs, p) = e
        live.remove(e)
        try { fs.cancelDeleteOnExit(p); fs.delete(p, true); () }
        catch { case _: java.io.IOException => () }
      }
    }
  }
}

package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract tests for the scratch-parquet materialization that replaced
  * localCheckpoint in the two-phase distributed machinery (Sampling rank
  * forms, Planners cumsum forms) after the 40M-row object-block cliff was
  * measured (Probe `budgetdiag`, SURVEY §6.3).
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  // The file-source read widens fields to nullable (Scratch scaladoc), so
  // schema assertions compare names + types, not nullability.
  private def namesAndTypes(df: org.apache.spark.sql.DataFrame) =
    df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  test("materialize round-trips rows, names and types") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val m = Scratch.materialize(df, "spec")
    assert(namesAndTypes(m) === namesAndTypes(df))
    assert(m.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("empty relation round-trips (explicit schema, no inference failure)") {
    val df = Seq((1L, "a")).toDF("id", "s").filter(col("id") < 0)
    val m = Scratch.materialize(df, "spec")
    assert(m.count() === 0L)
    assert(namesAndTypes(m) === namesAndTypes(df))
  }

  test("nondeterministic columns are frozen: two consuming jobs see identical values") {
    // The reason Scratch exists instead of plain persist(): __pid / mid
    // columns must not be recomputed differently per consuming job.
    val m = Scratch.materialize(
      spark.range(1000).repartition(4)
        .withColumn("__pid", spark_partition_id())
        .withColumn("__mid", monotonically_increasing_id()), "spec")
    val a = m.select(sum(col("__mid")), max(col("__pid"))).collect()
    val b = m.select(sum(col("__mid")), max(col("__pid"))).collect()
    assert(a.toSeq === b.toSeq)
    assert(m.count() === 1000L)
  }

  test("graft.scratch.dir conf routes the write (and is created on demand)") {
    val base = java.nio.file.Files.createTempDirectory("scratchbase")
      .resolve("nested").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      val m = Scratch.materialize(spark.range(10).toDF(), "spec")
      assert(m.count() === 10L)
      val subdirs = new java.io.File(base).listFiles()
      assert(subdirs != null && subdirs.exists(_.getName.startsWith("graft_spec")))
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("materializeWithHandle: drop() reclaims that dir early, leaves others") {
    val base = java.nio.file.Files.createTempDirectory("scratchhandle").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      val (a, ha) = Scratch.materializeWithHandle(spark.range(5).toDF(), "ha")
      val (b, _) = Scratch.materializeWithHandle(spark.range(7).toDF(), "hb")
      assert(a.count() === 5L && b.count() === 7L)
      ha.drop()
      val left = new java.io.File(base).listFiles().map(_.getName)
      assert(!left.exists(_.startsWith("graft_ha")))
      assert(left.exists(_.startsWith("graft_hb")))
      assert(b.count() === 7L) // survivor still readable after the drop
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("scopedCleanup reclaims exactly the block's own dirs — not pre-existing ones") {
    val base = java.nio.file.Files.createTempDirectory("scratchscope").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      val before = Scratch.materialize(spark.range(3).toDF(), "pre")
      Scratch.scopedCleanup {
        val inner = Scratch.materialize(spark.range(4).toDF(), "inn")
        assert(inner.count() === 4L)
      }
      val left = new java.io.File(base).listFiles().map(_.getName)
      assert(!left.exists(_.startsWith("graft_inn")))
      assert(left.exists(_.startsWith("graft_pre")))
      assert(before.count() === 3L)
      Scratch.cleanupNow()
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("scopedCleanup is OWNERSHIP-scoped: a concurrent thread's scratch survives the block") {
    // r13 ADVICE: the old before/after snapshot reclaimed EVERY dir
    // registered during the block — two concurrent streaming queries (or
    // a sink plus a batch job) would delete each other's in-flight
    // scratch. Ownership is per-thread now: a dir materialized by another
    // thread while the block runs must still exist afterwards.
    val base = java.nio.file.Files.createTempDirectory("scratchown").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      @volatile var otherDf: org.apache.spark.sql.DataFrame = null
      Scratch.scopedCleanup {
        val t = new Thread(() => {
          otherDf = Scratch.materialize(spark.range(6).toDF(), "oth")
        })
        t.start(); t.join()
        val mine = Scratch.materialize(spark.range(4).toDF(), "own")
        assert(mine.count() === 4L)
      }
      val left = new java.io.File(base).listFiles().map(_.getName)
      assert(!left.exists(_.startsWith("graft_own")), "block's own dir reclaimed")
      assert(left.exists(_.startsWith("graft_oth")), "concurrent thread's dir survives")
      assert(otherDf.count() === 6L) // still readable — not torn down mid-flight
      Scratch.cleanupNow()
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("scopedCleanup nests: inner block reclaims its dirs, outer keeps its own list") {
    val base = java.nio.file.Files.createTempDirectory("scratchnest").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      Scratch.scopedCleanup {
        Scratch.materialize(spark.range(2).toDF(), "outr")
        Scratch.scopedCleanup {
          Scratch.materialize(spark.range(3).toDF(), "innr")
        }
        val mid = new java.io.File(base).listFiles().map(_.getName)
        assert(!mid.exists(_.startsWith("graft_innr")))
        assert(mid.exists(_.startsWith("graft_outr")))
      }
      val left = new java.io.File(base).listFiles().map(_.getName)
      assert(!left.exists(_.startsWith("graft_outr")))
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("cleanupNow deletes every scratch dir written so far") {
    val base = java.nio.file.Files.createTempDirectory("scratchclean").toString
    spark.conf.set("graft.scratch.dir", base)
    try {
      val m = Scratch.materialize(spark.range(10).toDF(), "spec")
      assert(m.count() === 10L)
      Scratch.cleanupNow()
      val left = new java.io.File(base).listFiles()
      assert(left == null || left.isEmpty)
    } finally spark.conf.unset("graft.scratch.dir")
  }
}

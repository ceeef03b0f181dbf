package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class PlannersSpec extends SparkSpec {

  import spark.implicits._

  test("chunkWindows: stride tiling, overlap, tail n_tok, CJK char-unit tokens, tokenless docs emit nothing") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 toks: windows at 0/4/8
      (2L, "one two three"),       // 3 toks: one short window
      (3L, "漢字デー"),             // 4 char-unit tokens, one window
      (4L, "!!! ???")              // tokenless
    ).toDF("doc_id", "text")
    val got = Planners.chunkWindows(docs, col("doc_id"), col("text"),
        window = 8, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getString(3)))).toMap
    assert(got.keySet === Set((1L, 0), (1L, 1), (1L, 2), (2L, 0), (3L, 0)))
    assert(got((1L, 0)) === ((8, "a b c d e f g h")))
    assert(got((1L, 1)) === ((6, "e f g h i j"))) // overlap of 4
    assert(got((1L, 2)) === ((2, "i j")))         // tail keeps true n_tok
    assert(got((2L, 0)) === ((3, "one two three")))
    assert(got((3L, 0)) === ((4, "漢 字 デ ー")))
    // stride == window: disjoint tiling, no overlap
    val tiled = Planners.chunkWindows(docs.filter(col("doc_id") === 1),
        col("doc_id"), col("text"), window = 4, stride = 4)
      .collect().map(r => r.getInt(1) -> r.getString(3)).toMap
    assert(tiled === Map(0 -> "a b c d", 1 -> "e f g h", 2 -> "i j"))
  }

  test("chunkWindows matches a local reference for arbitrary docs and strides (ScalaCheck)") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val piece = Gen.oneOf("alpha", "b2", "Gamma", "漢", "δελτα", "x",
      " ", ", ", "--")
    val docGen = Gen.listOf(piece).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(5, docGen),
        Gen.choose(1, 6), Gen.choose(1, 6)) { (texts, a, b) =>
      val w = math.max(a, b)
      val st = math.min(a, b)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Planners.chunkWindows(docs, col("doc_id"), col("text"),
          w, st)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getInt(2), r.getString(3)))).toMap
      // local reference over the engine's own token normal form
      val toks = docs
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")))
        .as[(Long, Seq[String])].collect().toMap
      val want = toks.flatMap { case (id, tl) =>
        if (tl.isEmpty) Nil
        else (0 until ((tl.size + st - 1) / st)).map { k =>
          val sl = tl.slice(k * st, math.min(k * st + w, tl.size))
          (id, k) -> ((sl.size, sl.mkString(" ")))
        }
      }
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("temperatureMixture: probabilities sum to ~1, alloc bounded by budget, alpha<1 compresses") {
    val per = Seq(("en", 8100L), ("de", 900L), ("fr", 100L)).toDF("lang", "n")
    val plan = Planners.temperatureMixture(per, "lang", "n", 0.5, 10000L)
      .as[(String, Long, Double, Long)].collect().map(r => r._1 -> r).toMap
    val pSum = plan.values.map(_._3).sum
    assert(math.abs(pSum - 1.0) < 1e-4, s"p sums to $pSum")
    // floor loss only: total allocation within one unit per group of budget
    val allocSum = plan.values.map(_._4).sum
    assert(allocSum <= 10000L && allocSum >= 10000L - 3)
    // sqrt weights: 8100/900/100 -> 90/30/10 -> p = 9/13, 3/13, 1/13
    assert(math.abs(plan("en")._3 - 9.0 / 13) < 1e-4)
    assert(math.abs(plan("fr")._3 - 1.0 / 13) < 1e-4)
    // natural share of fr is 100/9100 ≈ 1.1%; temperature lifts it to 7.7%
    assert(plan("fr")._3 > 100.0 / 9100.0)
  }

  test("tokenBudgetMixture: fractions capped at 1, exact shares otherwise") {
    val per = Seq(("src0", 1000L, 1), ("src1", 100L, 9)).toDF(
      "source", "src_tokens", "w")
    val plan = Planners.tokenBudgetMixture(per)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // src1 wants 9/10 of 1100 = 990 tokens but only has 100 -> whole (1.0)
    assert(plan("src1")._4 === 1.0)
    // src0 wants 1/10 of 1100 = 110 of its 1000 -> fraction 0.11
    assert(math.abs(plan("src0")._4 - 0.11) < 1e-9)
  }

  test("packPlan conserves tokens and numbers windows contiguously (ScalaCheck)") {
    val gen = Gen.listOfN(40, Gen.choose(1L, 3000L))
    val prop = Prop.forAll(gen) { toks =>
      val docs = toks.zipWithIndex
        .map { case (n, i) => (i.toLong, "g", n) }.toDF("id", "g", "n_tok")
      val plan = Planners.packPlan(docs, "g", "id", "n_tok", 4096L)
        .as[(String, Long, Long, Long)].collect().sortBy(_._2)
      val totalOk = plan.map(_._4).sum == toks.sum
      // windows are numbered 0..max without gaps (every boundary crossed
      // in order produces the next id)
      val contiguous = plan.map(_._2).toSeq == plan.indices.map(_.toLong)
      // concatenate-then-chunk: all but the last window hold >= budget
      // worth of STARTING docs only if no doc straddles — in general a
      // window's doc count is >= 1
      val nonEmpty = plan.forall(_._3 >= 1)
      totalOk && contiguous && nonEmpty
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("packedWindowsDistributed == packedWindows exactly, incl. the one-group cliff case (ScalaCheck)") {
    // random token counts (zero-token docs included), random group
    // arity 1..3 — arity 1 is the single-task cliff the distributed form
    // exists for; the suite session's 4 shuffle partitions force real
    // partition boundaries through every group's pack order
    val gen = for {
      toks <- Gen.listOfN(60, Gen.choose(0L, 900L))
      nGroups <- Gen.choose(1, 3)
    } yield (toks, nGroups)
    val prop = Prop.forAll(gen) { case (toks, nGroups) =>
      val docs = toks.zipWithIndex
        .map { case (n, i) => (i.toLong, s"g${i % nGroups}", n) }
        .toDF("id", "g", "n_tok")
      val want = Planners.packedWindows(docs, "g", "id", "n_tok", 512L)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      val got = Planners.packedWindowsDistributed(
          docs, "g", "id", "n_tok", 512L)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("shardManifest distributed and window forms agree") {
    val docs = (1 to 100).map(i => (i.toLong, "all", (i % 37 + 3).toLong))
      .toDF("id", "g", "n_tok")
    val a = Planners.shardManifest(docs, "g", "id", "n_tok", 64L, 8L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    // the manifest aggregate over the window form's layout
    val b = Planners.shardTotals(
        Planners.packedWindows(docs, "g", "id", "n_tok", 64L)
          .withColumn("shard", expr("seq div 8")), "g")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("tokenBudgetSelect: greedy quality-ordered fill, inclusive boundary (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // quality values COLLIDE on purpose (range 0..3) so the id tie-break
    // is load-bearing across range-partition boundaries
    val rowGen = Gen.zip(Gen.choose(0L, 3L), Gen.choose(1L, 9L))
    val prop = Prop.forAll(Gen.listOfN(25, rowGen), Gen.choose(5L, 80L)) {
      (rows, budget) =>
        val docs = rows.zipWithIndex
          .map { case ((q, n), i) => (i.toLong, q, n) }
          .toDF("id", "q", "n_tok")
        // range partitions: the suite session's 4 shuffle partitions
        val got = Planners.tokenBudgetSelect(docs, "id", "q", "n_tok", budget)
          .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
        // local greedy reference: sort by (q desc, id), inclusive cumsum
        var cum = 0L
        val want = rows.zipWithIndex
          .map { case ((q, n), i) => (i.toLong, q, n) }
          .sortBy { case (i, q, _) => (-q, i) }
          .flatMap { case (i, q, n) =>
            cum += n; if (cum <= budget) Some((i, q, n, cum)) else None
          }
          .sortBy(_._1)
        got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}

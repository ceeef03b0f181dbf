package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

class SamplingSpec extends SparkSpec {

  import spark.implicits._

  private val dfRows = (1L to 300L)
    .map(i => (i, if (i % 3 == 0) "easy" else if (i % 3 == 1) "medium" else "hard"))

  private lazy val df = dfRows.toDF("k", "stratum").cache()

  // the distributed forms take their partition count from the input's
  // session: a new session with `p` shuffle partitions
  private def withPartitions(p: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", p.toString)
    s
  }

  private def dfIn(p: Int): DataFrame =
    withPartitions(p).createDataFrame(dfRows).toDF("k", "stratum")

  test("stratifiedExact keeps exactly floor(n * frac) rows per stratum (ScalaCheck)") {
    val fracGen = Gen.choose(0.0, 1.0)
    val prop = Prop.forAll(fracGen, fracGen, fracGen) { (fe, fm, fh) =>
      val fr = Map("easy" -> fe, "medium" -> fm, "hard" -> fh)
      val got = Sampling.stratifiedExact(df, col("stratum"), col("k"), fr)
        .groupBy("stratum").count().as[(String, Long)].collect().toMap
      fr.forall { case (s, f) =>
        got.getOrElse(s, 0L) == math.floor(100 * f).toLong
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("bernoulli is deterministic and key-pure (same rows on re-run and repartition)") {
    val a = Sampling.bernoulli(df, col("k"), 0.3).select("k").as[Long].collect().toSet
    val b = Sampling.bernoulli(df.repartition(7), col("k"), 0.3)
      .select("k").as[Long].collect().toSet
    assert(a === b)
    assert(a.nonEmpty && a.size < 300)
  }

  test("stratifiedWithReplacement hits exact targets even above stratum size") {
    val tgt = Map("easy" -> 150L, "medium" -> 10L, "hard" -> 0L)
    val got = Sampling.stratifiedWithReplacement(df, col("stratum"), col("k"), tgt)
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(got.getOrElse("easy", 0L) === 150L)   // 100 available, replacement
    assert(got.getOrElse("medium", 0L) === 10L)
    assert(got.getOrElse("hard", 0L) === 0L)
  }

  test("stratifiedExactDistributed selects the identical rows to the window form") {
    val fr = Map("easy" -> 0.37, "medium" -> 0.74, "hard" -> 0.11)
    val window = Sampling.stratifiedExact(df, col("stratum"), col("k"), fr)
      .select("k").as[Long].collect().toSet
    Seq(1, 3, 8).foreach { p =>
      val dist = Sampling.stratifiedExactDistributed(
          dfIn(p).repartition(5), col("stratum"), col("k"), fr)
        .select("k").as[Long].collect().toSet
      assert(dist === window, s"partitions=$p")
    }
  }

  test("stratifiedExactByPlan (fractions as a relation) selects the identical rows to the map form") {
    val fr = Map("easy" -> 0.37, "medium" -> 0.74, "hard" -> 0.11)
    val plan = fr.toSeq.toDF("src", "fraction")
    val viaMap = Sampling.stratifiedExactDistributed(
        df, col("stratum"), col("k"), fr)
      .select("k").as[Long].collect().toSet
    val viaPlan = Sampling.stratifiedExactByPlan(
        df.repartition(5), col("stratum"), col("k"), plan, "src")
      .select("k").as[Long].collect().toSet
    assert(viaPlan === viaMap && viaPlan.nonEmpty)
    // a stratum absent from the plan samples at 0
    val partial = Sampling.stratifiedExactByPlan(df, col("stratum"), col("k"),
        plan.filter(col("src") =!= "medium"), "src")
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(!partial.contains("medium") && partial.contains("easy"))
  }

  test("shufflePositionDistributed equals the single-window rank exactly") {
    val input = df.filter(col("k") <= 237).select("k")
    val window = SamplingSpec.shufflePosition(input, col("k"))
      .as[(Long, Long)].collect().toMap
    Seq(1, 3, 8).foreach { p =>
      val inputP = dfIn(p).filter(col("k") <= 237).select("k")
      val dist = Sampling.shufflePositionDistributed(inputP.repartition(5), col("k"))
        .as[(Long, Long)].collect().toMap
      assert(dist === window, s"partitions=$p")
    }
  }

  test("rankByDistributed: arbitrary order column == window row_number, ties by key") {
    def input(d: DataFrame) = d.filter(col("k") <= 300)
      .select(col("k"), (col("k") % 7).cast("double").as("v")) // heavy ties
    val window = input(df)
      .withColumn("pos", row_number().over(Window.orderBy(col("v"), col("k")))
        .cast("long"))
      .select("k", "pos").as[(Long, Long)].collect().toMap
    Seq(1, 4, 8).foreach { p =>
      val dist = Sampling.rankByDistributed(input(dfIn(p)).repartition(5),
          col("v"), col("k"))
        .select("k", "pos").as[(Long, Long)].collect().toMap
      assert(dist === window, s"partitions=$p")
    }
  }

  test("shufflePosition is a stable 1..n permutation") {
    val sampled = df.filter(col("k") <= 50)
    val pos = Sampling.shufflePositionDistributed(sampled, col("k"))
      .select("pos").as[Long].collect().sorted.toSeq
    assert(pos === (1L to 50L))
    val pos2 = Sampling.shufflePositionDistributed(sampled.repartition(5), col("k"))
      .select(col("k"), col("pos")).as[(Long, Long)].collect().toMap
    val pos1 = Sampling.shufflePositionDistributed(sampled, col("k"))
      .select(col("k"), col("pos")).as[(Long, Long)].collect().toMap
    assert(pos1 === pos2)
  }

  test("epochShufflePosition: full permutation per epoch, epochs independent, reruns stable") {
    val feed = df.filter(col("k") <= 300)
    def run(e: Long): Map[Long, Long] =
      Sampling.epochShufflePosition(feed, col("k"), e)
        .select(col("k"), col("pos")).as[(Long, Long)].collect().toMap
    val e1 = run(1)
    val e2 = run(2)
    // each epoch is a complete 1..n permutation of the same rows
    assert(e1.values.toSeq.sorted === (1L to 300L))
    assert(e2.values.toSeq.sorted === (1L to 300L))
    // epochs genuinely reshuffle (identical orders would mean the epoch
    // seed is dead) and each epoch is reproducible on recompute
    assert(e1 !== e2)
    assert(run(1) === e1)
  }

  test("hash-bucket forms equal their window forms (ScalaCheck): partitions 1/3/8/200, tiny and empty strata, negative keys") {
    // distinct keys on both sides of zero, sometimes one null key (its
    // hash is null, which the window forms rank first); "small" holds at
    // most 3 rows, fewer than the 8+ buckets of any partition count;
    // "empty" has a fraction but no rows
    val rowsGen = for {
      n <- Gen.choose(0, 150)
      keys <- Gen.containerOfN[Set, Long](n, Gen.choose(-5000L, 5000L))
      withNull <- Gen.oneOf(false, true)
      small <- Gen.choose(0, 3)
    } yield ((if (withNull) Seq(None) else Nil) ++ keys.toSeq.map(Option(_)))
      .zipWithIndex.map { case (k, i) =>
        (k, if (i < small) "small" else if (i % 2 == 0) "big" else "mid")
      }
    val fracGen = for {
      fb <- Gen.choose(0.0, 1.0); fm <- Gen.choose(0.0, 1.0)
      fs <- Gen.choose(0.0, 1.0); fe <- Gen.choose(0.0, 1.0)
    } yield Map("big" -> fb, "mid" -> fm, "small" -> fs, "empty" -> fe)
    def keys(d: org.apache.spark.sql.DataFrame): Set[Option[Long]] =
      d.select("k").as[Option[Long]].collect().toSet
    def positions(d: org.apache.spark.sql.DataFrame): Map[Option[Long], Long] =
      d.select("k", "pos").as[(Option[Long], Long)].collect().toMap
    val prop = Prop.forAll(rowsGen, fracGen, Gen.oneOf(1, 3, 8, 200),
        Gen.choose(-3L, 3L)) { (rows, fr, p, epoch) =>
      val session = withPartitions(p)
      val df = session.createDataFrame(rows).toDF("k", "stratum").repartition(3)
      val window = Sampling.stratifiedExact(df, col("stratum"), col("k"), fr)
      val epochWindow = df.withColumn("pos", row_number().over(Window.orderBy(
        Determinism.detHash(Determinism.detHash(col("k")) + lit(epoch)),
        col("k"))).cast("long"))
      val plan = session.createDataFrame(fr.toSeq).toDF("src", "fraction")
      (keys(Sampling.stratifiedExactDistributed(df, col("stratum"), col("k"),
        fr)) == keys(window)) :| s"stratifiedExactDistributed p=$p" &&
      (keys(Sampling.stratifiedExactByPlan(df, col("stratum"), col("k"), plan,
        "src")) == keys(window)) :| s"stratifiedExactByPlan p=$p" &&
      (positions(Sampling.shufflePositionDistributed(df, col("k"))) ==
        positions(SamplingSpec.shufflePosition(df, col("k")))) :| s"shufflePositionDistributed p=$p" &&
      (positions(Sampling.epochShufflePosition(df, col("k"), epoch)) ==
        positions(epochWindow)) :| s"epochShufflePosition p=$p epoch=$epoch" &&
      (positions(Sampling.stratifiedShufflePosition(df, col("stratum"),
        col("k"), fr)) == positions(SamplingSpec.shufflePosition(window,
        col("k")))) :| s"stratifiedShufflePosition p=$p"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

object SamplingSpec {

  /** X3's executable specification: the deterministic global shuffle as
    * ONE global window — `pos` = row_number() over (detHash(key), key),
    * every row through one task. [[Sampling.shufflePositionDistributed]]
    * must give the identical permutation.
    */
  def shufflePosition(df: DataFrame, key: Column): DataFrame =
    df.withColumn("__h", Determinism.detHash(key))
      .withColumn("pos",
        row_number().over(Window.orderBy(col("__h"), key)).cast("long"))
      .drop("__h")
}

package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def toy(n: Int) = {
    // y = 1 iff x > 0.5, with a margin gap around the boundary
    val rows = (0 until n).map { i =>
      val x = if (i % 2 == 0) (i % 40) / 100.0 else 0.6 + (i % 40) / 100.0
      (x, if (x > 0.5) 1 else 0)
    }
    rows.toDF("x", "y")
  }

  test("separable data: the trainer recovers the rule exactly") {
    val df = toy(200)
    val feats = Seq(lit(1.0), col("x"))
    val w = QualityClassifier.logisticTrain(df, feats, col("y"),
      iters = 60, lr = 8.0)
    val scored = QualityClassifier.logisticScore(df, feats, w)
    val acc = scored.filter(col("predicted") === col("y")).count().toDouble /
      scored.count()
    assert(acc === 1.0, s"accuracy $acc, w=${w.toSeq}")
  }

  test("training is deterministic and partitioning-independent") {
    val df = toy(100)
    val feats = Seq(lit(1.0), col("x"))
    val w1 = QualityClassifier.logisticTrain(df, feats, col("y"), 10, 4.0)
    val w2 = QualityClassifier.logisticTrain(df.repartition(7), feats,
      col("y"), 10, 4.0)
    assert(w1.toSeq === w2.toSeq)
  }

  test("more iterations reduce training log-loss") {
    val df = toy(100)
    val feats = Seq(lit(1.0), col("x"))
    def logLoss(iters: Int): Double = {
      val w = QualityClassifier.logisticTrain(df, feats, col("y"), iters, 4.0)
      QualityClassifier.logisticScore(df, feats, w)
        .select(avg(when(col("y") === 1, -log(greatest(col("score"), lit(1e-9))))
          .otherwise(-log(greatest(lit(1.0) - col("score"), lit(1e-9))))))
        .head().getDouble(0)
    }
    val early = logLoss(2)
    val late = logLoss(30)
    assert(late < early, s"log-loss did not improve: $early -> $late")
  }

  test("empty training set fails loudly") {
    val empty = Seq.empty[(Double, Int)].toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.logisticTrain(empty, Seq(lit(1.0), col("x")), col("y"))
    }
    assert(e.getMessage.contains("empty training set"))
  }

  test("iters = 0 fails loudly instead of returning untrained zero weights") {
    val df = Seq((0.2, 0), (0.8, 1)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.logisticTrain(df, Seq(lit(1.0), col("x")), col("y"),
        iters = 0)
    }
    assert(e.getMessage.contains("iters must be >= 1"))
  }
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine QUALITY-CLASSIFIER training — the classifier-based filtering
  * step of modern curation pipelines (a small logistic model over cheap
  * per-doc signals scores the whole corpus; docs below threshold are
  * dropped). The reference pipeline hand-tunes static thresholds
  * (reference train/train.py difficulty gates); this learns the gate from
  * a labeled seed set instead, entirely as Spark aggregates.
  *
  * Training is full-batch gradient descent with a FIXED iteration count,
  * unrollable into plain SQL — the v9 kmeans discipline, so the whole
  * trainer runs under a DuckDB oracle. Cross-engine exactness comes from
  * the fixed-point gradient contract: per row and feature the gradient
  * contribution rounds to a 6dp integer BEFORE summing (summation-order-
  * free exact long sums), and each weight re-rounds to 6dp after the
  * step — every engine computing the same per-row doubles walks the
  * identical weight trajectory.
  *
  * Scale shape: one narrow features relation (k+1 doubles per doc),
  * `iters` aggregate passes over it (each a map-side-combining sum of
  * k+1 longs — bytes shuffled per pass: partitions × (k+1) × 8), driver
  * state = the weight vector only. Scoring is a pure projection.
  */
object QualityClassifier {

  /** The default feature set over a text column: bias, punctuation ratio,
    * stopword ratio, capped token count, capped char length — each
    * rounded to 6dp so both engines start from identical doubles. Order
    * matters (it is the weight order); keep in sync with the SQL twin in
    * QText.
    */
  def features(text: Column): Seq[Column] = Seq(
    lit(1.0),
    round(TextFunctions.punctRatioNative(text), 6),
    round(TextFunctions.stopwordRatioNative(text), 6),
    round(least(TextFunctions.tokenCountNative(text).cast("double") / 100.0,
      lit(1.0)), 6),
    round(least(length(text).cast("double") / 500.0, lit(1.0)), 6))

  /** σ(x·w) under the exact literal weight vector — addition order is the
    * feature order, matching the SQL twin term for term. Shared with the
    * per-head σ-column spec of language ID (`LangIdClassifierSpec`). */
  private[text] def prob(xs: Seq[Column], w: Array[Double]): Column = {
    val z = xs.zip(w).map { case (x, wi) => x * lit(wi) }
      .reduceLeft(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Train logistic weights on `docs` with 0/1 `label`, starting from
    * w = 0 (first pass predicts 0.5 everywhere, engine-independently).
    * `featureCols` must be deterministic 6dp-rounded doubles. Returns the
    * learned weight vector (length = featureCols length).
    */
  def logisticTrain(docs: DataFrame, featureCols: Seq[Column], label: Column,
                    iters: Int = 3, lr: Double = 1.0): Array[Double] = {
    // zero passes would return the untrained all-zero w = 0 start for
    // ANY input, an empty one included: refuse before materializing
    require(iters >= 1, s"logisticTrain: iters must be >= 1, got $iters")
    // the features relation is thin but CORPUS-ROW scale and read once
    // per GD iteration — exactly the thin-40M-row shape the budgetdiag
    // probe measured hitting the object-block cliff (§6.3); columnar
    // scratch reads at scan speed for all `iters` passes (r12 sweep)
    val f = graft.core.Scratch.materialize(
      docs.select(
        featureCols.zipWithIndex.map { case (c, i) => c.as(s"__x$i") } :+
          label.cast("double").as("__y"): _*),
      "clf_features")
    logisticTrainOn(f, featureCols.length, iters, lr)
  }

  /** The GD loop over an ALREADY-materialized features relation (columns
    * `__x0..__x{k-1}`, `__y`) — the single-head trainer body behind
    * [[logisticTrain]]. NOTE: [[LangIdClassifier.train]] does NOT run
    * through this — its one-vs-rest heads need every head's gradient in
    * ONE aggregate pass per iteration (lockstep, iteration-stable
    * codegen via a broadcast weight row), a shape this per-head loop
    * cannot express; it reuses only [[prob]] and the fixed-point step
    * rule. Package-private until an external multi-pass caller exists.
    */
  private[text] def logisticTrainOn(f: DataFrame, k: Int, iters: Int,
                      lr: Double): Array[Double] = {
    val xs = (0 until k).map(i => col(s"__x$i"))
    // n rides the FIRST gradient aggregate's count(1) column (r18) — the
    // standalone f.count() was a whole extra pass over the corpus-row
    // features relation per training call, for a number every iteration's
    // aggregate already computes
    var n = 0.0
    var w = Array.fill(k)(0.0)
    for (it <- 0 until iters) {
      // fixed-point per-row gradient contributions → exact long sums
      val p = prob(xs, w)
      val sums = f.agg(
        expr("count(1)").as("__n"),
        (0 until k).map(i =>
          sum(round((p - col("__y")) * col(s"__x$i") * 1e6)
            .cast("long")).as(s"__g$i")): _*).head()
      if (it == 0) {
        n = sums.getLong(0).toDouble
        require(n > 0, "logisticTrain: empty training set")
      }
      w = Array.tabulate(k) { i =>
        val g = if (sums.isNullAt(i + 1)) 0L else sums.getLong(i + 1)
        BigDecimal(w(i) - lr * g / n / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    w
  }

  /** Score a corpus under trained weights: (input columns…, score,
    * predicted) with score = round(σ(x·w), 6). A pure whole-stage-codegen
    * projection — the 100 TB path is train-on-a-seed, score-everything.
    */
  def logisticScore(docs: DataFrame, featureCols: Seq[Column],
                    w: Array[Double]): DataFrame = {
    val p = prob(featureCols, w)
    docs.withColumn("score", round(p, 6))
      .withColumn("predicted", (p >= 0.5).cast("int"))
  }
}

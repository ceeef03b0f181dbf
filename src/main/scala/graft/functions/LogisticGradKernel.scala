package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** FUSED fixed-point gradient kernel for multi-head logistic trainers
  * ([[graft.text.LangIdClassifier]] at production capacity) — one
  * aggregate computes, per row, the 6dp-rounded bucket-frequency
  * features from the stored `[total, counts…]` vector, every head's
  * σ(x·w), and the heads×(k+1) fixed-point outer-product contributions,
  * all in tight JVM loops over a flat `long[heads*(k+1)]` buffer.
  *
  * Why fused (Probe `langid`, r15, 20 heads × 1M docs): the
  * lockstep WIDE aggregate — heads×(k+1) separate codegen'd sums — goes
  * QUADRATIC in generated-code size (each column re-expands its head's
  * whole dot product): 87 MB task binaries, 254 s/pass at k=64. An
  * intermediate outer-product-only kernel fixed that (35 s/pass at
  * k=64) but still fed from a (k+1)-column engine-side feature
  * projection, which falls out of whole-stage codegen past
  * `spark.sql.codegen.maxFields` and went interpreted-row-eval-bound at
  * k=1024 (>15 min/pass). Fusing the whole per-row computation removes
  * every wide projection: the scan carries TWO columns (counts array,
  * label index) and per-row work is O(heads × k) arithmetic.
  *
  * EXACTNESS CONTRACT — the kernel walks the IDENTICAL weight
  * trajectory as the oracle-pinned wide form (bit-exact, asserted in
  * LangIdClassifierSpec):
  *  - features: `round(cnt_j / total, 6)` — Spark's Round uses
  *    `BigDecimal.valueOf(v).setScale(6, HALF_UP)` (shortest-decimal of
  *    the double); replicated here as `floor(v·1e6 + 0.5)/1e6` in plain
  *    doubles, with a BigDecimal slow path inside a 1e-8 ambiguity
  *    window around the rounding boundary (double error ≤ ~1e-10, so
  *    outside the window both methods provably agree; inside it the
  *    slow path IS Spark's arithmetic). Same scheme at scale 0 for the
  *    gradient contributions.
  *  - z accumulates left-to-right exactly like the wide form's
  *    `reduceLeft(_ + _)` (0.0 + x₀w₀ = x₀w₀ exactly); σ uses the same
  *    `java.lang.Math.exp`.
  *  - NULL semantics: a null counts vector (null text — passed as an
  *    EMPTY array) is a BIAS-ONLY row (features 0.0, bias 1.0), exactly
  *    like the wide form, whose feature spec's `otherwise(0.0)`
  *    (`LangIdClassifierSpec.featuresFromCounts`) absorbs the NULL; a null LABEL (yIdx == -2) contributes nothing
  *    (the wide form's null-y sums); an unknown-but-non-null label
  *    (yIdx == -1) contributes y=0 to every head, like `lang === l`
  *    false everywhere.
  *  - contributions are longs; long sums commute exactly under any
  *    partial-aggregation order.
  *
  * Input per row: (counts `[total, c₀…c_{k-1}]` — pass an EMPTY array
  * for null, primitive decode rejects null elements; label index; the
  * broadcast flat weight vector `w[heads*(k+1)]`, constant per pass).
  */
class LogisticGradKernel(heads: Int, k: Int)
    extends Aggregator[(Array[Long], Int, Array[Double]), Array[Long], Array[Long]] {
  private val d = k + 1
  require(heads > 0 && k > 0 && heads.toLong * d <= (1L << 24),
    s"LogisticGradKernel: heads=$heads k=$k outside the (0, 2^24] " +
      "buffer bound")

  override def zero: Array[Long] = new Array[Long](heads * d)

  import LogisticGradKernel.{halfUpLong, round6}

  override def reduce(b: Array[Long],
                      a: (Array[Long], Int, Array[Double])): Array[Long] = {
    val cnt = a._1; val yIdx = a._2; val w = a._3
    if (yIdx == -2) return b // null label: the row contributes nothing
    val nullText = cnt == null || cnt.length == 0
    require(nullText || cnt.length == d,
      s"LogisticGradKernel: counts arity ${cnt.length} != ${d} " +
        s"(k=$k buckets + total)")
    require(w.length == heads * d,
      s"LogisticGradKernel: weight arity ${w.length} != ${heads * d}")
    val xs = new Array[Double](d) // bias-only when null text / no trigram
    xs(0) = 1.0
    if (!nullText && cnt(0) > 0) {
      val total = cnt(0).toDouble
      var j = 1
      while (j < d) {
        xs(j) = round6(cnt(j).toDouble / total)
        j += 1
      }
    }
    var c = 0
    while (c < heads) {
      val base = c * d
      var z = 0.0
      var i = 0
      while (i < d) { z += xs(i) * w(base + i); i += 1 }
      val p = 1.0 / (1.0 + math.exp(-z))
      val r = p - (if (c == yIdx) 1.0 else 0.0)
      var jj = 0
      while (jj < d) { b(base + jj) += halfUpLong(r * xs(jj) * 1e6); jj += 1 }
      c += 1
    }
    b
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

object LogisticGradKernel {

  /** Spark `round(v)` (HALF_UP on the shortest-decimal of v) as a long.
    *
    * The ambiguity window (|frac − 0.5| < 1e-9) decides when to fall
    * back to the exact BigDecimal path: a double whose shortest-decimal
    * rendering ends in .5 always lands inside it (the nearest double to
    * x.5 is within ~2⁻⁵² · x.5 ≪ 1e-9 for the |v| < 10¹² range the
    * kernel produces), and outside it floor/(frac>0.5) agree with
    * HALF_UP exactly. Property-swept against
    * `BigDecimal.setScale(0, HALF_UP)` over the full kernel input range
    * in KernelRoundingSpec (r15 verdict #6) — not just trainer fixtures.
    */
  @inline private[functions] def halfUpLong(v: Double): Long = {
    val f = math.floor(v)
    val frac = v - f
    if (math.abs(frac - 0.5) < 1e-9)
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    else if (frac > 0.5) f.toLong + 1
    else f.toLong
  }

  /** Spark `round(v, 6)` for the non-negative frequency range ([0, 1]
    * trigram frequencies). Same window argument at scale 6 (1e-8 on
    * v·10⁶); property-swept in KernelRoundingSpec.
    */
  @inline private[functions] def round6(v: Double): Double = {
    val s = v * 1e6
    val f = math.floor(s)
    val frac = s - f
    if (math.abs(frac - 0.5) < 1e-8)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else if (frac > 0.5) (f + 1) / 1e6
    else f / 1e6
  }
}

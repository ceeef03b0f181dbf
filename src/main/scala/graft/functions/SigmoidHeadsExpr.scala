package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Tight-loop scoring kernel shared by interpreted eval and generated
  * code (top-level object ⇒ static forwarder for Janino).
  */
object SigmoidHeadsKernel {

  /** Per-head `round(σ(x·w), 6)` from a `[total, counts…]` trigram
    * vector; an EMPTY counts vector is a BIAS-ONLY row (the
    * `LangIdClassifierSpec.featuresFromCounts` `otherwise(0.0)`
    * contract — callers pass `coalesce(cnt, array())` for null
    * text). Arithmetic is identical to the expression form: 6dp
    * HALF_UP feature rounding (BigDecimal slow path in the ambiguity
    * window — the [[LogisticGradKernel]] contract), left-to-right z
    * accumulation, `Math.exp`, 6dp-rounded σ.
    */
  def scores(cnt: ArrayData, w: ArrayData, heads: Int): ArrayData = {
    val wn = w.numElements()
    require(heads > 0 && wn % heads == 0,
      s"graft_sigmoid_heads: weight arity $wn not divisible by $heads heads")
    val d = wn / heads
    val xs = new Array[Double](d)
    xs(0) = 1.0
    if (cnt.numElements() > 0) {
      require(cnt.numElements() == d,
        s"graft_sigmoid_heads: counts arity ${cnt.numElements()} != $d")
      val total = cnt.getLong(0)
      if (total > 0) {
        val t = total.toDouble
        var j = 1
        while (j < d) { xs(j) = round6(cnt.getLong(j).toDouble / t); j += 1 }
      }
    }
    val out = new Array[Double](heads)
    var c = 0
    while (c < heads) {
      val base = c * d
      var z = 0.0
      var i = 0
      while (i < d) { z += xs(i) * w.getDouble(base + i); i += 1 }
      out(c) = round6(1.0 / (1.0 + math.exp(-z)))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Spark `round(v, 6)` (HALF_UP on the shortest-decimal): double fast
    * path, BigDecimal slow path inside the 1e-8 ambiguity window — valid
    * for the non-negative frequency range and σ ∈ (0, 1).
    */
  @inline def round6(v: Double): Double = {
    val s = v * 1e6
    val f = math.floor(s)
    val frac = s - f
    if (math.abs(frac - 0.5) < 1e-8)
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else if (frac > 0.5) (f + 1) / 1e6
    else f / 1e6
  }
}

/** Fused multi-head logistic SCORING kernel — the inference counterpart
  * of [[LogisticGradKernel]]: one codegen'd call returns every head's
  * `round(σ(x·w), 6)` as an `array<double>`.
  *
  * Why: [[graft.text.LangIdClassifier.predict]]/`langGate` build one σ
  * column per head over (k+1) `element_at` feature terms — fine at the
  * oracle's 5 heads × 13 features, but at capacity (20 heads × k=1024)
  * that is a ~20k-term projection which falls out of whole-stage codegen
  * past `spark.sql.codegen.maxFields` and goes interpreted-row-bound
  * (the trainer's wall, SURVEY §6.3 langid). This is O(heads×k) tight
  * JVM arithmetic per row; parity with the expression form is asserted
  * in LangIdClassifierSpec.
  *
  * Null contract: standard binary-expression null propagation — pass
  * `coalesce(cnt, CAST(array() AS ARRAY<BIGINT>))` so a null-text row
  * scores as BIAS-ONLY instead of nulling out (the feature spec's
  * behavior).
  */
case class SigmoidHeadsExpr(left: Expression, right: Expression, heads: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(DoubleType, _)) if heads > 0 =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sigmoid_heads requires (array<bigint> counts, " +
          s"array<double> weights) with heads > 0, got ($l, $r, $heads)")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_sigmoid_heads"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SigmoidHeadsKernel.scores(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], heads)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.SigmoidHeadsKernel.scores($a, $b, $heads);
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SigmoidHeadsExpr =
    copy(left = newLeft, right = newRight)
}

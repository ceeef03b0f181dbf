package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED language identification — the fastText-style replacement for
  * the [[TextFunctions.langId]] stopword-marker heuristic (r13 verdict
  * gap #2): a one-vs-rest logistic classifier over hashed character
  * trigram frequencies, trained in-engine on a labeled seed by the same
  * fixed-point gradient-descent machinery as the quality classifier, so
  * the WHOLE trainer + predictor sits under a DuckDB oracle
  * (tx_langid_trained).
  *
  * The reference has no language-ID at all (its corpus is homogeneous);
  * this is part of the multilingual-curation surface the LLM-pipeline
  * mandate adds (CCNet trains exactly this shape: char-n-gram features,
  * linear heads per language).
  *
  * Feature hashing is engine-portable by construction: bucket(g) =
  * (cp(g₁)·961 + cp(g₂)·31 + cp(g₃)) mod k over the trigram's code
  * points — `ascii()` returns the first character's code point in both
  * Spark and DuckDB (verified incl. multibyte), so no engine-specific
  * hash is involved. Prediction compares per-language probabilities
  * ROUNDED to 6dp (ties broken by language code ascending), so
  * cross-engine argmax agreement needs only 6dp agreement of σ — the
  * same exp() tolerance the quality classifier already relies on.
  *
  * Scale shape (100 TB): the corpus-side text is walked ONCE per doc by
  * the native [[graft.functions.TrigramBucketsKernel]] (codegen'd,
  * allocation-light — `[total, count₀…count_{k-1}]` in one pass), the
  * result is materialized to columnar scratch, and every downstream
  * expression (the k+1 features, each head's σ, the argmax) is pure
  * whole-stage-codegen arithmetic over the stored longs. This matters
  * twice over: feature/score columns are separate expressions, so a
  * text-level HOF feature definition gets INLINED into each of them by
  * CollapseProject — 13 features × 5 heads × (p + best + predicted)
  * re-walked the interpreted gram array ~150× per doc and measured
  * ~290 s at sf0.1; kernel + stored counts measures ~45× faster
  * end-to-end. Training runs `iters` aggregate passes with ALL heads'
  * fixed-point gradients in each pass (heads never interact, so each
  * walks the identical trajectory the per-head oracle walks); scoring
  * is a stored-column projection.
  */
object LangIdClassifier {

  /** `[total, count₀ … count_{k-1}]` of the text's full char trigrams
    * under the portable bucket hash — the native kernel call. Requires
    * graft's functions registered ([[graft.extensions.GraftExtensions
    * .register]] — [[train]]/[[predict]] do it themselves, idempotent).
    * Its HOF spec `bucketCountsHof` lives in LangIdClassifierSpec
    * (parity-asserted, incl. multibyte).
    */
  def bucketCounts(text: Column, k: Int = 12): Column =
    call_function("graft_trigram_buckets", text, lit(k))

  /** One fused-kernel call scoring EVERY head: `[round(σ(x·w_c), 6)]`
    * per row ([[graft.functions.SigmoidHeadsExpr]]) — the capacity form
    * of the per-head σ columns (which go interpreted past
    * `spark.sql.codegen.maxFields` at large k; SURVEY §6.3 langid). The
    * coalesce-to-empty keeps null text on the BIAS-ONLY contract.
    */
  private def sigmoidHeads(cnt: Column,
                           models: Seq[(String, Array[Double])],
                           k: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    require(models.forall(_._2.length == k + 1),
      s"sigmoidHeads: every weight vector must have k+1 = ${k + 1} entries")
    ColumnShim.column(graft.functions.SigmoidHeadsExpr(
      ColumnShim.expression(coalesce(cnt,
        expr("CAST(array() AS ARRAY<BIGINT>)"))),
      ColumnShim.expression(lit(models.flatMap(_._2.toSeq).toArray)),
      models.size))
  }

  /** Train one logistic head per language (one-vs-rest) on `docs` with a
    * `lang` label column. Returns (language → weight vector) in `langs`
    * order — feed to [[predict]]. The counts relation is materialized to
    * columnar scratch ONCE (the one text walk), and all heads train in
    * LOCKSTEP: one aggregate pass per iteration computes every head's
    * fixed-point gradient sums, so the driver-sequenced job count is
    * `iters`, not langs × iters — heads never interact, so each walks the
    * identical weight trajectory the per-head DuckDB oracle walks.
    *
    * Each pass is the fused [[graft.functions.LogisticGradKernel]]: the
    * scan carries exactly (counts vector, label index), and weights ride
    * a broadcast ONE-ROW array relation — literal weights would change
    * the whole-stage source, and pay a Janino compile, every iteration.
    * Bit-exact with the lockstep wide aggregate the oracle CTEs restate
    * (`LangIdClassifierSpec.trainWide`), whose langs×(k+1) sum columns
    * cost 5.0 s against the kernel's 2.9 s on tx_langid_trained (r17) and
    * 254 s/pass at 20 heads × k=64 × 1M docs (Probe `langid`, r15).
    */
  def train(docs: DataFrame, text: Column, lang: Column,
            langs: Seq[String], k: Int = 12, iters: Int = 8,
            lr: Double = 8.0): Seq[(String, Array[Double])] = {
    require(langs.nonEmpty && langs.distinct == langs,
      s"train: langs must be non-empty and distinct, got $langs")
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    val d = k + 1
    val spark = docs.sparkSession
    // label INDEX, not one-hot columns: -2 = null lang (the row must
    // contribute nothing, matching the wide form's null-propagating
    // sums), -1 = unknown lang (y=0 for every head, matching
    // `lang === l` false everywhere)
    val yIdx = when(lang.isNull, lit(-2)).otherwise(
      langs.zipWithIndex.foldRight(lit(-1): Column) {
        case ((l, i), acc) => when(lang === l, lit(i)).otherwise(acc)
      }).cast("int")
    val raw = graft.core.Scratch.materialize(
      docs.select(bucketCounts(text, k).as("__cnt"), yIdx.as("__yi")),
      "langid_features")
    val n = raw.count().toDouble
    require(n > 0, "train: empty training set")
    val ws = Array.fill(langs.size)(Array.fill(d)(0.0))
    val gradFn = org.apache.spark.sql.functions.udaf(
      new graft.functions.LogisticGradKernel(langs.size, k))
    val wSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__w",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    // a NULL counts vector (null text) reaches the kernel as an EMPTY
    // array — primitive array decode rejects null, and empty is the
    // kernel's contribute-nothing sentinel
    val cntSafe = coalesce(col("__cnt"),
      expr("CAST(array() AS ARRAY<BIGINT>)"))
    for (_ <- 0 until iters) {
      val flat: Seq[Double] =
        for (c <- langs.indices; j <- 0 until d) yield ws(c)(j)
      val wDf = spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(flat)), wSchema)
      val g = raw.crossJoin(broadcast(wDf))
        .agg(gradFn(cntSafe, col("__yi"), col("__w"))).head()
        .getSeq[Long](0)
      for (c <- langs.indices; j <- 0 until d) {
        ws(c)(j) = BigDecimal(ws(c)(j) - lr * g(c * d + j) / n / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    langs.zip(ws.map(_.clone())).map { case (l, w) => l -> w }
  }

  /** LANGUAGE GATE — keep exactly the docs whose [[predict]]ed language
    * is in `keep` (CCNet stage 1: drop non-target-language docs before
    * any scoring join or signature work spends a cycle on them). BY
    * CONSTRUCTION ≡ predict-then-filter (same σ rounding, same
    * models-order argmax, ties and the trigram-less 'und' fallback
    * included — asserted in LangIdClassifierSpec), but shaped for the
    * pipeline: ONE kernel walk per doc into a THIN (id, σ array)
    * scratch relation — never a corpus-payload copy — the keep decision
    * is pure stored-column arithmetic over it, and survivors come back
    * via a raw-id left-semi join (the lmGateKn shape; a cast here could
    * fail open — the r13 lesson). Docs with no full trigram (or null
    * text) are BIAS-ONLY rows — [[sigmoidHeads]]' coalesce-to-empty
    * absorbs the null — so they predict the argmax of the bias weights σ(w₀_c),
    * exactly like [[predict]]; the 'und' fold base is unreachable for
    * non-empty models.
    */
  def langGate(docs: DataFrame, id: Column, text: Column,
               models: Seq[(String, Array[Double])], keep: Set[String],
               k: Int = 12, minProb: Double = 0.0): DataFrame = {
    require(models.nonEmpty, "langGate: no trained heads")
    require(keep.nonEmpty,
      "langGate: empty keep set would silently drop the whole corpus — " +
        "pass the language codes to keep (CLI: --lang-keep en,fr)")
    require(minProb <= 1.0,
      s"langGate: minProb $minProb > 1.0 would drop every doc (σ ≤ 1)")
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    val fr = graft.core.Scratch.materialize(
      docs.select(id.as("__lg_id"),
        sigmoidHeads(bucketCounts(text, k), models, k).as("__p")),
      "langid_gate")
    val scored = models.zipWithIndex.foldLeft(fr) { case (df, ((l, _), i)) =>
      df.withColumn(s"__p_$l", element_at(col("__p"), i + 1))
    }
    val best = greatest(models.map { case (l, _) => col(s"__p_$l") }: _*)
    val predicted = models.foldRight(lit("und"): Column) {
      case ((l, _), acc) => when(col(s"__p_$l") === best, lit(l)).otherwise(acc)
    }
    // CCNet's confidence rule: a doc whose BEST head is uncertain is
    // dropped even when the argmax lands in the keep set (minProb 0
    // disables the test — the default gate is argmax-only)
    val confident =
      if (minProb <= 0.0) lit(true) else best >= lit(minProb)
    val keepIds = scored.filter(predicted.isin(keep.toSeq: _*) && confident)
      .select(col("__lg_id"))
    docs.join(keepIds, id === col("__lg_id"), "left_semi")
  }

  /** Score `docs` under the trained heads: input columns + one
    * `p_<lang>` = round(σ(x·w_lang), 6) per language + `predicted` =
    * argmax over the ROUNDED probabilities, ties broken by `models`
    * order (pass languages sorted). One kernel walk per doc into
    * scratch, then a pure stored-column projection — no shuffle, no UDF.
    */
  def predict(docs: DataFrame, text: Column,
              models: Seq[(String, Array[Double])],
              k: Int = 12): DataFrame = {
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    // the scratch row stores the fused σ kernel's ARRAY (r17), and every
    // output column is a stored-array element_at. The per-head σ-column
    // form over stored counts is the executable spec (`scoreWide` in
    // LangIdClassifierSpec, which asserts identical values incl. null
    // text — the kernel's rounding contract).
    val fr = graft.core.Scratch.materialize(
      docs.withColumn("__p", sigmoidHeads(bucketCounts(text, k), models, k)),
      "langid_pred")
    val scored = models.zipWithIndex.foldLeft(fr) { case (df, ((l, _), i)) =>
      df.withColumn(s"p_$l", element_at(col("__p"), i + 1))
    }
    val best = greatest(models.map { case (l, _) => col(s"p_$l") }: _*)
    scored.withColumn("predicted",
      models.foldRight(lit("und"): Column) { case ((l, _), acc) =>
        when(col(s"p_$l") === best, lit(l)).otherwise(acc)
      })
      .drop("__p")
  }
}

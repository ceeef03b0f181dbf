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
    * [[bucketCountsHof]] is the relational twin (parity-asserted).
    */
  def bucketCounts(text: Column, k: Int = 12): Column =
    call_function("graft_trigram_buckets", text, lit(k))

  private def fullGrams(text: Column): Column =
    filter(TextFunctions.charNgrams(text, 3), g => length(g) === 3)

  private def bucket(g: Column, k: Int): Column =
    (ascii(substring(g, 1, 1)).cast("long") * 961 +
      ascii(substring(g, 2, 1)).cast("long") * 31 +
      ascii(substring(g, 3, 1)).cast("long")) % k

  /** The HOF/regexp-built twin of [[bucketCounts]] — same
    * `[total, counts…]` vector from `charNgrams` + `ascii` built-ins.
    * CodegenFallback and O(k) per gram — the kernel's correctness
    * REFERENCE (LangIdClassifierSpec parity, incl. multibyte), not the
    * production path.
    */
  private[text] def bucketCountsHof(text: Column, k: Int): Column = {
    val counts = aggregate(
      transform(fullGrams(text), g => bucket(g, k)),
      array_repeat(lit(0L), k),
      (acc, b) => transform(acc, (v, i) =>
        when(i.cast("long") === b, v + 1L).otherwise(v)))
    concat(array(size(fullGrams(text)).cast("long")), counts)
  }

  /** bias + k bucket FREQUENCIES from a stored `[total, counts…]`
    * vector — pure codegen arithmetic (element_at / divide / round),
    * each rounded to 6dp (the [[QualityClassifier.features]] contract).
    * A doc with no full trigram gets all-zero frequencies and rides on
    * the bias alone.
    */
  def featuresFromCounts(cnt: Column, k: Int = 12): Seq[Column] = {
    val total = element_at(cnt, 1)
    lit(1.0) +: (0 until k).map { j =>
      round(when(total > 0,
        element_at(cnt, j + 2).cast("double") / total)
        .otherwise(0.0), 6)
    }
  }

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
    * fixed-point gradient sums (langs × (k+1) long columns), so the
    * driver-sequenced job count is `iters`, not langs × iters — heads
    * never interact, so each walks the identical weight trajectory the
    * per-head form (and the per-head DuckDB oracle) walks.
    */
  def train(docs: DataFrame, text: Column, lang: Column,
            langs: Seq[String], k: Int = 12, iters: Int = 8,
            lr: Double = 8.0,
            wideGradMaxCols: Int = 0): Seq[(String, Array[Double])] = {
    require(langs.nonEmpty && langs.distinct == langs,
      s"train: langs must be non-empty and distinct, got $langs")
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    // Two trainer shapes, IDENTICAL trajectories (bit-exact, asserted
    // in LangIdClassifierSpec): the FUSED native kernel
    // ([[trainKernel]] — a two-column scan and one O(heads×k)-per-row
    // aggregate) and the lockstep WIDE aggregate ([[trainWide]] — the
    // executable specification the oracle CTEs restate). The kernel is
    // the default at EVERY size (r17 optimization round: even at 5
    // heads × k=12 the wide form pays per-iteration analysis + codegen
    // of langs×(k+1) sum columns each re-expanding its head's whole σ
    // dot product — tx_langid_trained measured 5.0 → 2.9 s standalone
    // on the kernel path; at capacity the wide form is catastrophically
    // worse — 87 MB task binaries, 254 s/pass at 20 heads × k=64 × 1M
    // docs, Probe `langid`, r15). Pass `wideGradMaxCols` above
    // langs×(k+1) to force the wide spec form (the parity tests do).
    if (langs.size * (k + 1) > wideGradMaxCols)
      trainKernel(docs, text, lang, langs, k, iters, lr)
    else trainWide(docs, text, lang, langs, k, iters, lr)
  }

  private def trainWide(docs: DataFrame, text: Column, lang: Column,
                        langs: Seq[String], k: Int, iters: Int,
                        lr: Double): Seq[(String, Array[Double])] = {
    val raw = graft.core.Scratch.materialize(
      docs.select(
        bucketCounts(text, k).as("__cnt") +:
          langs.zipWithIndex.map { case (l, i) =>
            (lang === l).cast("double").as(s"__yc$i")
          }: _*),
      "langid_features")
    // features pre-projected into NAMED columns: the gradient aggregate
    // references plain attributes, so its langs×(k+1) expression trees
    // stay small — with element_at feature trees inlined 65×, per-pass
    // driver-side analysis dominated the whole trainer
    val feat = raw.select(
      featuresFromCounts(col("__cnt"), k).zipWithIndex.map {
        case (c, j) => c.as(s"__x$j")
      } ++ langs.indices.map(i => col(s"__yc$i")): _*)
    val xs = (0 to k).map(j => col(s"__x$j"))
    val n = raw.count().toDouble
    require(n > 0, "train: empty training set")
    val d = k + 1
    val spark = docs.sparkSession
    val ws = Array.fill(langs.size)(Array.fill(d)(0.0))
    // Weights enter each pass as a broadcast ONE-ROW LocalRelation, not
    // as literals: literal weights change every iteration, so every pass
    // would generate a DIFFERENT whole-stage source and pay a fresh
    // Janino compile of the langs×(k+1)-column gradient aggregate —
    // measured as the dominant cost of the whole trainer (the data is a
    // thin scratch scan). Column-referenced weights keep the generated
    // source identical across iterations and runs, so the codegen cache
    // hits from pass 2 on. Same doubles, same arithmetic, same
    // trajectory — only the plan's constant-vs-column shape changes.
    val wSchema = org.apache.spark.sql.types.StructType(
      for (c <- langs.indices; j <- 0 until d) yield
        org.apache.spark.sql.types.StructField(s"__w${c}_$j",
          org.apache.spark.sql.types.DoubleType, nullable = false))
    def probC(c: Int): Column = {
      val z = xs.zipWithIndex.map { case (x, j) =>
        x * col(s"__w${c}_$j")
      }.reduceLeft(_ + _)
      lit(1.0) / (lit(1.0) + exp(-z))
    }
    val aggs = for {
      c <- langs.indices
      j <- 0 until d
    } yield sum(round((probC(c) - col(s"__yc$c")) * xs(j) * 1e6)
      .cast("long")).as(s"__g${c}_$j")
    for (_ <- 0 until iters) {
      val wRow = org.apache.spark.sql.Row.fromSeq(
        for (c <- langs.indices; j <- 0 until d) yield ws(c)(j))
      val wDf = spark.createDataFrame(
        java.util.Collections.singletonList(wRow), wSchema)
      val row = feat.crossJoin(broadcast(wDf))
        .agg(aggs.head, aggs.tail: _*).head()
      for (c <- langs.indices; j <- 0 until d) {
        val idx = c * d + j
        val g = if (row.isNullAt(idx)) 0L else row.getLong(idx)
        ws(c)(j) = BigDecimal(ws(c)(j) - lr * g / n / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    langs.zip(ws.map(_.clone())).map { case (l, w) => l -> w }
  }

  /** The CAPACITY trainer — the [[graft.functions.LogisticGradKernel]]
    * fused pass: the scan carries exactly (counts vector, label index),
    * weights ride a broadcast ONE-ROW array relation (iteration-stable
    * plan, the trainWide codegen-cache rationale), and one aggregate
    * returns every head's fixed-point gradient. Bit-exact with
    * [[trainWide]] (the kernel's exactness contract); probed at 20
    * heads × 1M docs in Probe `langid`.
    */
  private def trainKernel(docs: DataFrame, text: Column, lang: Column,
                          langs: Seq[String], k: Int, iters: Int,
                          lr: Double): Seq[(String, Array[Double])] = {
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
    * pipeline: ONE kernel walk per doc into a THIN (id, counts) scratch
    * relation — never a corpus-payload copy — the keep decision is pure
    * stored-column arithmetic over it, and survivors come back via a
    * raw-id left-semi join (the lmGateKn shape; a cast here could fail
    * open — the r13 lesson). Docs with no full trigram (or null text)
    * are BIAS-ONLY rows — featuresFromCounts' otherwise(0.0) absorbs
    * the null — so they predict the argmax of the bias weights σ(w₀_c),
    * exactly like [[predict]]; the 'und' fold base is unreachable for
    * non-empty models.
    */
  def langGate(docs: DataFrame, id: Column, text: Column,
               models: Seq[(String, Array[Double])], keep: Set[String],
               k: Int = 12, minProb: Double = 0.0,
               wideScoreMaxCols: Int = 0): DataFrame = {
    require(models.nonEmpty, "langGate: no trained heads")
    require(keep.nonEmpty,
      "langGate: empty keep set would silently drop the whole corpus — " +
        "pass the language codes to keep (CLI: --lang-keep en,fr)")
    require(minProb <= 1.0,
      s"langGate: minProb $minProb > 1.0 would drop every doc (σ ≤ 1)")
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    // same capacity switch as [[predict]]: past ~512 score terms the
    // thin scratch row stores the fused kernel's σ array, not the counts
    val useKernel = models.size * (k + 1) > wideScoreMaxCols
    val fr = graft.core.Scratch.materialize(
      if (useKernel)
        docs.select(id.as("__lg_id"),
          sigmoidHeads(bucketCounts(text, k), models, k).as("__p"))
      else docs.select(id.as("__lg_id"), bucketCounts(text, k).as("__cnt")),
      "langid_gate")
    val feats = featuresFromCounts(col("__cnt"), k)
    val scored =
      if (useKernel)
        models.zipWithIndex.foldLeft(fr) { case (df, ((l, _), i)) =>
          df.withColumn(s"__p_$l", element_at(col("__p"), i + 1))
        }
      else models.foldLeft(fr) { case (df, (l, w)) =>
        df.withColumn(s"__p_$l", round(QualityClassifier.prob(feats, w), 6))
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
              k: Int = 12,
              wideScoreMaxCols: Int = 0): DataFrame = {
    graft.extensions.GraftExtensions.register(docs.sparkSession)
    // the fused σ kernel is the default at every size (the train()
    // rationale on the inference side — r17): the scratch row stores
    // the kernel's σ ARRAY instead of the counts, and every output
    // column is a stored-array element_at; the per-head σ-column form
    // stays as the executable spec (pass wideScoreMaxCols above
    // heads×(k+1) to force it — the parity tests do). Identical values
    // (the kernel's rounding contract; parity asserted in
    // LangIdClassifierSpec incl. null text).
    val useKernel = models.size * (k + 1) > wideScoreMaxCols
    val fr = graft.core.Scratch.materialize(
      if (useKernel)
        docs.withColumn("__p", sigmoidHeads(bucketCounts(text, k), models, k))
      else docs.withColumn("__cnt", bucketCounts(text, k)),
      "langid_pred")
    val feats = featuresFromCounts(col("__cnt"), k)
    val scored =
      if (useKernel)
        models.zipWithIndex.foldLeft(fr) { case (df, ((l, _), i)) =>
          df.withColumn(s"p_$l", element_at(col("__p"), i + 1))
        }
      else models.foldLeft(fr) { case (df, (l, w)) =>
        df.withColumn(s"p_$l", round(QualityClassifier.prob(feats, w), 6))
      }
    val best = greatest(models.map { case (l, _) => col(s"p_$l") }: _*)
    scored.withColumn("predicted",
      models.foldRight(lit("und"): Column) { case ((l, _), acc) =>
        when(col(s"p_$l") === best, lit(l)).otherwise(acc)
      })
      .drop("__cnt", "__p")
  }
}

package graft.ann

import graft.ops.Determinism
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `array<float>` embedding column.
  *
  * - [[cosine]]/[[dot]]/[[l2norm]]: higher-order-function expressions
  *   (codegen'd, no UDF) over arrays cast to double for cross-engine
  *   numeric parity.
  * - [[bruteForceTopK]]: exact top-k — broadcast the (small) query set
  *   against the corpus, per-query window top-k. Linear in corpus size, no
  *   corpus-side shuffle until the final per-query top-k (which AQE keeps
  *   tiny because candidates are pre-scored map-side).
  * - [[lshBucketTopK]]: the scale path — random-hyperplane LSH buckets
  *   computed from deterministic pseudo-hyperplanes (reproducible in SQL),
  *   so the join is equi on bucket and only intra-bucket pairs are scored.
  */
object Vectors {

  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product via the native codegen'd expression
    * ([[graft.functions.DotProductExpr]]) — the HOF form
    * (aggregate∘zip_with) is CodegenFallback and interpreted per element,
    * which dominates ANN assignment/bucketing at corpus × centroids scale.
    * Same sequential summation order, so all oracle results are unchanged.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.DotProductExpr(
      ColumnShim.expression(asDouble(a)),
      ColumnShim.expression(asDouble(b))))
  }

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-hyperplane component (plane p, coordinate k) in
    * [-0.5, 0.5): reproducible in ANSI SQL ([[Determinism.detRand]] of the
    * flattened index p*dim + k). Hyperplanes are constants, so the engine
    * evaluates the hash once on the driver ([[Determinism.detRandLocal]])
    * and embeds the plane as an array literal — zero per-row hash work —
    * while the oracle recomputes the identical md5 arithmetic in SQL.
    */
  def hyperplane(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(k => Determinism.detRandLocal(plane.toLong * dim + k) - 0.5)

  /** Sign bits of `nPlanes` hyperplane projections, as a bitstring column. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = dot(vec, typedLit(hyperplane(p, dim)))
      when(proj > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Exact cosine top-k of `corpus` rows for each query row.
    * Both inputs need (idCol, vecCol); query side should be small (it is
    * broadcast). Output: (query_id, vec_id, cosine, rk).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"),
      asDouble(col(vecCol)).as("v"), l2norm(asDouble(col(vecCol))).as("vn"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("q"), l2norm(asDouble(col(vecCol))).as("qn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("q")) / (col("vn") * col("qn")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), roundTo).as("cosine"), col("rk"))
  }

  /** LSH-bucketed approximate top-k: queries join the corpus only within
    * their hyperplane bucket. Recall is tuned by nPlanes (fewer planes →
    * bigger buckets → higher recall, more work).
    */
  def lshBucketTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nPlanes: Int, dim: Int,
                    roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), nPlanes, dim))
      .withColumn("vn", l2norm(col("v")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q"))
      .withColumn("bucket", lshBucket(col("q"), nPlanes, dim))
      .withColumn("qn", l2norm(col("q")))
    c.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("q")) / (col("vn") * col("qn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), roundTo).as("cosine"), col("rk"))
  }

  /** IVF-style approximate top-k — the coarse-quantizer alternative to
    * hyperplane LSH. Deterministic coarse quantizer: every `step`-th vector
    * id is a centroid (reproducible without training — an engine-policy
    * stand-in for k-means that keeps the oracle expressible). Every vector
    * is assigned to its max-cosine centroid cell via a broadcast of the
    * (tiny) centroid set; queries probe only their own cell, so the scoring
    * join is equi on cell — the corpus is never cross-joined to queries.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, step: Int, roundTo: Int = 6): DataFrame =
    ivfTopKProbes(corpus, queries, idCol, vecCol, k, step, nprobe = 1, roundTo)

  /** Normalized (vec_id, v, vn) projection of a corpus. */
  private def normalized(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))

  /** Every-`step`-th vector of a [[normalized]] corpus as the coarse-
    * quantizer centroid set — the ONE place the centroid rule lives.
    */
  private def centroidsOf(c: DataFrame, step: Int): DataFrame =
    c.filter(col("vec_id") % step === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("vn").as("cvn"))

  /** Normalized (vec_id, v, vn) corpus and its every-`step`-th centroids. */
  private def corpusAndCents(corpus: DataFrame, idCol: String, vecCol: String,
                             step: Int): (DataFrame, DataFrame) = {
    val c = normalized(corpus, idCol, vecCol)
    (c, centroidsOf(c, step))
  }

  /** Public step-rule coarse quantizer: (cent_id, cv, cvn) from every
    * `step`-th corpus vector — the oracle-expressible stand-in for
    * [[kmeansCentroids]], for callers composing the index pieces
    * themselves (e.g. [[ivfPqResidualIndex]] + its query side).
    */
  def stepCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    step: Int): DataFrame =
    centroidsOf(normalized(corpus, idCol, vecCol), step)

  /** Max-cosine cell per row via a max_by hash aggregate, NOT a row_number
    * window: the assignment relation is corpus × centroids rows, and a
    * window means a full shuffle+sort of all of them, while the aggregate
    * collapses map-side (partial max per partition). Tie-break
    * struct(__cc, -cent_id): max cosine, then MIN centroid id — the same
    * total order as the oracle's ORDER BY cos DESC, cent_id.
    * `+ 0.0` normalizes -0.0 to +0.0 (IEEE: -0.0 + 0.0 = +0.0) so the
    * struct ordering matches the SQL sort the oracle uses, where
    * -0.0 = 0.0 — max_by's total ordering would otherwise rank
    * +0.0 > -0.0 and could pick a different centroid on zero-cosine ties.
    *
    * The aggregate carries ONLY (id, cell): at corpus × centroids rows,
    * dragging the embedding array through the agg buffers (the old
    * `first(v)` form) multiplies shuffle/buffer traffic by the vector
    * width — the 10× scale probe showed 65 s for what is sub-second of
    * dot-product compute. Vectors are re-attached afterwards by an
    * equi-join on the id, which shuffles the corpus once at its natural
    * (id, vector) width.
    */
  private def assignCells(df: DataFrame, id: String, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("__cc",
        dot(col("v"), col("cv")) / (col("vn") * col("cvn")) + 0.0)
      .groupBy(col(id))
      .agg(max_by(col("cent_id"),
        struct(col("__cc"), (-col("cent_id")).as("__tb"))).as("cell"))

  /** IVF with multi-probe: each query scores the corpus rows of its
    * `nprobe` highest-cosine cells (nprobe=1 ≡ [[ivfTopK]]). Corpus
    * assignment stays argmax (one cell per vector), so each (query, vec)
    * pair appears at most once and the scoring join stays equi on cell —
    * probing widens recall at a cost linear in nprobe, never all-pairs.
    * The probe ranking is a window over queries × centroids only (the
    * query side is small by contract — it is broadcast).
    */
  def ivfTopKProbes(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, step: Int, nprobe: Int,
                    roundTo: Int = 6): DataFrame = {
    val (c, cents) = corpusAndCents(corpus, idCol, vecCol, step)
    ivfTopKProbesWith(c, queries, idCol, vecCol, k, cents, nprobe, roundTo)
  }

  /** [[ivfTopKProbes]] with a caller-supplied coarse quantizer — `cents`
    * must be a small (cent_id, cv, cvn) relation (it is broadcast), e.g.
    * the output of [[kmeansCentroids]]. `c` is the [[normalized]] corpus.
    */
  private def ivfTopKProbesWith(c: DataFrame, queries: DataFrame, idCol: String,
                                vecCol: String, k: Int, cents: DataFrame,
                                nprobe: Int, roundTo: Int): DataFrame = {
    val ca = c.join(assignCells(c, "vec_id", cents), "vec_id")
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
    val qa = q0.crossJoin(broadcast(cents))
      .withColumn("__cc",
        dot(col("v"), col("cv")) / (col("vn") * col("cvn")) + 0.0)
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cc").desc, col("cent_id"))))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("v").as("q"), col("vn").as("qn"),
        col("cent_id").as("cell"))
    ca.join(broadcast(qa), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("v"), col("q")) / (col("vn") * col("qn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cos"), roundTo).as("cosine"), col("rk"))
  }

  /** Seeded, fixed-iteration Lloyd's k-means coarse quantizer — the
    * *trained* alternative to [[centroidsOf]]'s every-step-th rule. The
    * step rule is oracle-expressible but its recall at real scale depends
    * on luck; k-means places centroids where the density is.
    *
    * Deterministic by construction:
    *  - init = the `k` sample vectors with the smallest deterministic hash
    *    of (vec_id, seed) — no RNG state, reproducible across runs/engines;
    *  - assignment = max-cosine with min-cent_id tie-break (same total
    *    order as [[assignCells]]);
    *  - each iteration's new coordinates are rounded to `roundTo` decimals,
    *    so the result does not depend on float summation order (partition
    *    layout) beyond that precision.
    *
    * Scale shape: one [[assignCells]] pass (corpus × k broadcast cross,
    * map-side max aggregate) plus one (cell, coordinate) mean aggregate per
    * iteration; the only driver-resident state is the k × dim centroid
    * matrix — the same driver-bounded contract as the centroid broadcast
    * itself. `sampleFrac` trains on a deterministic Bernoulli sample
    * (detRand of the id), the usual 100-TB move: centroid quality needs
    * density, not the full corpus.
    *
    * Output: (cent_id ∈ 0..k-1, cv, cvn) — [[centroidsOf]]'s schema, so it
    * drops into any IVF path ([[ivfTopKKmeans]]).
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3, sampleFrac: Double = 1.0,
                      seed: Long = 42, roundTo: Int = 6): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = normalized(corpus, idCol, vecCol)
    val sampled = if (sampleFrac >= 1.0) c0
      else c0.filter(
        Determinism.detRand(col("vec_id") * lit(31L) + lit(seed)) < sampleFrac)
    // every iteration re-reads the sample; materialize it once
    val c = sampled.localCheckpoint(false)
    def centsDf(cents: Seq[(Long, Seq[Double])]): DataFrame =
      broadcast(cents.toDF("cent_id", "cv")
        .withColumn("cvn", l2norm(col("cv"))))
    var cents: Seq[(Long, Seq[Double])] = c
      .withColumn("__h", Determinism.detHash(col("vec_id") + lit(seed)))
      .orderBy(col("__h"), col("vec_id"))
      .limit(k)
      .select(col("v")).collect()
      .toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    // fail loudly instead of silently training fewer centroids: callers
    // assume cent_id ∈ 0..k-1, and a shrunken quantizer would quietly
    // change IVF cell geometry (round-4 ADVICE)
    require(cents.length == k,
      s"kmeansCentroids: requested k=$k centroids but the " +
        s"${if (sampleFrac < 1.0) f"sampleFrac=$sampleFrac%.3f sample" else "corpus"} " +
        s"has only ${cents.length} vectors — lower k or raise sampleFrac")
    for (_ <- 0 until iters) {
      val assigned = assignCells(c, "vec_id", centsDf(cents)).join(c, "vec_id")
      // (cell, coordinate) means — k × dim result rows, driver-bounded
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy("cell", "p")
        .agg(round(avg(col("x")), roundTo).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      // empty cells keep their previous centroid (standard Lloyd's)
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    centsDf(cents)
  }

  /** [[ivfTopKProbes]] with a k-means coarse quantizer ([[kmeansCentroids]])
    * instead of the every-step-th rule — the recall-lifting production
    * variant (measured against the step quantizer in VectorsSpec via the
    * v7-style recall harness).
    */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, numCents: Int, nprobe: Int = 1,
                    iters: Int = 3, seed: Long = 42, sampleFrac: Double = 1.0,
                    roundTo: Int = 6): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    val cents = kmeansCentroids(corpus, idCol, vecCol, numCents, iters,
      sampleFrac, seed, roundTo)
    ivfTopKProbesWith(c, queries, idCol, vecCol, k, cents, nprobe, roundTo)
  }

  /** Per-vector scalar int8 quantization:
    * q_i = round((x_i − min) / scale) − 128 ∈ [−128, 127],
    * scale = (max − min)/255 — the genuinely-4×-smaller storage
    * representation for an embedding table (at 100 TB of float32
    * embeddings, the quantized copy is what the ANN index actually scans;
    * the float originals stay cold). Codes are BIASED into the SIGNED
    * int8 range and emitted as TINYINT, so persisting the column really
    * stores one byte per element — the unbiased 0..255 form would
    * overflow a tinyint cast for codes > 127 (round-4 ADVICE). Constant
    * vectors (max = min) quantize to all −128 with scale 0 — the ANSI
    * division guard. Pure HOF expressions; [[dequantizeInt8]] inverts
    * within scale/2 per element.
    */
  def quantizeInt8(v: Column): Column = {
    val mn = array_min(v)
    val scale = (array_max(v) - mn) / lit(255.0)
    when(array_max(v) === mn, transform(v, _ => lit(-128).cast("tinyint")))
      .otherwise(transform(v,
        x => (round((x - mn) / scale) - 128).cast("tinyint")))
  }

  /** Reconstruction of a [[quantizeInt8]] vector from (q, min, scale):
    * x̂_i = min + (q_i + 128) · scale (un-biases the signed code first).
    */
  def dequantizeInt8(q: Column, mn: Column, scale: Column): Column =
    transform(q, i => mn + (i + 128) * scale)

  /** (id, sub ∈ 0..m−1, sv) sub-vector decomposition for product
    * quantization: the vector is split into `m` equal contiguous slices.
    * Input must be (idOut, v) with v already array<double>; dimension must
    * be divisible by m — enforced with raise_error, because slice()
    * truncates to ⌊dim/m⌋ and would otherwise SILENTLY drop the trailing
    * coordinates from every code and distance (round-5 ADVICE).
    */
  private def subVectors(df: DataFrame, idOut: String, m: Int): DataFrame =
    df.withColumn("v",
        when(size(col("v")) % lit(m) === 0, col("v"))
          .otherwise(raise_error(concat(
            lit("subVectors: vector dim "), size(col("v")).cast("string"),
            lit(s" is not divisible by m=$m")))))
      .select(col(idOut), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col(idOut), col("sub"),
        slice(col("v"), col("sub") * (size(col("v")) / lit(m)) + 1,
          size(col("v")) / lit(m)).as("sv"))

  /** Squared L2 distance via the dot-product decomposition
    * ‖a−b‖² = a·a − 2 a·b + b·b — the sequential-summation form both
    * engines reproduce bit-identically (same association as the oracle's
    * `list_dot_product` expansion; see [[graft.ops.Stats.arrayMse]]).
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Product-quantization codebooks from the every-`step`-th rule: the
    * codebook of subspace s is the s-th sub-vector of every `step`-th
    * corpus vector (cent_id = vec_id) — the deterministic, oracle-
    * expressible stand-in for trained codebooks, exactly [[centroidsOf]]'s
    * trick lifted to sub-spaces. Output: (sub, cent_id, cv) — m × ⌈N/step⌉
    * rows, broadcastable. [[pqTrain]] is the trained production variant.
    */
  def pqCodebooksStep(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, step: Int): DataFrame =
    subVectors(
      corpus.filter(col(idCol) % step === 0)
        .select(col(idCol).as("cent_id"), asDouble(col(vecCol)).as("v")),
      "cent_id", m)
      .select(col("sub"), col("cent_id"), col("sv").as("cv"))

  /** PQ encoding: each (vector, subspace) is assigned its min-L2-distance
    * codebook entry. One broadcast equi-join on `sub` (corpus×m rows join
    * k candidates each) and a map-side-combining min_by aggregate — the
    * narrow (id, sub, cell) shape; sub-vectors are re-attached by joins
    * downstream, mirroring [[assignCells]]'s width discipline. `+ 0.0`
    * normalizes −0.0 on zero-distance ties (same rationale as
    * [[assignCells]]); ties break to the smallest cent_id, matching the
    * oracle's ORDER BY dist, cent_id. Output: (vec_id, sub, cell).
    */
  def pqAssign(corpus: DataFrame, idCol: String, vecCol: String,
               books: DataFrame, m: Int): DataFrame =
    subVectors(
      corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v")),
      "vec_id", m)
      .join(broadcast(books), "sub")
      .withColumn("__d", l2sq(col("sv"), col("cv")) + 0.0)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("cent_id"), struct(col("__d"), col("cent_id"))).as("cell"))

  /** PQ codes in storage form: (vec_id, codes array<int> ordered by sub),
    * with each code remapped to the DENSE 0..k−1 space (rank of its
    * cent_id within the subspace's codebook). Codebook cent_ids may be
    * sparse — the step rule uses source vec_ids 0, step, 2·step, … — and
    * storing those raw would falsify the bytes-per-vector claim (round-5
    * ADVICE). Dense codes with a ≤256-entry codebook genuinely persist as
    * one byte each — k ≤ 128 casts to tinyint directly; k ≤ 256 needs the
    * −128 bias into the signed range first (`code - 128` cast tinyint,
    * exactly [[quantizeInt8]]'s convention — an unbiased cast of codes
    * > 127 overflows under ANSI mode). That is m bytes per vector versus
    * 4·dim for float32 (dim/m × 32 compression; m=8 over 64 dims = 32×).
    * The long (vec_id, sub, cell=cent_id) form from [[pqAssign]] is
    * what the ADC scorer joins on; this array form is what an index
    * persists (decode = codebook lookup by rank).
    */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              books: DataFrame, m: Int): DataFrame =
    pqAssign(corpus, idCol, vecCol, books, m)
      .join(broadcast(denseCodeMap(books).withColumnRenamed("cent_id", "cell")),
        Seq("sub", "cell"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code").cast("int")).as("codes"))

  /** The dense (sub, cent_id) → code ∈ 0..k−1 rank mapping — the ONE
    * definition both [[pqCodes]] (encode) and [[pqCodesToCells]] (decode)
    * share, so the rank convention cannot drift between them.
    */
  private def denseCodeMap(books: DataFrame): DataFrame =
    books.select(col("sub"), col("cent_id"))
      .withColumn("code", row_number().over(
        Window.partitionBy("sub").orderBy("cent_id")) - 1)

  /** Expand a [[pqCodes]] storage relation back to the long
    * (vec_id, sub, cell = cent_id) form the ADC scorer joins on — each
    * dense code is decoded to its codebook cent_id by rank (the inverse
    * of [[pqCodes]]'s remap; one broadcast join, no shuffle of the code
    * relation). Use this when scoring persisted codes:
    * `pqAdcTopKFromCodes(pqCodesToCells(stored, books), ...)`.
    */
  def pqCodesToCells(codes: DataFrame, books: DataFrame): DataFrame =
    codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(denseCodeMap(books)), Seq("sub", "code"))
      .select(col("vec_id"), col("sub"), col("cent_id").as("cell"))

  /** Per-vector PQ reconstruction MSE: Σ_s ‖sv_s − cv_cell(s)‖² / dim —
    * the compression-quality measure to set m against (compare with the
    * scalar-quantization error of [[quantizeInt8]]: PQ at m=8 stores 4×
    * less than int8 for graceful extra error). Output: (vec_id, pq_mse).
    * The per-sub squared errors are summed in sub order via an ordered
    * fold so the float result is engine-reproducible.
    */
  def pqReconstructionMse(corpus: DataFrame, idCol: String, vecCol: String,
                          books: DataFrame, m: Int,
                          roundTo: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // r17: carry the winning distance OUT of the assignment aggregate —
    // the previous shape re-derived it by joining the assignment back to
    // a fresh sub-vector explode and the codebooks (two joins + a second
    // explode) to recompute l2sq of the already-chosen cell. min(struct)
    // picks the same (distance, cent_id) pair pqAssign's min_by picks,
    // and l2sq ≥ +0.0 always (a sum of squares), so the carried double
    // is bit-identical to the recomputed one.
    val errs = subVectors(c, "vec_id", m)
      .join(broadcast(books), "sub")
      .withColumn("__d", l2sq(col("sv"), col("cv")) + 0.0)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("__d"), col("cent_id"))).getField("__d").as("__e"))
      .groupBy(col("vec_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("__e")))),
          x => x.getField("__e")),
        lit(0.0), (acc, x) => acc + x).as("__sum"))
    errs.join(c.select(col("vec_id"), size(col("v")).as("__n")), "vec_id")
      .select(col("vec_id"), round(col("__sum") / col("__n"), roundTo).as("pq_mse"))
  }

  /** ADC (asymmetric distance computation) approximate top-k over PQ
    * codes: the query stays un-quantized; per query a (sub, cell) →
    * partial-distance table is computed against the (small, broadcast)
    * codebooks, and every corpus vector's approximate distance is the sum
    * of m table lookups — an equi-join of the code relation on
    * (sub, cell) followed by a map-side-combining aggregate. The corpus
    * is never re-scanned at float width: only codes move. Ranking is on
    * the ROUNDED distance with vec_id tie-break (cross-engine float
    * parity, the tx_pmi convention); the per-sub partials are summed in
    * sub order (ordered fold) for the same reason.
    * Output: (query_id, vec_id, adist, rk), ascending distance.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, books: DataFrame, m: Int, k: Int,
                roundTo: Int = 6): DataFrame =
    pqAdcTopKFromCodes(pqAssign(corpus, idCol, vecCol, books, m),
      queries, idCol, vecCol, books, m, k, roundTo)

  /** [[pqAdcTopK]] over an ALREADY-ENCODED code relation — the production
    * form: codes are built once at index time ([[pqAssign]]/[[pqCodes]])
    * and persisted; queries pay only the table build + code join. `codes`
    * must be (vec_id, sub, cell).
    */
  def pqAdcTopKFromCodes(codes: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, books: DataFrame, m: Int, k: Int,
                         roundTo: Int = 6): DataFrame = {
    val qsub = subVectors(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("v")),
      "query_id", m)
    val table = qsub.join(broadcast(books), "sub")
      .select(col("query_id"), col("sub"), col("cent_id").as("cell"),
        l2sq(col("sv"), col("cv")).as("part"))
    codes.join(broadcast(table), Seq("sub", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("part")))),
          x => x.getField("part")),
        lit(0.0), (acc, x) => acc + x).as("__adist"))
      .withColumn("adist", round(col("__adist"), roundTo))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("adist"), col("rk"))
  }

  /** IVF-PQ approximate top-k — the FAISS-style composition and the form
    * an ANN index actually takes at 100 TB: a coarse quantizer (the same
    * every-`step`-th rule as [[ivfTopK]]) partitions the corpus into
    * cells; each corpus vector is stored ONLY as its m PQ codes + cell id;
    * a query probes its `nprobe` highest-cosine cells and ADC-scores just
    * the codes inside them. Work per query = nprobe × avg-cell-size × m
    * table lookups — never the whole code relation, never a float
    * re-scan. All joins are equi (cell; then (query_id, sub, cell));
    * ranking and partial-sum conventions are [[pqAdcTopK]]'s. With
    * `nprobe` ≥ the cell count this is exactly [[pqAdcTopK]]
    * (property-tested); the oracle reproduces the full composition.
    * Output: (query_id, vec_id, adist, rk), ascending distance.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, step: Int, books: DataFrame, m: Int, k: Int,
                nprobe: Int, roundTo: Int = 6): DataFrame = {
    val (c, cents) = corpusAndCents(corpus, idCol, vecCol, step)
    ivfPqTopKFromIndex(ivfPqIndex(corpus, idCol, vecCol, cents, books, m),
      queries, idCol, vecCol, cents, books, m, k, nprobe, roundTo)
  }

  /** Build the IVF-PQ index relation: (vec_id, sub, cell=pq code,
    * ivf_cell) — m code rows per vector plus the coarse-cell tag. This is
    * what gets PERSISTED, bucketed on ivf_cell via [[writeIvfPqIndex]];
    * floats never leave this build stage. `cents` is any small
    * (cent_id, cv, cvn) quantizer ([[kmeansCentroids]] or the step rule).
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame, books: DataFrame, m: Int): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    pqAssign(corpus, idCol, vecCol, books, m)
      .join(assignCells(c, "vec_id", cents).withColumnRenamed("cell", "ivf_cell"),
        "vec_id")
  }

  /** Persist an [[ivfPqIndex]] / [[ivfPqResidualIndex]] relation as a
    * BUCKETED, in-bucket-sorted table on ivf_cell — the at-scale layout
    * for [[ivfPqTopKFromIndex]]: the codes of one coarse cell land in one
    * bucket, so a probed-cell query scans only the buckets its probe set
    * hashes to (bucket pruning on a literal cell filter —
    * SelectedBucketsCount in the scan, asserted in BucketingSpec; pin
    * spark.sql.sources.bucketing.autoBucketedScan.enabled=false for
    * filter-only reads or the planner silently forfeits the pruning) and
    * per-cell maintenance aggregations ride the bucket partitioning with
    * no exchange. Pay the index shuffle once at encode time, not per
    * query batch — the d9 band-index discipline ([[graft.dedup.Dedup
    * .writeBandIndex]]) applied to ANN.
    */
  def writeIvfPqIndex(index: DataFrame, table: String, buckets: Int = 64): Unit = {
    graft.core.Bucketing.writeBucketed(index, table, "ivf_cell", buckets)
    // a REBUILD starts with a clean slate: tombstones recorded against a
    // previous incarnation must not mask ids in the new index
    index.sparkSession.sql(s"DROP TABLE IF EXISTS `${tombstoneTable(table)}`")
  }

  /** Reopen a [[writeIvfPqIndex]] table (bucket metadata from the catalog).
    * Tombstoned ids ([[deleteFromIvfPqIndex]]) are masked here — the read
    * anti-joins the (broadcast, tiny) tombstone relation, so deletes are
    * visible immediately without touching the index files; the physical
    * drop happens at the next [[compactIvfPqIndex]].
    */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     table: String): DataFrame = {
    val tt = tombstoneTable(table)
    if (spark.catalog.tableExists(tt))
      spark.table(table)
        .join(broadcast(spark.table(tt)), Seq("vec_id"), "left_anti")
    else spark.table(table)
  }

  /** Side table holding deleted vec_ids for `table` (one long column). */
  def tombstoneTable(table: String): String = table + "__tombstones"

  /** DELETE vectors from a persisted IVF-PQ index — the removal path the
    * append-only ingest ([[appendToIvfPqIndex]]) needs as its complement:
    * dedup-removal feedback and right-to-be-forgotten requests both arrive
    * as id lists, and rewriting a 100-TB bucketed index per request is not
    * an option. The ids are appended to a TOMBSTONE side table (cost ∝
    * deletes); every [[readIvfPqIndex]] masks them via a broadcast
    * anti-join (deletes are benchmark-set-sized, never corpus-sized); the
    * next [[compactIvfPqIndex]] drops the rows physically and clears the
    * tombstones — the same marker-then-compact discipline the snapshot
    * chain uses for streamed deletes ([[graft.ops.Snapshots]]).
    *
    * A tombstone masks its id until compaction, including rows appended
    * AFTER the delete — re-ingesting a deleted id only takes effect once a
    * compaction has cleared the tombstone set.
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, ids: DataFrame,
                           idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(tombstoneTable(table))

  /** Physically drop tombstoned rows: one shuffle-free bucketed rewrite
    * ([[graft.core.Bucketing.compactBucketed]] with the anti-join folded
    * into the same pass — also collapsing any appended file sets), then
    * the tombstone table is cleared. Crash between swap and clear is safe:
    * re-applying tombstones whose rows are already gone is a no-op.
    */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String): Unit = {
    val tt = tombstoneTable(table)
    // dropDuplicates first: the same crash-replay heal every band-index
    // compaction applies (ingestOnce's bounded-duplication window — a
    // rerun after a crash between append and ledger marker re-appends the
    // shard's code rows verbatim). Dedup keys ⊇ the bucket key, so both
    // the aggregate and the anti-join ride the bucketed scan's
    // partitioning — still zero exchanges.
    if (spark.catalog.tableExists(tt)) {
      graft.core.Bucketing.compactBucketed(spark, table,
        _.dropDuplicates()
          .join(broadcast(spark.table(tt)), Seq("vec_id"), "left_anti"))
      spark.sql(s"DROP TABLE `$tt`")
    } else graft.core.Bucketing.compactBucketed(spark, table,
      _.dropDuplicates())
  }

  /** QUANTIZER REFRESH — the remediation the drift guard points at.
    * [[appendToIvfPqIndex]] REFUSES a shard whose reconstruction error
    * says the frozen codebooks no longer fit the incoming distribution,
    * and the occupancy/drift views surface it — but detection without an
    * engine-side remediation leaves "rebuild by hand". This is that
    * operation: re-encode the CURRENT corpus under NEW quantizers ONCE
    * and epoch-swap the bucketed index table in place, under
    * [[graft.core.Bucketing.compactBucketed]]'s scratch-then-rename crash
    * discipline: the new index is FULLY written (bucketed, sorted) to
    * `<table>__refresh` before the live table is touched — a crash before
    * the DROP leaves the old epoch live (the scratch is garbage the next
    * refresh's stale-location cleanup clears); a crash between DROP and
    * RENAME leaves the new epoch recoverable under the scratch name.
    * Cost is one corpus encode + one bucket shuffle — the same bill as
    * the original build, paid only when drift demands it; appends stay
    * shard-priced between refreshes.
    *
    * Tombstones recorded against the OLD epoch are cleared on swap:
    * `corpus` is the current source of truth (deletions already applied
    * upstream, the [[compactIvfPqIndex]] output state), so stale masks
    * must not shadow ids re-encoded into the new epoch — the same
    * clean-slate contract as [[writeIvfPqIndex]]'s rebuild.
    *
    * Returns the refreshed drift baseline ([[meanPqMse]] of the corpus
    * under the new books) — the number the ingest loop records as the
    * next [[appendToIvfPqIndex]] `baselineMse`.
    */
  def refreshIvfPq(spark: org.apache.spark.sql.SparkSession, table: String,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame, books: DataFrame, m: Int,
                   buckets: Int = 64): Double = {
    val scratch = table + "__refresh"
    writeIvfPqIndex(ivfPqIndex(corpus, idCol, vecCol, cents, books, m),
      scratch, buckets)
    spark.sql(s"DROP TABLE IF EXISTS `${tombstoneTable(table)}`")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$scratch` RENAME TO `$table`")
    meanPqMse(corpus, idCol, vecCol, books, m)
  }

  /** [[refreshIvfPq]] with the production trainers: new coarse centroids
    * ([[kmeansCentroids]]) and PQ codebooks ([[pqTrain]]) are trained on
    * a deterministic sample of the CURRENT corpus distribution — centroid
    * quality needs density, not the full 100-TB corpus — then the corpus
    * is re-encoded once and the index epoch-swapped. Returns
    * (cents, books, baselineMse): everything the ingest loop needs to
    * resume appending against the new epoch. `k` coarse cells, `m`
    * subspaces of `codes` codewords each.
    */
  def retrainIvfPq(spark: org.apache.spark.sql.SparkSession, table: String,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, m: Int, codes: Int, iters: Int = 3,
                   sampleFrac: Double = 1.0, seed: Long = 42,
                   buckets: Int = 64): (DataFrame, DataFrame, Double) = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters, sampleFrac, seed)
    val books = pqTrain(corpus, idCol, vecCol, m, codes, iters, sampleFrac, seed)
    val baseline = refreshIvfPq(spark, table, corpus, idCol, vecCol,
      cents, books, m, buckets)
    (cents, books, baseline)
  }

  /** Corpus-mean PQ reconstruction error under `books` — one number
    * summarizing how well the (frozen) codebooks still fit a vector set;
    * the drift statistic [[appendToIvfPqIndex]] guards on. An EMPTY
    * corpus has no mean (avg over zero rows is SQL NULL): returns NaN
    * rather than throwing an opaque NPE, so callers can treat
    * empty-shard ingest as a no-op.
    */
  def meanPqMse(corpus: DataFrame, idCol: String, vecCol: String,
                books: DataFrame, m: Int): Double =
    Option(pqReconstructionMse(corpus, idCol, vecCol, books, m)
      .agg(avg(col("pq_mse"))).head().getAs[java.lang.Double](0))
      .fold(Double.NaN)(_.doubleValue)

  /** INCREMENTAL index ingest — the d9 band-index discipline
    * ([[graft.dedup.Dedup.incrementalCandidatePairs]]) applied to ANN:
    * encode ONLY the new shard against the EXISTING coarse centroids and
    * PQ codebooks (both frozen at base-build time; both persisted-stable)
    * and append its code rows to the bucketed index table. The corpus is
    * never re-read and never re-encoded — ingest cost tracks the shard,
    * not the index, which is what a daily-embedding-ingest deployment
    * needs on day two. Bucket pruning and the exchange-free per-cell
    * aggregations survive the append because every appended file carries
    * its bucket id ([[graft.core.Bucketing.appendBucketed]]).
    *
    * Frozen codebooks are the one way this goes stale: a shard drawn from
    * a drifted distribution still gets codes, just bad ones, and recall
    * decays silently. The DRIFT GUARD makes that loud: pass
    * `baselineMse` (the base corpus's [[meanPqMse]], recorded at build
    * time) and the append REFUSES (IllegalStateException) when the
    * shard's mean reconstruction error exceeds `driftFactor` × baseline —
    * the signal to retrain codebooks and rebuild, not append. Returns the
    * shard's mean MSE so callers can track the trend.
    *
    * Contract: shard ids must be new (the caller's ingest ledger, as in
    * d9) — appending an existing vec_id would double its code rows.
    * `buckets` must match the base table's spec; Spark validates.
    * Append-then-query ≡ rebuild-then-query on the union is asserted in
    * VectorsSpec and under the v15 oracle (frozen-from-base codebooks are
    * oracle-expressible — the cb/icents CTEs just carry the base
    * predicate).
    *
    * Edge cases (both realistic in daily ingest, both guarded): an EMPTY
    * shard is a documented no-op returning NaN (nothing to encode, no
    * drift signal — [[meanPqMse]] has no mean to compute); a baseline of
    * exactly 0.0 (a tiny base where every vector was a codebook sample)
    * would make the multiplicative guard refuse ANY nonzero shard error,
    * so the comparison carries an additive epsilon of 1e-6 — the
    * rounding quantum of [[pqReconstructionMse]] (roundTo=6), i.e. the
    * smallest representable nonzero shard MSE. A shard within one
    * quantum of a zero baseline is float/rounding noise, not drift;
    * genuine drift produces MSE orders of magnitude above it and is
    * still refused (asserted in BucketingSpec). The comparison runs at
    * the same 6-decimal quantum (both sides rounded), and the epsilon
    * applies at EVERY baseline as uniform rounding tolerance — at any
    * realistic nonzero baseline it is far inside the driftFactor margin.
    */
  def appendToIvfPqIndex(table: String, newVectors: DataFrame,
                         idCol: String, vecCol: String,
                         cents: DataFrame, books: DataFrame, m: Int,
                         baselineMse: Double = Double.NaN,
                         driftFactor: Double = 2.0,
                         buckets: Int = 64): Double = {
    val shardMse = meanPqMse(newVectors, idCol, vecCol, books, m)
    if (shardMse.isNaN) return shardMse // empty shard: documented no-op
    val driftEps = 1e-6 // pqReconstructionMse roundTo=6 quantum
    // Compare at the same 6-decimal quantum the per-vector MSEs were rounded
    // to: the float mean of rounded values can sit one ulp above the quantum
    // (ten vectors at 1e-6 average to 1.0000000000000002e-6), which must not
    // trip a guard whose documented tolerance is exactly that quantum.
    val shardQ = BigDecimal(shardMse)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (!baselineMse.isNaN) {
      // NaN baseline = no guard — and BigDecimal(NaN) throws, so the bound
      // must only be computed on the guarded path
      val boundQ = BigDecimal(baselineMse * driftFactor + driftEps)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (shardQ > boundQ)
        throw new IllegalStateException(
          f"appendToIvfPqIndex: shard mean PQ reconstruction error $shardMse%.6f " +
            f"exceeds $driftFactor%.1f x baseline $baselineMse%.6f — the codebooks " +
            "no longer fit the incoming distribution; retrain and rebuild instead of appending")
    }
    graft.core.Bucketing.appendBucketed(
      ivfPqIndex(newVectors, idCol, vecCol, cents, books, m),
      table, "ivf_cell", buckets)
    // return the quantum-rounded mean: the per-vector MSEs are already
    // rounded to 6 decimals, so the raw float mean can sit an ulp above the
    // quantum — callers tracking the trend should see quantum-consistent
    // values, matching what the guard compared
    shardQ
  }

  /** [[ivfPqTopK]] over an already-built [[ivfPqIndex]] relation — the
    * production form: the index is encoded once and persisted
    * ([[writeIvfPqIndex]]); each query batch pays only probe ranking + the
    * probed-cell code join.
    */
  def ivfPqTopKFromIndex(codes: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, cents: DataFrame, books: DataFrame,
                         m: Int, k: Int, nprobe: Int,
                         roundTo: Int = 6): DataFrame = {
    // query side: probe ranking over queries × centroids (small, broadcast)
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
    val probed = q0.crossJoin(broadcast(cents))
      .withColumn("__cc",
        dot(col("v"), col("cv")) / (col("vn") * col("cvn")) + 0.0)
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cc").desc, col("cent_id"))))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("cent_id").as("ivf_cell"))
    // per-query (sub, code) → partial-distance table against the codebooks
    val table = subVectors(q0.select(col("query_id"), col("v")), "query_id", m)
      .join(broadcast(books), "sub")
      .select(col("query_id"), col("sub"), col("cent_id").as("cell"),
        l2sq(col("sv"), col("cv")).as("part"))
    codes.join(broadcast(probed), "ivf_cell")
      .join(broadcast(table), Seq("query_id", "sub", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("part")))),
          x => x.getField("part")),
        lit(0.0), (acc, x) => acc + x).as("__adist"))
      .withColumn("adist", round(col("__adist"), roundTo))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("adist"), col("rk"))
  }

  /** Residual IVF-PQ index: each vector is PQ-encoded as its RESIDUAL
    * against its coarse centroid, v − c(v) — the accuracy detail real
    * IVF-PQ deployments use (Jégou et al. 2011 §IV): residuals cluster
    * around 0 with much smaller spread than raw vectors, so the same m×k
    * codebook budget reconstructs them more precisely. `books` must be
    * trained/derived on the residual distribution (pass the output of
    * [[pqTrain]] over [[residuals]], or any (sub, cent_id, cv)).
    * Output: (vec_id, sub, cell, ivf_cell) — [[ivfPqIndex]]'s schema, so
    * persistence and the probed-cell join work unchanged; only the ADC
    * table must be built from query residuals per probed cell
    * ([[ivfPqResidualTopKFromIndex]]).
    */
  def ivfPqResidualIndex(corpus: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame, books: DataFrame,
                         m: Int): DataFrame = {
    val res = residuals(corpus, idCol, vecCol, cents)
    pqAssign(res, "vec_id", "resid", books, m)
      .join(res.select(col("vec_id"), col("ivf_cell")), "vec_id")
  }

  /** (vec_id, resid = v − centroid(v), ivf_cell) residual relation under
    * a coarse quantizer — the training input for residual PQ codebooks
    * and the encoding input of [[ivfPqResidualIndex]].
    */
  def residuals(corpus: DataFrame, idCol: String, vecCol: String,
                cents: DataFrame): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    c.join(assignCells(c, "vec_id", cents).withColumnRenamed("cell", "ivf_cell"),
        "vec_id")
      .join(broadcast(cents.select(col("cent_id").as("ivf_cell"), col("cv"))),
        "ivf_cell")
      .select(col("vec_id"), col("ivf_cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("resid"))
  }

  /** Probed-cell ADC over a RESIDUAL index: identical join/aggregation
    * shape to [[ivfPqTopKFromIndex]], except the per-(query, cell)
    * distance table is built from the query's residual against EACH
    * probed centroid — q − c scores codes of cell c. Table size is
    * nprobe × m × k per query (still broadcastable). Approximate distance
    * is then ‖(q − c) − recon(v − c)‖² ≈ ‖q − v‖² within the cell.
    */
  def ivfPqResidualTopKFromIndex(codes: DataFrame, queries: DataFrame,
                                 idCol: String, vecCol: String,
                                 cents: DataFrame, books: DataFrame,
                                 m: Int, k: Int, nprobe: Int,
                                 roundTo: Int = 6): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
    val probed = q0.crossJoin(broadcast(cents))
      .withColumn("__cc",
        dot(col("v"), col("cv")) / (col("vn") * col("cvn")) + 0.0)
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cc").desc, col("cent_id"))))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("cent_id").as("ivf_cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("qres"))
    // key the per-(query, probed-cell) table on a STRUCT, not a string
    // round-trip: concat_ws/split/cast nulled out non-numeric query ids and
    // silently returned empty results (round-5 ADVICE)
    val table = subVectors(
        probed.select(struct(col("query_id"), col("ivf_cell")).as("qc"),
          col("qres").as("v")), "qc", m)
      .join(broadcast(books), "sub")
      .select(col("qc.query_id").as("query_id"), col("qc.ivf_cell").as("ivf_cell"),
        col("sub"), col("cent_id").as("cell"),
        l2sq(col("sv"), col("cv")).as("part"))
    codes.join(broadcast(table), Seq("ivf_cell", "sub", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("part")))),
          x => x.getField("part")),
        lit(0.0), (acc, x) => acc + x).as("__adist"))
      .withColumn("adist", round(col("__adist"), roundTo))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("adist"), col("rk"))
  }

  /** Trained PQ codebooks: per-subspace k-means under L2 (the textbook PQ
    * trainer — Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"), deterministic by the same construction as
    * [[kmeansCentroids]]: hash-ranked init, min-distance/min-id
    * assignment, per-iteration coordinate rounding. ALL m subspaces train
    * in the same jobs — the sub-vector relation carries (id, sub, sv) and
    * each iteration is ONE broadcast join + min_by aggregate + ONE
    * (sub, cell, coord) mean aggregate, regardless of m. Driver state is
    * the m × k × (dim/m) codebook matrix = k × dim doubles, same bound as
    * [[kmeansCentroids]]. Empty cells keep their previous centroid.
    * Output: (sub, cent_id ∈ 0..k−1, cv) — [[pqCodebooksStep]]'s schema,
    * so it drops into [[pqAssign]]/[[pqAdcTopK]] unchanged. Not oracle-
    * expressible (iterative); property-tested in VectorsSpec against the
    * step rule it must beat.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int = 3, sampleFrac: Double = 1.0,
              seed: Long = 42, roundTo: Int = 6): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val sampled = if (sampleFrac >= 1.0) c0
      else c0.filter(
        Determinism.detRand(col("vec_id") * lit(31L) + lit(seed)) < sampleFrac)
    val sv = subVectors(sampled, "vec_id", m).localCheckpoint(false)
    def booksDf(b: Seq[(Int, Long, Seq[Double])]): DataFrame =
      broadcast(b.toDF("sub", "cent_id", "cv"))
    // init: the k hash-smallest sample vectors seed EVERY subspace (their
    // s-th slice seeds subspace s) — one driver collect of k×dim doubles
    val initIds = sampled
      .withColumn("__h", Determinism.detHash(col("vec_id") + lit(seed)))
      .orderBy(col("__h"), col("vec_id")).limit(k)
      .select(col("vec_id")).as[Long].collect()
    require(initIds.length == k,
      s"pqTrain: requested k=$k codewords per subspace but the sample has " +
        s"only ${initIds.length} vectors — lower k or raise sampleFrac")
    val idRank = initIds.zipWithIndex.toMap
    var books: Seq[(Int, Long, Seq[Double])] = sv
      .filter(col("vec_id").isin(initIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("sub"), col("sv")).collect()
      .map(r => (r.getInt(1), idRank(r.getLong(0)).toLong, r.getSeq[Double](2)))
      .toSeq
    for (_ <- 0 until iters) {
      val assigned = sv.join(booksDf(books), "sub")
        .withColumn("__d", l2sq(col("sv"), col("cv")) + 0.0)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("cent_id"), struct(col("__d"), col("cent_id"))).as("cell"))
        .join(sv, Seq("vec_id", "sub"))
      val means = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("p", "x")))
        .groupBy("sub", "cell", "p")
        .agg(round(avg(col("x")), roundTo).as("mval"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
      books = books.map { case (s, cid, old) =>
        (s, cid, means.getOrElse((s, cid), old)) }
    }
    booksDf(books)
  }

  /** Bucket histogram — the data-distribution view used to tune nPlanes. */
  def lshBucketHistogram(corpus: DataFrame, idCol: String, vecCol: String,
                         nPlanes: Int, dim: Int): DataFrame =
    corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), nPlanes, dim))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"))

  /** SemDeDup-style semantic near-duplicate pairs: assign every vector to
    * its max-cosine IVF cell (same coarse quantizer as [[ivfTopK]]), then
    * compute exact cosine ONLY within cells — an equi-join on cell, never
    * the all-pairs corpus square. Pairs at or above `minCosine` are the
    * semantic dups; feed them to [[graft.dedup.Dedup.connectedComponentsStar]]
    * for cluster-and-keep-representative semantics.
    *
    * Cost model at scale: cells ≈ corpus/step, within-cell work is
    * Σ|cell|² — the quantizer granularity (`step`) bounds the AVERAGE cell,
    * but one hot cell (embedding-space boilerplate, the common case in web
    * corpora) is unbounded quadratic. `maxCell` caps it the same way
    * [[graft.dedup.Dedup.lshCandidatePairs]]'s `maxBucket` does: cells
    * larger than the cap are excluded from pair generation entirely (their
    * members produce no pairs), which bounds worst-case work at
    * cells × maxCell² and turns a degenerate cell into a loud, tunable
    * skip instead of a runaway stage. The corpus is scanned once
    * (checkpointed) and shuffles once on cell (the cell-count window rides
    * the same shuffle the pair join needs).
    */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                           step: Int, minCosine: Double,
                           maxCell: Int = 512,
                           roundTo: Int = 6): DataFrame = {
    // four consumers (centroid derivation, assignment, both join sides) —
    // materialize the normalized corpus once and derive everything from
    // it. COLUMNAR scratch, not localCheckpoint: corpus × dim doubles
    // as deserialized object blocks is the §6.3 cliff shape (r12 sweep)
    val c = graft.core.Scratch.materialize(
      normalized(corpus, idCol, vecCol), "semdedup_norm")
    semanticNearDupPairsImpl(c, centroidsOf(c, step), minCosine, maxCell, roundTo)
  }

  /** [[semanticNearDupPairs]] with a caller-supplied quantizer — the
    * production form: SemDeDup proper clusters with k-means, so pass
    * [[kmeansCentroids]] output (or any small (cent_id, cv, cvn) relation)
    * and the cell partition follows the data's density instead of the id
    * sequence. Same cap, same within-cell exact cosine.
    */
  def semanticNearDupPairsWith(corpus: DataFrame, idCol: String, vecCol: String,
                               cents: DataFrame, minCosine: Double,
                               maxCell: Int = 512,
                               roundTo: Int = 6): DataFrame = {
    // corpus-scale: columnar scratch, same rationale as above
    val c = graft.core.Scratch.materialize(
      normalized(corpus, idCol, vecCol), "semdedup_norm")
    semanticNearDupPairsImpl(c, cents, minCosine, maxCell, roundTo)
  }

  /** Persist the semantic-dedup index: every vector's cell assignment
    * plus its full normalized vector, BUCKETED on cell — the d9
    * band-index discipline applied to embedding space. Day-2 semantic
    * dedup then joins only the cells today's shard lands in
    * ([[incrementalSemanticPairs]]); the corpus is never re-scanned.
    * Unlike the PQ indexes this stores exact vectors (within-cell
    * verification is exact cosine, not ADC), so the table is
    * corpus × dim doubles — the price of exact SemDeDup decisions.
    */
  def writeSemanticIndex(corpus: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame, table: String,
                         buckets: Int = 64): Unit =
    graft.core.Bucketing.writeBucketed(
      semanticIndexFast(corpus, idCol, vecCol, cents), table, "cell", buckets)

  /** [[semanticIndex]] via the cheapest correct form for a BUILD path:
    * the stateless literal-centroid projection when the quantizer fits
    * the inline limit (k ≤ 8192 — one pass, no crossJoin, no aggregate,
    * no self-join; measured 29.8 s → 6.3 s on a 200k-vector build,
    * SURVEY §6.3 `sembuild`), the aggregate form otherwise. Row
    * equivalence including the tie-break is asserted in VectorsSpec.
    * Collects the centroid relation eagerly — acceptable here because
    * every caller is about to materialize the whole index anyway.
    */
  private def semanticIndexFast(corpus: DataFrame, idCol: String,
                                vecCol: String, cents: DataFrame): DataFrame = {
    val k = cents.limit(8193).count()
    // k = 0 falls through to the aggregate form: stateless loudly refuses
    // an empty centroid set, while the aggregate form correctly yields an
    // empty index (the degenerate-but-legal bootstrap input)
    if (k >= 1 && k <= 8192)
      assignCellsStateless(corpus, idCol, vecCol, cents)
        .select(col("vec_id"), col("cell"), col("v"), col("vn"))
    else semanticIndex(corpus, idCol, vecCol, cents)
  }

  /** The semantic index RELATION — (vec_id, cell, v, vn) under the given
    * quantizer — for callers composing in-memory ([[writeSemanticIndex]]
    * persists exactly this, bucketed).
    */
  def semanticIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame): DataFrame = {
    val c = normalized(corpus, idCol, vecCol)
    assignCells(c, "vec_id", cents).join(c, "vec_id")
  }

  /** SEMANTIC contamination — the embedding-space member of the
    * decontamination family ([[graft.dedup.Dedup.contaminatedIds]] catches
    * verbatim/near-verbatim leakage by shared n-grams; this catches the
    * PARAPHRASED benchmark item that shares no 5-gram with its source but
    * embeds next to it): train vectors within `minCosine` of ANY eval
    * vector, compared only inside shared quantizer cells (both sides
    * assigned with the same frozen `cents`, so cost is cells × cell
    * populations, never train × eval). Returns distinct train ids with
    * their best-matching eval id and cosine — the audit row a
    * decontamination report wants, not just a drop list.
    * Output: (train_id, eval_id, cosine) — one row per contaminated train
    * vector (max cosine, min eval_id tie-break).
    */
  def semanticContaminatedIds(train: DataFrame, trainIdCol: String,
                              trainVecCol: String, eval: DataFrame,
                              evalIdCol: String, evalVecCol: String,
                              cents: DataFrame, minCosine: Double,
                              roundTo: Int = 6): DataFrame = {
    val tr = semanticIndex(train, trainIdCol, trainVecCol, cents)
      .select(col("vec_id").as("__t"), col("cell"),
        col("v").as("__tv"), col("vn").as("__tn"))
    val ev = semanticIndex(eval, evalIdCol, evalVecCol, cents)
      .select(col("vec_id").as("__e"), col("cell"),
        col("v").as("__ev"), col("vn").as("__en"))
    tr.join(ev, "cell")
      .withColumn("cosine",
        round(dot(col("__tv"), col("__ev")) / (col("__tn") * col("__en")),
          roundTo))
      .filter(col("cosine") >= minCosine)
      .groupBy(col("__t").as("train_id"))
      .agg(max_by(col("__e"), struct(col("cosine"), -col("__e")))
        .as("eval_id"),
        max(col("cosine")).as("cosine"))
  }

  /** HARD-NEGATIVE mining — the contrastive-training data op: per query,
    * the top-`k` corpus vectors by cosine INSIDE the band [loCos, hiCos) —
    * similar enough to be informative negatives, dissimilar enough not to
    * be an unlabeled positive or near-dup (the classic false-negative
    * trap of naive in-batch negatives). Candidates come from the query's
    * `nprobe` highest-cosine IVF cells only (the v5/v6 probe machinery),
    * so cost per query is cell-bounded, never the corpus; the band filter
    * runs BEFORE the top-k window, on the 6dp-rounded cosine both engines
    * agree on. Output: (query_id, vec_id, cosine, rk), rk 1..k by
    * (cosine desc, vec_id).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, step: Int,
                    loCos: Double, hiCos: Double, nprobe: Int = 1,
                    roundTo: Int = 6): DataFrame = {
    val (c, cents) = corpusAndCents(corpus, idCol, vecCol, step)
    val ca = c.join(assignCells(c, "vec_id", cents), "vec_id")
    val q0 = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("vn", l2norm(col("v")))
    val qa = q0.crossJoin(broadcast(cents))
      .withColumn("__cc",
        dot(col("v"), col("cv")) / (col("vn") * col("cvn")) + 0.0)
      .withColumn("__pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__cc").desc, col("cent_id"))))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("v").as("q"), col("vn").as("qn"),
        col("cent_id").as("cell"))
    ca.join(broadcast(qa), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        round(dot(col("v"), col("q")) / (col("vn") * col("qn")), roundTo))
      .filter(col("cos") >= loCos && col("cos") < hiCos)
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos").as("cosine"),
        col("rk"))
  }

  /** Johnson–Lindenstrauss-style RANDOM PROJECTION — `outDim` deterministic
    * hyperplane dot products per vector (the v2 LSH plane generator, so
    * the planes are engine-portable and oracle-expressible): shrink
    * `dim`-wide vectors to `outDim` doubles before a brute-force or IVF
    * pass. At 100 TB this is the cheap pre-filter: a 4× narrower scan
    * whose cosine distortion is bounded (JL) and MEASURED by the
    * v20_jl_distortion query rather than assumed. Pure per-row
    * projection — no shuffle, stays inside whole-stage codegen.
    * Output: (vec_id, proj: array<double>).
    */
  def projectRandom(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, dim: Int): DataFrame = {
    val v = asDouble(col(vecCol))
    val comps = (0 until outDim).map(j => dot(v, typedLit(hyperplane(j, dim))))
    df.select(col(idCol).cast("long").as("vec_id"), array(comps: _*).as("proj"))
  }

  /** PROTOTYPICALITY scores — each vector's cosine to its own cell's
    * centroid (rounded to `roundTo`), the density signal the D4 /
    * SSL-prototypes curation papers prune on: a crawl over-represents the
    * prototypical core of every cluster, and those vectors teach a model
    * least per token. Output: (vec_id, cell, proto). One broadcast join
    * against the (tiny) centroid set after cell assignment; on the
    * persisted cell-bucketed index the scoring is a map-side projection.
    */
  def prototypicality(corpus: DataFrame, idCol: String, vecCol: String,
                      cents: DataFrame, roundTo: Int = 6): DataFrame =
    semanticIndex(corpus, idCol, vecCol, cents)
      .join(broadcast(cents.select(col("cent_id").as("cell"),
        col("cv"), col("cvn"))), "cell")
      .select(col("vec_id"), col("cell"),
        round(dot(col("v"), col("cv")) / (col("vn") * col("cvn"))
          + lit(0.0), roundTo).as("proto"))

  /** PROTOTYPICALITY pruning audit — [[prototypicality]] plus the per-cell
    * keep/prune decision: within each cell the top `pruneFraction` of
    * vectors by (proto desc, vec_id) are marked `pruned` (SemDeDup removes
    * near-DUPLICATES; this removes near-REDUNDANT density — the two
    * compose into the D4 recipe). FLOOR semantics — AT MOST the fraction
    * prunes: floor(pruneFraction × |cell|) per cell, so a cell smaller
    * than 1/pruneFraction is untouched. The alternative (ceil: every
    * non-empty cell loses one) degenerates when the quantizer is fine
    * relative to the corpus — with near-singleton cells it silently
    * prunes EVERYTHING, observed driving the CLI on a 4-survivor /
    * 40-centroid fixture. pruneFraction = 1.0 still prunes all.
    * Deterministic under ties (vec_id ascending), so the kept set is
    * reproducible — the property a resumable curation run needs. One
    * per-cell window; exchange-free on a cell-bucketed index.
    */
  def prototypicalityPrune(corpus: DataFrame, idCol: String, vecCol: String,
                           cents: DataFrame,
                           pruneFraction: Double = 0.2): DataFrame = {
    require(pruneFraction >= 0.0 && pruneFraction <= 1.0,
      s"prototypicalityPrune: pruneFraction $pruneFraction outside [0, 1]")
    val byProto = Window.partitionBy("cell")
      .orderBy(col("proto").desc, col("vec_id"))
    prototypicality(corpus, idCol, vecCol, cents)
      .withColumn("rn", row_number().over(byProto))
      .withColumn("cn", count(lit(1)).over(Window.partitionBy("cell")))
      .select(col("vec_id"), col("cell"), col("proto"),
        (col("rn") <= floor(col("cn") * lit(pruneFraction))).as("pruned"))
  }

  /** STATELESS cell assignment — [[assignCells]] without the aggregate:
    * the centroid set is collected ONCE at plan-build time (driver-bounded
    * k×dim doubles, the same contract as [[kmeansCentroids]]' driver-side
    * recenter step) and folded into the projection as literal columns, so
    * the argmax is a pure per-row map — no shuffle, no aggregation state.
    * That makes it legal on a STREAMING relation, where assignCells'
    * groupBy would demand a state store and an output-mode change; it is
    * also the right batch shape for a SMALL shard against frozen
    * centroids (zero exchange instead of the corpus×k aggregate).
    *
    * Equivalence is exact, including the tie-break: the struct compares
    * (cosine, -cent_id) lexicographically — max cosine, then MIN
    * centroid id — and `+ 0.0` normalizes -0.0 so zero-cosine ties order
    * the way assignCells and the SQL oracles do (asserted in
    * VectorsSpec). Output: the [[normalized]] projection plus `cell`.
    *
    * Expression size grows with k (one struct per centroid); the k ≤
    * a-few-thousand coarse quantizers this engine uses stay well inside
    * codegen limits — the require documents the contract.
    */
  def assignCellsStateless(df: DataFrame, idCol: String, vecCol: String,
                           cents: DataFrame): DataFrame = {
    val rows = cents.select("cent_id", "cv", "cvn").collect()
    require(rows.nonEmpty, "assignCellsStateless: empty centroid set")
    require(rows.length <= 8192,
      s"assignCellsStateless: ${rows.length} centroids would inline an " +
        "oversized projection; use assignCells (aggregate form) for large k")
    val scored = rows.map { r =>
      val cid = r.getLong(0)
      val cv = r.getSeq[Double](1).toArray
      val cvn = r.getDouble(2)
      struct(
        (dot(col("v"), lit(cv)) / (col("vn") * lit(cvn)) + 0.0).as("c"),
        lit(-cid).as("tb"), lit(cid).as("cid"))
    }
    normalized(df, idCol, vecCol)
      .withColumn("cell", array_max(array(scored.toSeq: _*)).getField("cid"))
  }

  /** Reopen a [[writeSemanticIndex]] table (bucket metadata from the
    * catalog). */
  def readSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame = spark.table(table)

  /** FORGET vectors from the semantic index (takedown / deletion-request
    * path): one shuffle-free bucketed rewrite with the broadcast anti-join
    * folded in — the [[graft.dedup.Dedup.forgetFromBandIndex]] discipline
    * on the cell-bucketed table. The forgotten vectors can never surface
    * as semantic-pair partners again.
    */
  def forgetFromSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame,
                              idCol: String = "vec_id"): Unit = {
    val gone = ids.select(col(idCol).cast("long").as("__gone")).distinct()
    graft.core.Bucketing.compactBucketed(spark, table,
      t => t.join(broadcast(gone), t("vec_id") === col("__gone"), "left_anti"))
  }

  /** Fold a shard into the semantic index at shard cost — assignment uses
    * the FROZEN centroid set the index was built with (the
    * [[appendToIvfPqIndex]] discipline: cells must stay comparable across
    * appends; re-train and rebuild when the embedding distribution
    * drifts). Only the shard shuffles into buckets. Compact on the usual
    * cadence ([[graft.core.Bucketing.compactBucketed]]).
    */
  def appendToSemanticIndex(shard: DataFrame, idCol: String, vecCol: String,
                            cents: DataFrame, table: String,
                            buckets: Int = 64): Unit =
    graft.core.Bucketing.appendBucketed(
      semanticIndexFast(shard, idCol, vecCol, cents), table, "cell", buckets)

  /** Quantizer refresh for a [[writeSemanticIndex]] table — the
    * [[refreshIvfPq]] discipline applied to the SemDeDup index: when
    * `v17_cell_occupancy` shows the frozen cells gone hot/drifted, re-
    * assign the CURRENT corpus under NEW centroids once and epoch-swap
    * the cell-bucketed table (scratch fully written, then DROP + RENAME —
    * crash before the DROP leaves the old epoch live). Day-2 shards keep
    * folding in at shard cost against the new `cents` afterwards.
    */
  def refreshSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, corpus: DataFrame, idCol: String,
                           vecCol: String, cents: DataFrame,
                           buckets: Int = 64): Unit = {
    val scratch = table + "__refresh"
    graft.core.Bucketing.writeBucketed(
      semanticIndexFast(corpus, idCol, vecCol, cents), scratch, "cell", buckets)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$scratch` RENAME TO `$table`")
  }

  /** [[refreshSemanticIndex]] with the production trainer: new centroids
    * from [[kmeansCentroids]] on a deterministic sample of the current
    * corpus, then one re-assign + epoch swap. Returns the new centroid
    * relation — the frozen quantizer subsequent [[appendToSemanticIndex]]
    * / [[incrementalSemanticPairs]] calls must use.
    */
  def retrainSemanticIndex(spark: org.apache.spark.sql.SparkSession,
                           table: String, corpus: DataFrame, idCol: String,
                           vecCol: String, k: Int, iters: Int = 3,
                           sampleFrac: Double = 1.0, seed: Long = 42,
                           buckets: Int = 64): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters, sampleFrac, seed)
    refreshSemanticIndex(spark, table, corpus, idCol, vecCol, cents, buckets)
    cents
  }

  /** INCREMENTAL semantic near-dup pairs — the embedding-space member of
    * the day-2 dedup trilogy (text: [[graft.dedup.Dedup
    * .incrementalCandidatePairs]]; perceptual: the fingerprint band
    * index): today's shard against the persisted cell-bucketed index
    * plus shard×shard, never old×old. The shard is assigned with the
    * index's frozen centroids, both sides are capped per cell
    * (`maxCell` per side, so a hot historical cell cannot explode a
    * small shard's join — worst case cells × maxCell² like the band
    * caps), and exact cosine ≥ `minCosine` decides. Cost ∝ shard cells'
    * populations: the index is SEMI-JOINED to the shard's cell set
    * BEFORE the per-cell cap window, so the cap shuffles only rows of
    * cells the shard actually touches (the semi-join keeps whole cells,
    * so per-cell counts — and therefore which cells the cap drops — are
    * identical to capping the full index), and the broadcast semi-join
    * keeps the scan itself exchange-free. Both caps are
    * [[graft.dedup.Dedup.capBuckets]] over `cell`. Output: (vec_a, vec_b,
    * cosine), at least one side new, vec_a < vec_b.
    */
  def incrementalSemanticPairs(shard: DataFrame, idCol: String,
                               vecCol: String, cents: DataFrame,
                               index: DataFrame, minCosine: Double,
                               maxCell: Int = 512,
                               roundTo: Int = 6): DataFrame = {
    def capped(df: DataFrame): DataFrame =
      graft.dedup.Dedup.capBuckets(df, Seq("cell"), maxCell)
    val c = normalized(shard, idCol, vecCol).localCheckpoint(false)
    val nw = capped(assignCells(c, "vec_id", cents).join(c, "vec_id"))
      .localCheckpoint(false)
    val old = capped(index.join(
      broadcast(nw.select(col("cell")).distinct()), Seq("cell"), "left_semi"))
    def scored(a: DataFrame, b: DataFrame, cond: Column): DataFrame =
      a.select(col("vec_id").as("__ia"), col("cell"),
          col("v").as("__va"), col("vn").as("__na"))
        .join(b.select(col("vec_id").as("__ib"), col("cell"),
          col("v").as("__vb"), col("vn").as("__nb")), "cell")
        .filter(cond)
        .withColumn("cosine",
          round(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")),
            roundTo))
        .filter(col("cosine") >= minCosine)
        .select(least(col("__ia"), col("__ib")).as("vec_a"),
          greatest(col("__ia"), col("__ib")).as("vec_b"), col("cosine"))
    scored(nw, nw, col("__ia") < col("__ib"))
      .union(scored(nw, old, col("__ia") =!= col("__ib")))
      .distinct()
  }

  private def semanticNearDupPairsImpl(c: DataFrame, cents: DataFrame,
                                       minCosine: Double, maxCell: Int,
                                       roundTo: Int): DataFrame = {
    val av = graft.dedup.Dedup.capBuckets(
      assignCells(c, "vec_id", cents).join(c, "vec_id"), Seq("cell"), maxCell)
    val a = av.select(col("vec_id").as("vec_a"), col("cell"),
      col("v").as("va"), col("vn").as("na"))
    val b = av.select(col("vec_id").as("vec_b"), col("cell"),
      col("v").as("vb"), col("vn").as("nb"))
    a.join(b, "cell")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), roundTo))
      .filter(col("cosine") >= minCosine)
      .select("vec_a", "vec_b", "cosine")
  }
}

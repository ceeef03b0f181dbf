package graft.ann

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorsSpec extends SparkSpec {

  import spark.implicits._

  test("cosine matches hand-computed values") {
    val df = Seq((Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(1.0, 1.0), Array(1.0, 1.0), 1.0),
      (Array(3.0, 4.0), Array(4.0, 3.0), 24.0 / 25.0))
      .toDF("a", "b", "want")
    val got = df.select(Vectors.cosine(col("a"), col("b")).as("c"), col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (c, w) => assert(math.abs(c - w) < 1e-12) }
  }

  test("native graft_dot is bit-identical to the HOF fold on random vectors") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 200).map(i =>
      (i, Array.fill(17)(rnd.nextGaussian()), Array.fill(17)(rnd.nextGaussian())))
      .toDF("i", "a", "b")
    val rows = df.select(
        Vectors.dot(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) => assert(n === h) } // exact, not approximate
  }

  test("native dot propagates NULL exactly like the HOF form") {
    val df = Seq(
      (1, Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (2, Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(3.0), Some(4.0))),
      (3, Seq[Option[Double]](Some(1.0)), Seq[Option[Double]](Some(3.0), Some(4.0))))
      .toDF("i", "a", "b")
    val got = df.select(col("i"),
        Vectors.dot(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hof"))
      .as[(Int, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1) === ((Some(11.0), Some(11.0))))
    assert(got(2) === ((None, None)))  // null element → null, both forms
    assert(got(3) === ((None, None)))  // length mismatch → null, both forms
  }

  test("graft_dot SQL function accepts the stored array<float> embeddings directly") {
    graft.extensions.GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("float_vecs")
    val got = spark.sql("SELECT graft_dot(a, b) FROM float_vecs")
      .as[Double].collect().head
    assert(got === 11.0)
  }

  test("hyperplane components are deterministic, dim-indexed, in [-0.5, 0.5)") {
    val h0 = Vectors.hyperplane(0, 16)
    val h1 = Vectors.hyperplane(1, 16)
    assert(h0 === Vectors.hyperplane(0, 16))
    assert(h0 !== h1)
    assert((h0 ++ h1).forall(v => v >= -0.5 && v < 0.5))
    // plane*dim+k indexing: plane 1 of dim 16 starts at flat index 16,
    // which equals component 16 of a dim-32 plane 0
    assert(h1.head === Vectors.hyperplane(0, 32)(16))
  }

  test("ivfTopKProbes with all cells probed equals brute-force top-k exactly") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    // step=10 → 6 centroids; nprobe=6 probes every cell → the scoring set
    // is the whole corpus and the result must be EXACTLY brute force
    val all = Vectors.ivfTopKProbes(vecs, queries, "vec_id", "embedding",
        5, step = 10, nprobe = 6)
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Vectors.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(all === brute)
    // nprobe=1 (≡ ivfTopK) scores a subset of candidates: its per-query
    // hit sets are subsets of some brute-force prefix, never new pairs
    val one = Vectors.ivfTopKProbes(vecs, queries, "vec_id", "embedding",
        5, step = 10, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val bruteAll = Vectors.bruteForceTopK(vecs, queries, "vec_id", "embedding", 60)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(one.subsetOf(bruteAll))
  }

  test("lshBucketTopK returns a subset of brute-force results with identical scores") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 64L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val brute = Vectors.bruteForceTopK(vecs, queries, "vec_id", "embedding", 64)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v) -> c }.toMap
    val lsh = Vectors.lshBucketTopK(vecs, queries, "vec_id", "embedding",
      5, nPlanes = 4, dim = 8)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, v, c) =>
      assert(brute.contains((q, v)) && math.abs(brute((q, v)) - c) < 1e-9)
    }
    // self-bucket guarantee: each query shares its own bucket, so every
    // query with >0 same-bucket neighbors appears
    val perQuery = lsh.groupBy(_._1)
    assert(perQuery.keySet.subsetOf((0L until 4L).toSet))
  }

  test("semanticNearDupPairs maxCell drops the degenerate hot cell, keeps small cells") {
    val rnd = new scala.util.Random(5)
    val dirA = Array.fill(8)(rnd.nextGaussian().toFloat)
    val dirB = Array.fill(8)(rnd.nextGaussian().toFloat)
    // ids 0..39: EXACT copies of dirA — identical vectors tie on cosine to
    // every centroid, min-cent_id tie-break sends all 40 to cell 0 (one hot
    // cell, the boilerplate-cluster shape the cap exists for). ids 40, 41:
    // dirB and a scaled copy — a small 2-member cell with one true pair.
    val vecs = ((0L until 40L).map(i => (i, dirA)) ++
      Seq((40L, dirB), (41L, dirB.map(_ * 2.0f))))
      .toDF("vec_id", "embedding")
    def pairs(cap: Int) =
      Vectors.semanticNearDupPairs(vecs, "vec_id", "embedding",
          step = 20, minCosine = 0.5, maxCell = cap)
        .as[(Long, Long, Double)].collect().toSet
    val uncapped = pairs(Int.MaxValue)
    // uncapped: the hot cell contributes 40*39/2 pairs + the (40,41) pair
    assert(uncapped.size === 40 * 39 / 2 + 1)
    val capped = pairs(10)
    // capped: every hot-cell pair gone, the small cell survives untouched
    assert(capped === Set((40L, 41L, 1.0)))
  }

  test("kmeansCentroids is deterministic and lifts IVF recall over the step quantizer") {
    val rnd = new scala.util.Random(17)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    // three well-separated direction clusters with SKEWED sizes: ids 0..47
    // cluster A, 48..53 cluster B, 54..59 cluster C. The every-16th rule
    // picks centroid ids 0/16/32/48 — three redundant A centroids, one B,
    // NONE in C — so C queries probe a foreign cell; k-means relocates
    // centroids to the actual density.
    val a = Array.fill(8)(rnd.nextGaussian().toFloat)
    val b = Array.fill(8)(rnd.nextGaussian().toFloat)
    val cdir = Array.fill(8)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 60L).map { i =>
      val base = if (i < 48) a else if (i < 54) b else cdir
      (i, jitter(base))
    }.toDF("vec_id", "embedding").cache()
    val cents = Vectors.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 4, iters = 3)
    assert(cents.count() === 4)
    // deterministic: a second run yields bit-identical centroids
    val c1 = cents.orderBy("cent_id").collect().map(_.getSeq[Double](1)).toSeq
    val c2 = Vectors.kmeansCentroids(vecs, "vec_id", "embedding", k = 4, iters = 3)
      .orderBy("cent_id").collect().map(_.getSeq[Double](1)).toSeq
    assert(c1 === c2)
    // recall@5 against brute force, same cell count (4) and nprobe (1)
    val queries = vecs.filter(col("vec_id").isin(0L, 50L, 55L, 58L))
    val brute = Vectors.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(approx: Set[(Long, Long)]): Double =
      brute.count(approx.contains).toDouble / brute.size
    val stepRecall = recall(Vectors.ivfTopKProbes(vecs, queries, "vec_id",
        "embedding", 5, step = 16, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet)
    val kmRecall = recall(Vectors.ivfTopKKmeans(vecs, queries, "vec_id",
        "embedding", 5, numCents = 4, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet)
    assert(kmRecall >= stepRecall,
      s"kmeans recall $kmRecall < step recall $stepRecall")
    // and on this skewed fixture the lift is strict (C has a centroid now)
    assert(kmRecall > stepRecall,
      s"expected strict lift on the skewed fixture: km=$kmRecall step=$stepRecall")
  }

  test("semanticNearDupPairsWith k-means cells recovers cross-cluster-id dups the step rule splits") {
    val rnd = new scala.util.Random(23)
    def jitter(base: Array[Float], s: Float = 0.02f): Array[Float] =
      base.map(x => x + rnd.nextGaussian().toFloat * s)
    val a = Array.fill(8)(rnd.nextGaussian().toFloat)
    val b = Array.fill(8)(rnd.nextGaussian().toFloat)
    // two direction clusters INTERLEAVED by id (even→A, odd→B): the
    // every-step-th quantizer picks id-sequence centroids with no relation
    // to the geometry; k-means places one centroid per true cluster, so
    // every true near-dup pair lands within a cell
    val vecs = (0L until 40L).map { i =>
      (i, jitter(if (i % 2 == 0) a else b))
    }.toDF("vec_id", "embedding").cache()
    val cents = Vectors.kmeansCentroids(vecs, "vec_id", "embedding", k = 2, iters = 3)
    val km = Vectors.semanticNearDupPairsWith(vecs, "vec_id", "embedding",
        cents, minCosine = 0.9)
      .as[(Long, Long, Double)].collect()
    // with one cell per true cluster, ALL same-cluster pairs are scored:
    // same-parity pairs at tight jitter are near-dups and must surface
    val sameParity = km.count { case (x, y, _) => x % 2 == y % 2 }
    assert(km.nonEmpty && sameParity === km.length,
      s"cross-cluster pair leaked: ${km.filter { case (x, y, _) => x % 2 != y % 2 }.toSeq}")
    // every pair is a genuine cosine>=0.9 pair (exact scores, no invention)
    val e = vecs.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("vn", Vectors.l2norm(col("v")))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Vectors.dot(col("a.v"), col("b.v")) / (col("a.vn") * col("b.vn")), 6))
      .as[(Long, Long, Double)].collect()
      .filter(_._3 >= 0.9).map { case (x, y, cos) => (x, y) -> cos }.toMap
    km.foreach { case (x, y, cos) => assert(brute((x, y)) === cos) }
    // and the k-means cells recover at least as many true pairs as the
    // id-sequence quantizer at the same cell count (step=20 → 2 cells)
    val step = Vectors.semanticNearDupPairs(vecs, "vec_id", "embedding",
        step = 20, minCosine = 0.9).count()
    assert(km.length >= step)
  }

  test("quantizeInt8 round-trips within scale/2 per element; constant vectors exact") {
    val rnd = new scala.util.Random(31)
    val vecs = ((0 until 50).map(i => (i, Array.fill(16)(rnd.nextGaussian()))) :+
      ((50, Array.fill(16)(1.5)))) // constant vector: scale-0 guard path
      .toDF("id", "v")
    val got = vecs
      .withColumn("mn", array_min(col("v")))
      .withColumn("sc", (array_max(col("v")) - col("mn")) / lit(255.0))
      .withColumn("dq", Vectors.dequantizeInt8(
        Vectors.quantizeInt8(col("v")), col("mn"), col("sc")))
      .select(col("id"), col("sc"),
        array_max(zip_with(col("v"), col("dq"), (a, b) => abs(a - b))).as("maxErr"))
      .as[(Int, Double, Double)].collect()
    got.foreach { case (id, sc, maxErr) =>
      if (id == 50) assert(maxErr === 0.0) // constant → exact
      else assert(maxErr <= sc / 2 + 1e-12, s"id=$id err=$maxErr scale=$sc")
    }
    // codes are genuinely signed int8: element type TINYINT, so persisting
    // the column stores one byte per element (round-4 ADVICE)
    val qt = vecs.select(Vectors.quantizeInt8(col("v")).as("q"))
      .schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(qt.elementType === org.apache.spark.sql.types.ByteType)
  }

  test("pqAdcTopK matches a driver-side ADC reference on step codebooks") {
    // 30 vectors, dim 8, m=2 (subDim 4), step=10 -> codebook = subvectors
    // of ids {0, 10, 20}; queries = ids < 2, k=3. The reference recomputes
    // assignment, table, and the ordered partial-sum fold with the same
    // sequential double arithmetic the engine kernels use.
    val rnd = new scala.util.Random(7)
    val base = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    val vecs = base.toDF("vec_id", "embedding")
    val m = 2; val subDim = 4; val step = 10; val k = 3
    def ddot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def l2sq(a: Seq[Double], b: Seq[Double]): Double =
      ddot(a, a) - 2.0 * ddot(a, b) + ddot(b, b)
    def sub(v: Array[Double], s: Int): Seq[Double] =
      v.slice(s * subDim, (s + 1) * subDim).toSeq
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = base.filter(_._1 % step == 0) // (cent_id, full vector)
    def bestCell(sv: Seq[Double], s: Int): Long =
      cents.map { case (cid, cv) => (l2sq(sv, sub(cv, s)) + 0.0, cid) }.min._2
    val expect = (for {
      (qid, qv) <- base.filter(_._1 < 2)
      (vid, vv) <- base if vid != qid
    } yield {
      val adist = (0 until m).foldLeft(0.0) { (acc, s) =>
        acc + l2sq(sub(qv, s), sub(cents.find(_._1 == bestCell(sub(vv, s), s)).get._2, s))
      }
      (qid, vid, r6(adist))
    }).groupBy(_._1).flatMap { case (qid, rows) =>
      rows.sortBy(r => (r._3, r._2)).take(k).zipWithIndex
        .map { case ((_, vid, d), i) => (qid, vid, d, i + 1) }
    }.toSet
    val books = Vectors.pqCodebooksStep(vecs, "vec_id", "embedding", m, step)
    val got = Vectors.pqAdcTopK(vecs, vecs.filter(col("vec_id") < 2),
        "vec_id", "embedding", books, m, k)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === expect)
    // and the storage-form codes agree with the assignment, in sub order,
    // remapped to the DENSE 0..k−1 space (rank of the sparse step-rule
    // cent_id within the sorted codebook)
    val centRank = cents.map(_._1).sorted.zipWithIndex.toMap
    val codes = Vectors.pqCodes(vecs, "vec_id", "embedding", books, m)
      .as[(Long, Seq[Int])].collect().toMap
    base.foreach { case (vid, vv) =>
      assert(codes(vid) === (0 until m).map(s => centRank(bestCell(sub(vv, s), s))))
    }
    // and pqCodesToCells inverts the dense remap exactly: decoded cells ==
    // the original assignment relation (what the ADC scorer joins on)
    val decoded = Vectors.pqCodesToCells(
        Vectors.pqCodes(vecs, "vec_id", "embedding", books, m), books)
      .as[(Long, Int, Long)].collect().toSet
    val assigned = Vectors.pqAssign(vecs, "vec_id", "embedding", books, m)
      .as[(Long, Int, Long)].collect().toSet
    assert(decoded === assigned)
  }

  test("ivfPqTopK with all cells probed equals full ADC; fewer probes yield a subset with identical scores") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val m = 2
    val books = Vectors.pqCodebooksStep(vecs, "vec_id", "embedding", m, 10)
    val q = vecs.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    // step=10 over 30 ids → 3 coarse cells; nprobe=3 probes them all
    val all = rows(Vectors.ivfPqTopK(vecs, q, "vec_id", "embedding",
      step = 10, books, m, k = 5, nprobe = 3))
    val full = rows(Vectors.pqAdcTopK(vecs, q, "vec_id", "embedding", books, m, 5))
    assert(all === full)
    // nprobe=1 returns fewer-or-equal results whose (query, vec, adist)
    // all appear in the full ADC scoring (ranks may shift; scores cannot)
    val one = Vectors.ivfPqTopK(vecs, q, "vec_id", "embedding",
        step = 10, books, m, k = 5, nprobe = 1)
      .as[(Long, Long, Double, Int)].collect()
    val fullScores = full.map(r => (r._1, r._2) -> r._3).toMap ++
      rows(Vectors.pqAdcTopK(vecs, q, "vec_id", "embedding", books, m, 30))
        .map(r => (r._1, r._2) -> r._3).toMap
    one.foreach { case (qid, vid, adist, _) =>
      assert(fullScores.get((qid, vid)).forall(_ == adist),
        s"probed score for ($qid,$vid) diverges from full ADC")
    }
    assert(one.nonEmpty)
  }

  test("residual IVF-PQ: residual codebooks reconstruct better on clustered data; probed query finds cluster-mates") {
    // clustered corpus: 3 tight clusters of 20 around random centers —
    // the regime residual encoding exists for (residual spread << raw
    // spread once the coarse quantizer has found the centers)
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian() * 3.0))
    val vecs = (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(_ + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "embedding")
    val m = 4; val kq = 4
    val cents = Vectors.kmeansCentroids(vecs, "vec_id", "embedding", k = 3)
    val res = Vectors.residuals(vecs, "vec_id", "embedding", cents)
    val rawBooks = Vectors.pqTrain(vecs, "vec_id", "embedding", m, kq)
    val resBooks = Vectors.pqTrain(res, "vec_id", "resid", m, kq)
    def meanMse(df: org.apache.spark.sql.DataFrame, vc: String,
                books: org.apache.spark.sql.DataFrame): Double =
      Vectors.pqReconstructionMse(df, "vec_id", vc, books, m)
        .agg(avg(col("pq_mse"))).head().getDouble(0)
    val raw = meanMse(vecs, "embedding", rawBooks)
    val rsd = meanMse(res, "resid", resBooks)
    assert(rsd < raw,
      s"residual mse $rsd should beat raw mse $raw on clustered data")
    // probed residual-ADC query: a cluster member's top-3 are cluster-mates
    val idx = Vectors.ivfPqResidualIndex(vecs, "vec_id", "embedding",
      cents, resBooks, m)
    val got = Vectors.ivfPqResidualTopKFromIndex(idx,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
        cents, resBooks, m, k = 3, nprobe = 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length === 3)
    assert(got.forall { case (q, v, _, _) => q == 0L && v % 3 == 0L },
      s"top-3 of query 0 should be cluster-0 members, got ${got.mkString(",")}")
    // ranks are 1..3 ascending by distance
    assert(got.sortBy(_._4).map(_._4).toSeq === Seq(1, 2, 3))
  }

  test("pqTrain codebooks reconstruct at most as badly as the step rule") {
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    val m = 4
    // same codebook budget: step=10 over 60 ids -> 6 entries; k=6 trained
    val stepBooks = Vectors.pqCodebooksStep(vecs, "vec_id", "embedding", m, 10)
    val trained = Vectors.pqTrain(vecs, "vec_id", "embedding", m, k = 6)
    def meanMse(books: org.apache.spark.sql.DataFrame): Double =
      Vectors.pqReconstructionMse(vecs, "vec_id", "embedding", books, m)
        .agg(avg(col("pq_mse"))).head().getDouble(0)
    val (tr, st) = (meanMse(trained), meanMse(stepBooks))
    assert(tr <= st, s"trained PQ mse $tr should not exceed step-rule mse $st")
    // trained books must still be k entries per subspace
    assert(trained.groupBy(col("sub")).count()
      .as[(Int, Long)].collect().forall(_._2 == 6L))
  }

  test("semanticNearDupPairs never invents pairs and keeps exact scores") {
    val rnd = new scala.util.Random(11)
    // 60 vectors in 3 cells (step=20); make 41 a scaled copy of 40 so at
    // least one true near-dup pair (cosine 1.0) exists
    val base = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val vecs = base.map { case (i, v) =>
      if (i == 41L) (i, base(40)._2.map(x => x * 2.0f)) else (i, v)
    }.toDF("vec_id", "embedding")
    val sem = Vectors.semanticNearDupPairs(vecs, "vec_id", "embedding",
        step = 20, minCosine = 0.5)
      .as[(Long, Long, Double)].collect()
    // scaled copy lands in the same argmax cell -> the pair must surface
    assert(sem.exists { case (a, b, c) => a == 40L && b == 41L && c == 1.0 })
    // subset of brute-force all-pairs at the same threshold, same scores
    val e = vecs.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("vn", Vectors.l2norm(col("v")))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(Vectors.dot(col("a.v"), col("b.v")) / (col("a.vn") * col("b.vn")), 6))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    sem.foreach { case (a, b, c) =>
      assert(brute((a, b)) === c && c >= 0.5)
    }
  }

  test("assignCellsStateless == aggregate assignCells on real embeddings") {
    val emb = graft.core.Tables.load(spark, sf0001, "embeddings")
    val cents = Vectors.stepCentroids(emb, "vec_id", "embedding", 25)
      .localCheckpoint()
    val got = Vectors.assignCellsStateless(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    val want = Vectors.semanticIndex(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got === want)
  }

  test("assignCellsStateless tie-break: equal cosine picks MIN cent_id") {
    // two identical centroids under different ids: every cosine ties
    // exactly, so the struct tie-break ((cosine, -cent_id) lexicographic)
    // must pick the smaller id — the assignCells / oracle total order
    val cents = Seq((10L, Array(1.0, 0.0), 1.0), (3L, Array(1.0, 0.0), 1.0))
      .toDF("cent_id", "cv", "cvn")
    val df = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Vectors.assignCellsStateless(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (2L, 3L)))
    // and the aggregate form agrees on the same degenerate input
    val agg = Vectors.semanticIndex(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(agg === got)
  }

  test("semanticContaminatedIds flags the planted paraphrase, picks the best eval match") {
    val rnd = new scala.util.Random(31)
    val trainVecs = (100L until 160L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    // eval: two items — eval 1 is a scaled copy of train 120 (a perfect
    // "paraphrase": same direction, different bytes); eval 2 is random
    val eval = Seq(
      (1L, trainVecs.find(_._1 == 120L).get._2.map(_ * 0.5f)),
      (2L, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val train = trainVecs.toDF("vec_id", "embedding")
    val cents = Vectors.stepCentroids(train, "vec_id", "embedding", 20)
      .localCheckpoint()
    val got = Vectors.semanticContaminatedIds(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", cents, minCosine = 0.95)
      .as[(Long, Long, Double)].collect()
    // exactly the planted leak, matched to ITS eval twin at cosine 1.0
    assert(got.toSeq === Seq((120L, 1L, 1.0)), s"got ${got.toSeq}")
    // a train vector never pairs outside its cell even at threshold 0:
    // every flagged id shares a cell with some eval vector
    val all = Vectors.semanticContaminatedIds(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", cents, minCosine = -1.0)
      .select("train_id").as[Long].collect().toSet
    val cells = Vectors.semanticIndex(train, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val evCells = Vectors.semanticIndex(eval, "vec_id", "embedding", cents)
      .select("cell").as[Long].collect().toSet
    assert(all.nonEmpty && all.forall(id => evCells.contains(cells(id))))
    assert((100L until 160L).toSet.filter(id => evCells.contains(cells(id)))
      === all) // and EVERY same-cell train vector is audited at -1.0
  }

  test("hardNegatives: band-filtered same-cell top-k; positives and dissimilar both excluded") {
    def at(deg: Double): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat, 0.0f, 0.0f)
    }
    // one cell (step covers all): query 0 at 0°; 1 is a near-dup (1°,
    // cos ≈ 0.9998 — above the band), 2/3/4 informative negatives (50°,
    // 55°, 60° — inside [0.3, 0.9)), 5 dissimilar (89°, cos ≈ 0.017 —
    // below), 6 another far one (85°)
    val vecs = Seq(0L -> at(0), 1L -> at(1), 2L -> at(50), 3L -> at(55),
      4L -> at(60), 5L -> at(89), 6L -> at(85)).toDF("vec_id", "embedding")
    val got = Vectors.hardNegatives(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, step = 7, loCos = 0.3, hiCos = 0.9)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // top-2 of the band by cosine: 50° (0.643) then 55° (0.574)
    assert(got.map(r => (r._2, r._4)).toSeq === Seq((2L, 1), (3L, 2)))
    got.foreach { case (q, _, c, _) =>
      assert(q === 0L && c >= 0.3 && c < 0.9)
    }
    // k larger than the band: exactly the 3 in-band vectors, never the
    // near-dup (1) or the dissimilar tail (5, 6)
    val all = Vectors.hardNegatives(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 10, step = 7, loCos = 0.3, hiCos = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(all === Set(2L, 3L, 4L))
  }

  test("projectRandom: deterministic, linear, and cosine-preserving on average") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p1 = Vectors.projectRandom(vecs, "vec_id", "embedding", 16, 64)
      .as[(Long, Seq[Double])].collect().toMap
    val p2 = Vectors.projectRandom(vecs, "vec_id", "embedding", 16, 64)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p1 === p2 && p1(0L).length === 16) // deterministic planes
    // linearity: proj(2v) == 2 proj(v) (it's a fixed matrix)
    val doubled = vecs.select(col("vec_id"),
      transform(col("embedding"), x => x * 2.0f).as("embedding"))
    val pd = Vectors.projectRandom(doubled, "vec_id", "embedding", 16, 64)
      .as[(Long, Seq[Double])].collect().toMap
    pd.foreach { case (id, v) =>
      v.zip(p1(id)).foreach { case (d, o) => assert(math.abs(d - 2 * o) < 1e-6) }
    }
    // JL behavior in aggregate: mean |cos_orig - cos_proj| over all pairs
    // is small (16 planes over 64 dims: distortion ~1/sqrt(16))
    val e = vecs.select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("vn", Vectors.l2norm(col("v")))
    val pr = Vectors.projectRandom(vecs, "vec_id", "embedding", 16, 64)
      .withColumn("pn", Vectors.l2norm(col("proj")))
    val both = e.join(pr, "vec_id")
    val errs = both.as("a").join(both.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(abs(Vectors.dot(col("a.v"), col("b.v")) / (col("a.vn") * col("b.vn"))
        - Vectors.dot(col("a.proj"), col("b.proj")) / (col("a.pn") * col("b.pn"))))
      .as[Double].collect()
    val mean = errs.sum / errs.length
    assert(mean < 0.25, f"mean cosine distortion $mean%.3f too large")
  }

  test("prototypicalityPrune: per-cell top fraction by cosine-to-centroid, deterministic ties") {
    val emb = graft.core.Tables.load(spark, sf0001, "embeddings")
    val cents = Vectors.stepCentroids(emb, "vec_id", "embedding", 25)
      .localCheckpoint()
    val got = Vectors.prototypicalityPrune(emb, "vec_id", "embedding", cents,
        pruneFraction = 0.2)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(got.nonEmpty && got.length === emb.count())
    val byCell = got.groupBy(_._2)
    byCell.foreach { case (cell, rows) =>
      val pruned = rows.filter(_._4)
      // exactly floor(0.2 * cell size) pruned per cell — AT MOST the
      // fraction; cells smaller than 5 are untouched
      assert(pruned.length === math.floor(rows.length * 0.2).toLong,
        s"cell $cell: ${pruned.length} of ${rows.length}")
      // the pruned set is the TOP of the (proto desc, vec_id asc) order
      val ordered = rows.sortBy(r => (-r._3, r._1))
      assert(ordered.take(pruned.length).forall(_._4) &&
        ordered.drop(pruned.length).forall(!_._4))
    }
    // scores are the cosine to the OWN cell's centroid (spot-check one)
    val cent = cents.filter(col("cent_id") === got.head._2)
      .select("cv", "cvn").as[(Seq[Double], Double)].head()
    val v = emb.filter(col("vec_id") === got.head._1)
      .select(Vectors.asDouble(col("embedding")).as("v"),
        Vectors.l2norm(Vectors.asDouble(col("embedding"))).as("vn"))
      .as[(Seq[Double], Double)].head()
    val want = BigDecimal(v._1.zip(cent._1).map { case (a, b) => a * b }.sum
      / (v._2 * cent._2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(math.abs(want.toDouble - got.head._3) <= 1e-6)
    // prototypicality == the semanticIndex assignment's own cells
    val cells = Vectors.semanticIndex(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    got.foreach { case (id, cell, _, _) => assert(cells(id) === cell) }
    // pruneFraction 0 keeps everything; 1 prunes everything
    assert(Vectors.prototypicalityPrune(emb, "vec_id", "embedding", cents, 0.0)
      .filter(col("pruned")).count() === 0)
    assert(Vectors.prototypicalityPrune(emb, "vec_id", "embedding", cents, 1.0)
      .filter(!col("pruned")).count() === 0)
  }

  test("incrementalSemanticPairs prunes the index to the shard's cells before the cap window") {
    val rnd = new scala.util.Random(23)
    // 80 index vectors over many cells; the shard lands in a FEW cells —
    // the cell semi-join must keep per-cell cap decisions identical to
    // capping the full index while only touching the shard's cells
    val idxVecs = (0L until 80L)
      .map(i => (i, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Vectors.stepCentroids(idxVecs, "vec_id", "embedding", 8)
      .localCheckpoint()
    val index = Vectors.semanticIndex(idxVecs, "vec_id", "embedding", cents)
      .localCheckpoint()
    // shard: two fresh vectors plus a scaled copy of index vector 7 —
    // cosine 1.0 with its twin, guaranteed in the twin's cell
    val seven = idxVecs.filter(col("vec_id") === 7L)
      .select("embedding").as[Array[Float]].head()
    val shard = Seq(
      (200L, seven.map(_ * 3.0f)),
      (201L, Array.fill(6)(rnd.nextGaussian().toFloat)),
      (202L, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = Vectors.incrementalSemanticPairs(shard, "vec_id", "embedding",
        cents, index, minCosine = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.exists { case (a, b, c) => a == 7L && b == 200L && c == 1.0 },
      s"got $got")
    // physical shape: the index side is pruned by a broadcast semi-join
    // on cell, so the cap window shuffles only the shard's cells
    val plan = Vectors.incrementalSemanticPairs(shard, "vec_id", "embedding",
      cents, index, minCosine = 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan)
    // and a hot historical cell (over maxCell) is dropped by BOTH the
    // pruned window and full-index capping — same pair set either way
    val gotCapped = Vectors.incrementalSemanticPairs(shard, "vec_id",
        "embedding", cents, index, minCosine = 0.9, maxCell = 3)
      .as[(Long, Long, Double)].collect().toSet
    def cellOf(ids: org.apache.spark.sql.DataFrame) =
      Vectors.semanticIndex(ids, "vec_id", "embedding", cents)
        .select("vec_id", "cell")
    val counts = index.groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    val shardCells = cellOf(shard).as[(Long, Long)].collect().toMap
    gotCapped.foreach { case (a, b, _) =>
      val oldId = math.min(a, b); val cell = shardCells(math.max(a, b))
      if (oldId < 200L) assert(counts(cell) <= 3L,
        s"pair ($a,$b) survived through an over-cap cell $cell")
    }
  }
}

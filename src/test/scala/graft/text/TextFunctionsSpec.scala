package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class TextFunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("quality score and ratios are bounded for arbitrary strings (ScalaCheck)") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(Gen.listOfN(15, Gen.asciiPrintableStr)) { ss =>
        val rows = (ss :+ "" :+ "   ").toDF("t").select(
            TextFunctions.qualityScore(col("t")).as("q"),
            TextFunctions.punctRatio(col("t")).as("p"),
            TextFunctions.stopwordRatio(col("t")).as("s"))
          .as[(Double, Double, Double)].collect()
        rows.forall { case (q, p, s) =>
          q >= 0.0 && q <= 1.0 && p >= 0.0 && p <= 1.0 && s >= 0.0 && s <= 1.0
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("langId picks the language whose markers appear") {
    val got = Seq(
      "the cat and the dog of the house is big",
      "el perro de la casa que los gatos",
      "le chat et les chiens des maisons une fois",
      "der hund und die katze das ist nicht gut",
      "xyzzy plugh 12345")
      .toDF("t").select(TextFunctions.langId(col("t"))).as[String]
      .collect().toSeq
    assert(got === Seq("en", "es", "fr", "de", "und"))
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    // note: trim strips spaces only (Spark and DuckDB agree); inner \s+
    // runs collapse to one space
    val fps = Seq("Hello   World", "hello world", "  HELLO \t WORLD  ", "hello worlds")
      .toDF("t").select(TextFunctions.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) === fps(1) && fps(1) === fps(2))
    assert(fps(3) !== fps(0))
  }

  test("native text-stat kernels are bit-identical to the HOF/regexp forms (ScalaCheck)") {
    graft.extensions.GraftExtensions.register(spark)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(Gen.listOfN(10,
          Gen.oneOf(Gen.asciiPrintableStr, Gen.alphaNumStr,
            Gen.listOfN(8, Gen.oneOf("the", "a9", "und", "日本語", "é!", " ", ".", "that"))
              .map(_.mkString(" "))))) { ss =>
        val rows = (ss :+ "" :+ "   " :+ "the and that of").toDF("t").select(
            TextFunctions.punctRatio(col("t")).as("p1"),
            TextFunctions.punctRatioNative(col("t")).as("p2"),
            TextFunctions.stopwordRatio(col("t")).as("s1"),
            TextFunctions.stopwordRatioNative(col("t")).as("s2"),
            TextFunctions.avgTokenLen(col("t")).as("a1"),
            TextFunctions.avgTokenLenNative(col("t")).as("a2"),
            TextFunctions.qualityScore(col("t")).as("q1"),
            TextFunctions.qualityScoreNative(col("t")).as("q2"))
          .as[(Double, Double, Double, Double, Double, Double, Double, Double)]
          .collect()
        rows.forall { case (p1, p2, s1, s2, a1, a2, q1, q2) =>
          p1 == p2 && s1 == s2 && a1 == a2 && q1 == q2
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("native graft_ngram_sig is bit-identical to the HOF ngramSignature (ScalaCheck)") {
    graft.extensions.GraftExtensions.register(spark)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(Gen.listOfN(10,
          Gen.oneOf(Gen.asciiPrintableStr, Gen.alphaNumStr,
            Gen.listOfN(6, Gen.oneOf("日本語", "é", "ü", "ab", " ")).map(_.mkString)))) { ss =>
        val rows = (ss :+ "" :+ "ab" :+ "aaaaaaaa").toDF("t").select(
            TextFunctions.ngramSignature(col("t"), 5, 4).as("hof"),
            call_function("graft_ngram_sig", col("t"), lit(5), lit(4)).as("native"))
          .as[(String, String)].collect()
        rows.forall { case (h, n) => h == n }
      })
    assert(res.passed, res.status.toString)
  }

  test("extractMainContent: nav/footer/cookie boilerplate blocks drop, body paragraphs survive (r17)") {
    val para1 = "The measurement campaign ran for three weeks and collected " +
      "over two million samples across the four instrumented sites."
    val para2 = "Seasonal variation dominated the signal, with the largest " +
      "swings recorded at the coastal stations during the storm period."
    val page =
      "<html><head><title>x</title></head><body>" +
        "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/a\">About" +
        "</a></li><li><a href=\"/c\">Contact</a></li></ul></nav>" +
        "<div class=\"cookie\">We use cookies. <a href=\"#\">Accept</a></div>" +
        s"<article><p>$para1</p><p>$para2</p>" +
        "<p>Read more in <a href=\"/r\">the full report</a> appendix that " +
        "accompanies this long-form write-up of the campaign.</p></article>" +
        "<footer><a href=\"/p\">Privacy</a> | <a href=\"/t\">Terms</a> | " +
        "<a href=\"/i\">Imprint</a></footer></body></html>"
    val got = Seq(page).toDF("html")
      .select(TextFunctions.extractMainContent(col("html")).as("t"),
        TextFunctions.extractHtmlText(col("html")).as("all"))
      .as[(String, String)].head()
    // boilerplate reached the naive extraction but not the block filter
    assert(got._2.contains("Home") && got._2.contains("We use cookies"))
    assert(!got._1.contains("Home") && !got._1.contains("About"))
    assert(!got._1.contains("cookies") && !got._1.contains("Privacy"))
    // content paragraphs survive, including one WITH a modest inline link
    assert(got._1.contains(para1) && got._1.contains(para2))
    assert(got._1.contains("the full report"))
    // sentinel injection cannot fake a block or a link span
    val hostile = "<p>before \u0001\u0002fake link\u0003 after — a real " +
      "paragraph long enough to keep under every threshold we ship.</p>"
    val h = Seq(hostile).toDF("html")
      .select(TextFunctions.extractMainContent(col("html")).as("t"))
      .as[String].head()
    assert(h.contains("fake link") && h.contains("a real paragraph"))
  }

  test("redactPii replaces emails and phones, leaves clean text alone") {
    val rows = Seq(
      "mail me at jane.doe+spam@sub.example.co.uk today",
      "call +1-555-0042-99 or 0123456789",
      "two mails: a@b.io c_d%e@f-g.com",
      "clean text with short 12-34 digits",
      "reach me at 12345678@example.com",
      "").toDF("t")
      .select(TextFunctions.redactPii(col("t")).as("r"),
        TextFunctions.piiCount(col("t")).as("n"))
      .as[(String, Int)].collect().toSeq
    assert(rows(0) === ("mail me at <EMAIL> today", 1))
    assert(rows(1) === ("call <PHONE> or <PHONE>", 2))
    assert(rows(2) === ("two mails: <EMAIL> <EMAIL>", 2))
    // "12-34" is 5 chars of digits/dashes — below the ≥8 phone threshold
    assert(rows(3) === ("clean text with short 12-34 digits", 0))
    // a digit-bearing email local part is ONE span (the count applies the
    // same email-first pass order as the redaction), not email + phone
    assert(rows(4) === ("reach me at <EMAIL>", 1))
    assert(rows(5) === ("", 0))
    // redaction is idempotent: a redacted row has no remaining spans
    val again = Seq(rows(0)._1, rows(1)._1).toDF("t")
      .select(TextFunctions.piiCount(col("t"))).as[Int].collect()
    assert(again.forall(_ === 0))
  }

  test("stripMarkup removes tags and collapses the whitespace they leave") {
    val rows = Seq(
      "<div id=\"x\"><p>hello   <b>world</b></p><br/></div>",
      "no markup here",
      "<p></p>",
      "a < b and b > c").toDF("t")
      .select(TextFunctions.stripMarkup(col("t"))).as[String].collect().toSeq
    assert(rows(0) === "hello world")
    assert(rows(1) === "no markup here")
    assert(rows(2) === "")
    // a lone '<' with no closing '>' before the next '<' is consumed up to
    // the '>' that follows — the documented not-a-parser trade-off
    assert(rows(3) === "a c")
  }

  test("ngramSignature is stable under a small edit's unrelated region") {
    // signature = 4 smallest gram hashes; appending text can only change
    // the signature if a new gram hashes below the current top-4
    val Seq(a, b) = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog!!")
      .toDF("t").select(TextFunctions.ngramSignature(col("t"), 5, 4))
      .as[String].collect().toSeq
    // both share the same 4-smallest unless '!!' grams hash lower — either
    // way both are pipe-joined 4-hash strings
    assert(a.split('|').length === 4 && b.split('|').length === 4)
  }

  test("bigramLmScores: repeated corpus phrasing scores above gibberish; short docs drop") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the mat"),
      (4L, "zq xv wk jn qz vx"), // bigrams seen nowhere else
      (5L, "one")) // < 2 tokens: no bigram, excluded
      .toDF("doc_id", "text")
    val got = TextFunctions.bigramLmScores(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got(1L)._1 === 5L) // 6 tokens → 5 bigram instances
    // identical docs score identically; the in-distribution docs beat
    // the gibberish doc (every gibberish bigram is a singleton over a
    // rare prefix)
    assert(got(1L) === got(3L))
    assert(got(1L)._2 > got(4L)._2 && got(2L)._2 > got(4L)._2)
    // mean of 6dp-rounded instance log-probs stays in a sane range
    assert(got(4L)._2 < 0.0 && got(4L)._2 > -15.0)
  }

  test("bigramLmScoresKn: driver replay of the interpolated-KN formula") {
    // the self-trained bigram form is lmScoresKn at order 2
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "zq xv wk jn"),
      (4L, "one"))
    val docs = rows.toDF("doc_id", "text")
    val got = TextFunctions.lmScoresKn(docs, col("doc_id"), col("text"), 2)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    // replay on the driver: counts over the same corpus, D = 0.75
    val insts = rows.filter(_._2.split(" ").length >= 2).flatMap { case (id, t) =>
      val toks = t.split(" ").toSeq
      toks.zip(toks.tail).map { case (a, b) => (id, a, b) }
    }
    val c12 = insts.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.size.toLong }
    val c1 = insts.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val fwd = c12.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val rev = c12.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val tt = c12.size.toDouble
    def lp6(a: String, b: String): Long = {
      val p = math.max(c12((a, b)) - 0.75, 0.0) / c1(a) +
        (0.75 * fwd(a) / c1(a)) * (rev(b) / tt)
      math.round(BigDecimal(math.log(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    rows.filter(_._2.split(" ").length >= 2).foreach { case (id, t) =>
      val toks = t.split(" ").toSeq
      val pairs = toks.zip(toks.tail)
      val want = BigDecimal(pairs.map { case (a, b) => lp6(a, b) }.sum /
          (pairs.size * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === pairs.size.toLong, s"doc $id n_bigrams")
      assert(math.abs(got(id)._2 - want) < 1e-9, s"doc $id: ${got(id)._2} vs $want")
    }
    // the KN signature: "the mat"'s probability leans on mat's
    // continuation count, so a doc of singleton bigrams over FREQUENT
    // prefixes still scores below the in-distribution docs
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("trigramLmScoresKn: driver replay of the two-layer interpolated-KN recursion") {
    // the self-trained trigram form is lmScoresKn at order 3
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "zq xv wk jn qp"),
      (4L, "too short"))
    val docs = rows.toDF("doc_id", "text")
    val got = TextFunctions.lmScoresKn(docs, col("doc_id"), col("text"), 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 4 has 2 tokens — no trigram, gated out
    assert(got.keySet === Set(1L, 2L, 3L))
    // replay on the driver: all counts from the same corpus, D = 0.75
    val tris = rows.filter(_._2.split(" ").length >= 3).flatMap { case (id, t) =>
      val k = t.split(" ").toSeq
      k.indices.dropRight(2).map(i => (id, k(i), k(i + 1), k(i + 2)))
    }
    val c123 = tris.groupBy(x => (x._2, x._3, x._4)).map { case (k, v) => k -> v.size.toLong }
    val c12 = tris.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.size.toLong }
    val t3k = c123.keys.toSeq
    val npfx = t3k.groupBy(k => (k._1, k._2)).map { case (k, v) => k -> v.size.toLong }
    val mid = t3k.groupBy(k => (k._2, k._3)).map { case (k, v) => k -> v.size.toLong }
    val n1mid = mid.toSeq.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val nu2 = mid.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val rev3 = mid.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val tt = mid.size.toDouble
    def lp6(a: String, b: String, c: String): Long = {
      val p2 = math.max(mid((b, c)) - 0.75, 0.0) / n1mid(b) +
        (0.75 * nu2(b) / n1mid(b)) * (rev3(c) / tt)
      val p = math.max(c123((a, b, c)) - 0.75, 0.0) / c12((a, b)) +
        (0.75 * npfx((a, b)) / c12((a, b))) * p2
      math.round(BigDecimal(math.log(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    rows.filter(_._2.split(" ").length >= 3).foreach { case (id, t) =>
      val k = t.split(" ").toSeq
      val ts = k.indices.dropRight(2).map(i => (k(i), k(i + 1), k(i + 2)))
      val want = BigDecimal(ts.map { case (a, b, c) => lp6(a, b, c) }.sum /
          (ts.size * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === ts.size.toLong, s"doc $id n_trigrams")
      assert(math.abs(got(id)._2 - want) < 1e-9, s"doc $id: ${got(id)._2} vs $want")
    }
    // shared-context docs outscore the all-singleton gibberish doc
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("bigramLmScoresKnAgainst: every OOV branch replays exactly") {
    // the target-trained bigram form is scoreKn over fitKn at order 2
    val train = Seq("the cat sat on the mat", "the cat sat on the rug")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat"),       // all bigrams seen
      (2L, "the dog sat"),       // "the dog": prefix seen, bigram unseen, "dog" never a continuation; "dog sat": prefix unseen
      (3L, "zq xv"))             // fully out of vocabulary
      .toDF("doc_id", "text")
    val got = TextFunctions.scoreKn(docs, col("doc_id"), col("text"),
        TextFunctions.fitKn(train, col("text"), 2))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // driver replay over the TRAIN counts
    val ti = train.as[String].collect().toSeq.flatMap { t =>
      val toks = t.split(" ").toSeq; toks.zip(toks.tail)
    }
    val c12 = ti.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = ti.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val fwd = c12.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val rev = c12.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val tt = c12.size.toDouble
    def lp6(a: String, b: String): Long = {
      val cont = rev.get(b).map(_.toDouble).getOrElse(0.5) / tt
      val p =
        if (c1.contains(a))
          math.max(c12.getOrElse((a, b), 0L) - 0.75, 0.0) / c1(a) +
            (0.75 * fwd(a) / c1(a)) * cont
        else cont
      math.round(BigDecimal(math.log(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    Seq(1L -> "the cat sat", 2L -> "the dog sat", 3L -> "zq xv").foreach {
      case (id, t) =>
        val toks = t.split(" ").toSeq
        val pairs = toks.zip(toks.tail)
        val want = BigDecimal(pairs.map { case (a, b) => lp6(a, b) }.sum /
            (pairs.size * 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got(id)._1 === pairs.size.toLong, s"doc $id")
        assert(math.abs(got(id)._2 - want) < 1e-9, s"doc $id: ${got(id)._2} vs $want")
    }
    // in-vocabulary text outscores OOV text under the target model
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("trigramLmScoresKnAgainst: every layer's OOV branch replays exactly") {
    // the target-trained trigram form is scoreKn over fitKn at order 3
    val train = Seq("the cat sat on the mat", "the cat sat on the rug")
      .toDF("text")
    val docs = Seq(
      (1L, "the cat sat on"),        // all trigrams seen
      // "the cat ran": prefix seen, trigram unseen, "ran" never a
      // continuation; "cat ran on": prefix unseen, "ran" never a middle
      // context; "ran on the": prefix unseen, (on,the) pair seen;
      // "on the mat": fully seen
      (2L, "the cat ran on the mat"),
      (3L, "zq xv wk"),              // every layer falls through to the floor
      (4L, "too short"))             // < 3 tokens — gated out
      .toDF("doc_id", "text")
    val got = TextFunctions.scoreKn(docs, col("doc_id"), col("text"),
        TextFunctions.fitKn(train, col("text"), 3))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    // driver replay over the TRAIN counts, every back-off branch explicit
    val tris = train.as[String].collect().toSeq.flatMap { t =>
      val k = t.split(" ").toSeq
      k.indices.dropRight(2).map(i => (k(i), k(i + 1), k(i + 2)))
    }
    val c123 = tris.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c12 = tris.groupBy(x => (x._1, x._2)).map { case (k, v) => k -> v.size.toLong }
    val t3k = c123.keys.toSeq
    val npfx = t3k.groupBy(k => (k._1, k._2)).map { case (k, v) => k -> v.size.toLong }
    val mid = t3k.groupBy(k => (k._2, k._3)).map { case (k, v) => k -> v.size.toLong }
    val n1mid = mid.toSeq.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum }
    val nu2 = mid.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val rev3 = mid.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val tt = mid.size.toDouble
    def lp6(a: String, b: String, c: String): Long = {
      val cont = rev3.get(c).map(_.toDouble).getOrElse(0.5) / tt
      val p2 =
        if (n1mid.contains(b))
          math.max(mid.getOrElse((b, c), 0L) - 0.75, 0.0) / n1mid(b) +
            (0.75 * nu2(b) / n1mid(b)) * cont
        else cont
      val p =
        if (c12.contains((a, b)))
          math.max(c123.getOrElse((a, b, c), 0L) - 0.75, 0.0) / c12((a, b)) +
            (0.75 * npfx((a, b)) / c12((a, b))) * p2
        else p2
      math.round(BigDecimal(math.log(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    Seq(1L -> "the cat sat on", 2L -> "the cat ran on the mat",
        3L -> "zq xv wk").foreach { case (id, t) =>
      val k = t.split(" ").toSeq
      val ts = k.indices.dropRight(2).map(i => (k(i), k(i + 1), k(i + 2)))
      val want = BigDecimal(ts.map { case (a, b, c) => lp6(a, b, c) }.sum /
          (ts.size * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === ts.size.toLong, s"doc $id n_trigrams")
      assert(math.abs(got(id)._2 - want) < 1e-9, s"doc $id: ${got(id)._2} vs $want")
    }
    // in-model text outscores partly-OOV text outscores full gibberish
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("lmScoresKn equals scoreKn over fitKn on the same corpus (ScalaCheck)") {
    // the two entry points share the count tables and the back-off
    // formula; self-trained scoring is target-trained scoring with the
    // corpus as its own target, per type instead of per instance, so
    // the two must agree to the last bit at every order. A four-word
    // vocabulary repeats n-grams within and across docs.
    val vocab = Gen.oneOf("the", "cat", "sat", "on")
    val doc = Gen.choose(0, 10).flatMap(Gen.listOfN(_, vocab))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5),
      // no shrinking: every evaluation is six Spark scoring passes
      Prop.forAllNoShrink(Gen.listOfN(6, doc)) { ds =>
        // one 5-token doc keeps fitKn's target non-empty at every order
        val docs = (("the cat sat on the" +: ds.map(_.mkString(" ")))
            .zipWithIndex.map { case (t, i) => (i.toLong, t) })
          .toDF("doc_id", "text")
        Seq(2, 3, 5).forall { n =>
          val self = TextFunctions.lmScoresKn(docs, col("doc_id"),
              col("text"), n)
            .as[(Long, Long, Double)].collect().toSet
          val fit = TextFunctions.scoreKn(docs, col("doc_id"), col("text"),
              TextFunctions.fitKn(docs, col("text"), n))
            .as[(Long, Long, Double)].collect().toSet
          self == fit
        }
      })
    assert(res.passed, res.status.toString)
    // the shared builder has no emptiness guard: an empty corpus
    // scores to empty (fitKn alone refuses an empty target)
    assert(TextFunctions.lmScoresKn(Seq.empty[(Long, String)]
      .toDF("doc_id", "text"), col("doc_id"), col("text"), 3).isEmpty)
  }

  test("scoreKn order 5: every back-off layer's OOV branch replays exactly") {
    val train = Seq("the cat sat on the mat today",
      "the cat sat on the rug today").toDF("text")
    val docs = Seq(
      (1L, "the cat sat on the"),         // full 5-gram seen
      // "the cat sat on a": prefix seen, gram unseen, then every lower
      // context seen but gram unseen down to the OOV floor ('a' never a
      // continuation); "sat on a mat today": prefix unseen at 5/4/3,
      // (mat,today) pair seen at level 2 — real continuation counts
      (2L, "the cat sat on a mat today"),
      (3L, "zq xv wk yy zz"),             // floor at every layer
      (4L, "four tokens only here"))      // < 5 tokens — no row
      .toDF("doc_id", "text")
    val got = TextFunctions.scoreKn(docs, col("doc_id"), col("text"),
        TextFunctions.fitKn(train, col("text"), 5))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    // driver replay: the full four-layer recursion over generic maps
    val grams = train.as[String].collect().toSeq.flatMap { t =>
      val k = t.split(" ").toVector
      (0 to k.size - 5).map(i => k.slice(i, i + 5).toList)
    }
    val c5 = grams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val types5 = c5.keys.toSeq
    val d5 = grams.groupBy(_.take(4)).map { case (k, v) => k -> v.size.toLong }
    val nu5 = types5.groupBy(_.take(4)).map { case (k, v) => k -> v.size.toLong }
    val m4 = types5.groupBy(_.drop(1)).map { case (k, v) => k -> v.size.toLong }
    val d4 = m4.toSeq.groupBy(_._1.take(3)).map { case (k, v) => k -> v.map(_._2).sum }
    val nu4 = m4.keys.toSeq.groupBy(_.take(3)).map { case (k, v) => k -> v.size.toLong }
    val m3 = m4.keys.toSeq.groupBy(_.drop(1)).map { case (k, v) => k -> v.size.toLong }
    val d3 = m3.toSeq.groupBy(_._1.take(2)).map { case (k, v) => k -> v.map(_._2).sum }
    val nu3 = m3.keys.toSeq.groupBy(_.take(2)).map { case (k, v) => k -> v.size.toLong }
    val m2 = m3.keys.toSeq.groupBy(_.drop(1)).map { case (k, v) => k -> v.size.toLong }
    val d2 = m2.toSeq.groupBy(_._1.take(1)).map { case (k, v) => k -> v.map(_._2).sum }
    val nu2 = m2.keys.toSeq.groupBy(_.take(1)).map { case (k, v) => k -> v.size.toLong }
    val rev = m2.keys.toSeq.groupBy(_.drop(1)).map { case (k, v) => k -> v.size.toLong }
    val tt = m2.size.toDouble
    def layer(ctx: Map[List[String], Long], num: Map[List[String], Long],
              nu: Map[List[String], Long], key: List[String],
              below: Double): Double =
      ctx.get(key.init) match {
        case Some(den) =>
          math.max(num.getOrElse(key, 0L) - 0.75, 0.0) / den +
            (0.75 * nu(key.init) / den) * below
        case None => below
      }
    def lp6(g: List[String]): Long = {
      val cont = rev.get(g.drop(4)).map(_.toDouble).getOrElse(0.5) / tt
      val p2 = layer(d2, m2, nu2, g.drop(3), cont)
      val p3 = layer(d3, m3, nu3, g.drop(2), p2)
      val p4 = layer(d4, m4, nu4, g.drop(1), p3)
      val p = layer(d5, c5, nu5, g, p4)
      math.round(BigDecimal(math.log(p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }
    Seq(1L -> "the cat sat on the", 2L -> "the cat sat on a mat today",
        3L -> "zq xv wk yy zz").foreach { case (id, t) =>
      val k = t.split(" ").toVector
      val gs = (0 to k.size - 5).map(i => k.slice(i, i + 5).toList)
      val want = BigDecimal(gs.map(lp6).sum / (gs.size * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 === gs.size.toLong, s"doc $id n_ngrams")
      assert(math.abs(got(id)._2 - want) < 1e-9, s"doc $id: ${got(id)._2} vs $want")
    }
    // in-model text outscores partly-OOV text outscores full gibberish
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2)
  }

  test("fitKn: vacuous targets fail loudly; order bounds enforced") {
    val e = intercept[IllegalArgumentException] {
      TextFunctions.fitKn(Seq("only four words here").toDF("text"),
        col("text"), 5)
    }
    assert(e.getMessage.contains("no 5-grams"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TextFunctions.fitKn(Seq("a b c").toDF("text"), col("text"), 1)
    }
    assert(e2.getMessage.contains("order"), e2.getMessage)
  }

  test("scoreKn order 5: model tables broadcast — no sort-merge join in the scoring chain") {
    // same structural pin as the trigram Against form (§6.3 r13 A/B):
    // target-sized count tables must plan as broadcast hash joins at
    // every one of the 4×2+2 join sites; an SMJ means the instance
    // relation is shuffled per count table
    val train = Seq("the cat sat on the mat today",
      "the cat sat on the rug today").toDF("text")
    val docs = Seq((1L, "the cat sat on the"), (2L, "zq xv wk yy zz"))
      .toDF("doc_id", "text")
    val model = TextFunctions.fitKn(train, col("text"), 5)
    val plan = TextFunctions.scoreKn(docs, col("doc_id"), col("text"), model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("lmGateKn drops below-cutoff docs, passes unscorable-short docs — raw-id join") {
    val train = Seq("the cat sat on the mat today",
      "the cat sat on the rug today").toDF("text")
    val model = TextFunctions.fitKn(train, col("text"), 5)
    // STRING ids: the cast("long") form would null every join key and
    // fail open (r13 ADVICE on the trigram gate — same contract here)
    val docs = Seq(
      ("a", "the cat sat on the mat today"), // in-model, high score
      ("b", "zq xv wk yy zz"),               // gibberish, low score
      ("c", "too short")).toDF("id", "text") // unscorable — passes
    val scores = TextFunctions.scoreKn(docs, col("id"), col("text"), model)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val cut = (scores("a") + scores("b")) / 2
    val kept = TextFunctions.lmGateKn(docs, col("id"), col("text"), model, cut)
      .select("id").as[String].collect().toSet
    assert(kept === Set("a", "c"))
  }

  test("scoreTrigramsKn: broadcast-sized model tables keep the scoring chain free of sort-merge joins") {
    // the order-3 target-trained chain, scoreKn over fitKn
    // the §6.3 r13 A/B pinned structurally: the Against scorer's model
    // tables are target-sized, so every count join must plan as a
    // broadcast hash join — an SMJ here means the instance relation is
    // being shuffled per count table, the 4×-slower shape the probe
    // refuted (404.4 vs 104.8 s at 10M docs)
    val train = Seq("the cat sat on the mat", "the cat sat on the rug")
      .toDF("text")
    val docs = Seq((1L, "the cat sat on"), (2L, "zq xv wk"))
      .toDF("doc_id", "text")
    val model = TextFunctions.fitKn(train, col("text"), 3)
    val plan = TextFunctions.scoreKn(docs, col("doc_id"),
      col("text"), model).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ccnetBuckets: terciles by exact arithmetic over the distributed rank") {
    val scored = (1 to 10).map(i => (i.toLong, 5L, -i.toDouble / 10))
      .toDF("doc_id", "n_bigrams", "avg_logp")
    val got = TextFunctions.ccnetBuckets(scored)
      .select("doc_id", "pos", "bucket")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // avg_logp DESC == doc_id ASC here; n=10: head pos 1-3 (3pos<=10),
    // middle 4-6 (3pos<=20), tail 7-10
    (1 to 10).foreach { i =>
      assert(got(i.toLong)._1 === i.toLong, s"pos of $i")
      val want = if (i * 3 <= 10) "head" else if (i * 3 <= 20) "middle" else "tail"
      assert(got(i.toLong)._2 === want, s"bucket of $i")
    }
    // ties on avg_logp break by doc_id, deterministically
    val tied = Seq((5L, 1L, -0.5), (2L, 1L, -0.5), (9L, 1L, -0.5))
      .toDF("doc_id", "n_bigrams", "avg_logp")
    val pos = TextFunctions.ccnetBuckets(tied)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(pos === Map(2L -> 1L, 5L -> 2L, 9L -> 3L))
  }

  test("ccnetCutoffs: boundary scores reproduce the head bucket as a frozen per-shard gate") {
    val scored = (1 to 10).map(i => (i.toLong, 5L, -i.toDouble / 10))
      .toDF("doc_id", "n_bigrams", "avg_logp")
    val cuts = TextFunctions.ccnetCutoffs(scored)
      .select("boundary", "pos", "avg_logp")
      .as[(String, Long, Double)].collect().map(c => c._1 -> ((c._2, c._3)))
      .toMap
    // n=10: head = pos 1-3, so head_cut is pos 3's score; middle ends
    // at pos 6
    assert(cuts === Map("head_cut" -> ((3L, -0.3)),
      "middle_cut" -> ((6L, -0.6))))
    // the frozen-cutoff contract: gating any shard on
    // avg_logp >= head_cut reproduces exactly the reference head bucket
    // (distinct scores here — ties split by the rank, documented)
    val head = TextFunctions.ccnetBuckets(scored)
      .filter(col("bucket") === "head")
      .select("doc_id").as[Long].collect().toSet
    val gated = scored.filter(col("avg_logp") >= cuts("head_cut")._2)
      .select("doc_id").as[Long].collect().toSet
    assert(gated === head)
    // corpora too small for a boundary return empty, never a bad cut
    val tiny = Seq((1L, 1L, -0.1), (2L, 1L, -0.2))
      .toDF("doc_id", "n_bigrams", "avg_logp")
    assert(TextFunctions.ccnetCutoffs(tiny).count() === 0L)
  }

  // r17 optimization round: the tokenize / n-gram KERNELS replace the
  // interpreted HOF forms in every hot path — these properties pin
  // kernel ≡ HOF bit-identity on adversarial Unicode (CJK solo chars,
  // Thai marks, combining accents, case anomalies İ/Σ, astral plane,
  // digits of other scripts, underscores, empties).
  private val unicodePieces = Gen.oneOf(
    "the", "Cat9", "UND_er", "日本語", "漢字", "カタカナー", "ひらがな",
    "ภาษาไทย", "กิิ", "é!", "Ü-ü", "Привет", "ΣΟΦΟΣ", "İstanbul",
    "café", "𝔘𝔫𝔦", "🙂", "٣٤٥", "é", " ", ".", ",,", "", "x")
  private val unicodeTextGen: Gen[String] =
    Gen.listOfN(12, unicodePieces).map(_.mkString(""))
  private val unicodeSpacedGen: Gen[String] =
    Gen.listOfN(10, unicodePieces).map(_.mkString(" "))

  test("tokenize kernel is bit-identical to the HOF tokens()/distinctTokens (ScalaCheck)") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.listOfN(8, Gen.oneOf(unicodeTextGen, unicodeSpacedGen,
          Gen.asciiPrintableStr))) { ss =>
        val rows = (ss :+ "" :+ "  " :+ "The Cat AND the cat")
          .toDF("t").select(
            TextFunctions.tokens(col("t")).as("k"),
            TextFunctionsSpec.tokensHof(col("t")).as("h"),
            TextFunctions.distinctTokens(col("t")).as("kd"),
            array_distinct(TextFunctionsSpec.tokensHof(col("t"))).as("hd"))
          .as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
        rows.forall { case (k, h, kd, hd) => k == h && kd == hd }
      })
    assert(res.passed, res.status.toString)
  }

  test("char-ngram kernel is bit-identical to the HOF charNgrams incl. distinct (ScalaCheck)") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.listOfN(8, Gen.oneOf(unicodeTextGen,
          Gen.asciiPrintableStr)), Gen.choose(1, 6)) { (ss, n) =>
        val rows = (ss :+ "" :+ "ab")
          .toDF("t").select(
            TextFunctions.charNgrams(col("t"), n).as("k"),
            TextFunctionsSpec.charNgramsHof(col("t"), n).as("h"),
            TextFunctions.distinctCharNgrams(col("t"), n).as("kd"),
            array_distinct(TextFunctionsSpec.charNgramsHof(col("t"), n)).as("hd"))
          .as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
        rows.forall { case (k, h, kd, hd) => k == h && kd == hd }
      })
    assert(res.passed, res.status.toString)
  }

  test("token-window kernel is bit-identical to the HOF tokenWindows on non-empty arrays (ScalaCheck)") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.choose(1, 7), Gen.listOfN(6, unicodeSpacedGen)) { (w, ss) =>
        val rows = ss.toDF("t")
          .select(TextFunctions.tokens(col("t")).as("toks"))
          .filter(size(col("toks")) >= 1)
          .select(
            TextFunctions.tokenWindows(col("toks"), w).as("k"),
            TextFunctionsSpec.tokenWindowsHof(col("toks"), w).as("h"))
          .as[(Seq[String], Seq[String])].collect()
        rows.forall { case (k, h) => k == h }
      })
    assert(res.passed, res.status.toString)
  }

  test("word-ngram kernel is bit-identical to the HOF wordNgramsFromTokens at size >= n (ScalaCheck)") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30),
      Prop.forAll(Gen.choose(1, 5), Gen.listOfN(6, unicodeSpacedGen)) { (n, ss) =>
        val rows = ss.toDF("t")
          .select(TextFunctions.tokens(col("t")).as("toks"))
          .filter(size(col("toks")) >= n)
          .select(
            TextFunctions.wordNgramsFromTokens(col("toks"), n).as("k"),
            TextFunctionsSpec.wordNgramsFromTokensHof(col("toks"), n).as("h"))
          .as[(Seq[String], Seq[String])].collect()
        rows.forall { case (k, h) => k == h }
      })
    assert(res.passed, res.status.toString)
  }
}

/** The HOF executable specifications of [[TextFunctions]]' tokenizer and
  * gram kernels (interpreted lambdas): what each kernel must reproduce.
  */
object TextFunctionsSpec {
  import org.apache.spark.sql.Column

  /** The regex inserting token breaks around NO-SPACE-script characters
    * (Han, Hiragana, Katakana, Thai). Java spells Unicode scripts
    * `\p{IsHan}`; DuckDB's RE2 spells the same table `\p{Han}`
    * (`QText.toksSql` is the oracle twin).
    */
  val cjkSoloRe = "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}])"

  /** [[TextFunctions.tokens]]: the CJK pre-split, the split on anything
    * outside `\p{L}\p{N}`, per-token lowercase, empties dropped.
    */
  def tokensHof(text: Column): Column =
    filter(transform(split(regexp_replace(text, cjkSoloRe, " $1 "),
        "[^\\p{L}\\p{N}]+"), t => lower(t)), t => t =!= "")

  /** [[TextFunctions.charNgrams]]: one `substring` per position. */
  def charNgramsHof(text: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => substring(text, i, lit(n)))

  /** [[TextFunctions.wordNgramsFromTokens]]: n `element_at`s per gram,
    * joined with '_'.
    */
  def wordNgramsFromTokensHof(toks: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws("_", (0 until n).map(j => element_at(toks, i + j)): _*))

  /** [[TextFunctions.tokenWindows]]: one `slice` per window. */
  def tokenWindowsHof(toks: Column, w: Int): Column =
    transform(
      sequence(lit(0), ceil(size(toks) / lit(w.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(toks, i * w + 1, lit(w))))
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analysis, TextOps}

/** Corpus-evaluation operators: exact AUC, guaranteed heavy hitters,
  * tokenizer fertility, length-bucket batching report. */
class AnalysisSpec extends SparkSpec {

  private def docs(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("aucEval matches brute-force pair counting on a skewed fixture") {
    // stopword set includes "the" and "a"; "zz" is not a stopword.
    // Engineer per-mille scores via token mix, with a tie on 500.
    val rows = Seq(
      (1L, "the the the the", "en"),  // score 1000, pos
      (2L, "the zz", "en"),           // score  500, pos
      (3L, "the zz", "de"),           // score  500, neg (tie with 2)
      (4L, "zz zz zz", "de"),         // score    0, neg
      (5L, "the the zz", "en"),       // score  666, pos
      (6L, "zz zz the", "fr"))        // score  333, neg
    val out = Analysis.aucEval(docs(rows)).collect().head
    // brute force over pos/neg pairs of the engineered scores
    val pos = Seq(1000L, 500L, 666L)
    val neg = Seq(500L, 0L, 333L)
    val u2 = (for { p <- pos; n <- neg } yield
      if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(out.getLong(0) == 3L && out.getLong(1) == 3L)
    assert(out.getLong(2) == u2)
    assert(out.getDouble(3) == u2.toDouble / (2.0 * 3 * 3))
  }

  test("histogram AUC equals O(n²) brute force on random score/label sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      // random integer scores over a small domain (forces ties) and
      // random labels with at least one of each class
      val n = 30 + rnd.nextInt(40)
      val data = (1 to n).map(_ =>
        (rnd.nextInt(2).toLong, rnd.nextInt(8).toLong)) ++
        Seq((0L, 3L), (1L, 3L))
      val out = graft.operators.Analysis
        .aucFromScores(data.toDF("y", "score")).collect().head
      val pos = data.filter(_._1 == 1L).map(_._2)
      val neg = data.filter(_._1 == 0L).map(_._2)
      val u2 = (for { p <- pos; q <- neg } yield
        if (p > q) 2L else if (p == q) 1L else 0L).sum
      assert(out.getLong(0) == pos.size && out.getLong(1) == neg.size)
      assert(out.getLong(2) == u2, s"trial $trial")
      assert(out.getDouble(3) ==
        u2.toDouble / (2.0 * pos.size * neg.size), s"trial $trial")
    }
  }

  test("aucEval is 1.0 for a perfectly separating score, 0.5 for a constant") {
    val sep = Seq(
      (1L, "the the", "en"), (2L, "the a", "en"),
      (3L, "zz zz", "de"), (4L, "zz zz zz", "fr"))
    val a1 = Analysis.aucEval(docs(sep)).collect().head.getDouble(3)
    assert(a1 == 1.0)
    val const = Seq(
      (1L, "the zz", "en"), (2L, "the zz", "de"),
      (3L, "the zz", "en"), (4L, "the zz", "fr"))
    val a2 = Analysis.aucEval(docs(const)).collect().head.getDouble(3)
    assert(a2 == 0.5)
  }

  test("heavyHitters equals the exact definition on random corpora, any layout") {
    val rnd = new scala.util.Random(42)
    // zipf-ish: word w_i drawn with weight ~ 1/(i+1) over 50 words
    val weights = (0 until 50).map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): String = {
      val x = rnd.nextDouble() * total
      s"w${cum.indexWhere(x <= _)}"
    }
    val texts = (1L to 60L).map(i =>
      (i, (1 to 40).map(_ => draw()).mkString(" "), "en"))
    val d = docs(texts)
    val k = 15
    // exact definition, computed independently
    val toks = texts.flatMap(_._2.split(" "))
    val n = toks.size
    val expect = toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, f) => f * k > n }.toMap
    for (parts <- Seq(1, 3, 8)) {
      val got = Analysis.heavyHitters(d.repartition(parts), k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"partitions=$parts")
    }
  }

  test("misra-gries candidates always contain the true heavy hitters") {
    // direct guarantee check at an adversarial k (2 counters)
    val d = docs(Seq((1L, ("x " * 30 + "y z q r s t u v") .trim, "en")))
    val got = Analysis.heavyHitters(d, k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 38 tokens; only "x" (30) clears 38/4
    assert(got == Map("x" -> 30L))
  }

  test("tokenizerFertility rolls up the q97 encoding per language") {
    // vocab covers a-z digrams etc.; "??" is all-unk (2 pieces, 2 unk)
    val d = docs(Seq(
      (1L, "the cat", "en"),   // the=1 piece; cat = ca+t = 2 pieces
      (2L, "?? ??", "xx")))
    val out = Analysis.tokenizerFertility(d)
      .orderBy("lang").collect()
    val en = out(0)
    assert(en.getString(0) == "en" && en.getLong(1) == 2L)
    assert(en.getLong(2) == 3L && en.getLong(3) == 0L)
    assert(en.getDouble(4) == 1.5 && en.getLong(5) == 0L)
    val xx = out(1)
    assert(xx.getString(0) == "xx" && xx.getLong(1) == 2L)
    assert(xx.getLong(2) == 4L && xx.getLong(3) == 4L)
    assert(xx.getDouble(4) == 2.0 && xx.getLong(5) == 1000L)
  }

  test("tokenizerFertility shuffled-join fallback equals the broadcast path") {
    val d = docs(Seq((1L, "the cat sat", "en"), (2L, "?? !!", "xx")))
    val a = Analysis.tokenizerFertility(d).orderBy("lang").collect().toSeq
    val b = Analysis.tokenizerFertility(pastGate(d))
      .orderBy("lang").collect().toSeq
    assert(a == b)
  }

  test("lengthBuckets bit-length bucketing and fill accounting") {
    // token counts: 1 -> bucket 1 (cap 1); 3 -> bucket 2 (cap 3);
    // 4 and 7 -> bucket 3 (cap 7); 8 -> bucket 4 (cap 15)
    val d = docs(Seq(
      (1L, "a", "en"),
      (2L, "a b c", "en"),
      (3L, "a b c d", "en"),
      (4L, "a b c d e f g", "en"),
      (5L, "a b c d e f g h", "en")))
    val got = Analysis.lengthBuckets(d, batchSize = 2)
      .orderBy("bucket_bits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (1L, 1L, 1L, 1L, 1L, 1L, 1000L),
      (2L, 3L, 1L, 3L, 1L, 3L, 1000L),
      (3L, 7L, 2L, 11L, 1L, 14L, 785L),
      (4L, 15L, 1L, 8L, 1L, 15L, 533L)))
  }

  test("probeAuc: trained probe separates the target language on a learnable fixture") {
    import spark.implicits._
    // two classes with disjoint bigram vocabularies: the GD probe
    // must reach AUC 1.0 after 4 iterations
    val rows = (1L to 20L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma alpha beta", "en")
      else (i, "uno dos tres uno dos", "es")
    }
    val out = TextOps.probeAuc(rows.toDF("doc_id", "text", "lang"))
      .collect().head
    assert(out.getLong(0) == 10L && out.getLong(1) == 10L)
    assert(out.getDouble(3) == 1.0,
      s"trained probe should fully separate: auc=${out.getDouble(3)}")
  }

  test("probeCalibration bins partition the corpus and rates are exact ratios") {
    import spark.implicits._
    val rows = (1L to 20L).map { i =>
      if (i % 2 == 0) (i, "alpha beta gamma alpha beta", "en")
      else (i, "uno dos tres uno dos", "es")
    }
    val out = TextOps.probeCalibration(rows.toDF("doc_id", "text", "lang"))
      .collect()
    assert(out.map(_.getLong(1)).sum == 20L)
    out.foreach { r =>
      val (n, pos) = (r.getLong(1), r.getLong(2))
      assert(r.getDouble(4) == pos.toDouble / n)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      val bin = r.getLong(0)
      assert(bin >= 0L && bin <= 9L)
    }
    // the two disjoint-vocabulary classes must land in different bins
    // with pure class composition (pos_rate 0 or 1 per bin)
    assert(out.forall(r => r.getDouble(4) == 0.0 || r.getDouble(4) == 1.0))
    assert(out.exists(r => r.getDouble(4) == 1.0) &&
      out.exists(r => r.getDouble(4) == 0.0))
  }

  test("dimCorr finds identical, inverted, and constant dimensions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // dim1 random; dim2 = dim1; dim3 = -dim1; dim4 constant
    val rows = (1L to 50L).map { i =>
      val x = rnd.nextFloat() - 0.5f
      (i, Array(x, x, -x, 0.25f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val got = Analysis.dimCorr(emb, probeDims = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-9)
    assert(math.abs(got((1L, 3L)) + 1.0) < 1e-9)
    // constant dim -> zero variance -> guarded corr = 0, not NaN
    assert(got((1L, 4L)) == 0.0 && got((2L, 4L)) == 0.0)
    assert(got.size == 6)
  }

  test("dimCorr raises loudly on components that would overflow the cross products") {
    import spark.implicits._
    val emb = Seq((1L, Array(3000.0f, 1.0f)), (2L, Array(-3000.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Analysis.dimCorr(emb, probeDims = 2).collect()
    }
    // either failure is loud and correct: the q68-style guard message,
    // or ANSI's own long-overflow during the partial aggregate (Spark 4
    // default ansi.enabled=true throws on the q*q multiply itself)
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      (c.getMessage.contains("dimCorr") ||
        c.getMessage.contains("ARITHMETIC_OVERFLOW"))))
  }

  test("filterAblation reports engineered kill overlaps and one 1-row exchange") {
    import spark.implicits._
    // n_chars is a COLUMN here (deliberately inconsistent with text)
    // so each filter can be toggled independently:
    //   A fails length only; B fails word-count only; C fails both;
    //   D passes everything. 35/5/30 distinct 5-char words keep the
    //   word-length and distinct-ratio filters green throughout.
    def ws(n: Int) = (1 to n).map(i => f"w$i%04d").mkString(" ")
    val d = Seq(
      (1L, "s", 10L, ws(35)),
      (2L, "s", 300L, ws(5)),
      (3L, "s", 10L, ws(5)),
      (4L, "s", 300L, ws(30))
    ).toDF("doc_id", "source", "n_chars", "text")
    val out = graft.operators.Analysis.filterAblation(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    assert(out.size == 6)
    // k1 = {A, C} = 2, k2 = {B, C} = 2, both = {C} = 1, either = 3
    assert(out((1L, 2L)) == ((2L, 2L, 1L, 3L, 1.0 / 3.0)))
    // filters 3/4 kill nothing -> zero counts, guarded 0.0 jaccard
    assert(out((3L, 4L)) == ((0L, 0L, 0L, 0L, 0.0)))
    assert(out((1L, 3L)) == ((2L, 0L, 0L, 2L, 0.0)))
    // scale shape: the whole matrix folds into one global aggregate —
    // no hashpartitioning exchange at all (single-partition agg)
    val plan = graft.operators.Analysis.filterAblation(d)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("heavyHitters confirm pass joins against a broadcast candidate set") {
    val d = docs(Seq((1L, "x x x y", "en")))
    val plan = Analysis.heavyHitters(d, k = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
  }
}

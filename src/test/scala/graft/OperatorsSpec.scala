package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators._
import graft.streaming.Sources

/** Batch-operator sanity specs over the sf0.001 test tables, plus the
  * reference WordCount golden fixture and the binary serde round-trip.
  * (Full value-level correctness is the DuckDB oracle gate —
  * tools/check_oracle.py; these specs guard shapes and invariants.)
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("wordcount matches a hand-counted line (reference P1 tokenizer)") {
    val lines = Seq("To be, or not to be,--that is the question:--",
      "Whether 'tis nobler in the mind to suffer").toDF("text")
    val got = TextOps.wordCount(lines.withColumnRenamed("text", "text"))
      .as[(String, Long)].collect().toMap
    assert(got("to") == 3 && got("be") == 2 && got("the") == 2 && got("tis") == 1)
  }

  test("every SparkEntry query runs and has oracle column parity") {
    val qs = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(qs.keySet))
    for ((name, fn) <- qs) {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name produced no columns")
      df.count() // must execute
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("top-N per group never exceeds N and ranks within group") {
    val top = Relational.topPartsByFlag(Tables.lineitem(spark, sf), 3)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"), max("rn").as("maxrn"))
      .as[(String, Long, Int)].collect()
    assert(top.forall { case (_, n, maxrn) => n <= 3 && maxrn <= 3 })
  }

  test("minhash signature has k elements; jaccard is within [0,1]") {
    val sig = Dedup.minhashSignature(Tables.documents(spark, sf), 16)
      .select(size(col("sig"))).as[Int].collect()
    assert(sig.nonEmpty && sig.forall(_ == 16))
    val j = Dedup.ngramJaccardPairs(Tables.documents(spark, sf), 0.0)
      .select("jaccard").as[Double].collect()
    assert(j.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("codegen pair explosion matches the HOF formulation for long and struct elements") {
    def hofPairs(ids: org.apache.spark.sql.Column) =
      flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("a"), y.as("b")))))
    val longBuckets = spark.range(200)
      .select((col("id") % 7).as("g"), col("id"))
      .groupBy("g").agg(array_sort(collect_list(col("id"))).as("ids"))
    val fromExpr = longBuckets.select(col("g"),
        explode(graft.functions.VectorExpressions.sortedArrayPairs(col("ids"))).as("p"))
      .select(col("g"), col("p.a"), col("p.b"))
      .as[(Long, Long, Long)].collect().toSet
    val fromHof = longBuckets.select(col("g"), explode(hofPairs(col("ids"))).as("p"))
      .select(col("g"), col("p.a"), col("p.b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fromExpr == fromHof && fromExpr.size > 100)

    val structBuckets = spark.range(60)
      .select((col("id") % 5).as("g"), struct(col("id"), (col("id") * 3).as("v")).as("s"))
      .groupBy("g").agg(array_sort(collect_list(col("s"))).as("ids"))
    val sExpr = structBuckets.select(
        explode(graft.functions.VectorExpressions.sortedArrayPairs(col("ids"))).as("p"))
      .select(col("p.a.id"), col("p.a.v"), col("p.b.id"), col("p.b.v"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val sHof = structBuckets.select(explode(hofPairs(col("ids"))).as("p"))
      .select(col("p.a.id"), col("p.a.v"), col("p.b.id"), col("p.b.v"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sExpr == sHof && sExpr.size > 100)
    sExpr.foreach { case (aid, av, bid, bv) =>
      assert(av == aid * 3 && bv == bid * 3 && aid < bid)
    }
  }

  test("per-row mode expression equals the exploded bigram count aggregate") {
    import graft.functions.Portable._
    val docs = Tables.documents(spark, sf)
    val viaExpr = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), graft.functions.VectorExpressions
        .maxStringMultiplicity(shingles(col("ws"), 2)).as("m"))
      .filter(col("m") > 0)
      .as[(Long, Long)].collect().toMap
    val viaAgg = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode_outer(shingles(col("ws"), 2)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(max(col("count")).as("m"))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr.nonEmpty && viaExpr == viaAgg)
  }

  test("per-row SimHash32 expression equals the corpus bit-vote aggregate") {
    import graft.functions.Portable._
    val docs = Tables.documents(spark, sf)
    val agg = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val perRow = docs.select(col("doc_id"),
        graft.functions.VectorExpressions.simHash32(
          transform(words(col("text")), w => hash32(w))).as("s"))
      .as[(Long, Long)].collect().toMap
    // the aggregate path drops docs with no tokens; all present match
    assert(agg.nonEmpty)
    agg.foreach { case (id, s) => assert(perRow(id) == s, s"doc $id") }
  }

  test("normVariantGroups finds punctuation/case variants and skips exact-only groups") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello, World!"),       // variant of 2/3 under aggressive norm
      (2L, "hello world"),
      (3L, "hello  world"),        // exact-norm dup of 2 (ws collapse)
      (4L, "unique text here"),    // singleton -> not emitted
      (5L, "same same"),           // exact-only dup group -> not emitted
      (6L, "same  same"),
      (7L, "Mixed-Case; TEXT 42"), // variant pair via case+punct
      (8L, "mixed case text 42")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.normVariantGroups(d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    // group {1,2,3}: 3 docs over 2 exact variants; group {7,8}: 2/2.
    // {5,6} collapses under the EXACT norm already -> one variant ->
    // excluded (q25's finding, not this tier's); {4} is a singleton.
    assert(out.toSeq == Seq((1L, 3L, 2L), (7L, 2L, 2L)))
  }

  test("dedup groups are closed over pairs and labeled by their min id") {
    val docs = Tables.documents(spark, sf)
    val group = Dedup.dedupGroups(docs)
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.minhashPairs(docs)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty && group.nonEmpty)
    // every paired doc is labeled, both endpoints agree
    pairs.foreach { case (a, b) =>
      assert(group(a) == group(b), s"pair ($a,$b) split across groups")
    }
    // the label is the minimum member of its group
    group.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
    // the distributed min-label loop (edge gate forced off) produces the
    // exact same labeling as the driver union-find.  Start from an empty
    // SQL cache so the leak assertion below is hermetic regardless of
    // what earlier suites left cached in the shared session.
    spark.catalog.clearCache()
    val looped = Dedup.dedupGroups(docs, maxDriverEdges = -1L)
      .as[(Long, Long)].collect().toMap
    assert(looped == group)
    // ...and releases every frame it persisted along the way (the loop
    // caches one frame per round; only the lineage-broken result and
    // the corpus table itself may stay)
    assert(spark.sharedState.cacheManager.isEmpty,
      "dedupGroups left frames in the SQL cache")
    // the loop refuses to return silently-unconverged labels
    val e = intercept[IllegalStateException] {
      Dedup.dedupGroups(docs, maxRounds = 1, maxDriverEdges = -1L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "unconverged exit left frames in the SQL cache")
  }

  test("pointer jumping equals union-find on random graphs") {
    import spark.implicits._
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.map(n => n -> find(n)).toMap
    }
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(150)((rnd.nextLong(500), rnd.nextLong(500)))
        .filter { case (a, b) => a != b }
      val got = Dedup.propagateMinLabels(pairs.toDF("a", "b"), maxRounds = 12)
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(pairs), s"seed $seed diverged")
    }
  }

  test("pointer jumping converges a 100-long chain in O(log d) rounds") {
    import spark.implicits._
    // path 0-1-2-...-100 (diameter 100) plus a disjoint triangle:
    // plain min-label propagation needs 100 rounds; the jump needs ~7
    val edges = ((0L until 100L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (201L, 202L), (200L, 202L))).toDF("a", "b")
    spark.catalog.clearCache() // hermetic leak assertion below
    val labels = Dedup.propagateMinLabels(edges, maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert((0L to 100L).forall(labels(_) == 0L))
    assert((200L to 202L).forall(labels(_) == 200L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "propagateMinLabels left frames in the SQL cache")
  }

  test("propagation loop with a reliable checkpoint dir matches the local path") {
    import spark.implicits._
    val edges = ((0L until 60L).map(i => (i, i + 1)) ++
      Seq((300L, 301L), (301L, 302L))).toDF("a", "b")
    val local = Dedup.propagateMinLabels(edges, maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      spark.catalog.clearCache() // hermetic leak assertion below
      val reliable = Dedup.propagateMinLabels(edges, maxRounds = 10,
          checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      // the reliable path really wrote durable checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files were written")
      assert(spark.sharedState.cacheManager.isEmpty,
        "reliable-checkpoint loop left frames in the SQL cache")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("int8 quantization bounds: |q| <= 127, reconstruction within scale/2") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val rows = Similarity.quantizeInt8(Tables.embeddings(spark, sf))
      .as[(Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, dim, q) =>
      assert(math.abs(q) <= 127, s"vec $id dim $dim q=$q out of int8 range")
      val err = math.abs(emb(id)(dim.toInt - 1) - q * scale)
      assert(err <= scale / 2 + 1e-12, s"vec $id dim $dim err=$err > scale/2")
    }
  }

  test("lsh knn results are a subset of brute-force candidates' scores") {
    val bf = Similarity.knnBruteForce(Tables.embeddings(spark, sf), 4, 5)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.knnLsh(Tables.embeddings(spark, sf), 4, 5)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    // every LSH pair's cosine equals the brute-force cosine when present
    for ((q, n, s) <- lsh if bf.contains((q, n)))
      assert(math.abs(bf((q, n)) - s) < 1e-12)
  }

  test("ivf recall is within [0,1] and improves with more probes") {
    val emb = Tables.embeddings(spark, sf)
    def mean(nProbe: Int): Double = {
      val r = Similarity.ivfRecall(emb, 8, 5, nProbe)
        .select("recall").as[Double].collect()
      r.sum / r.length
    }
    val (r1, r4) = (mean(1), mean(4))
    assert(r1 >= 0.0 && r1 <= 1.0 && r4 >= 0.0 && r4 <= 1.0)
    assert(r4 >= r1) // more probes never hurt recall
  }

  test("binary little-endian int32 decode round-trips (EventDeSerializer layout)") {
    val payloads = Seq((1, 0x0A0B0C0D, 3), (2, -42, 6)).map {
      case (id, addr, tpe) =>
        (id, Sources.leInt32Bytes(addr) ++ Sources.leInt32Bytes(tpe), addr, tpe)
    }
    val df = payloads.toDF("id", "payload", "addr", "tpe")
    val got = df.select(
        col("addr"), Sources.leInt32(col("payload"), 0).as("d_addr"),
        col("tpe"), Sources.leInt32(col("payload"), 4).as("d_tpe"))
      .as[(Int, Int, Int, Int)].collect()
    assert(got.forall { case (a, da, t, dt) => a == da && t == dt })
  }

  test("q40 mixed decode: every modality's signal comes from real decoded bytes") {
    // golden: the mixed table's payloads are REAL PNG/BMP, WAV and
    // AVI-DIB containers of known generator formulas — the unified
    // decode must recover each modality's exact formula values
    val docs = Tables.documents(spark, sf).limit(30)
    val sigs = Multimodal.extractSignals(Multimodal.mixedMediaTable(docs))
      .collect()
    assert(sigs.length == 30)
    assert(sigs.map(_.kind).toSet == Set("image", "audio", "video"))
    for (s <- sigs) {
      val id = s.media_id
      id % 3 match {
        case 0 => // image: mean luma of the affine raster
          val (w, h) = ((id % 13 + 4).toInt, (id % 9 + 4).toInt)
          assert(s.width == w && s.height == h && s.n_units == w.toLong * h)
          var t = 0L
          for (y <- 0 until h; x <- 0 until w)
            t += math.floorMod(x * 7 + y * 3 + id, 256) +
              math.floorMod(x * 5 + y * 11 + id * 2, 256) +
              math.floorMod(x * 13 + y * 17 + id * 3, 256)
          assert(s.mean_signal == t.toDouble / (3L * w * h), s"image $id")
        case 1 => // audio: mean |sawtooth|
          val n = (id % 600 + 100).toInt
          assert(s.n_units == n && s.width == 0 && s.height == 0)
          val sumAbs = (0 until n).map(t =>
            math.abs(math.floorMod(t * (id % 7 + 2) + id, 2048) - 1024L)).sum
          assert(s.mean_signal == sumAbs.toDouble / n, s"audio $id")
        case _ => // video: mean channel value over ALL frames
          val (w, h) = ((id % 11 + 4).toInt, (id % 7 + 4).toInt)
          val nf = (id % 4 + 2).toInt
          assert(s.width == w && s.height == h &&
            s.n_units == w.toLong * h * nf)
          var t = 0L
          for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
            t += math.floorMod(x * 7 + y * 3 + id + f * 31, 256) +
              math.floorMod(x * 5 + y * 11 + 2 * id + f * 17, 256) +
              math.floorMod(x * 13 + y * 17 + 3 * id + f * 7, 256)
          assert(s.mean_signal == t.toDouble / (3L * w * h * nf), s"video $id")
      }
    }
  }

  test("real ImageIO decode reads back the generated geometry and channel means") {
    // golden: payloads are REAL PNG/BMP images of a known pixel
    // function — the raster decode must recover the exact geometry
    // and the exact per-channel sums (both formats are lossless)
    val ids = Tables.documents(spark, sf).limit(40).select("doc_id")
      .as[Long].collect()
    assert(ids.length == 40)
    for (id <- ids) {
      val (w, h) = ((id % 13 + 4).toInt, (id % 9 + 4).toInt)
      val fmt = if (id % 2 == 0) "png" else "bmp"
      val bytes = Multimodal.syntheticImageBytes(w, h, id, fmt)
      assert((bytes(1) == 'P') == (fmt == "png"), s"media $id: not a $fmt")
      val (dw, dh, px) = Multimodal.decodeRasterAny(bytes, s"media $id")
      assert(dw == w && dh == h,
        s"media $id: decoded ${dw}x$dh, generated ${w}x$h")
      // recompute the channel sums straight from the pixel function
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        sr += math.floorMod(x * 7 + y * 3 + id, 256)
        sg += math.floorMod(x * 5 + y * 11 + id * 2, 256)
        sb += math.floorMod(x * 13 + y * 17 + id * 3, 256)
      }
      assert(Multimodal.rgbSums(px) == ((sr, sg, sb)),
        s"media $id channel sums diverge")
    }
  }

  test("decontaminate drops only docs at or past the shared-gram threshold") {
    import spark.implicits._
    val bench = "one two three four five six seven eight nine ten"
    val d = Seq(
      (1L, bench, "en", "src0", 50L),                      // benchmark row
      // shares the 5-gram "one two three four five" -> 1/6 grams ≈
      // 167 permille ≥ 100 -> dropped
      (2L, "one two three four five aa bb cc dd ee", "en", "srcA", 40L),
      // 1 shared gram out of 16 -> 62 permille < 100 -> kept
      (3L, ("one two three four five " +
        (1 to 15).map(i => s"w$i").mkString(" ")), "en", "srcA", 80L),
      (4L, "clean text with no overlap at all here", "en", "srcB", 40L),
      (5L, "too short", "en", "srcB", 9L)                  // <5 words: kept
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.operators.TextOps.decontaminate(d)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(3L, 4L, 5L), s"got $got")
  }

  test("contamination/decontaminate fused probe == join path, row for row") {
    import spark.implicits._
    val bench1 = "one two three four five six seven eight nine ten"
    val bench2 = "alpha beta gamma delta epsilon zeta eta theta"
    val d = (Seq(
      (1L, bench1, "en", "src0", 50L), (2L, bench2, "en", "src0", 40L),
      (3L, "one two three four five aa bb cc dd ee", "en", "srcA", 40L),
      (4L, ("alpha beta gamma delta epsilon " +
        (1 to 15).map(i => s"w$i").mkString(" ")), "en", "srcA", 80L),
      (5L, "clean text with no overlap at all here", "en", "srcB", 40L),
      (6L, "too short", "en", "srcB", 9L),
      // duplicated shared grams inside one doc exercise the
      // distinct-before-count semantics on both paths
      (7L, "one two three four five one two three four five", "en",
        "srcB", 49L)
    ) ++ (8L to 40L).map(i =>
      (i, s"filler doc $i with words w$i x$i y$i z$i q$i", "en", "srcC",
        30L))).toDF("doc_id", "text", "lang", "source", "n_chars")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    // fused under the size gate, index join past it
    val cFused = rows(graft.operators.TextOps.contamination(d))
    val cJoin = rows(graft.operators.TextOps.contamination(pastGate(d)))
    assert(cFused == cJoin,
      s"contamination paths diverge:\n$cFused\n$cJoin")
    assert(cFused.nonEmpty, "fixture should have contaminated docs")

    val dFused = rows(graft.operators.TextOps.decontaminate(d))
    val dJoin = rows(graft.operators.TextOps.decontaminate(pastGate(d)))
    assert(dFused == dJoin,
      s"decontaminate paths diverge:\n$dFused\n$dJoin")
    // the fused plan is the point: no join, no shuffle, map-only
    val plan = graft.operators.TextOps.decontaminate(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"fused decontaminate should be map-only:\n$plan")
  }

  test("unigram-LM tokenizer equals an all-segmentations brute force") {
    import spark.implicits._
    // "abab" floods the corpus so pieces "ab"/"abab" clear minCount;
    // "axby" forces single-char fallback; mixed docs check rollups
    val texts = Seq.fill(6)("abab") ++ Seq.fill(3)("abab axby") ++
      Seq("ab ba abab")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.unigramTokenize(d)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // independent model fit: substring counts -> kept pieces -> costs
    val ws = texts.map(_.split(" ").toSeq)
    val freq = ws.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val subCnt = freq.toSeq.flatMap { case (w, f) =>
      for { i <- 0 until w.length; l <- 1 to math.min(4, w.length - i) }
        yield (w.substring(i, i + l), f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val kept = subCnt.filter { case (p, c) => c >= 5 || p.length == 1 }
    val total = kept.values.sum
    def fl(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val cost = kept.map { case (p, c) => p -> ((fl(total) - fl(c)) * 256L + 1L) }
    // brute force: every segmentation via split bitmask
    def best(w: String): Long = {
      val n = w.length
      (0 until (1 << (n - 1))).flatMap { m =>
        val cuts = 0 +: (1 until n).filter(i => (m & (1 << (i - 1))) != 0) :+ n
        val parts = cuts.zip(cuts.tail).map { case (a, b) => w.substring(a, b) }
        if (parts.forall(cost.contains)) Some(parts.map(cost).sum) else None
      }.min
    }
    val want = texts.zipWithIndex.map { case (t, i) =>
      val parts = t.split(" ").toSeq
      val cs = parts.map(best)
      (i.toLong, parts.size.toLong,
        cs.map(_ % 256).sum, cs.map(_ / 256).sum)
    }.sorted
    assert(got == want, s"got $got want $want")
    // the optimal segmentation actually uses a multi-char piece:
    // "abab" must cost fewer than 4 pieces
    val abab = got(texts.indexOf("abab"))
    assert(abab._3 < 4L, s"abab should segment with multi-char pieces: $abab")
  }

  test("collocations equal a driver brute force, including negative-PMI packing") {
    import spark.implicits._
    // "x" floods the corpus so "x y" gets NEGATIVE pmi bits — the
    // packed score must still unpack exactly (the +128 bias)
    val texts = Seq.fill(5)("x y") ++ Seq.fill(15)("x x") ++
      Seq.fill(6)("p q") ++ Seq("y y y y y y y y y y y y y y y")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = graft.operators.TextOps.collocations(d, k = 10, minCount = 5)
      .as[(Int, String, String, Long, Long)].collect().toSeq
    // brute force: same tokenization, same floor-log2 bits, same order
    def fl(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val ws = texts.map(_.split(" ").toSeq)
    val toks = ws.flatten
    val t = toks.size.toLong
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = ws.flatMap(w => w.zip(w.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = bi.toSeq.filter(_._2 >= 5).map { case ((a, b), cab) =>
      val pmi = fl(cab) + fl(t) - fl(uni(a)) - fl(uni(b))
      (a, b, cab, pmi)
    }.sortBy { case (a, b, cab, pmi) =>
      (-((pmi + 128) * (1L << 38) + cab), s"$a $b")
    }.take(10).zipWithIndex
      .map { case ((a, b, cab, pmi), i) => (i + 1, a, b, cab, pmi) }
    assert(got == want, s"got $got want $want")
    assert(got.exists(_._5 < 0), "fixture must exercise a negative PMI")
  }

  test("zipf profile reports power-of-two ranks with (count desc, word asc) order") {
    import spark.implicits._
    // freqs: a=8, b=4, c=4, d=2, e=1 -> ranks a1 b2 c3 d4 e5; the
    // power-of-two cut keeps ranks 1, 2, 4 (b before c on the tie)
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(2)("d") ++ Seq("e")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val got = graft.operators.Analysis.zipfProfile(d)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", 8L, 8L), (2L, "b", 4L, 8L),
      (4L, "d", 2L, 8L)), s"got $got")
  }

  test("BPE pair stats: frequency-weighted adjacent pairs, deterministic order") {
    // wf: aa=2, ab=2, abc=1 (b dropped: 1 char) →
    // pairs: ab = 2 (word ab) + 1 (abc) = 3; aa = 2; bc = 1
    val docs = Seq((1L, "aa ab aa"), (2L, "ab b abc")).toDF("doc_id", "text")
    val got = TextOps.bpePairStats(docs).as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 3L), ("aa", 2L), ("bc", 1L)))
  }

  test("BPE training: hand-computed merge sequence, exhaustion stops early") {
    // wf: aaab=3, ab=2, cd=1 → step1 (a,a)=6 → "aa"; after rewrite
    // aaab = [aa a b]: step2 (a,b)=3+2=5 → "ab"; step3 (aa,ab)=3;
    // step4 (c,d)=1; then no pairs remain → 4 rows despite merges=6
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab cd"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, merges = 6)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L),
      (4, "c", "d", "cd", 1L)))
  }

  test("BPE driver-gate paths agree: local rounds == distributed rounds") {
    import spark.implicits._
    // boundary-space overlap cases included ("aaaa": the ' a a a a '
    // string rewrite yields [aa, a, a], NOT the classic list-merge
    // [aa, aa] — both paths and both engines share the string-replace
    // definition, so the gate must preserve it exactly)
    val docs = Seq((1L, "aaaa aaab abab ab aa a9 9a9a"),
      (2L, "abab aaaa cdcd cd x7 aaab")).toDF("doc_id", "text")
    val local = TextOps.bpeTrain(docs, merges = 6)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val dist = TextOps.bpeTrain(docs, merges = 6, maxDriverVocab = 0)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist, s"gate paths diverge:\n$local\n$dist")
    val encLocal = TextOps.bpeEncode(docs, merges = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val encDist = TextOps.bpeEncode(docs, merges = 4, maxDriverVocab = 0)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(encLocal == encDist, s"encode paths diverge:\n$encLocal\n$encDist")
  }

  test("BPE driver-vocab cap: a huge cap clamps instead of wrapping negative") {
    // limit(cap + 1) takes an Int: Long.MaxValue must not wrap negative
    val docs = Seq((1L, "aaab abab ab"), (2L, "abab cdcd")).toDF("doc_id", "text")
    val capped = TextOps.bpeTrain(docs, merges = 3, maxDriverVocab = Long.MaxValue)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val dflt = TextOps.bpeTrain(docs, merges = 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(capped == dflt)
  }

  test("SPARK_GRAFT_CPUS: absent means all cores, a bad value names the env var") {
    import graft.core.GraftSession
    def parse(name: String, raw: Option[String]): Int =
      GraftSession.positiveIntEnv(name, Runtime.getRuntime.availableProcessors(),
        env = n => if (n == name) raw else Some("wrong variable read"))
    // the stream profiler's knobs share the parser: 0 batches or keys
    // would divide by zero mid-run instead of failing up front
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_STREAM_ROWS",
        "SPARK_GRAFT_STREAM_BATCHES", "SPARK_GRAFT_STREAM_KEYS")) {
      assert(parse(name, None) == Runtime.getRuntime.availableProcessors())
      assert(parse(name, Some(" 3 ")) == 3)
      for (bad <- Seq("0", "-2", "four", "2.5", "")) {
        val e = intercept[IllegalArgumentException](parse(name, Some(bad)))
        assert(e.getMessage.contains(name), e.getMessage)
      }
    }
  }

  test("md5Prefix rejects a non-string input at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(3).select(graft.functions.HashExpressions.md5Prefix($"id", 15)))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("wordShingles rejects a non-array-of-string input at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(3).select(graft.functions.HashExpressions.wordShingles(
        array($"id"), 2)))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("BPE encode: learned merges tokenize the corpus, fallback = 1 token") {
    // merges on this corpus: aa, ab, aaab, cd → aaab/ab/cd all encode
    // to ONE piece; the 1-char word "z" is outside the trainable
    // alphabet and falls back to a single token
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab cd"), (3L, "z aaab"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, merges = 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 2L, 2L)))
    // with fewer merges the same words need more pieces:
    // merges=2 (aa, ab) → aaab = [aa, ab] = 2 pieces
    val got2 = TextOps.bpeEncode(docs, merges = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 3L, 5L), (2L, 3L, 5L), (3L, 2L, 3L)))
    // early pair exhaustion throws rather than silently diverging
    // from the unrolled oracle
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TextOps.bpeEncode(tiny, merges = 4))
    assert(e.getMessage.contains("exhausted"))
  }

  test("BPE training equals an independent in-memory trainer on random corpora") {
    // reference implementation: greedy left-to-right non-overlapping
    // merge over piece LISTS — structurally unrelated to the
    // operator's separator-string replace, so agreement checks the
    // rewrite semantics, the overlap counting, and the tie order
    def mergeList(ps: List[String], l: String, r: String): List[String] =
      ps match {
        case a :: b :: rest if a == l && b == r =>
          (l + r) :: mergeList(rest, l, r)
        case a :: rest => a :: mergeList(rest, l, r)
        case Nil => Nil
      }
    def refBpe(words: Seq[(String, Long)],
               merges: Int): Seq[(Int, String, String, String, Long)] = {
      var state = words.map { case (w, f) => (w.map(_.toString).toList, f) }
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      var step = 1
      var done = false
      while (step <= merges && !done) {
        val counts = state.flatMap { case (ps, f) =>
          ps.zip(ps.tail).map(p => (p, f))
        }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
          out += ((step, l, r, l + r, n))
          state = state.map { case (ps, f) => (mergeList(ps, l, r), f) }
          step += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      // small alphabet → dense pair collisions and frequent ties
      val vocab = (1 to (5 + rnd.nextInt(10))).map { _ =>
        val len = 2 + rnd.nextInt(4)
        (1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct
      val freqs = vocab.map(w => (w, 1L + rnd.nextInt(5)))
      val text = freqs.flatMap { case (w, f) =>
        Seq.fill(f.toInt)(w)
      }.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val got = TextOps.bpeTrain(docs, merges = 6)
        .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
      val want = refBpe(freqs, merges = 6)
      assert(got == want, s"trial $trial diverged: corpus $freqs")
    }
    // a merge count past the 64-round re-leaf boundary: wide alphabet
    // sustains 70 merges, the periodic checkpoint must not change them
    val wide = (1 to 150).map { _ =>
      (1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct.map(w => (w, 1L + rnd.nextInt(4)))
    val wdocs = Seq((1L, wide.flatMap { case (w, f) =>
      Seq.fill(f.toInt)(w) }.mkString(" "))).toDF("doc_id", "text")
    val got70 = TextOps.bpeTrain(wdocs, merges = 70)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got70 == refBpe(wide, merges = 70), "70-merge run diverged")
    assert(got70.size == 70)
  }

  test("probe training equals an independent in-memory GD on random docs") {
    import graft.functions.Portable.{h60Scala, wordsScala}
    val buckets = 16
    val iters = 3
    val lrShift = 8
    val scale = 1L << 20
    def refTrain(docs: Seq[(String, String)]): Seq[Long] = {
      val feats = docs.map { case (text, lang) =>
        val ws = wordsScala(text)
        val js = 0 +: ws.zip(ws.tail).map { case (a, b) =>
          (math.floorMod(h60Scala(s"$a $b"), buckets.toLong) + 1).toInt
        }.toSeq
        (if (lang == "en") 1L else 0L, js)
      }
      val n = feats.size.toLong
      val divisor = n * (1L << (lrShift - 1))
      val w = Array.fill(buckets + 1)(0L)
      for (_ <- 1 to iters) {
        val grads = Array.fill(buckets + 1)(BigInt(0))
        feats.foreach { case (y, js) =>
          val err = js.map(j => w(j)).sum - y * scale
          js.foreach(j => grads(j) += err)
        }
        for (j <- 0 to buckets)
          w(j) -= (grads(j) / divisor).toLong
      }
      w.toSeq
    }
    val rnd = new scala.util.Random(7)
    val langs = Seq("en", "de", "zh")
    val wordsPool = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta")
    val docs = (1 to 30).map { i =>
      val text = (1 to 3 + rnd.nextInt(8))
        .map(_ => wordsPool(rnd.nextInt(wordsPool.size))).mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)))
    }
    val df = docs.toDF("doc_id", "text", "lang")
    val got = TextOps.probeTrain(df, buckets = buckets, iters = iters,
        lrShift = lrShift)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    val want = refTrain(docs.map(d => (d._2, d._3)))
    assert(got == want)
  }

  test("probeTrain counts a null-text doc by its bias row, as the oracle does") {
    // the q102/q110 oracle's feature list for a null text is
    // list_concat([0], NULL) = [0]: the doc keeps its bias occurrence
    // and counts in the divisor — exactly what an empty text gives
    val docs = Seq[(Long, Option[String], String)](
      (1L, Some("alpha beta gamma delta"), "en"),
      (2L, Some("beta gamma alpha"), "en"),
      (3L, Some("eta theta zeta eta"), "de"),
      (4L, None, "en"),
      (5L, Some("gamma delta eps"), "zh"))
    def train(rows: Seq[(Long, Option[String], String)]): Seq[Long] =
      TextOps.probeTrain(rows.toDF("doc_id", "text", "lang"), buckets = 8,
          iters = 3)
        .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    val withNull = train(docs)
    val withEmpty = train(docs.map { case (id, t, l) =>
      (id, t.orElse(Some("")), l) })
    assert(withNull == withEmpty,
      s"null text dropped from the divisor: $withNull vs $withEmpty")
  }

  test("probeTrain labels a null-lang doc 0, as the oracle does") {
    // the q102/q110 oracle labels `CASE WHEN lang = … ELSE 0`: a null
    // lang is a negative example, exactly like any other lang
    val docs = Seq[(Long, String, Option[String])](
      (1L, "alpha beta gamma delta", Some("en")),
      (2L, "beta gamma alpha", Some("en")),
      (3L, "eta theta zeta eta", None),
      (4L, "gamma delta eps", Some("de")))
    def train(rows: Seq[(Long, String, Option[String])]): Seq[Long] =
      TextOps.probeTrain(rows.toDF("doc_id", "text", "lang"), buckets = 8,
          iters = 3)
        .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    val withNull = train(docs)
    val withZz = train(docs.map { case (id, t, l) => (id, t, l.orElse(Some("zz"))) })
    assert(withNull == withZz,
      s"null lang is not labelled 0: $withNull vs $withZz")
  }

  test("BPE encode: shuffled vocab-join fallback returns identical counts") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaB = TextOps.bpeEncode(docs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val viaS = TextOps.bpeEncode(pastGate(docs))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaB == viaS, "gate fallback must not change the encoding")
    assert(viaB.nonEmpty && viaB.forall { case (_, w, t) => t >= 1 && w >= 1 })
  }

  test("probe training: gradient steps reduce SSE, deterministic weights") {
    val en = (0 until 20).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog", "en"))
    val xx = (0 until 20).map(i =>
      (100L + i, "zhe kuai zong se hu li tiao guo lan gou", "zh"))
    val docs = (en ++ xx).toDF("doc_id", "text", "lang")
    val w0 = TextOps.probeTrain(docs, iters = 0)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(w0.forall(_ == 0L))
    val w4 = TextOps.probeTrain(docs, iters = 4)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    val w4b = TextOps.probeTrain(docs, iters = 4)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(w4.toSeq == w4b.toSeq, "training must be deterministic")
    assert(w4.exists(_ != 0L), "training must move the weights")
    val sse0 = TextOps.probeSse(docs, w0.toSeq)
    val sse4 = TextOps.probeSse(docs, w4.toSeq)
    assert(sse4 < sse0, s"SSE must decrease: $sse0 -> $sse4")
  }

  test("incremental admission: exact, vs-reference, and in-batch rejections") {
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val ref = Seq(
      doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "totally different reference content here"),
      doc(3, "x y z x y z")
    ).toDF(cols: _*)
    // "x y z x y z x" has the SAME shingle set as "x y z x y z"
    // ({xyz, yzx, zxy}) but different content md5 → identical MinHash
    // signature, so every band collides: a deterministic T2/T3 case
    val batch = Seq(
      doc(108, "alpha beta gamma delta epsilon"), // T1: exact dup of ref 1
      doc(110, "new unique document about spark engines"), // admit
      doc(111, "new unique document about spark engines"), // T1: in-batch dup of 110
      doc(113, "x y z x y z x"),  // T2: near-dup of ref 3
      doc(114, "p q r p q r"),    // admit (first of the in-batch pair)
      doc(115, "p q r p q r p"),  // T3: near-dup of batch 114
      doc(116, "ab cd")           // admit: < 3 words → no bands at all
    ).toDF(cols: _*)
    val admitted = Dedup.incrementalAdmit(ref, batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted == Seq(110L, 114L, 116L))
  }

  test("incremental admission equals a driver-side T1/T2/T3 reference on random corpora") {
    import graft.functions.Portable.wordsScala
    val k = 16
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    // per-row signature and band keys, straight from the definition
    def bandsOf(text: String): Seq[(Int, String)] =
      Option(text).map(wordsScala).filter(_.length >= 3).toSeq.flatMap { w =>
        val hs = w.sliding(3).map(s => graft.functions.Portable.h32Scala(s.mkString(" "))).toSeq
        val sig = (0 until k).map(i =>
          hs.map(h => (Dedup.coefA(i) * h + Dedup.coefB(i)) % Dedup.P).min)
        (0 until 4).map(b => (b, sig.slice(4 * b, 4 * b + 4).mkString("|")))
      }
    def expected(ref: Seq[(Long, String)], batch: Seq[(Long, String)],
                 maxBucket: Int): Seq[Long] = {
      def content(t: String) = Option(t).map(x => md5hex(wordsScala(x).mkString(" ")))
      val refMd5 = ref.flatMap(d => content(d._2)).toSet
      // T1: min batch holder of a content md5 the reference lacks (a
      // null md5 never matches, so its min holder passes)
      val t1 = batch.groupBy(d => content(d._2)).collect {
        case (m, ds) if m.forall(x => !refMd5(x)) => ds.map(_._1).min }.toSet
      // T2: any band shared with 1..maxBucket reference docs
      val refBand = ref.flatMap(d => bandsOf(d._2)).groupBy(identity)
        .map { case (key, xs) => key -> xs.size }
      val t12 = t1.filterNot(id => bandsOf(batch.find(_._1 == id).get._2)
        .exists(key => refBand.get(key).exists(_ <= maxBucket)))
      // T3: in a 2..maxBucket bucket of survivors, only the min stays
      val rejected = batch.filter(d => t12(d._1))
        .flatMap(d => bandsOf(d._2).map(_ -> d._1)).groupBy(_._1).values
        .map(_.map(_._2).distinct.sorted)
        .filter(ids => ids.size >= 2 && ids.size <= maxBucket)
        .flatMap(_.tail).toSet
      (t12 -- rejected).toSeq.sorted
    }
    val vocab = Seq("a", "b", "c", "d", "e", "f")
    for (seed <- 1 to 4) {
      val r = new scala.util.Random(seed)
      def words(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
      def text(): String = r.nextInt(10) match {
        case 0 => null
        case 1 => words(r.nextInt(3))             // < 3 words, or ""
        case 2 => "  X y   Z x  y z "               // one shingle set, many spellings
        case _ => words(3 + r.nextInt(4))
      }
      // 6 identical reference docs make a stop-band at maxBucket 4;
      // batch docs reuse reference texts (shared md5) and each other's
      val stop = "p q r p q r"
      val ref = (1L to 30L).map(i => i -> (if (i <= 6) stop else text()))
      val batchTexts = Seq(stop + " p", ref(10)._2, ref(11)._2) ++ Seq.fill(27)(text())
      val batch = batchTexts.zipWithIndex.map { case (t, i) =>
        (1000L + i) -> (if (i > 5 && r.nextInt(5) == 0) batchTexts(r.nextInt(i)) else t) }
      def df(ds: Seq[(Long, String)]) = ds.map { case (id, t) => (id, Option(t)) }
        .toDF("doc_id", "text")
      for (maxBucket <- Seq(4, 100)) {
        val got = Dedup.incrementalAdmit(df(ref), df(batch), maxBucket = maxBucket)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(got == expected(ref, batch, maxBucket),
          s"seed $seed maxBucket $maxBucket:\nref=$ref\nbatch=$batch")
      }
    }
  }

  test("q73 admits a null-text batch doc next to a null-text reference doc") {
    // q73's split: doc_id % 10 < 8 is reference, the rest is the batch.
    // Hand-derived: 8 and 18 share the null md5 and 8 is its min batch
    // holder; 9 is ref 1's text respelled (T1 reject); 19 is new text
    // with no shingle in common with the reference. A null reference
    // md5 matches nothing.
    val texts = Map(0L -> null, 1L -> "the quick brown fox jumps",
      2L -> "alpha beta gamma delta epsilon", 3L -> null,
      8L -> null, 18L -> null, 9L -> "The  quick BROWN fox jumps ",
      19L -> "zeta eta theta iota kappa lambda")
    val dir = java.nio.file.Files.createTempDirectory("graft_q73_null")
    try {
      texts.toSeq.map { case (id, t) => (id, Option(t), "en", "web",
          Option(t).fold(0L)(_.length.toLong)) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir.resolve("documents.parquet").toString)
      val got = Dedup.queries("q73_incremental_dedup")(spark, dir.toString)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == Seq(8L, 19L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("minhash signature equals the explode + hash32 + min composite") {
    // the per-row kernel against the per-doc aggregate it replaced
    val docs = Tables.documents(spark, sf)
    val mins = (0 until 16).map(i => min(pmod(lit(Dedup.coefA(i)) * col("h") +
      lit(Dedup.coefB(i)), lit(Dedup.P))))
    val composite = docs
      .select(col("doc_id"), explode(graft.functions.Portable.shingles(
        graft.functions.Portable.words(col("text")), 3)).as("s"))
      .select(col("doc_id"), graft.functions.Portable.hash32(col("s")).as("h"))
      .groupBy("doc_id").agg(array(mins: _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val kernel = Dedup.minhashSignature(docs, 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel.nonEmpty && kernel == composite)
  }

  test("span dedup keeps first occurrences and reassembles survivors") {
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val docs = Seq(
      doc(1, "a b c d e f"),     // both spans first → all kept
      doc(2, "a b c x y z"),     // "a b c" already owned by doc 1
      doc(3, "d e f a b c g"),   // two stolen spans + unique tail "g"
      doc(4, "a b c d e f"),     // exact dup of doc 1 → nothing left
      doc(5, "q q q q q q")      // self-repetition: 2nd span dups the 1st
    ).toDF(cols: _*)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val out = Dedup.spanDedup(docs, window = 3)
      .select("doc_id", "n_windows", "n_kept", "clean_md5")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 2, 2, md5hex("a b c d e f")),
      (2L, 2, 1, md5hex("x y z")),
      (3L, 3, 1, md5hex("g")),
      (4L, 2, 0, md5hex("")),
      (5L, 2, 1, md5hex("q q q"))))
  }

  test("bigram surprisal: exact integer bits on a hand-computed corpus") {
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // reference: unigrams a:3 b:2 (T=5, V=2); bigrams "a b":2 "b a":1;
    // context heads a:2 b:1
    val ref = Seq(doc(1, "a b a"), doc(2, "a b")).toDF(cols: _*)
    val scored = Seq(doc(11, "a b c"), doc(12, "z z")).toDF(cols: _*)
    val out = TextOps.bigramSurprisal(ref, scored)
      .select("doc_id", "n_tokens", "bits", "bits_per_token")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // s11: first a → lg7-lg4=0; "a b" → lg(2+2)-lg(2+1)=1; "b c" →
    //      lg(1+2)-lg(0+1)=1  ⇒ 2 bits / 3 tokens
    // s12: first z → lg7-lg1=2; "z z" → lg(0+2)-lg(0+1)=1 ⇒ 3 bits / 2
    assert(out == Seq((11L, 3L, 2L, 2.0 / 3), (12L, 2L, 3L, 1.5)))
  }

  test("bloom probe has no false negatives and a sane false-positive rate") {
    import graft.functions.{Aggregators, Bloom}
    val (numBits, numHashes) = (1 << 12, 5)
    val keys = (1L to 300L).map(i => graft.functions.Portable.h60Scala(s"k$i"))
    val other = (1L to 300L).map(i => graft.functions.Portable.h60Scala(s"x$i"))
    val bloom = keys.toDF("h")
      .agg(Aggregators.bloomAgg(numBits, numHashes)(col("h")).as("bloom"))
    val probe = (hs: Seq[Long]) => hs.toDF("h")
      .crossJoin(bloom)
      .filter(Bloom.mightContain(col("bloom"), col("h"), numBits, numHashes))
      .count()
    assert(probe(keys) == 300, "a bloom filter may never miss an inserted key")
    val fp = probe(other)
    assert(fp < 60, s"false-positive rate out of control: $fp/300")
  }

  test("bloom admission equals plain exact admission on every path") {
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val ref = (1L to 60L).map(i => doc(i, s"reference document number $i"))
      .toDF(cols: _*)
    val batch = (
      Seq(doc(101, "reference document number 7"),   // dup of ref 7
          doc(102, "Reference  DOCUMENT number 9"),  // dup after norm
          doc(103, "fresh content alpha"),
          doc(104, "fresh content alpha"),           // in-batch dup of 103
          doc(105, "fresh content beta"))).toDF(cols: _*)
    val want = Seq(103L, 105L)
    // saturated bloom (64 bits, 60 keys): nearly every probe is a
    // false positive — the md5 confirmation must still be exact
    for ((path, b) <- Seq("broadcast" -> batch, "shuffled" -> pastGate(batch))) {
      val tight = Dedup.bloomAdmit(ref, b, buckets = 1,
        bitsPerKey = 1, numHashes = 2, expectedRefKeys = 64)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(tight == want, s"saturated bloom, $path path")
    }
    val roomy = Dedup.bloomAdmit(ref, batch, expectedRefKeys = 1024)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(roomy == want)
    // empty reference: every probe short-circuits on the missing
    // bucket; only the in-batch first-holder rule applies
    val emptyRef = Dedup.bloomAdmit(ref.limit(0), batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(emptyRef == Seq(101L, 102L, 103L, 105L))
  }

  test("weighted sample matches an independent driver-side A-ES computation") {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val docs = (1L to 120L)
      .map(i => (i, s"doc $i", "en", s"src${i % 3}", (i * 37 % 900) + 1))
      .toDF(cols: _*)
    def pri(id: Long, w: Long): Double = {
      val u = (graft.functions.Portable.h60Scala(s"sample79|$id") + 1)
        .toDouble / 1152921504606846976.0d
      -math.log(u) / math.max(w, 1L).toDouble
    }
    val want = (1L to 120L)
      .map(i => (s"src${i % 3}", i, (i * 37 % 900) + 1))
      .groupBy(_._1)
      .flatMap { case (src, ds) =>
        ds.sortBy(d => (pri(d._2, d._3), d._2)).take(5).zipWithIndex
          .map { case ((_, id, nc), r) => (src, r + 1, id, nc) }
      }.toSeq.sorted
    val got = TextOps.weightedSample(docs, k = 5)
      .as[(String, Int, Long, Long)].collect()
      .map { case (src, r, id, nc) => (src, r, id, nc) }.toSeq.sorted
    assert(got == want)
  }

  test("PQ encode: codes come from seeds, Lloyd refinement shrinks the error") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seeds = emb.filter("vec_id % 127 = 0")
      .select("vec_id").as[Long].collect().toSet
    val enc1 = Similarity.pqEncode(emb, iters = 1)
      .select("vec_id", "code_0", "code_3", "err")
      .as[(Long, Long, Long, Double)].collect()
    assert(enc1.length == emb.count())
    assert(enc1.forall { case (_, c0, c3, e) =>
      seeds.contains(c0) && seeds.contains(c3) && e >= 0.0 })
    val err0 = Similarity.pqEncode(emb, iters = 0)
      .agg(sum(col("err"))).as[Double].head()
    val err1 = enc1.map(_._4).sum
    assert(err1 <= err0,
      s"one Lloyd round must not increase total quantization error: $err1 > $err0")
  }

  test("semantic prune keeps the lowest id per near-dup and skips capped clusters") {
    // seeds (centroidMod=3): v0=(1,0) and v3=(0,1); v1≈v4 in cluster 0,
    // v2≈v5 in cluster 3, cross-pair cosines all below 0.999
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.9, 0.1), 2L -> Seq(0.1, 0.9),
      3L -> Seq(0.0, 1.0), 4L -> Seq(0.89, 0.11), 5L -> Seq(0.1, 0.91))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.semanticPrune(df, centroidMod = 3,
        threshold = 0.999, maxCluster = 10)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 0L), (1L, 0L), (2L, 3L), (3L, 3L)),
      s"got $got") // 4 drops against 1, 5 drops against 2
    // clusters above the cap are skipped — conservative, keeps all
    val capped = Similarity.semanticPrune(df, centroidMod = 3,
        threshold = 0.999, maxCluster = 2)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(capped.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L), s"got $capped")
  }

  test("diverse sample caps every cluster and keeps the smallest-priority ids") {
    // centroidMod=3 seeds v0=(1,0) and v3=(0,1) (16/17 dodge the
    // mod): ids 1,4,16,17 cluster with v0; 2,5,8 with v3
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.9, 0.1), 2L -> Seq(0.1, 0.9),
      3L -> Seq(0.0, 1.0), 4L -> Seq(0.89, 0.11), 5L -> Seq(0.1, 0.91),
      16L -> Seq(0.95, 0.05), 17L -> Seq(0.88, 0.12), 8L -> Seq(0.2, 0.8))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.diverseSample(df, centroidMod = 3, cap = 2)
      .as[(Long, Long)].collect().toSeq.sorted
    // driver twin of the seeded priority (Portable.hash32 spelling)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    val clusters = Map(0L -> Seq(0L, 1L, 4L, 16L, 17L), 3L -> Seq(2L, 3L, 5L, 8L))
    val want = clusters.toSeq.flatMap { case (c, ids) =>
      ids.sortBy(id => (h32(s"div|$id"), id)).take(2).map(id => (id, c))
    }.sorted
    assert(got == want, s"got $got want $want")
    // every cluster respects the cap
    assert(got.groupBy(_._2).values.forall(_.size <= 2))
  }

  test("semantic decon flags only above-threshold vectors with the argmax bench id") {
    // bench set = label 9: b10 = e1, b11 = e2. a1 aligns with b10
    // (cos 1), a2 sits between (cos .7071 to both -> tie, lowest
    // bench id wins), a3 is orthogonal to b10 and anti to b11.
    val rows: Seq[(Long, Seq[Double], Int)] = Seq(
      (10L, Seq(1.0, 0.0), 9), (11L, Seq(0.0, 1.0), 9),
      (1L, Seq(2.0, 0.0), 0), (2L, Seq(1.0, 1.0), 1),
      (3L, Seq(1e-9, -1.0), 2))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDecon(df, benchLabel = 9, threshold = 0.7)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 10L), (2L, 10L)), s"got $got")
    assert(got.head._3 == 1.0)
    // pure map: no exchange of any kind in the scan-side plan
    val plan = Similarity.semanticDecon(df, benchLabel = 9, threshold = 0.7)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), plan)
  }

  test("cluster quality matches an independent driver-side computation") {
    // same centroidMod=3 fixture as the semantic-prune test: centroids
    // v0=(1,0) and v3=(0,1); members {0,1,4} and {2,3,5}
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.9, 0.1), 2L -> Seq(0.1, 0.9),
      3L -> Seq(0.0, 1.0), 4L -> Seq(0.89, 0.11), 5L -> Seq(0.1, 0.91))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.clusterQuality(df, centroidMod = 3)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    // independent recomputation: same sequential double folds
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val cents = Seq(0L -> vecs(0)._2, 3L -> vecs(3)._2)
    val per = vecs.map { case (_, v) =>
      val sims = cents.map { case (_, c) =>
        dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c))) }
      val cid = cents(sims.indexOf(sims.max))._1
      val sorted = sims.sorted
      val a = 1.0 - sorted.last; val b = 1.0 - sorted(sorted.size - 2)
      (cid, a, if (b == 0.0) 0.0 else (b - a) / b)
    }
    val want = per.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, xs) =>
      (cid, xs.size.toLong, xs.map(_._3).sum / xs.size,
        xs.map(_._2).sum / xs.size)
    }
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)),
      s"got $got want $want")
    got.zip(want).foreach { case (g, w) =>
      // means ride DECIMAL(18,9) sums: per-term rounding ≤ 5e-10
      assert(math.abs(g._3 - w._3) < 2e-9, s"silhouette ${g._1}")
      assert(math.abs(g._4 - w._4) < 2e-9, s"cohesion ${g._1}")
    }
    // centroid v0 members are tight (a≈0), far from v3 → silhouette ≈ 1
    assert(got.forall(_._3 > 0.9), s"fixture clusters are clean: $got")
    // scale shape: assignment is a pure map over literal centroids —
    // ONE exchange (the |C|-keyed agg), no Join of any kind
    val plan = Similarity.clusterQuality(df, centroidMod = 3)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("distinctive tokens (PMI) match hand-computed integer bit costs") {
    // corpus: T=24; source a: aa×6 zz×5 (T_a=11), b: bb×8 zz×5 (T_b=13)
    // pmi(a,aa) = ⌊lg 6⌋+⌊lg 24⌋−⌊lg 6⌋−⌊lg 11⌋ = 2+4−2−3 = 1
    // pmi(a,zz) = 2+4−⌊lg 10⌋−3 = 0; pmi(b,bb) = 3+4−3−3 = 1
    val docs = Seq(
      (1L, ("aa " * 6).trim, "a"), (2L, ("zz " * 5).trim, "a"),
      (3L, ("bb " * 8).trim, "b"), (4L, ("zz " * 5).trim, "b"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.distinctiveTokens(docs, k = 10, minCount = 5)
      .as[(String, Int, String, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("a", 1, "aa", 6L, 1L), ("a", 2, "zz", 5L, 0L),
      ("b", 1, "bb", 8L, 1L), ("b", 2, "zz", 5L, 0L)), s"got $got")
    // minCount filters before the marginals join, not after
    val rare = TextOps.distinctiveTokens(docs, k = 10, minCount = 6)
      .select("word").as[String].collect().toSet
    assert(rare == Set("aa", "bb"), s"got $rare")
    // scale shape: bounded by-key aggregator, never a rank window
    val plan = TextOps.distinctiveTokens(docs)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("DSIR selection matches an independent driver-side computation") {
    import graft.functions.Portable.{h60Scala, wordsScala}
    def doc(id: Long, src: String, text: String) =
      (id, text, "en", src, text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val fixture = Seq(
      doc(1, "t", "the quick brown fox jumps"),
      doc(2, "t", "the quick red fox sleeps"),
      doc(3, "w", "the quick brown fox runs"),   // target-like
      doc(4, "w", "stock ticker spam spam spam"), // not target-like
      doc(5, "w", "the quick"),                  // one bigram
      doc(6, "w", "x"))                          // no bigram → absent
    val docs = fixture.toDF(cols: _*)
    val got = TextOps.dsirSelect(docs, targetSource = "t", buckets = 64,
        topN = 3)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    // independent recomputation with plain Scala
    def flog2(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val B = 64
    val feats = fixture.map { case (id, text, _, src, _) =>
      val ws = wordsScala(text)
      (id, src, ws.sliding(2).filter(_.length == 2)
        .map(p => math.floorMod(h60Scala(p.mkString(" ")), B)).toSeq)
    }.filter(_._3.nonEmpty)
    val cr = feats.flatMap(_._3).groupBy(identity).map { case (b, xs) =>
      b -> xs.size.toLong }
    val ct = feats.filter(_._2 == "t").flatMap(_._3).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val tr = cr.values.sum; val tt = ct.values.sum
    val c0 = flog2(tr + B) - flog2(tt + B)
    val want = feats.map { case (id, _, bs) =>
      (id, bs.size.toLong, bs.map(b =>
        flog2(ct.getOrElse(b, 0L) + 1) - flog2(cr(b) + 1) + c0).sum)
    }.sortBy(p => (-p._3, p._1)).take(3)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == want,
      s"got ${got.toSeq} want $want")
    // the gated model join: fallback shuffled path = broadcast path
    val fb = TextOps.dsirSelect(pastGate(docs), targetSource = "t",
      buckets = 64, topN = 3)
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(fb.toSeq == got.toSeq)
  }

  test("PQ ADC search matches an independent driver-side computation") {
    // 6 vectors, dims=4, m=2 subspaces, seeds = ids % 3 == 0 (0 and 3)
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 2.0, 0.5, 1.5),
      1L -> Seq(1.1, 2.1, 3.0, 0.2),
      2L -> Seq(5.0, 1.0, 2.2, 2.0),
      3L -> Seq(4.8, 0.9, 0.4, 1.4),
      4L -> Seq(0.9, 1.9, 2.9, 0.3),
      5L -> Seq(5.2, 1.2, 2.3, 2.1))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqSearch(df, nQueries = 2, k = 3, m = 2,
        centroidMod = 3)
      .select("query_id", "neighbor_id", "adist", "rn")
      .as[(Long, Long, Double, Int)].collect()
    // independent re-derivation with plain loops and naive means
    val (m, sub) = (2, 2)
    val byId = vecs.toMap
    def sv(v: Seq[Double], s: Int) = v.slice(s * sub, s * sub + sub)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
    val seeds = vecs.filter(_._1 % 3 == 0)
    val books = (0 until m).map { s =>
      vecs.groupBy { case (_, v) =>
          seeds.minBy(c => (d2(sv(v, s), sv(c._2, s)), c._1))._1 }
        .map { case (cid, members) =>
          cid -> members.map(mm => sv(mm._2, s)).transpose
            .map(xs => xs.sum / xs.size) }
    }
    def cent(v: Seq[Double], s: Int): Seq[Double] =
      books(s).minBy { case (cid, ce) => (d2(sv(v, s), ce), cid) }._2
    for (q <- Seq(0L, 1L)) {
      val qv = byId(q)
      val want = vecs.filter(_._1 != q).map { case (id, v) =>
        (id, (0 until m).map(s => d2(sv(qv, s), cent(v, s))).sum) }
        .sortBy(p => (p._2, p._1)).take(3)
      val rows = got.filter(_._1 == q).sortBy(_._4)
      assert(rows.map(_._2).toSeq == want.map(_._1),
        s"query $q neighbors: got ${rows.toSeq} want $want")
      rows.zip(want).foreach { case (r, (_, ad)) =>
        assert(math.abs(r._3 - ad) < 1e-9, s"adist ${r._3} vs $ad") }
    }
  }

  test("span attribution picks the strongest donor with id ties and span caps") {
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val docs = Seq(
      doc(1, "a b c d e f g h i"),
      doc(2, "a b c d e f x y z"), // shares [a b c][d e f] with 1
      doc(3, "g h i q r s"),       // shares [g h i] with 1
      doc(4, "x y z"),             // shares [x y z] with 2
      doc(5, "u v w"),             // shares nothing → absent
      doc(6, "a b c")              // one span, tied donors 1 and 2
    ).toDF(cols: _*)
    def run(cap: Int) = Dedup.spanAttribution(docs, window = 3, maxBucket = cap)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(100) == Seq(
      (1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 1L), (4L, 2L, 1L),
      (6L, 1L, 1L))) // tie n=1 vs donors {1, 2} → smallest id
    // cap=2 turns [a b c] (3 docs) into a stop-span: doc 6 drops out,
    // doc 1's donors tie at n=1 → smallest id 2
    assert(run(2) == Seq(
      (1L, 2L, 1L), (2L, 1L, 1L), (3L, 1L, 1L), (4L, 2L, 1L)))
  }

  test("AVI round trip: real container demux + exact DIB frame decode") {
    // golden: payloads are REAL AVI files (RIFF tree + raw BI_RGB
    // frames) of the vidPx raster — demux + decode must recover the
    // exact geometry, the sampled frame indices, and the exact
    // per-channel means (raw DIB is lossless)
    val docs = Tables.documents(spark, sf).limit(30)
    val frames = Multimodal.sampleVideoFrames(
      Multimodal.videoTable(docs), everyN = 2).collect()
    val byId = frames.groupBy(_.media_id)
    assert(byId.size == 30)
    for ((id, fs) <- byId) {
      val (w, h, nf) = ((id % 11 + 4).toInt, (id % 7 + 4).toInt,
        (id % 4 + 2).toInt)
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until nf by 2),
        s"video $id: wrong sampled frame set")
      for (f <- fs) {
        assert(f.width == w && f.height == h)
        var (sr, sg, sb) = (0L, 0L, 0L)
        for (y <- 0 until h; x <- 0 until w) {
          sr += math.floorMod(x * 7L + y * 3L + id + f.frame_idx * 31L, 256)
          sg += math.floorMod(x * 5L + y * 11L + 2 * id + f.frame_idx * 17L, 256)
          sb += math.floorMod(x * 13L + y * 17L + 3 * id + f.frame_idx * 7L, 256)
        }
        val n = w.toLong * h
        assert(f.mean_r == sr.toDouble / n && f.mean_g == sg.toDouble / n &&
          f.mean_b == sb.toDouble / n, s"video $id frame ${f.frame_idx} " +
          "channel means diverge")
      }
    }
  }

  test("AVI MJPEG frames decode through the JDK JPEG codec") {
    // MJPEG chunks are complete JPEGs (lossy): assert geometry, frame
    // count, even-alignment survival (JPEG byte lengths are often
    // odd), and channel means within JPEG quantization tolerance
    val (w, h) = (32, 24)
    def raster(f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.floorMod(x * 3 + y * 5 + f * 40, 200) + 28
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def jpegBytes(f: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(raster(f), "jpg", bos)
      bos.toByteArray
    }
    val avi = Multimodal.aviBytes((0 until 5).map(jpegBytes), w, h,
      fps = 25, mjpeg = true)
    val media = Seq(Multimodal.MediaRecord(7L, "video", w, h, avi)).toDS()
    val got = Multimodal.sampleVideoFrames(media, everyN = 1).collect()
      .sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == (0 until 5))
    for (f <- got) {
      assert(f.width == w && f.height == h)
      // expected mean from the pre-encode raster
      val img = raster(f.frame_idx)
      var s = 0L
      for (y <- 0 until h; x <- 0 until w) s += (img.getRGB(x, y) >> 16) & 0xff
      val expect = s.toDouble / (w * h)
      for (m <- Seq(f.mean_r, f.mean_g, f.mean_b))
        assert(math.abs(m - expect) < 4.0,
          s"frame ${f.frame_idx}: mean $m vs raster $expect")
    }
  }

  test("WAV round trip: PCM16 demux + exact feature decode, JDK-reader cross-check") {
    val docs = Tables.documents(spark, sf).limit(25)
    val media = Multimodal.audioTable(docs)
    val feats = Multimodal.extractAudioFeatures(media).collect()
    assert(feats.length == 25)
    for (f <- feats) {
      val id = f.media_id
      val n = (id % 600 + 100).toInt
      val rate = (8000 + (id % 3) * 4000).toInt
      assert(f.n_samples == n && f.sample_rate == rate)
      // golden: recompute every feature straight from the waveform
      val smp = Array.tabulate(n)(t =>
        (math.floorMod(t * (id % 7 + 2) + id, 2048) - 1024).toInt)
      assert(f.mean_abs == smp.map(s => math.abs(s).toLong).sum.toDouble / n)
      assert(f.peak == smp.map(s => math.abs(s).toLong).max)
      assert(f.zero_cross == (1 until n).count(i =>
        (smp(i) >= 0) != (smp(i - 1) >= 0)))
      assert(f.duration_s == n.toDouble / rate)
    }
    // cross-validation: the JDK's own WAV reader must agree with our
    // writer on format and frame count
    for (r <- media.collect().take(5)) {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      val fmt = in.getFormat
      assert(fmt.getSampleRate.toInt == (8000 + (r.media_id % 3) * 4000).toInt)
      assert(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1)
      assert(in.getFrameLength == r.media_id % 600 + 100)
    }
  }

  test("unigram surprisal: quantized bits match a hand-computed corpus") {
    // corpus: a a b | c → counts a=2, b=1, c=1; total=4
    // flog2 = length(bin(x)) - 1: flog2(4)=2, flog2(2)=1, flog2(1)=0
    // doc 1: a(×2): 2·(2−1)=2, b: 2−0=2 → bits=4, n=3
    // doc 2: c: 2 → bits=2, n=1
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(docs)
      .select("doc_id", "n_tokens", "bits", "bits_per_token")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 4L, 4.0 / 3)))
    assert(got(2L) == ((1L, 2L, 2.0)))
    // broadcast and shuffled-join paths agree on real data
    val real = Tables.documents(spark, sf)
    val b = TextOps.unigramSurprisal(real)
      .as[(Long, Long, Long, Double)].collect().toSet
    val s = TextOps.unigramSurprisal(pastGate(real))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(b.nonEmpty && b == s)
  }

  test("containment pairs catch subset inclusion that jaccard misses") {
    val a = "alpha beta gamma delta"
    val b = s"$a epsilon zeta eta theta"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    // A's 2 shingles ⊂ B's 6 → containment 1.0
    val got = Dedup.containmentPairs(docs, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // word-set jaccard of the same pair is 4/8 — below any dedup
    // threshold; the asymmetric signal is what catches the quote
    assert(Dedup.ngramJaccardPairs(docs, threshold = 0.8).isEmpty)
    // broadcast and shuffled lookup paths agree on real data
    val real = Tables.documents(spark, sf)
    val bc = Dedup.containmentPairs(real)
      .as[(Long, Long, Double)].collect().toSet
    val sh = Dedup.containmentPairs(pastGate(real))
      .as[(Long, Long, Double)].collect().toSet
    assert(bc.nonEmpty && bc == sh)
  }

  test("hybrid RRF fuses the bm25 and dense rankings with 1/(60+r) weights") {
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    val terms = Seq("spark", "query", "fast")
    val fused = Similarity.hybridRrf(docs, embs, terms)
      .select("doc_id", "rn_lex", "rn_dense", "rrf", "rn")
      .as[(Long, Int, Int, Double, Int)].collect()
    assert(fused.nonEmpty && fused.length <= 40)
    // every row came from at least one list, ranks bounded by topN
    assert(fused.forall { case (_, l, d, _, _) =>
      (l > 0 || d > 0) && l <= 20 && d <= 20 })
    // the score IS the two-term reciprocal sum
    fused.foreach { case (id, l, d, rrf, _) =>
      val want = (if (l > 0) 1.0 / (60 + l) else 0.0) +
        (if (d > 0) 1.0 / (60 + d) else 0.0)
      assert(rrf == want, s"doc $id")
    }
    // final rank is dense 1..n and ordered by (rrf desc, doc_id asc)
    val byRn = fused.sortBy(_._5)
    assert(byRn.map(_._5).toSeq == (1 to fused.length))
    assert(byRn.map(r => (-r._4, r._1)).toSeq ==
      byRn.map(r => (-r._4, r._1)).sorted.toSeq)
    // both constituent rankings survive into the fusion
    val lex = TextOps.bm25(docs, terms).as[(Long, Double, Int)].collect()
    val lexRanks = fused.collect { case (id, l, _, _, _) if l > 0 => id -> l }
    assert(lexRanks.toMap == lex.map(r => r._1 -> r._3).toMap)
  }

  test("embedding stats: exact quantized mean/variance per dimension") {
    // dim 1 values: 1.0, 3.0 → mean 2, var 1; dim 2: 0.5, 0.5 → var 0
    val embs = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(3.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingStats(embs)
      .select("dim", "n", "dim_mean", "dim_var")
      .as[(Int, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1) == ((2L, 2.0, 1.0)))
    assert(got(2) == ((2L, 0.5, 0.0)))
    // real data: one row per dim, population variance non-negative
    val real = Similarity.embeddingStats(Tables.embeddings(spark, sf))
      .as[(Int, Long, Double, Double)].collect()
    assert(real.length == 64)
    assert(real.forall(_._4 >= 0.0))
    // no corpus-scale shuffle: the only exchange is the single-row
    // global aggregate (no hashpartitioning at any size)
    val plan = Similarity.embeddingStats(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus-scale exchange crept in:\n$plan")
    // the |v| < 2^11 quantization bound is enforced, not documented:
    // an out-of-range component fails loudly instead of silently
    // wrapping q*q into a corrupted dim_var
    val big = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(5000.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.embeddingStats(big).collect()
    }
    assert(e.getMessage.contains("overflow") ||
      Option(e.getCause).exists(_.getMessage.contains("overflow")),
      s"wrong failure: ${e.getMessage}")
  }

  test("contrastive mining picks the in-bucket best positive and hard negative") {
    val embs = Tables.embeddings(spark, sf)
    val got = Similarity.contrastivePairs(embs)
      .select("vec_id", "pos_id", "pos_sim", "neg_id", "neg_sim")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(got.nonEmpty)
    // independent recomputation: brute-force within LSH buckets
    val base = embs.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"),
        Similarity.lshBucket(col("embedding")).as("bucket"))
      .as[(Long, Int, Seq[Double], Long)].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      def dot(x: Seq[Double], y: Seq[Double]) =
        x.zip(y).foldLeft(0.0) { case (s, (u, v)) => s + u * v }
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val byBucket = base.groupBy(_._4)
    val labels = base.map(r => r._1 -> r._2).toMap
    got.foreach { case (id, posId, posSim, negId, negSim) =>
      val me = base.find(_._1 == id).get
      val mates = byBucket(me._4).filter(_._1 != id)
      val wantPos = mates.filter(_._2 == me._2)
        .map(m => (cos(me._3, m._3), m._1)).maxBy(t => (t._1, -t._2))
      val wantNeg = mates.filter(_._2 != me._2)
        .map(m => (cos(me._3, m._3), m._1)).maxBy(t => (t._1, -t._2))
      assert(labels(posId) == me._2 && labels(negId) != me._2, s"anchor $id")
      assert((posSim, posId) == ((wantPos._1, wantPos._2)), s"pos of $id")
      assert((negSim, negId) == ((wantNeg._1, wantNeg._2)), s"neg of $id")
    }
  }

  test("batch pipeline composes: dedup apply -> preprocess -> sequence pack") {
    // the end-to-end batch story the individual specs imply: shrink
    // the corpus to dedup survivors, score/route/filter them in one
    // fused pass, pack the keepers into training sequences
    val docs = Tables.documents(spark, sf)
    val survivors = docs.join(
      Dedup.dedupApply(docs).select("doc_id"), "doc_id")
    val nDocs = docs.count(); val nSurv = survivors.count()
    assert(nSurv > 0 && nSurv < nDocs)
    val pre = Corpus.preprocess(survivors)
    assert(pre.count() == nSurv)
    val kept = survivors.join(
      pre.filter(col("keep")).select("doc_id"), "doc_id")
    assert(kept.count() > 0 && kept.count() < nSurv)
    val packed = Corpus.seqPack(kept, budget = 256)
    // one packed row per kept doc; within each (source, shard) stream
    // the doc_id order yields non-decreasing sequence ids
    assert(packed.count() == kept.count())
    val runs = packed
      .select("source", "shard", "doc_id", "seq_id")
      .as[(String, Int, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    runs.values.foreach { rs =>
      val bySeq = rs.sortBy(_._3).map(_._4)
      assert(bySeq.zip(bySeq.tail).forall { case (a, b) => a <= b })
    }
  }

  test("Scala-side tokenizer/hash twins match the Column expressions exactly") {
    import graft.functions.Portable._
    // the streaming serve path re-implements words()/hash60 in plain
    // Scala — any divergence silently breaks batch/stream score parity
    val tricky = Seq("", " ", "a  b\tc\nd", "  leading and trailing  ",
      "UPPER Case MiXeD", "tab\t\ttab", "one",
      // non-ASCII: the twin must lowercase exactly like Spark's
      // lower() (UTF8String.toLowerCase), not Locale.ROOT — these
      // diverge on Turkish dotted/dotless I and cover accents,
      // Greek final sigma, and full-width Latin
      "İstanbul Iİiı", "ÀÉÎÕÜ ÇĞŞ", "ΣΊΣΥΦΟΣ ΟΔΥΣΣΕΎΣ",
      "ＦＵＬＬＷＩＤＴＨ", "Straße GROẞ")
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), words(col("text")).as("ws"))
      .select(col("id"), col("ws"),
        transform(col("ws"), w => hash60(w)).as("hs"))
      .as[(Long, Seq[String], Seq[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    tricky.zipWithIndex.foreach { case (t, i) =>
      val ws = wordsScala(t)
      assert(ws.toSeq == df(i.toLong)._1, s"words of '$t'")
      assert(ws.map(h60Scala).toSeq == df(i.toLong)._2, s"hashes of $t")
    }
  }

  test("random projection matches an independent driver-side computation") {
    // independent spelling of the sign matrix + fold: java MD5 parity
    // for signs, sequential double fold for the dot product — the
    // Spark side goes through Column md5/conv constant folding and
    // the codegen DotProduct expression instead
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val embs = Tables.embeddings(spark, sf)
    val vecs = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val got = Similarity.randomProject(embs).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(j => r.getDouble(j))).toMap
    assert(got.size == vecs.size)
    vecs.foreach { case (id, v) =>
      val want = (0 until 8).map { j =>
        var acc = 0.0
        v.indices.foreach { i =>
          val sign = if (h32(s"rp${j}_$i") % 2 == 0) 1.0 else -1.0
          acc += v(i).toDouble * sign
        }
        acc
      }
      assert(got(id) == want, s"vec $id")
    }
    // map-only: zero exchanges, zero joins — fuses into the scan
    val plan = Similarity.randomProject(embs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("minhash recall eval: perfect recall on exact duplicates, sane bounds") {
    // 3 duplicate groups of sizes 3, 2, 2 (identical long texts →
    // jaccard 1.0 and identical signatures in every band) + 3 clearly
    // distinct docs → truth = C(3,2)+C(2,2)+C(2,2) = 5 pairs, all of
    // which the banding must catch: recall = 1.0
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven",
      "red orange yellow green blue indigo violet white black gray")
    val rows =
      base.zipWithIndex.flatMap { case (t, g) =>
        val n = if (g == 0) 3 else 2
        (0 until n).map(r => ((g * 10 + r).toLong, t, s"src$g"))
      } ++ Seq(
        (100L, "solar lunar stellar nebular quasar pulsar comet meteor orbit axis", "srcX"),
        (101L, "carbon silicon nitrogen oxygen helium neon argon krypton xenon radon", "srcY"),
        (102L, "sonata prelude fugue etude nocturne waltz mazurka ballade scherzo rondo", "srcZ"))
    val d = rows.toDF("doc_id", "text", "source")
    val got = Dedup.minhashRecallEval(d).collect().head
    val (nCand, nTruth, nHits) =
      (got.getLong(0), got.getLong(1), got.getLong(2))
    assert(nTruth == 5L, s"truth pairs: $nTruth")
    assert(nHits == nTruth, "exact duplicates share every band")
    assert(got.getDouble(4) == 1.0, "recall")
    assert(nHits <= nCand && got.getDouble(3) <= 1.0)
    assert(got.getDouble(3) == nHits.toDouble / nCand)
  }

  test("dup-rate estimate: census equals the materialized pair expansion") {
    val docs = Tables.documents(spark, sf)
    val est = Dedup.dupRateEstimate(docs)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(est.keySet == Set(0, 1, 2, 3))
    // candidate_pairs per band must equal what minhashPairs actually
    // expands: Σ over pairs of the per-band membership — totalled
    // across bands, Σ n_shared_bands
    val expanded = Dedup.minhashPairs(docs)
      .agg(sum(col("n_shared_bands"))).collect().head.getLong(0)
    val predicted = est.values.map(_._4).sum
    assert(predicted == expanded,
      s"census predicts $predicted pairs, pair stage expanded $expanded")
    // census internal consistency
    for ((b, (nb, coll, mx, pairs, capped)) <- est) {
      assert(coll <= nb && mx >= 1 && capped <= coll,
        s"band $b: $nb $coll $mx $pairs $capped")
      if (pairs > 0) assert(mx >= 2)
    }
    // the census never runs the pair expansion: no pair explode, one
    // (band, key) exchange then the #bands rollup
    val p = Dedup.dupRateEstimate(docs)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("sorted_array_pairs") && !p.contains("Generate explode(sortedarraypairs"),
      s"pair expansion crept into the census:\n$p")
  }

  test("group profile histogram is consistent with the groups it summarizes") {
    val docs = Tables.documents(spark, sf)
    val prof = Dedup.dedupGroupProfile(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(prof.nonEmpty && prof.forall(_._1 >= 2))
    assert(prof.forall { case (sz, n, rem) => rem == (sz - 1) * n })
    // totals reconcile with the underlying group table
    val sizes = Dedup.dedupGroups(docs).groupBy("group_id").count()
      .select("count").as[Long].collect()
    assert(prof.map(_._2).sum == sizes.length)
    assert(prof.map(p => p._1 * p._2).sum == sizes.sum)
  }

  test("ivf occupancy: cells, totals, and empty-cell folding reconcile") {
    val embs = Tables.embeddings(spark, sf)
    val r = Similarity.ivfOccupancy(embs).collect().head
    val nCells = embs.filter(col("vec_id") % 127 === 0).count()
    val nVec = embs.count()
    assert(r.getLong(0) == nCells && r.getLong(1) == nVec, r)
    // min <= p50 <= max; balance = max*cells/vectors >= 1
    assert(r.getLong(2) <= r.getLong(4) && r.getLong(4) <= r.getLong(3))
    assert(r.getDouble(5) >= 1.0 &&
      r.getDouble(5) == r.getLong(3).toDouble * nCells / nVec)
  }

  test("subword encode: greedy longest-match counts, both join paths") {
    import spark.implicits._
    // vocab pieces: "the"→[the]=1; "thering"→[the,r,ing]=3 (ri beats
    // nothing: longest prefix at pos 3 is 'r'? no — 'ri' is in the
    // vocab, then 'ng': [the, ri, ng] = 3 either way); "x,y"→
    // [x , y]=3 with 1 unk (','); ""→0 pieces
    val d = Seq((1L, "the thering", "s"), (2L, "x,y", "s"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.subwordEncode(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 4L, 0L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((1L, 3L, 1L)), s"doc2: ${got(2L)}")
    // the shuffled fallback (forced past the gate) returns identical
    // results to the broadcast path on real data
    val real = Tables.documents(spark, sf)
    val bc = TextOps.subwordEncode(real).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val sh = TextOps.subwordEncode(pastGate(real))
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(bc == sh)
    // the UDF runs on the distinct-word table, never the token scale:
    // the encode projection sits above an exchange on `w`
    val p = TextOps.subwordEncode(real)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("shard-skew audit: balanced ids vs a single hot key") {
    import spark.implicits._
    // doc_id as key at 64 shards: ~uniform; source constant: all rows
    // land in ONE shard and the ratio hits n_shards
    val d = (1L to 640L).map(i => (i, "x", "onlysource")).toDF(
      "doc_id", "text", "source")
    val hot = Skew.shardSkewAudit(d, keyCol = "source", shards = 64)
      .collect().head
    // a constant key occupies exactly one of the 64 shards — empty
    // shards fold back in, so the ratio reads 64, not 1
    assert(hot.getLong(0) == 64L && hot.getLong(1) == 640L)
    assert(hot.getLong(2) == 0L && hot.getLong(3) == 640L)
    assert(hot.getLong(4) == 0L, s"median shard is empty: $hot")
    assert(hot.getDouble(6) == 64.0, s"hot ratio: $hot")
    val bal = Skew.shardSkewAudit(d, keyCol = "doc_id", shards = 64)
      .collect().head
    assert(bal.getLong(0) > 32L, s"uniform ids occupy most shards: $bal")
    assert(bal.getDouble(6) < 4.0, s"balanced ratio: $bal")
    // p50/p99 come off the sorted shard table; max >= p99 >= p50 >= min
    assert(bal.getLong(3) >= bal.getLong(5) &&
      bal.getLong(5) >= bal.getLong(4) && bal.getLong(4) >= bal.getLong(2))
  }

  test("winnowing guarantees a shared fingerprint for a shared run >= w+k-1 tokens") {
    // docs 1 and 2 share a 6-token run (= w+k-1 with k=3, w=4) inside
    // otherwise disjoint text; doc 3 shares nothing with either
    val shared = "alpha bravo charlie delta echo foxtrot"
    val d = Seq(
      (1L, s"one two three $shared nine ten"),
      (2L, s"uno dos tres cuatro $shared once doce trece"),
      (3L, "red green blue yellow purple orange pink brown"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowPairs(d, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) == Seq((1L, 2L)), got.toString)
    assert(got.head._3 >= 1L)
  }

  test("winnowPairs drops stop-fingerprints shared by too many docs") {
    // every doc is the same text: all fingerprints appear in 8 docs,
    // above the cap of 5 -> no pairs survive (stop-gram semantics)
    val d = (1L to 8L)
      .map(i => (i, "same old text repeated verbatim here always"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(d, minShared = 1, maxDocsPerFp = 5).count() == 0)
    // below the cap the clique emerges: 3 docs -> 3 pairs
    val small = (1L to 3L)
      .map(i => (i, "same old text repeated verbatim here always"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(small, minShared = 1, maxDocsPerFp = 5)
      .count() == 3)
  }

  test("chunkDupFraction reports the duplicated-token share per doc") {
    // size=4 chunks; docs 1 and 2 share their first chunk exactly,
    // doc 3 is unique. doc 1: chunks [shared(4), unique(2)] ->
    // 4 of 6 tokens duplicated = 666 permille
    val d = Seq(
      (1L, "a b c d x y"),
      (2L, "a b c d p q r s"),
      (3L, "m n o p q"))
      .toDF("doc_id", "text")
    val got = Corpus.chunkDupFraction(d, size = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 6L, 666L),
      (2L, 2L, 1L, 8L, 500L),
      (3L, 2L, 0L, 5L, 0L)), got.toString)
  }

  test("corpusDiff classifies added/removed/changed/same per source") {
    val old = Seq(
      (1L, "aa bb", "s1"), (2L, "cc dd", "s1"),
      (3L, "ee ff", "s2"), (4L, "gg hh", "s2"))
      .toDF("doc_id", "text", "source")
    val nu = Seq(
      (1L, "aa bb", "s1"),          // same
      (2L, "cc dd CHANGED", "s1"),  // changed
      (4L, "gg hh", "s2"),          // same (3 removed)
      (5L, "new doc", "s2"))        // added
      .toDF("doc_id", "text", "source")
    val got = Corpus.corpusDiff(old, nu)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("s1", 0L, 0L, 1L, 1L), ("s2", 1L, 1L, 0L, 1L)),
      got.toString)
  }

  test("split leakage reports every cross-split dup with driver-exact counts") {
    import graft.functions.Portable.h60Scala
    // 100 identical docs: every pair band-collides (one bucket of
    // exactly the 100-doc cap), so leakage reduces to the split hash
    val docs = (0L until 100L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    def bucket(id: Long): Long = h60Scala(s"split|$id") % 100
    val train = (0L until 100L).filter(bucket(_) < 90)
    val eval = (0L until 100L).filterNot(bucket(_) < 90)
    assert(train.nonEmpty && eval.nonEmpty) // fixture sanity
    val got = Dedup.splitLeakage(docs)
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, sp, n, m) => id -> ((sp, n, m)) }.toMap
    assert(got.keySet == eval.toSet)
    for (id <- eval) {
      val want = (if (bucket(id) < 95) "val" else "test",
        train.size.toLong, train.min)
      assert(got(id) == want, s"doc $id: ${got(id)} vs $want")
    }
  }

  test("tokenizer diff: hand-computed per-source piece totals and ratio") {
    val d = Seq(
      (1L, "ab abc", "s1"),
      (2L, "ab", "s2"))
      .toDF("doc_id", "text", "source")
    // vocab A = single letters (len(word) pieces); B adds the words
    val got = TextOps.tokenizerDiff(d,
        vocabA = Seq("a", "b", "c"),
        vocabB = Seq("a", "b", "c", "ab", "abc"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // s1: words 2, pieces_a 2+3=5, pieces_b 1+1=2, ratio 1000*2 div 5
    assert(got == Seq(("s1", 2L, 5L, 2L, 0L, 0L, 400L),
      ("s2", 1L, 2L, 1L, 0L, 0L, 500L)), got.toString)
    // above-gate path: with auto-broadcast disabled the word-keyed
    // join really shuffles, and returns the same rows
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = TextOps.tokenizerDiff(pastGate(d),
          vocabA = Seq("a", "b", "c"),
          vocabB = Seq("a", "b", "c", "ab", "abc"))
      assert(!shuffled.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).contains("BroadcastHashJoin"))
      assert(shuffled.orderBy("source")
        .as[(String, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq == got)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("truncation recall: prefix flips the neighbor, full width recovers it") {
    // query v0: full-width nearest is v1 (cos 0.5 vs 0), but on the
    // first two dims v1 is orthogonal and v2 is parallel
    val e = Seq(
      (0L, Array(1f, 0f, 1f, 0f), 0),
      (1L, Array(0f, 1f, 1f, 0f), 0),
      (2L, Array(1f, 0f, -1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.truncationRecall(e, nQueries = 1, k = 1,
        widths = Seq(2, 4))
      .orderBy("dims_kept").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((2L, 0L, 1L, 0.0), (4L, 1L, 1L, 1.0)), got.toString)
  }

  test("two-stage ANN: rerank recovers the prefix miss; m=corpus equals brute force") {
    val e = Seq(
      (0L, Array(1f, 0f, 1f, 0f), 0),
      (1L, Array(0f, 1f, 1f, 0f), 0),   // full-width nearest to v0
      (2L, Array(1f, 0f, -1f, 0f), 0))  // prefix-2 nearest to v0
      .toDF("vec_id", "embedding", "label")
    // stage 1 at width 2 ranks v2 first, but m=2 keeps both and the
    // exact rerank puts v1 back on top
    val got = Similarity.knnTwoStage(e, nQueries = 1, k = 1,
        width = 2, m = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L)), got.toString)
    // m = corpus size degrades to exact brute force on real data
    val embs = Tables.embeddings(spark, sf)
    val n = embs.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
    assert(rows(Similarity.knnTwoStage(embs, 16, 5, width = 8, m = n)) ==
      rows(Similarity.knnBruteForce(embs, 16, 5)))
  }

  test("split leakage equals a driver recompute from the minhash pair set") {
    import graft.functions.Portable.h60Scala
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.minhashPairs(docs)
      .select("a", "b").as[(Long, Long)].collect()
    def bucket(id: Long): Long = h60Scala(s"split|$id") % 100
    val want = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (e, t) => bucket(e) >= 90 && bucket(t) < 90 }
      .groupBy(_._1)
      .map { case (e, ps) =>
        (e, if (bucket(e) < 95) "val" else "test",
          ps.length.toLong, ps.map(_._2).min) }
      .toSet
    assert(want.nonEmpty) // fixture sanity: sf0.001 has cross-split dups
    val got = Dedup.splitLeakage(docs)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("leakage scrub drops exactly the train-side dups; eval rows survive") {
    import graft.functions.Portable.h60Scala
    def bucket(id: Long): Long = h60Scala(s"split|$id") % 100
    // all-identical fixture: every train doc pairs with every eval
    // doc, so the scrub must drop ALL train rows and keep ALL eval
    val docs = (0L until 100L)
      .map(i => (i, "alpha beta gamma delta", "en", "s", 22))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = (0L until 100L).filter(bucket(_) >= 90)
    val got = Dedup.leakageScrub(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(got == eval.toSet, s"survivors $got vs eval $eval")
    // natural corpus: survivors = all ids minus the driver-computed
    // train-side drop set; broadcast and shuffled paths agree
    val nat = Tables.documents(spark, sf)
    val pairs = Dedup.minhashPairs(nat)
      .select("a", "b").as[(Long, Long)].collect()
    val drop = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (t, e) if bucket(t) < 90 && bucket(e) >= 90 => t }
      .toSet
    val all = nat.select("doc_id").as[Long].collect().toSet
    val natGot = Dedup.leakageScrub(nat)
      .select("doc_id").as[Long].collect().toSet
    assert(natGot == all -- drop)
    assert(natGot == Dedup.leakageScrub(pastGate(nat))
      .select("doc_id").as[Long].collect().toSet)
  }

  test("jaccard profile buckets hand-computed word-set deciles") {
    val d = Seq(
      (1L, "a b c d e f"),  // word set {a,b,c,d,e,f}
      (2L, "a b c d e f"),  // identical -> jaccard 1.0
      (3L, "a b c d x y"))  // inter 4, union 8 vs 1/2
      .toDF("doc_id", "text")
    val got = Dedup.jaccardProfile(d)
      .orderBy("decile").as[(Long, Long, Long)].collect().toSeq
    // (1,2): 6/6 -> decile 9; (1,3) and (2,3): 10*4 div 8 = 5
    assert(got == Seq((5L, 2L, 3L), (9L, 1L, 2L)), got.toString)
  }

  // NOTE: the decile-vs-τ correspondence is exact modulo 60-bit
  // word-hash collisions (the profile scores hash60 word sets, q29
  // scores strings) — equality on this corpus is the practical
  // guarantee, not a structural identity
  test("jaccard profile covers exactly the capped candidate pairs " +
    "and deciles >= 8 match q29's tau=0.8 set on the test corpus") {
    val docs = Tables.documents(spark, sf)
    val nCands = Dedup.ngramJaccardPairs(docs, threshold = 0.0).count()
    val prof = Dedup.jaccardProfile(docs)
      .agg(sum("n_pairs")).as[Long].collect().head
    assert(prof == nCands, s"profile $prof pairs vs $nCands candidates")
    // integer floor: 10i div u >= 8 <=> i/u >= 0.8 — the profile's
    // top-two deciles ARE q29's default threshold set
    val q29 = Dedup.ngramJaccardPairs(docs, threshold = 0.8).count()
    val top = Dedup.jaccardProfile(docs).filter(col("decile") >= 8)
      .agg(sum("n_pairs")).as[Long].collect().head
    assert(top == q29, s"deciles>=8 $top pairs vs q29 $q29")
  }

  test("image dHash of the decoded raster equals the pixel-formula " +
    "recomputation (encode -> ImageIO decode -> hash round trip)") {
    val docs = Tables.documents(spark, sf).limit(40)
    val got = Multimodal.imageDHash(Multimodal.nearDupImageTable(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.size == 40)
    for ((id, (lo, hi)) <- got) {
      val grp = id / 4; val m = id % 4
      val (w, h) = ((grp % 7 + 16).toInt, (grp % 5 + 12).toInt)
      val (qa, qb) = (grp % 5 + 1, grp % 3 + 1)
      def lum(gx: Int, gy: Int): Long = {
        val sx = gx * w / 9; val sy = gy * h / 8
        (sx * sx * qa + sy * 3 + grp * 11 + m) % 256 +
          (sx * 5 + sy * sy * qb + grp * 23 + m) % 256 +
          (sx * 13 + sy * 17 + grp * 29 + m) % 256
      }
      var (elo, ehi) = (0L, 0L)
      for (gy <- 0 until 8; gx <- 0 until 8)
        if (lum(gx + 1, gy) > lum(gx, gy)) {
          val j = gy * 8 + gx
          if (j < 32) elo |= 1L << j else ehi |= 1L << (j - 32)
        }
      assert((lo, hi) == (elo, ehi),
        s"media $id: decoded hash ($lo,$hi) != formula ($elo,$ehi)")
    }
  }

  test("BMP fast-path dHash equals the ImageIO decode pixel-exactly " +
    "and declines anything that is not the writer's exact shape") {
    // the raster path (PNG and BMP readers, one hash kernel) must
    // reproduce the hash of ImageIO's own decode for every payload
    val docs = Tables.documents(spark, sf).limit(80)
    val media = Multimodal.nearDupImageTable(docs).collect()
    val seen = media.groupBy(_.kind).map { case (kind, rs) =>
      rs.foreach { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        val slow = Multimodal.dHash64(img)
        val fast = Multimodal.dHashAny(r.payload, s"media ${r.media_id}")
        assert(fast == slow, s"media ${r.media_id} ($kind): raster $fast != ImageIO $slow")
        // the BMP reader takes only BMPs
        assert(Multimodal.bmpDecodeFast(r.payload).isDefined == (kind == "bmp"))
      }
      kind -> rs.length
    }
    assert(seen.getOrElse("png", 0) >= 30 && seen.getOrElse("bmp", 0) >= 30,
      s"too few payloads per format exercised: $seen")
    // truncated raster: the bounds check declines, no read past end
    val cut = media.find(_.kind == "bmp").get.payload.take(60)
    assert(Multimodal.bmpDecodeFast(cut).isEmpty)
  }

  test("BMP reader declines a header whose row stride overflows Int") {
    // w = 0x2AAAAAAB makes w * 3 + 3 wrap negative in Int arithmetic;
    // the declared raster then cannot fit the 54-byte payload
    val hdr = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put(0, 'B'.toByte).put(1, 'M'.toByte).putInt(2, 54).putInt(10, 54)
      .putInt(14, 40).putInt(18, 0x2AAAAAAB).putInt(22, 1)
      .putShort(26, 1.toShort).putShort(28, 24.toShort)
    assert(Multimodal.bmpDecodeFast(hdr.array()).isEmpty)
  }

  test("AVI frame shorter than its declared geometry fails naming the media id") {
    // strf declares 8x8, the frames hold a 4x4 raster
    val frames = (0 until 2).map(f => Multimodal.syntheticDibFrame(7L, f, 4, 4))
    val clip = Multimodal.MediaRecord(4242L, "video", 8, 8,
      Multimodal.aviBytes(frames, 8, 8, fps = 25, mjpeg = false))
    val e = intercept[Exception](
      Multimodal.videoDHashSignature(Seq(clip).toDS()).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("media 4242")), msgs.mkString(" | "))
  }

  test("image dHash pairs equal a brute-force mirror of the " +
    "band/bucket-cap/first-matching-band semantics and find the " +
    "planted near-dup groups") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.nearDupImageTable(docs)
    val hs = Multimodal.imageDHash(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def bands(lo: Long, hi: Long): Seq[Long] =
      (0 until 4).map(k => (lo >> (k * 8)) & 255) ++
        (0 until 4).map(k => (hi >> (k * 8)) & 255)
    val sizes = hs.flatMap { case (_, lo, hi) =>
      bands(lo, hi).zipWithIndex.map { case (v, k) => (k, v) }
    }.groupBy(identity).map { case (kv, g) => kv -> g.length }
    val expected = scala.collection.mutable.Set[(Long, Long, Int)]()
    for (i <- hs.indices; j <- i + 1 until hs.length) {
      val (a, alo, ahi) = hs(i); val (b, blo, bhi) = hs(j)
      val ba = bands(alo, ahi); val bb = bands(blo, bhi)
      val matching = (0 until 8).filter(k => ba(k) == bb(k))
      if (matching.nonEmpty &&
        sizes((matching.min, ba(matching.min))) <= 100) {
        val ham = java.lang.Long.bitCount(alo ^ blo) +
          java.lang.Long.bitCount(ahi ^ bhi)
        if (ham <= 6) expected += ((a, b, ham))
      }
    }
    val got = Multimodal.imageDHashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    // the generator really plants discoverable near-dups: a healthy
    // share of found pairs are intra-group (same id/4 group)
    val intra = got.count(p => p._1 / 4 == p._2 / 4)
    assert(intra >= 300, s"only $intra intra-group near-dup pairs found")
  }

  test("image dedup groups are the transitive closure of the dHash " +
    "pair graph with min-id labels, down both union-find paths") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.nearDupImageTable(docs)
    val pairs = Multimodal.imageDHashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute-force closure: repeatedly relabel to min neighbour label
    val label = scala.collection.mutable.Map[Long, Long]()
    for ((a, b) <- pairs) { label(a) = a; label(b) = b }
    var changed = true
    while (changed) {
      changed = false
      for ((a, b) <- pairs) {
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label(a) = m; changed = true }
        if (label(b) != m) { label(b) = m; changed = true }
      }
    }
    val expected = label.toMap
    val gotDriver = Multimodal.imageDedupGroups(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDriver == expected,
      s"driver path: ${gotDriver.size} labelled vs ${expected.size}")
    // force the distributed pointer-jumping loop (gate at 0 edges)
    val gotLoop = Dedup.connectedComponents(
        Multimodal.imageDHashPairs(media).select("a", "b"),
        maxDriverEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == expected, "pointer-jumping path diverges")
    // planted groups really merge: some components span >2 images
    val big = expected.groupBy(_._2).count(_._2.size > 2)
    assert(big >= 20, s"only $big components larger than 2")
  }

  test("audio sub-fingerprints are exactly invariant under uniform " +
    "gain and survive the WAV encode/decode round trip") {
    val rnd = new scala.util.Random(135)
    for (_ <- 1 to 25) {
      val n = 132 + 66 * (1 + rnd.nextInt(5)) + rnd.nextInt(66)
      val base = Array.fill(n)((rnd.nextInt(1024) - 512).toShort)
      val fp = Multimodal.subFingerprints(base)
      assert(fp.nonEmpty && fp.map(_._1).toSeq == (1 until
        ((n - Multimodal.FpWindow) / Multimodal.FpHop + 1)))
      for (c <- Seq(2, 3, 5)) {
        val scaled = base.map(s => (s * c).toShort)
        assert(Multimodal.subFingerprints(scaled).toSeq == fp.toSeq,
          s"gain $c changed the fingerprint")
      }
      // WAV is lossless PCM16: container round trip changes nothing
      val wav = Multimodal.parseWav(Multimodal.wavBytes(base, 8000))
      assert(Multimodal.subFingerprints(wav.samples).toSeq == fp.toSeq)
    }
    // too short for two frames -> empty, not a crash
    assert(Multimodal.subFingerprints(Array.fill(150)(7: Short)).isEmpty)
  }

  test("audio dup pairs equal a brute-force mirror of the " +
    "bucket-cap/first-matching-subfp/integer-Jaccard semantics and " +
    "find the planted near-dup groups") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.nearDupAudioTable(docs)
    val sets = Multimodal.audioFingerprint(media).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (id, g) =>
        id -> g.map(_._2).distinct.sorted.toSeq }
    val bucket = sets.toSeq.flatMap { case (id, fps) => fps.map(_ -> id) }
      .groupBy(_._1).map { case (fp, g) => fp -> g.length }
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    val ids = sets.keys.toSeq.sorted
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val shared = sets(a).toSet.intersect(sets(b).toSet)
      if (shared.nonEmpty && bucket(shared.min) <= 100 &&
        shared.size * 10 >= 5 * (sets(a).size + sets(b).size - shared.size))
        expected += ((a, b, shared.size.toLong,
          sets(a).size.toLong, sets(b).size.toLong))
    }
    val got = Multimodal.audioFpPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    // the gain-scaled variants really match; the sparse noise really
    // costs a few pairs (threshold exercised, not vacuous)
    val intra = got.count(p => p._1 / 4 == p._2 / 4)
    assert(intra >= 700, s"only $intra intra-group pairs found")
    assert(got.exists(p => p._3 < p._4 || p._3 < p._5),
      "noise never flipped a sub-fingerprint: threshold untested")
  }

  test("video dHash signature of the demuxed+decoded frames equals " +
    "the pixel-formula recomputation (AVI round trip)") {
    val docs = Tables.documents(spark, sf).limit(40)
    val got = Multimodal.videoDHashSignature(
        Multimodal.nearDupVideoTable(docs)).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Long](2)))
      .toMap
    assert(got.size == 40)
    for ((id, (nf, sig)) <- got) {
      val g = id / 4; val m = id % 4
      val (w, h) = ((g % 7 + 9).toInt, (g % 5 + 8).toInt)
      assert(nf == (g % 3 + 3).toInt && sig.length == 2 * nf)
      for (f <- 0 until nf) {
        def lum(gx: Int, gy: Int): Long = {
          val sx = gx * w / 9; val sy = gy * h / 8
          math.floorMod(sx * sx * (g % 5 + 1) + sy * 3 + f * 19 + g * 11 + m, 256) +
            math.floorMod(sx * 5 + sy * sy * (g % 3 + 1) + f * 23 + g * 23 + m, 256) +
            math.floorMod(sx * 13 + sy * 17 + f * 29 + g * 29 + m, 256)
        }
        var (elo, ehi) = (0L, 0L)
        for (gy <- 0 until 8; gx <- 0 until 8)
          if (lum(gx + 1, gy) > lum(gx, gy)) {
            val j = gy * 8 + gx
            if (j < 32) elo |= 1L << j else ehi |= 1L << (j - 32)
          }
        assert((sig(2 * f), sig(2 * f + 1)) == (elo, ehi),
          s"media $id frame $f: decoded hash != formula")
      }
    }
  }

  test("video dup pairs equal a brute-force mirror of the " +
    "frame-aligned band/bucket-cap/first-matching-band/total-Hamming " +
    "semantics and find the planted near-dup groups") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.nearDupVideoTable(docs)
    val sigs = Multimodal.videoDHashSignature(media).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(_._1)
    def bands(nf: Int, sig: Seq[Long]): Seq[Long] =
      (0 until nf * 8).map { j =>
        val (half, k) = (sig(2 * (j / 8) + (if (j % 8 < 4) 0 else 1)), j % 8)
        (half >> ((k % 4) * 8)) & 255
      }
    val sizes = sigs.flatMap { case (_, nf, sig) =>
      bands(nf, sig).zipWithIndex.map { case (v, j) => (nf, j, v) }
    }.groupBy(identity).map { case (k, g) => k -> g.length }
    val expected = scala.collection.mutable.Set[(Long, Long, Int)]()
    for (i <- sigs.indices; j <- i + 1 until sigs.length) {
      val (a, nfa, sa) = sigs(i); val (b, nfb, sb) = sigs(j)
      if (nfa == nfb) {
        val (ba, bb) = (bands(nfa, sa), bands(nfb, sb))
        val matching = (0 until nfa * 8).filter(k => ba(k) == bb(k))
        if (matching.nonEmpty &&
          sizes((nfa, matching.min, ba(matching.min))) <= 100) {
          val ham = sa.zip(sb).map { case (x, y) =>
            java.lang.Long.bitCount(x ^ y) }.sum
          if (ham <= 12) expected += ((a, b, ham))
        }
      }
    }
    val got = Multimodal.videoDHashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    val intra = got.count(p => p._1 / 4 == p._2 / 4)
    assert(intra >= 300, s"only $intra intra-group near-dup pairs found")
  }

  test("audio and video dedup groups are the transitive closures of " +
    "their pair graphs (the shared q47/q134 machinery per modality)") {
    def closure(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val label = scala.collection.mutable.Map[Long, Long]()
      for ((a, b) <- pairs) { label(a) = a; label(b) = b }
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- pairs) {
          val m = math.min(label(a), label(b))
          if (label(a) != m) { label(a) = m; changed = true }
          if (label(b) != m) { label(b) = m; changed = true }
        }
      }
      label.toMap
    }
    val docs = Tables.documents(spark, sf)
    def check(pairsDf: org.apache.spark.sql.DataFrame,
              groupsDf: org.apache.spark.sql.DataFrame): Unit = {
      val expected = closure(pairsDf.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      val got = groupsDf.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"${got.size} labelled vs ${expected.size}")
      assert(expected.groupBy(_._2).count(_._2.size > 2) >= 20)
    }
    val audio = Multimodal.nearDupAudioTable(docs)
    check(Multimodal.audioFpPairs(audio), Multimodal.audioDedupGroups(audio))
    val video = Multimodal.nearDupVideoTable(docs)
    check(Multimodal.videoDHashPairs(video),
      Multimodal.videoDedupGroups(video))
  }

  test("video containment pairs detect subclips across clip lengths: " +
    "brute-force mirror + the planted range structure") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.subClipVideoTable(docs)
    // frame-hash sets straight off the decode path
    val sets = Multimodal.videoDHashSignature(media).collect()
      .map { r =>
        val sig = r.getSeq[Long](2)
        r.getLong(0) -> sig.grouped(2).map(p => p(0) | (p(1) << 32))
          .toSeq.distinct
      }.toMap
    val bucket = sets.toSeq.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).map { case (h, g) => h -> g.length }
    val ids = sets.keys.toSeq.sorted
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val shared = sets(a).toSet.intersect(sets(b).toSet)
      if (shared.nonEmpty && bucket(shared.min) <= 100 &&
        shared.size * 10 >= 8 * math.min(sets(a).size, sets(b).size))
        expected += ((a, b, shared.size.toLong,
          sets(a).size.toLong, sets(b).size.toLong))
    }
    val got = Multimodal.videoContainmentPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    // the planted range structure: within a group, ranges f0-5/f1-4/
    // f3-5/f2-3 make (m0,m1) (m0,m2) (m0,m3) (m1,m3) full
    // containments while (m1,m2)=2/3 and (m2,m3)=1/2 miss tau=0.8 —
    // asserted on the groups whose pairs are all intra-group clean
    val intra = got.filter(p => p._1 / 4 == p._2 / 4)
    assert(intra.size >= 400, s"only ${intra.size} intra-group pairs")
    val byGroup = intra.groupBy(_._1 / 4)
    val cleanStructure = byGroup.values.count { ps =>
      ps.map(p => (p._1 % 4, p._2 % 4)) == Set((0L, 1L), (0L, 2L),
        (0L, 3L), (1L, 3L))
    }
    assert(cleanStructure >= 100,
      s"only $cleanStructure groups show the planted containment set")
  }

  test("audio containment pairs detect hop-aligned snippets: " +
    "brute-force mirror + the planted range structure") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.snippetAudioTable(docs)
    val sets = Multimodal.audioFingerprint(media).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (id, g) =>
        id -> g.map(_._2).distinct.sorted.toSeq }
    val bucket = sets.toSeq.flatMap { case (id, fps) => fps.map(_ -> id) }
      .groupBy(_._1).map { case (fp, g) => fp -> g.length }
    val ids = sets.keys.toSeq.sorted
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val shared = sets(a).toSet.intersect(sets(b).toSet)
      if (shared.nonEmpty && bucket(shared.min) <= 100 &&
        shared.size * 10 >= 8 * math.min(sets(a).size, sets(b).size))
        expected += ((a, b, shared.size.toLong,
          sets(a).size.toLong, sets(b).size.toLong))
    }
    val got = Multimodal.audioContainmentPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    // hop alignment really shares fingerprints: snippets m1/m2/m3 are
    // strict sub-ranges of m0, so (m0,*) containments dominate; full
    // containment means n_shared == min set size on those pairs
    val intra = got.filter(p => p._1 / 4 == p._2 / 4)
    assert(intra.size >= 500, s"only ${intra.size} intra-group pairs")
    val m0full = intra.filter(p => p._1 % 4 == 0)
    assert(m0full.count(p => p._3 == math.min(p._4, p._5)) >=
      m0full.size * 9 / 10, "snippets not fully contained in the base")
  }

  test("media dedup apply keeps exactly the component labels plus " +
    "every unpaired image, with the fixture's true metadata") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.nearDupImageTable(docs)
    val labels = Multimodal.imageDedupGroups(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = docs.select("doc_id").as[Long].collect().toSet
    val expected = all -- labels.collect {
      case (id, g) if id != g => id }
    val got = Multimodal.mediaDedupApply(
        media, Multimodal.imageDedupGroups(media)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(got.map(_._1).toSet == expected,
      s"${got.length} survivors vs ${expected.size} expected")
    // dedup really shrinks the corpus, and survivors keep their real
    // decoded metadata
    assert(got.length < all.size / 2, s"only ${all.size - got.length} dropped")
    got.foreach { case (id, kind, w, h) =>
      val g = id / 4
      assert(kind == (if (id % 2 == 0) "png" else "bmp"))
      assert(w == (g % 7 + 16).toInt && h == (g % 5 + 12).toInt)
    }
  }

  test("MJPEG clips ride the video signature path: codec-consistent " +
    "hashes, and the pair op finds the raw-DIB twin as a near-dup") {
    val (w, h) = (32, 24)
    // smooth non-monotone raster (a parabola in x): JPEG-friendly —
    // no mod-256 wrap edges whose ringing would shred the comparison
    // bits — while still giving each row a 1→0→1 bit pattern
    def raster(f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = 20 + ((x - 16) * (x - 16) * 180) / 256 + y / 2 + f * 3
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def jpegBytes(f: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(raster(f), "jpg", bos)
      bos.toByteArray
    }
    def dibBytes(f: Int): Array[Byte] = {
      val stride = (w * 3 + 3) & ~3
      val out = new Array[Byte](stride * h)
      for (y <- 0 until h; x <- 0 until w) {
        val p = raster(f).getRGB(x, y)
        val row = (h - 1 - y) * stride
        out(row + x * 3) = (p & 0xff).toByte
        out(row + x * 3 + 1) = ((p >> 8) & 0xff).toByte
        out(row + x * 3 + 2) = ((p >> 16) & 0xff).toByte
      }
      out
    }
    val media = Seq(
      Multimodal.MediaRecord(0L, "video", w, h, Multimodal.aviBytes(
        (0 until 4).map(dibBytes), w, h, fps = 25, mjpeg = false)),
      Multimodal.MediaRecord(1L, "video", w, h, Multimodal.aviBytes(
        (0 until 4).map(jpegBytes), w, h, fps = 25, mjpeg = true))).toDS()
    val sigs = Multimodal.videoDHashSignature(media).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Long](2))).toMap
    assert(sigs(0L)._1 == 4 && sigs(1L)._1 == 4)
    // MJPEG internal consistency: signature == dHash64 of the JDK's
    // own decode of each JPEG chunk
    for (f <- 0 until 4) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(jpegBytes(f)))
      val (lo, hi) = Multimodal.dHash64(img)
      assert((sigs(1L)._2(2 * f), sigs(1L)._2(2 * f + 1)) == (lo, hi))
    }
    // cross-codec: JPEG loss must not break the near-dup tie on a
    // smooth raster — the pair op finds the DIB twin
    val pairs = Multimodal.videoDHashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 <= 12),
      s"MJPEG twin not paired: ${pairs.toSeq}")
  }

  test("image crop containment detects tile-aligned crops: " +
    "brute-force mirror + the planted rect structure") {
    val docs = Tables.documents(spark, sf)
    val media = Multimodal.cropImageTable(docs)
    // tile-hash sets straight off the decode path
    val sets = media.collect().map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      r.media_id -> (for {
        ty <- 0 until img.getHeight / Multimodal.TileH
        tx <- 0 until img.getWidth / Multimodal.TileW
      } yield {
        val (lo, hi) = Multimodal.dHash64(img.getSubimage(
          tx * Multimodal.TileW, ty * Multimodal.TileH,
          Multimodal.TileW, Multimodal.TileH))
        lo | (hi << 32)
      }).distinct
    }.toMap
    val bucket = sets.toSeq.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).map { case (h, g) => h -> g.length }
    val ids = sets.keys.toSeq.sorted
    val expected = scala.collection.mutable.Set[(Long, Long, Long, Long, Long)]()
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val shared = sets(a).toSet.intersect(sets(b).toSet)
      if (shared.nonEmpty && bucket(shared.min) <= 100 &&
        shared.size * 10 >= 8 * math.min(sets(a).size, sets(b).size))
        expected += ((a, b, shared.size.toLong,
          sets(a).size.toLong, sets(b).size.toLong))
    }
    val got = Multimodal.imageCropContainmentPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected.toSet,
      s"op ${got.size} pairs, mirror ${expected.size}")
    // planted rects: full 4×3 / 3×3@(0,0) / 2×2@(2,1) / 2×1@(1,2) —
    // (m0,m1) (m0,m2) (m0,m3) (m1,m3) contain, the two partial
    // overlaps (2/4 and 1/2 of the smaller set) miss τ=0.8
    val byGroup = got.filter(p => p._1 / 4 == p._2 / 4).groupBy(_._1 / 4)
    val clean = byGroup.values.count { ps =>
      ps.map(p => (p._1 % 4, p._2 % 4)) == Set((0L, 1L), (0L, 2L),
        (0L, 3L), (1L, 3L))
    }
    assert(clean >= 110, s"only $clean groups show the planted rect set")
  }

  test("corrupt payloads: the audit verdicts match the plant, the " +
    "robust decode drops exactly the corrupt rows, the strict one dies") {
    val docs = Tables.documents(spark, sf).limit(120)
    val media = Multimodal.corruptedMediaTable(docs)
    val audit = Multimodal.decodeAudit(media).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(audit.length == 120)
    audit.foreach { case (id, kind, ok) =>
      assert(ok == (id % 13 != 0), s"media $id audit verdict wrong")
      assert(kind == Seq("image", "audio", "video")((id % 3).toInt))
    }
    // robust decode: survivors are exactly the decodable subset, with
    // the SAME signals the strict path extracts from clean payloads
    val robust = Multimodal.extractSignalsRobust(media).collect()
      .map(s => s.media_id -> s).toMap
    assert(robust.keySet == audit.filter(_._3).map(_._1).toSet)
    val strictClean = Multimodal.extractSignals(
        media.filter(col("media_id") % 13 =!= 0)).collect()
      .map(s => s.media_id -> s).toMap
    assert(robust == strictClean)
    // and the strict path on the corrupted table is the failure mode
    // the robust variant exists to remove
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractSignals(media).collect()
    }
  }

  test("demuxers reject adversarial containers: negative chunk sizes " +
    "terminate, oversizes don't allocate, LIST bombs don't blow the stack") {
    import java.nio.{ByteBuffer, ByteOrder}
    // run each parse on a watchdog thread: the failure mode under test
    // for negative sizes is an INFINITE LOOP (p walks backward), which
    // no exception assertion would catch
    def bounded(f: => Unit): String = {
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var out = "returned"
      val t = new Thread(() => {
        try f catch { case e: Throwable => out = e.getClass.getSimpleName }
        done.countDown()
      })
      t.setDaemon(true)
      t.start()
      if (!done.await(10, java.util.concurrent.TimeUnit.SECONDS)) "HANG"
      else out
    }
    // WAV: negative-size junk chunk, then a huge data size claim
    val negWav = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(20).put("WAVE".getBytes)
      .put("junk".getBytes).putInt(-16).putLong(0L).array()
    assert(bounded(Multimodal.parseWav(negWav)) ==
      "IllegalArgumentException", "negative WAV chunk size must reject")
    val hugeWav = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(40).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes).putInt(0x7ff00000).array()
    assert(bounded(Multimodal.parseWav(hugeWav)) ==
      "IllegalArgumentException",
      "oversized WAV data claim must reject before allocating")
    // AVI: negative chunk size, and a self-referential LIST bomb
    val negAvi = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes).putInt(20).put("AVI ".getBytes)
      .put("junk".getBytes).putInt(-16).putLong(0L).array()
    assert(bounded(Multimodal.parseAvi(negAvi)) ==
      "IllegalArgumentException", "negative AVI chunk size must reject")
    // nested LISTs, each claiming the rest of the payload: without a
    // depth cap this recurses once per 12 bytes of payload
    val depth = 4000
    val bomb = ByteBuffer.allocate(12 + depth * 12)
      .order(ByteOrder.LITTLE_ENDIAN)
    bomb.put("RIFF".getBytes).putInt(4 + depth * 12).put("AVI ".getBytes)
    (0 until depth).foreach { i =>
      bomb.put("LIST".getBytes).putInt((depth - i) * 12 - 8)
        .put("xxxx".getBytes)
    }
    assert(bounded(Multimodal.parseAvi(bomb.array())) ==
      "IllegalArgumentException",
      "LIST nesting bomb must reject, not StackOverflowError")
  }

  test("media curation funnel rows equal each modality's own closure " +
    "counts, integer per-mille") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    def dropped(groups: org.apache.spark.sql.DataFrame): Long =
      groups.filter(col("media_id") =!= col("group_id")).count()
    val want = Map(
      "image" -> dropped(Multimodal.imageDedupGroups(
        Multimodal.nearDupImageTable(docs))),
      "audio" -> dropped(Multimodal.audioDedupGroups(
        Multimodal.nearDupAudioTable(docs))),
      "video" -> dropped(Multimodal.videoDedupGroups(
        Multimodal.nearDupVideoTable(docs))))
    val got = Multimodal.mediaCurationFunnel(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set("image", "audio", "video"))
    for ((kind, d) <- want) {
      val (n, nd, nk, pm) = got(kind)
      assert(n == total && nd == d && nk == total - d &&
        pm == (total - d) * 1000 / total,
        s"$kind: got ${got(kind)}, want dropped=$d of $total")
      assert(d > 0, s"$kind dedup dropped nothing — funnel vacuous")
    }
  }

  test("media curation funnel still runs after a failed call in the same session") {
    // a null doc_id fails every modality arm in its tasks, so the
    // failed call cancels its arms' job groups, future jobs included;
    // the next call runs under fresh group ids and must not inherit
    // that cancel
    val bad = Seq(Some(1L), None).toDF("doc_id")
    intercept[Exception](Multimodal.mediaCurationFunnel(bad).collect())
    val docs = Tables.documents(spark, sf)
    val got = Multimodal.mediaCurationFunnel(docs).collect()
    assert(got.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    assert(got.forall(_.getLong(1) == docs.count()))
  }
}

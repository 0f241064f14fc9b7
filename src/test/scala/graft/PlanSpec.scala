package graft

import org.apache.spark.sql.DataFrame
import graft.core.Tables
import graft.operators._

/** Physical-plan assertions: the scale properties that make these
  * operators viable at 100 TB must be visible in the plan, not
  * assumed — filter/projection pushdown into the parquet scan,
  * broadcast of dims, map-side partial aggregation, whole-stage
  * codegen on the hot paths.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 pushes the shipdate filter and pruned schema into the scan") {
    val plan = planOf(Relational.pricingSummary(Tables.lineitem(spark, sf)))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), s"no pushed filter:\n$plan")
    // only the 6 needed columns reach the scan (5 used + filter col)
    val scanLine = plan.linesIterator.find(_.contains("FileScan parquet"))
      .getOrElse(fail(s"no FileScan:\n$plan"))
    for (unused <- Seq("l_orderkey", "l_partkey", "l_suppkey", "l_tax"))
      assert(!scanLine.contains(unused), s"reads unused $unused:\n$scanLine")
  }

  test("q01 aggregates map-side before the exchange (partial/final)") {
    val plan = planOf(Relational.pricingSummary(Tables.lineitem(spark, sf)))
    val firstExchange = plan.indexOf("Exchange hashpartitioning")
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstExchange >= 0 && firstAgg >= 0)
    // plan prints top-down: final agg, exchange, partial agg — a
    // partial HashAggregate must appear BELOW (after) the exchange
    assert(plan.indexOf("HashAggregate", firstExchange) > firstExchange,
      s"no partial aggregation below the exchange:\n$plan")
  }

  test("q05 joins the dims via broadcast, not shuffle") {
    val plan = planOf(Relational.revenueByRegion(Tables.orders(spark, sf),
      Tables.customer(spark, sf), Tables.nation(spark, sf),
      Tables.region(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("hot paths run inside whole-stage codegen") {
    for ((name, df) <- Seq(
      "q01" -> Relational.pricingSummary(Tables.lineitem(spark, sf)),
      "q20" -> TextOps.wordCount(Tables.documents(spark, sf)),
      "q27" -> Dedup.simhash(Tables.documents(spark, sf)))) {
      df.collect() // execute THIS QueryExecution so AQE finalizes it
      val plan = planOf(df)
      // '*(' marks a WholeStageCodegen stage in the final plan
      assert(plan.contains("*("), s"$name not codegen'd:\n$plan")
    }
  }

  test("q02 projection prunes the parquet read schema to 6 columns") {
    val plan = planOf(Relational.revenueItems(Tables.lineitem(spark, sf)))
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // needs qty, shipdate (filters) + orderkey, linenumber, price, disc
    assert(!schema.contains("l_partkey") && !schema.contains("l_suppkey"),
      s"unused columns read:\n$schema")
  }

  test("kmeans assignment is a pure map over literal centroids (1 exchange)") {
    // the Lloyd model is collected per iteration and inlined as
    // literal arrays: assignment needs NO join and NO shuffle of the
    // corpus — the only exchange is the map-side-combined centroid
    // sums aggregate
    val plan = planOf(Similarity.kmeansRefine(Tables.embeddings(spark, sf)))
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"assignment joins:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
  }

  test("bm25 broadcasts the 1-row stats aggregate back to the tf pass") {
    val plan = planOf(TextOps.bm25(Tables.documents(spark, sf),
      Seq("spark", "query", "fast")))
    assert(plan.contains("BroadcastNestedLoopJoin"), s"no broadcast:\n$plan")
  }

  test("LSH pair generation needs only three exchanges (sig, bucket, pair aggs)") {
    val df = Dedup.minhashPairs(Tables.documents(spark, sf))
    df.collect() // finalize AQE
    // AQE appends the pre-adaptive plan under "== Initial Plan ==" —
    // count shuffles in the executed section only. Minimal shape:
    // shingle→signature agg on doc_id, band-bucket agg, pair-count
    // agg — and no join exchanges (the old persisted self-join had 2
    // more plus a cached scan per side).
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 3, s"$exchanges exchanges (want 3):\n$plan")
  }

  test("jaccard lookup broadcast is size-gated with a shuffled-join fallback") {
    val docs = Tables.documents(spark, sf)
    // small corpus → auto path broadcasts the word-set lookups
    val auto = planOf(Dedup.ngramJaccardPairs(docs))
    assert(auto.contains("BroadcastHashJoin"), s"no broadcast join:\n$auto")
    // past the size gate: no broadcast HINT on the word sets. At
    // sf0.001 Catalyst's real stats still auto-broadcast the tiny
    // sides, so mimic at-scale stats (nothing auto-broadcastable) to
    // see the fallback shape.
    val fb = Dedup.ngramJaccardPairs(pastGate(docs))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fbPlan = planOf(fb).split("== Initial Plan ==")(0)
      assert(!fbPlan.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$fbPlan")
      assert(fbPlan.contains("SortMergeJoin") ||
        fbPlan.contains("ShuffledHashJoin"), s"no shuffled join:\n$fbPlan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // both paths compute the same pairs
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    assert(rows(fb) == rows(Dedup.ngramJaccardPairs(docs)))
  }

  test("keeper-selection group broadcast is size-gated with a shuffled-join fallback") {
    val docs = Tables.documents(spark, sf)
    // past the size gate: no broadcast hint on the group table; with
    // auto-broadcast off (to mimic at-scale stats) the quality⋈groups
    // join must go shuffled
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fbPlan = planOf(Dedup.dedupKeepers(pastGate(docs)))
        .split("== Initial Plan ==")(0)
      assert(!fbPlan.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$fbPlan")
      assert(fbPlan.contains("SortMergeJoin") ||
        fbPlan.contains("ShuffledHashJoin"), s"no shuffled join:\n$fbPlan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // both paths pick the same keepers
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(rows(Dedup.dedupKeepers(pastGate(docs))) ==
      rows(Dedup.dedupKeepers(docs)))
  }

  test("gates flip from scan stats alone") {
    // An RDD-backed copy of the corpus has no scan stats, so its size
    // estimate is spark.sql.defaultSizeInBytes (Long.MaxValue): every
    // source-stats gate must pick its past-broadcast fallback on its
    // own, with no override, while the data stays suite-sized.
    val docs = Tables.documents(spark, sf)
    val big = pastGate(docs)
    assert(!SizeGate.small(big), "gate still broadcasts")
    assert(SizeGate.small(docs), "gate shuffles a small scan")
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // q77/q78's fit/score split, as their driver queries build it
    def split(d: DataFrame): (DataFrame, DataFrame) =
      (d.filter(pmod(col("doc_id"), lit(10)) < 8),
        d.filter(pmod(col("doc_id"), lit(10)) >= 8))
    // every gated driver query's operator, with the broadcast hash
    // joins it keeps past the gate: q78's bloom bitsets (one row per
    // bucket) and q83's top-N ids are model-sized and never gated
    val ops: Seq[(String, Int, DataFrame => DataFrame)] = Seq(
      ("q29", 0, d => Dedup.ngramJaccardPairs(d, 0.8)),
      ("q43", 0, d => Dedup.dedupApply(d)),
      ("q53", 0, d => Dedup.dedupKeepers(d)),
      ("q55", 0, d => TextOps.contamination(d)),
      ("q64", 0, d => Dedup.dupSources(d)),
      ("q65", 0, d => TextOps.unigramSurprisal(d)),
      ("q66", 0, d => Dedup.containmentPairs(d, 0.9)),
      ("q77", 0, d => { val (r, s) = split(d); TextOps.bigramSurprisal(r, s) }),
      ("q78", 1, d => { val (r, b) = split(d); Dedup.bloomAdmit(r, b) }),
      ("q83", 1, d => TextOps.dsirSelect(d)),
      ("q97", 0, d => TextOps.subwordEncode(d)),
      ("q103", 0, d => TextOps.bpeEncode(d)),
      ("q106", 0, d => Analysis.tokenizerFertility(d)),
      ("q123", 0, d => TextOps.unigramTokenize(d)),
      ("q125", 0, d => TextOps.decontaminate(d)),
      ("q128", 0, d => Dedup.jaccardProfile(d)),
      ("q131", 0, d => Dedup.leakageScrub(d)),
      ("q132", 0, d => TextOps.tokenizerDiff(d)))
    // auto-broadcast off (the discipline above): a shuffled join is
    // the gate's own fallback, not Spark's size-based choice
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for ((q, kept, op) <- ops) {
      val plan = planOf(op(big)).split("== Initial Plan ==")(0)
      assert("BroadcastHashJoin".r.findAllIn(plan).size == kept &&
        (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")),
        s"$q did not flip to shuffled joins:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the fallback computes the broadcast path's rows
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for ((q, _, op) <- ops)
      assert(rows(op(big)) == rows(op(docs)), s"$q: fallback rows differ")
  }

  test("round-4 pipeline queries keep their scale shapes") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = planOf(df).split("== Initial Plan ==")(0)
      "Exchange hashpartitioning".r.findAllIn(plan).size
    }
    // map-only: the filter/projection fuses into the scan
    assert(exchanges(TextOps.stratifiedSample(Tables.documents(spark, sf))) == 0)
    assert(exchanges(Similarity.quantizeInt8(Tables.embeddings(spark, sf))) == 0)
    // one partial-aggregated exchange on a tiny group key
    assert(exchanges(TextOps.sourceMix(Tables.documents(spark, sf))) == 1)
    assert(exchanges(TextOps.languageIdEval(Tables.documents(spark, sf))) == 1)
    // keeper selection: no rank window, group table broadcast
    val keepPlan = planOf(Dedup.dedupKeepers(Tables.documents(spark, sf)))
    assert(!keepPlan.contains("Window"), s"rank window crept in:\n$keepPlan")
    assert(keepPlan.contains("BroadcastHashJoin"), s"no broadcast:\n$keepPlan")
    // repetition signals: map-only — the per-row mode expression
    // replaces the (doc, bigram) aggregation entirely
    val repPlan = planOf(TextOps.repetitionSignals(Tables.documents(spark, sf)))
    assert(exchanges(TextOps.repetitionSignals(Tables.documents(spark, sf))) == 0)
    assert(!repPlan.contains("Join"), s"join crept in:\n$repPlan")
    // contamination DEFAULT (round 14, under the broadcast-source
    // gate): the frozen-index fused probe — map-only, zero exchanges,
    // zero joins, one GramSetSharedCount call per row
    val conPlan = planOf(TextOps.contamination(Tables.documents(spark, sf)))
    assert(conPlan.contains("gramsetsharedcount"), s"not fused:\n$conPlan")
    assert(!conPlan.contains("Join") &&
      exchanges(TextOps.contamination(Tables.documents(spark, sf))) == 0,
      s"fused contamination should be map-only:\n$conPlan")
    // past the gate the index cannot freeze on the driver: both sides
    // shuffle on the gram hash into one sort-merge join, and the
    // per-doc count adds the only other exchange
    val conJoinDf = TextOps.contamination(pastGate(Tables.documents(spark, sf)))
    val conJoin = planOf(conJoinDf)
    assert(!conJoin.contains("BroadcastHashJoin") &&
      conJoin.contains("SortMergeJoin"), s"not a shuffled join:\n$conJoin")
    assert(exchanges(conJoinDf) == 3,
      s"expected bench-distinct, train-gram and per-doc count exchanges " +
        s"only:\n$conJoin")
  }

  test("round-5 queries keep their scale shapes") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = planOf(df).split("== Initial Plan ==")(0)
      "Exchange hashpartitioning".r.findAllIn(plan).size
    }
    // q45: (source, token) count exchange + per-source bounded topK
    // exchange — and NO rank window over the per-source vocabulary
    val topTok = TextOps.topTokensPerSource(Tables.documents(spark, sf))
    assert(exchanges(topTok) == 2, s"want 2 exchanges:\n${planOf(topTok)}")
    assert(!planOf(topTok).contains("Window"),
      s"rank window crept in:\n${planOf(topTok)}")
    // q43: drop-set anti-join broadcast under the gate, no window
    val applied = Dedup.dedupApply(Tables.documents(spark, sf))
    val aPlan = planOf(applied)
    assert(aPlan.contains("BroadcastHashJoin LeftAnti") ||
      aPlan.contains("LeftAnti, BuildRight"), s"anti-join not broadcast:\n$aPlan")
    assert(!aPlan.contains("Window"), s"rank window crept in:\n$aPlan")
    // q64: the PAIR side broadcasts in both provenance lookups — the
    // corpus (doc_id, source) projection streams from its scan with
    // no exchange below either join
    val dPlan = planOf(Dedup.dupSources(Tables.documents(spark, sf)))
    assert("BroadcastHashJoin".r.findAllIn(dPlan).size >= 2,
      s"provenance lookups not broadcast:\n$dPlan")
    assert("""BroadcastHashJoin[\s\S]{0,400}?FileScan parquet""".r
      .findFirstIn(dPlan).isDefined,
      s"corpus scan should stream into the join:\n$dPlan")
  }

  test("round-6 queries keep their scale shapes") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = planOf(df).split("== Initial Plan ==")(0)
      "Exchange hashpartitioning".r.findAllIn(plan).size
    }
    // q75: ONE exchange total — every stat partial-aggregates, so the
    // #columns-keyed shuffle moves sketch state only; no window
    val prof = Corpus.profileTable(Tables.documents(spark, sf))
    assert(exchanges(prof) == 1, s"want 1 exchange:\n${planOf(prof)}")
    assert(!planOf(prof).contains("Window"), planOf(prof))
    // q74: word-freq exchange + pair exchange, top-N via TakeOrdered
    // (never a global sort or rank window)
    val bpe = TextOps.bpePairStats(Tables.documents(spark, sf))
    assert(exchanges(bpe) == 2, s"want 2 exchanges:\n${planOf(bpe)}")
    assert(planOf(bpe).contains("TakeOrderedAndProject"), planOf(bpe))
    assert(!planOf(bpe).contains("Window"), planOf(bpe))
    // q76: exactly two exchanges — span-key window + doc regroup; the
    // first-occurrence pick never joins the spans back to themselves
    val span = Dedup.spanDedup(Tables.documents(spark, sf))
    assert(exchanges(span) == 2, s"want 2 exchanges:\n${planOf(span)}")
    assert(!planOf(span).contains("Join"), planOf(span))
    // q77: model joins broadcast under the source gate; scoring side
    // never sorts or windows, and the only nested-loop is the scalar
    val docs77 = Tables.documents(spark, sf)
    val big = TextOps.bigramSurprisal(
      docs77.filter("doc_id % 10 < 8"), docs77.filter("doc_id % 10 >= 8"))
    val bigPlan = planOf(big)
    assert("BroadcastHashJoin".r.findAllIn(bigPlan).size >= 3, bigPlan)
    assert(!bigPlan.contains("Window") && !bigPlan.contains("SortMergeJoin"),
      bigPlan)
    // q78: reference keys fold into bloom partials (ObjectHashAggregate)
    // and every confirmation join broadcasts below the gate — the
    // reference hash set itself never rides a shuffle
    val (ref78, batch78) = (
      Tables.documents(spark, sf).filter("doc_id % 10 < 8"),
      Tables.documents(spark, sf).filter("doc_id % 10 >= 8"))
    val bloomPlan = planOf(Dedup.bloomAdmit(ref78, batch78))
    assert(bloomPlan.contains("ObjectHashAggregate"), bloomPlan)
    assert("BroadcastHashJoin".r.findAllIn(bloomPlan).size >= 3, bloomPlan)
    assert(!bloomPlan.contains("Window") && !bloomPlan.contains("Cartesian"),
      bloomPlan)
    // q80: the encode pass is a pure map over literal centroid arrays
    // — zero exchanges, zero joins (the Lloyd fits ran at build time)
    val pq = Similarity.pqEncode(Tables.embeddings(spark, sf))
    assert(exchanges(pq) == 0, s"want a map-only encode:\n${planOf(pq)}")
    assert(!planOf(pq).contains("Join"), planOf(pq))
    // q84: semantic prune — literal-centroid assignment (no cartesian
    // against a centroid table), cluster-keyed id aggregation, no
    // rank window anywhere
    val sem = planOf(Similarity.semanticPrune(Tables.embeddings(spark, sf)))
    assert(!sem.contains("Cartesian") && !sem.contains("Window"), sem)
    // q83: DSIR selection — bounded top-N aggregator, no rank window,
    // no cartesian; the model join broadcasts at this scale
    val dsir = TextOps.dsirSelect(Tables.documents(spark, sf))
    val dsirPlan = planOf(dsir)
    assert(!dsirPlan.contains("Window") && !dsirPlan.contains("Cartesian"),
      dsirPlan)
    assert(dsirPlan.contains("ObjectHashAggregate"), dsirPlan)
    assert(dsirPlan.contains("BroadcastHashJoin"), dsirPlan)
    // q82: ADC search — corpus codes are map-only (no corpus shuffle),
    // the per-query LUTs ride one broadcast nested-loop join, and the
    // sole exchange is the bounded top-k aggregate on query_id
    val adc = Similarity.pqSearch(Tables.embeddings(spark, sf), 4, 3)
    assert(exchanges(adc) == 1, s"want 1 exchange (top-k agg):\n${planOf(adc)}")
    assert(planOf(adc).contains("BroadcastNestedLoopJoin"), planOf(adc))
    assert(planOf(adc).contains("ObjectHashAggregate"), planOf(adc))
    // q81: capped span index → codegen pair expansion → max-struct
    // argmax; three exchanges, no joins, no rank window
    val attr = Dedup.spanAttribution(Tables.documents(spark, sf))
    assert(exchanges(attr) == 3, s"want 3 exchanges:\n${planOf(attr)}")
    assert(!planOf(attr).contains("Window") && !planOf(attr).contains("Join"),
      planOf(attr))
    // q79: bounded per-source top-k aggregator, never a rank window
    val wsam = planOf(TextOps.weightedSample(Tables.documents(spark, sf)))
    assert(wsam.contains("ObjectHashAggregate") && !wsam.contains("Window"),
      wsam)
    // q73: pure semi/anti-join admission — no pair enumeration, no
    // window, no cartesian anywhere
    val (ref, batch) = (
      Tables.documents(spark, sf).filter("doc_id % 10 < 8"),
      Tables.documents(spark, sf).filter("doc_id % 10 >= 8"))
    val admPlan = planOf(Dedup.incrementalAdmit(ref, batch))
    assert("LeftSemi".r.findAllIn(admPlan).size >= 2, admPlan)
    assert("LeftAnti".r.findAllIn(admPlan).size >= 2, admPlan)
    assert(!admPlan.contains("Window") && !admPlan.contains("Cartesian"),
      admPlan)
  }

  test("round-5 retrieval/scoring queries keep their scale shapes") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = planOf(df).split("== Initial Plan ==")(0)
      "Exchange hashpartitioning".r.findAllIn(plan).size
    }
    val docs = Tables.documents(spark, sf)
    // q65: ONE token-scale exchange (the explicit doc_id repartition —
    // tf, the scoring probe, and the final per-doc agg all reuse it)
    // plus the vocab count; the vocab lookup broadcasts under the gate
    val surPlan = planOf(TextOps.unigramSurprisal(docs))
    assert(surPlan.contains("BroadcastHashJoin"),
      s"vocab lookup not broadcast:\n$surPlan")
    // the static AQE tree replicates the one doc_id repartition under
    // each consuming subtree (they dedupe at runtime via stage reuse):
    // count DISTINCT partitioning keys, which is what shuffles data
    val surKeys = """Exchange hashpartitioning\((\w+)#"""
      .r.findAllMatchIn(surPlan).map(_.group(1)).toSet
    assert(surKeys == Set("doc_id", "wh"),
      s"extra token-scale exchange crept in ($surKeys):\n$surPlan")
    // q66: same gate discipline as the q29 lookup
    val conPlan = planOf(Dedup.containmentPairs(docs))
    assert("BroadcastHashJoin".r.findAllIn(conPlan).size >= 2,
      s"shingle-set lookups not broadcast:\n$conPlan")
    // past the gate both ops degrade to shuffled joins — tiny test
    // stats would still auto-broadcast, so mimic at-scale stats
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val surFb = planOf(TextOps.unigramSurprisal(pastGate(docs)))
      assert(surFb.contains("SortMergeJoin") ||
        surFb.contains("ShuffledHashJoin"), s"no shuffled fallback:\n$surFb")
      val conFb = planOf(Dedup.containmentPairs(pastGate(docs)))
      assert(conFb.contains("SortMergeJoin") ||
        conFb.contains("ShuffledHashJoin"), s"no shuffled fallback:\n$conFb")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // q67: both rankings are bounded BEFORE fusion — the only window
    // is the final re-rank over the ≤ 2N fused rows, and the corpus
    // sides stream against broadcasts (bm25 stats + the query vector)
    val rrf = Similarity.hybridRrf(docs, Tables.embeddings(spark, sf),
      Seq("spark", "query", "fast"))
    val rrfPlan = planOf(rrf)
    assert("BroadcastNestedLoopJoin".r.findAllIn(rrfPlan).size >= 2,
      s"corpus sides should stream against broadcasts:\n$rrfPlan")
    assert("Window".r.findAllIn(rrfPlan).size <= 1,
      s"only the bounded final re-rank may window:\n$rrfPlan")
    assert(exchanges(rrf) <= 2,
      s"fusion join should touch only topN-bounded sides:\n$rrfPlan")
  }

  test("seqPack windows per (source, shard) with a cluster-derived shard count") {
    val docs = Tables.documents(spark, sf)
    // the pack window MUST partition by BOTH source and shard — a
    // source-only window would funnel each 100 TB source into one
    // partition's sort; shard is what makes packing embarrassingly
    // parallel (one shard per core)
    val plan = planOf(Corpus.seqPack(docs))
    val winLine = plan.linesIterator
      .find(_.contains("windowspecdefinition"))
      .getOrElse(fail(s"no window in seqPack plan:\n$plan"))
    assert(winLine.contains("source") && winLine.contains("shard"),
      s"pack window not per (source, shard):\n$winLine")
    // the default shard count follows the cluster (local[4] -> 4, a
    // 1000-core cluster -> 1000); explicit counts pass through for
    // oracle reproducibility
    val derived = math.max(4, spark.sparkContext.defaultParallelism)
    val seen = Corpus.seqPack(docs).select("shard").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(seen.subsetOf((0 until derived).toSet) && seen.size > 1,
      s"derived default produced shards $seen, expected within [0, $derived)")
    val pinned = Corpus.seqPack(docs, shards = 7).select("shard").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(pinned.subsetOf((0 until 7).toSet) && pinned.size > 4,
      s"explicit shards=7 produced $pinned")
  }

  test("knn corpus side is broadcast (no shuffle of scored pairs)") {
    val plan = planOf(Similarity.knnBruteForce(Tables.embeddings(spark, sf), 4, 5))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
    // top-k via partial-aggregatable udaf, not a rank window sort
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      s"rank window crept back in:\n$plan")
  }

  test("probe-training iteration: pure map + ONE (buckets+1)-key aggregate") {
    // weights ride as literals — no join, no corpus shuffle; the only
    // exchange carries per-feature partial error sums (65 keys)
    val feats = TextOps.probeFeatures(Tables.documents(spark, sf), 64, "en")
    val df = TextOps.probeGrad(feats, Seq.fill(65)(3L))
    df.collect() // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"iteration joins:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
  }

  test("BPE training round: one pair aggregate, argmax via bounded take") {
    // per round: one vocab-keyed pair exchange (plus the init state's
    // word collapse, which training hides behind the checkpoint), and
    // the argmax is TakeOrderedAndProject — never a global sort
    val df = TextOps.bpePairAgg(TextOps.bpeInitState(
        Tables.documents(spark, sf)))
      .orderBy(org.apache.spark.sql.functions.col("n").desc)
      .limit(1)
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"), s"no bounded take:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"$exchanges exchanges (want 2):\n$plan")
  }

  test("analysis queries keep their scale shapes") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(planOf(df).split("== Initial Plan ==")(0)).size
    // q104: ONE exchange — the per-mille score histogram (≤1001 keys);
    // the window/sort that follows orders that model-sized table, not
    // the corpus (single-partition exchange, not hashpartitioning)
    val auc = Analysis.aucEval(Tables.documents(spark, sf))
    assert(exchanges(auc) == 1, s"want 1 exchange:\n${planOf(auc)}")
    assert(!planOf(auc).contains("SortMergeJoin"), planOf(auc))
    // q105: the vocabulary never shuffles — candidate distinct + the
    // candidate-scale confirm agg are the only keyed exchanges, and
    // the confirm pass joins tokens against the BROADCAST candidates
    val hh = Analysis.heavyHitters(Tables.documents(spark, sf))
    assert(exchanges(hh) == 2, s"want 2 exchanges:\n${planOf(hh)}")
    assert(planOf(hh).contains("BroadcastHashJoin"), planOf(hh))
    assert(!planOf(hh).contains("Window") &&
      !planOf(hh).contains("SortMergeJoin"), planOf(hh))
    // q106: q97's shape with a lang rollup — distinct-word exchange +
    // ~#langs-keyed rollup; encodings broadcast under the gate
    val fert = Analysis.tokenizerFertility(Tables.documents(spark, sf))
    assert(exchanges(fert) == 2, s"want 2 exchanges:\n${planOf(fert)}")
    assert(planOf(fert).contains("BroadcastHashJoin"), planOf(fert))
    assert(!planOf(fert).contains("Window"), planOf(fert))
    // q107: map-only bucket id fused into the scan, one ≤64-key
    // exchange, no join/window anywhere
    val lb = Analysis.lengthBuckets(Tables.documents(spark, sf))
    assert(exchanges(lb) == 1, s"want 1 exchange:\n${planOf(lb)}")
    assert(!planOf(lb).contains("Join") && !planOf(lb).contains("Window"),
      planOf(lb))
    // q108: ONE global aggregate carrying all 44 decimal moments —
    // ZERO hashpartitioning exchanges, the corpus never shuffles
    val corr = Analysis.dimCorr(Tables.embeddings(spark, sf))
    assert(exchanges(corr) == 0, s"want 0 exchanges:\n${planOf(corr)}")
    assert(!planOf(corr).contains("Join"), planOf(corr))
    // q109: ONE rank-window exchange on (bucket, shard) — the counts
    // branch REUSES it (max rank == count), so the tokenize+score
    // scan runs once; offsets broadcast back; every Sort is
    // partition-local (global=false) — never a corpus-wide sort
    val curDf = Corpus.curriculumOrder(Tables.documents(spark, sf))
    curDf.collect() // reuse materializes in the AQE-final plan
    val cur = planOf(curDf).split("== Initial Plan ==")(0)
    // a ReusedExchange node echoes its target's "Exchange
    // hashpartitioning" text — subtract it to count REAL exchanges
    assert("Exchange hashpartitioning".r.findAllIn(cur).size -
      "ReusedExchange".r.findAllIn(cur).size == 1,
      s"want 1 keyed exchange:\n$cur")
    assert(cur.contains("ReusedExchange"),
      s"counts branch must reuse the rank exchange:\n$cur")
    assert(cur.contains("BroadcastHashJoin"), cur)
    assert(!cur.contains("SortMergeJoin"), cur)
    assert(!cur.contains("], true, "), s"global sort found:\n$cur")
  }

  test("q127 split leakage never joins the corpus (split is an expression)") {
    val leak = planOf(Dedup.splitLeakage(Tables.documents(spark, sf)))
      .split("== Initial Plan ==")(0)
    // q26's three exchanges + the (eval_id, split) rollup — and NO
    // join anywhere: the split buckets are hash expressions on the
    // pair ids, not a lookup against the document table
    assert(!leak.contains("Join"), s"join found:\n$leak")
    assert("Exchange hashpartitioning".r.findAllIn(leak).size == 4,
      s"want 4 exchanges:\n$leak")
    assert(!leak.contains("Window"), leak)
  }

  test("q87 recall eval joins the two bounded pair sets without re-expansion") {
    val docs = Tables.documents(spark, sf)
    val eval = planOf(Dedup.minhashRecallEval(docs))
      .split("== Initial Plan ==")(0)
    // the full-outer join must sit directly on the two candidate
    // subtrees: the corpus-exploding Generate count of the eval plan
    // equals the SUM of the standalone subtrees' — nothing downstream
    // of the pair sets re-runs a shingle/minhash expansion
    val genCand = "Generate".r.findAllIn(
      planOf(Dedup.minhashPairs(docs)).split("== Initial Plan ==")(0)).size
    val genTruth = "Generate".r.findAllIn(
      planOf(Dedup.ngramJaccardPairs(docs, 0.8))
        .split("== Initial Plan ==")(0)).size
    val genEval = "Generate".r.findAllIn(eval).size
    assert(genEval == genCand + genTruth,
      s"eval has $genEval Generates, subtrees $genCand + $genTruth:\n$eval")
    // and collapses to ONE single-row aggregate — no rank window, no
    // cartesian, one SinglePartition exchange for the final counts
    assert("Exchange SinglePartition".r.findAllIn(eval).size == 1, eval)
    assert(!eval.contains("Window"), eval)
    assert(!eval.contains("CartesianProduct"), eval)
  }

  test("q128 profile lookup broadcast is size-gated with a shuffled-join fallback") {
    val docs = Tables.documents(spark, sf)
    val auto = planOf(Dedup.jaccardProfile(docs))
    assert(auto.contains("BroadcastHashJoin"), s"no broadcast join:\n$auto")
    assert(!auto.contains("Window"), auto)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fbPlan = planOf(Dedup.jaccardProfile(pastGate(docs)))
        .split("== Initial Plan ==")(0)
      assert(!fbPlan.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$fbPlan")
      assert(fbPlan.contains("SortMergeJoin") ||
        fbPlan.contains("ShuffledHashJoin"), s"no shuffled join:\n$fbPlan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // both paths produce the identical histogram
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(rows(Dedup.jaccardProfile(pastGate(docs))) ==
      rows(Dedup.jaccardProfile(docs)))
  }

  test("image dHash pairs: payload bytes never shuffle — one exchange " +
    "of (band, id, hash), doc_id-only scan, no joins") {
    val df = Multimodal.imageDHashPairs(
      Multimodal.nearDupImageTable(Tables.documents(spark, sf)))
    df.collect() // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
    assert(!plan.contains("Join"), s"pair gen joins:\n$plan")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("struct<doc_id:bigint>"),
      s"scan reads more than doc_id:\n$schema")
  }

  test("audio dup pairs: payload bytes never shuffle — one exchange " +
    "of (subfp, id, frame-count-sized fps array), doc_id-only scan, " +
    "no joins") {
    val df = Multimodal.audioFpPairs(
      Multimodal.nearDupAudioTable(Tables.documents(spark, sf)))
    df.collect() // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
    assert(!plan.contains("Join"), s"pair gen joins:\n$plan")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("struct<doc_id:bigint>"),
      s"scan reads more than doc_id:\n$schema")
  }

  test("video containment pairs: one exchange of (hash, id, " +
    "frame-set array), doc_id-only scan, no joins") {
    val df = Multimodal.videoContainmentPairs(
      Multimodal.subClipVideoTable(Tables.documents(spark, sf)))
    df.collect() // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
    assert(!plan.contains("Join"), s"pair gen joins:\n$plan")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("struct<doc_id:bigint>"),
      s"scan reads more than doc_id:\n$schema")
  }

  test("video dup pairs: payload bytes never shuffle — one exchange " +
    "of (nf, band, id, 16·nf-byte signature), doc_id-only scan, " +
    "no joins") {
    val df = Multimodal.videoDHashPairs(
      Multimodal.nearDupVideoTable(Tables.documents(spark, sf)))
    df.collect() // finalize AQE
    val plan = planOf(df).split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges (want 1):\n$plan")
    assert(!plan.contains("Join"), s"pair gen joins:\n$plan")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("struct<doc_id:bigint>"),
      s"scan reads more than doc_id:\n$schema")
  }

  test("fused nodes with Array fields are semanticEqual by content, " +
    "and whole-stage CSE collapses a duplicated scoring column") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, EquivalentExpressions, Expression}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    import graft.functions._
    val dIn = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val lIn = BoundReference(0, ArrayType(LongType), nullable = true)
    // each pair built from SEPARATE array instances: case-class
    // equality over Array fields is reference equality, so these only
    // match through the content-based overrides
    def cents() = Array(Array(1.0, 2.0), Array(3.0, 4.0))
    def lcents() = Array(Array(1L, 2L), Array(3L, 4L))
    val pairs: Seq[(String, Expression, Expression, Expression)] = Seq(
      ("PqDistances",
        PqDistances(dIn, cents(), Array(5.0, 25.0)),
        PqDistances(dIn, cents(), Array(5.0, 25.0)),
        PqDistances(dIn, cents(), Array(5.0, 26.0))),
      ("CosineToConstants",
        CosineToConstants(dIn, cents(), Array(1.0, 2.0)),
        CosineToConstants(dIn, cents(), Array(1.0, 2.0)),
        CosineToConstants(dIn, Array(Array(1.0, 9.0)), Array(1.0))),
      ("LongSqDistances",
        LongSqDistances(lIn, lcents()),
        LongSqDistances(lIn, lcents()),
        LongSqDistances(lIn, Array(Array(9L)))),
      ("GramSetSharedCount",
        GramSetSharedCount(
          BoundReference(0, ArrayType(org.apache.spark.sql.types.StringType),
            nullable = true), Array(1L, 2L)),
        GramSetSharedCount(
          BoundReference(0, ArrayType(org.apache.spark.sql.types.StringType),
            nullable = true), Array(1L, 2L)),
        GramSetSharedCount(
          BoundReference(0, ArrayType(org.apache.spark.sql.types.StringType),
            nullable = true), Array(1L, 3L))))
    pairs.foreach { case (name, a, b, other) =>
      assert(a.semanticEquals(b),
        s"$name: structurally equal nodes not semanticEqual")
      assert(a.hashCode == b.hashCode, s"$name: hashCode disagrees")
      assert(!a.semanticEquals(other),
        s"$name: different constants compare equal")
      // the exact machinery whole-stage codegen's subexpression
      // elimination runs: two columns scoring with the same node must
      // collapse to ONE common subexpression
      val equiv = new EquivalentExpressions
      equiv.addExprTree(a)
      equiv.addExprTree(b)
      val common = equiv.getCommonSubexpressions
      assert(common.exists(_.semanticEquals(a)),
        s"$name: CSE does not collapse the duplicated node: $common")
    }
  }

  test("video serving gate keeps its past-the-broadcast shape: a " +
    "shuffled key join (never a broadcast of the serving table) and " +
    "a single left-anti back to the media") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val all = Multimodal.nearDupVideoTable(docs.limit(100))
    val st = Multimodal.videoServingTables(
      all.filter(col("media_id") % 2 === 0), shards = 1)
    // at-scale stats: nothing is auto-broadcastable (the serving
    // table at 2M refs is ~GBs — the whole reason this path exists);
    // the fixture's tiny stats would otherwise broadcast everything
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(Multimodal.videoAdmitServed(
          all.filter(col("media_id") % 2 === 1), st).toDF())
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastHashJoin"),
        s"serving table broadcast despite the budget premise:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"no shuffled key join:\n$plan")
      assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop shape leaked into the serving gate:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      st.unpersist()
    }
  }
}

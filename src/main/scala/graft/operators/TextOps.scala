package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Portable._

/** Text-analysis operators for large-scale training-data pipelines
  * over the `documents` table: tokenization/wordcount (the reference's
  * flagship `wordcount/WordCount.java:73-88` tokenizer), token
  * counting, quality scoring, language ID, and fingerprinting. All are
  * per-row narrow transforms (no shuffle except the final wordcount
  * agg) — at 100 TB they run map-side, fused in whole-stage codegen.
  */
object TextOps extends graft.QueryModule {

  /** Reference tokenizer (P1): lowercase, split on non-word runs,
    * drop empties. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\W+"), w => length(w) > 0)

  /** Classic wordcount: token frequencies across the corpus. */
  def wordCount(documents: DataFrame): DataFrame =
    documents
      // outer + null filter: a plain explode gets an inferred
      // size()>0 filter evaluating the tokenizer twice more per row
      .select(explode_outer(tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-document token statistics: whitespace tokens, a BPE-ish
    * regex token count (letter runs / digit runs / single symbols),
    * and a chars/4 estimate — the standard quick LLM-token estimate.
    */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(words(col("text"))).as("n_ws_tokens"),
      regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
        .as("n_bpe_tokens"),
      ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"))

  private[operators] val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality signals: token count, mean word length, stopword ratio,
    * alpha ratio. Ratios are emitted as raw int/int double divisions
    * (bit-portable); no multi-row float accumulation.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    documents
      .select(col("doc_id"), words(col("text")).as("ws"),
        normText(col("text")).as("norm"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_tokens"),
        length(regexp_replace(col("norm"), " ", "")).as("n_word_chars"),
        size(filter(col("ws"), w => array_contains(stopArr, w))).as("n_stop"))
    .select(
      col("doc_id"), col("n_tokens"),
      (col("n_word_chars").cast("double") / col("n_tokens")).as("avg_word_len"),
      (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"))
  }

  /** Per-source quality-threshold calibration: given a global keep
    * budget (`budgetPct`% of each source's documents), find the score
    * cutoff each source must apply — the LOWEST integer score whose
    * keep-everything-above-it set fits the source's budget — and how
    * many docs that cutoff actually keeps. The score is the per-mille
    * stopword ratio (integer, so the histogram is exact and the
    * threshold ports bit-exactly); any integer quality score plugs in.
    * This is how per-domain filter thresholds are actually chosen
    * before a 100 TB filtering pass (per-source score distributions
    * differ — one global cutoff over- or under-prunes every source).
    *
    * SCALE SHAPE: one map-only scoring scan, ONE exchange on the
    * (source, score) histogram key (≤ #sources · 1001 rows — a
    * model-sized key space regardless of corpus size), then the
    * cumulative selection runs on that tiny table (per-source window
    * + broadcast budgets). The q59 rule applied per source: never a
    * sort or percentile over raw documents.
    */
  def qualityThreshold(documents: DataFrame,
                       budgetPct: Int = 30): DataFrame = {
    require(budgetPct >= 1 && budgetPct <= 100,
      s"budgetPct must be in [1,100]: $budgetPct")
    val stopArr = array(stopwords.map(lit): _*)
    val scored = documents
      .filter(col("source").isNotNull)
      .select(col("source"), words(col("text")).as("ws"))
      .select(col("source"),
        size(col("ws")).cast("long").as("n_tok"),
        size(filter(col("ws"), w => array_contains(stopArr, w)))
          .cast("long").as("n_stop"))
      .select(col("source"), expr("(n_stop * 1000) div n_tok").as("score"))
    val hist = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
    val budgets = hist.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"))
      .withColumn("budget", expr(s"(n_docs * $budgetPct) div 100"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc)
    hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(budgets), "source")
      .filter(col("cum") <= col("budget"))
      .groupBy(col("source"), col("n_docs"), col("budget"))
      .agg(min(col("score")).as("threshold"), max(col("cum")).as("kept"))
  }

  /** Fixed subword vocabulary for [[subwordEncode]]: frequent English
    * digrams/trigrams plus every single letter/digit as base pieces
    * (so only punctuation falls back to unk). A learned vocab (q74's
    * pair stats iterated) plugs into the same apply path. */
  private[operators] val subwordVocab: Seq[String] =
    Seq("the", "ing", "and", "ion", "ent", "for", "th", "he", "in", "er",
      "an", "re", "on", "at", "en", "nd", "ti", "es", "or", "te", "of",
      "ed", "is", "it", "al", "ar", "st", "to", "nt", "ng", "se", "ha",
      "as", "ou", "io", "le", "ve", "co", "me", "de", "hi") ++
      ('a' to 'z').map(_.toString) ++ ('0' to '9').map(_.toString)

  /** Subword tokenizer APPLY (WordPiece-style greedy longest-match):
    * encode every word as the sequence of longest vocabulary prefixes
    * (unknown characters consume one position each), and report per
    * document the word, piece, and unk counts — the token-budget
    * accounting a training pipeline runs with the production
    * tokenizer before packing (q57) or mixing (q61/q91).
    *
    * The iterative longest-prefix loop is a Scala UDF — the one shape
    * codegen can't express — but it runs ONLY on the DISTINCT word
    * table: vocabulary-scale work no matter the corpus size (the q74
    * trick). The token-scale side is a hash join against those
    * vocab-sized encodings plus one per-doc aggregate.
    *
    * SCALE SHAPE: one token-scale exchange produces the distinct-word
    * table; encodings broadcast back under the q29 source-stats gate
    * ([[SizeGate]]; shuffled word-key join fallback above it); the
    * per-doc rollup rides a doc_id exchange. Greedy-longest-match is deterministic, so the DuckDB
    * recursive-CTE oracle reproduces counts exactly.
    */
  def subwordEncode(documents: DataFrame,
                    vocab: Seq[String] = subwordVocab): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val dw = encodeDistinctWords(tok.select(col("w")), vocab)
    tok.join(SizeGate.broadcastIfSmall(documents)(dw), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("nu")).as("n_unk"))
  }

  /** Candidate vocabulary for [[tokenizerDiff]]'s migration scenario:
    * the current pieces plus whole-word merges for the corpus' domain
    * vocabulary — the typical "retrain with more merges" upgrade whose
    * token-count impact the diff measures before anyone re-tokenizes
    * 100 TB. */
  private[operators] val subwordVocabV2: Seq[String] =
    subwordVocab ++ Seq("table", "scan", "merge", "hash", "join", "sort",
      "query", "spark", "stream", "batch", "window", "row", "fast",
      "key", "order", "part", "small", "dup")

  /** Tokenizer MIGRATION diff: encode the corpus under the current
    * vocabulary and a candidate one, and report the per-source token
    * impact — words, piece totals under each, unk totals, and the
    * integer per-mille ratio (1000·pieces_b div pieces_a; NULL when a
    * source has no pieces). THE question before a tokenizer swap:
    * how much does sequence length (= training cost and packing
    * layout) change, and where. Selection arithmetic is integer; no
    * float leaves the plan.
    *
    * SCALE SHAPE: q97's exactly — BOTH greedy encode loops run only
    * on the DISTINCT-word table (vocabulary-scale UDF work, fused as
    * two columns of ONE pass so the token-scale distinct runs once),
    * the combined (w → counts) table joins back under the
    * source-stats gate (broadcast ≤ 1 GiB, shuffled word-keyed join
    * above), and the final exchange carries #sources keys.
    */
  def tokenizerDiff(documents: DataFrame,
                    vocabA: Seq[String] = subwordVocab,
                    vocabB: Seq[String] = subwordVocabV2): DataFrame = {
    val tok = documents
      .select(col("source"), explode(words(col("text"))).as("w"))
    val dw = tok.select(col("w")).distinct()
      .withColumn("ea", greedyEncode(vocabA)(col("w")))
      .withColumn("eb", greedyEncode(vocabB)(col("w")))
      .select(col("w"),
        col("ea._1").as("np_a"), col("ea._2").as("nu_a"),
        col("eb._1").as("np_b"), col("eb._2").as("nu_b"))
    tok.join(SizeGate.broadcastIfSmall(documents)(dw), "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np_a")).as("pieces_a"), sum(col("np_b")).as("pieces_b"),
        sum(col("nu_a")).as("unk_a"), sum(col("nu_b")).as("unk_b"))
      .withColumn("ratio_permille",
        when(col("pieces_a") > 0,
          expr("1000 * pieces_b div pieces_a")))
  }

  /** The vocabulary-scale half of [[subwordEncode]] (shared with
    * q106's per-language fertility): greedy longest-prefix-encode the
    * DISTINCT words of a `w`-column token frame, returning
    * (w, np, nu) = word, piece count, unk count. The iterative match
    * loop is a Scala UDF — the one shape codegen can't express — but
    * it runs only on the distinct-word table, so the work is
    * vocabulary-sized no matter the corpus size. */
  /** Greedy longest-prefix (piece count, unk count) encoder for one
    * vocabulary, as a reusable UDF — the iterative match loop is the
    * one shape codegen can't express, so it runs only on
    * vocabulary-scale inputs (distinct words), never the corpus. */
  private[operators] def greedyEncode(
      vocab: Seq[String]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty),
      "subword vocab must be non-empty strings")
    val vset = vocab.toSet
    val maxLen = vocab.map(_.length).max
    udf { w: String =>
      val s = if (w == null) "" else w
      var i = 0
      var p = 0L
      var u = 0L
      while (i < s.length) {
        var l = math.min(maxLen, s.length - i)
        var found = 0
        while (l >= 1 && found == 0) {
          if (vset.contains(s.substring(i, i + l))) found = l
          l -= 1
        }
        if (found > 0) i += found else { i += 1; u += 1 }
        p += 1
      }
      (p, u)
    }
  }

  private[operators] def encodeDistinctWords(tokens: DataFrame,
                                             vocab: Seq[String]): DataFrame =
    tokens.select(col("w")).distinct()
      .withColumn("e", greedyEncode(vocab)(col("w")))
      .select(col("w"), col("e._1").as("np"), col("e._2").as("nu"))

  private[operators] val dicts: Seq[(String, Seq[String])] = Seq(
    "en"     -> Seq("the", "a", "fast", "slow", "small"),
    "sql"    -> Seq("table", "scan", "merge", "hash", "join", "sort", "query"),
    "stream" -> Seq("spark", "stream", "batch", "window", "row"))

  /** N-gram/keyword-dictionary language-ID heuristic: score each
    * class dictionary by token hits (with multiplicity), pick the
    * argmax (ties broken by dictionary order). Dictionary matching is
    * a broadcast-style lookup — no shuffle.
    */
  def languageId(documents: DataFrame,
                 keep: Seq[String] = Seq("doc_id")): DataFrame = {
    val scored = documents
      .select(keep.map(col) :+ words(col("text")).as("ws"): _*)
      .select(
        keep.map(col) ++ dicts.map { case (name, dict) =>
          val arr = array(dict.map(lit): _*)
          size(filter(col("ws"), w => array_contains(arr, w))).as(s"score_$name")
        }: _*)
    val best = dicts.map { case (name, _) => col(s"score_$name") }
      .reduceLeft((a, b) => greatest(a, b))
    val pred = dicts.foldRight(lit("und"): Column) { case ((name, _), acc) =>
      when(col(s"score_$name") === best, lit(name)).otherwise(acc)
    }
    // foldRight keeps earlier dicts winning ties (first when wins)
    scored.withColumn("predicted", pred)
  }

  /** Language-ID evaluation: the confusion table of the heuristic's
    * predicted class against the corpus' labeled language — the
    * accuracy artifact that decides whether the classifier is good
    * enough to route documents. The label rides through the scoring
    * projection (no join back to the corpus), so this is the same
    * map-only pass as q23 plus one tiny-group aggregate exchange. */
  def languageIdEval(documents: DataFrame): DataFrame =
    languageId(documents, Seq("doc_id", "lang"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Document fingerprint: 32-bit word hashes folded through a
    * polynomial rolling hash (order-sensitive), plus the md5 of the
    * normalized text (content address for exact dedup).
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      polyHash(transform(words(col("text")), w => hash32(w))).as("fp"),
      md5(normText(col("text"))).as("content_md5"))

  /** BM25 keyword ranking for a fixed term list — the lexical
    * counterpart of the ANN ops for retrieval-style training-data
    * selection. One narrow pass computes per-doc term frequencies
    * (no explode/shuffle); corpus stats (N, avgdl, per-term df) are a
    * single 1-row aggregate broadcast back; top-N is one rank.
    *
    * Portability: idf is the rational (N - df + 0.5)/(df + 0.5) —
    * BM25's log is monotone, so ranking is preserved, while avoiding
    * ln(), whose last-bit rounding differs across math libraries. The
    * score is a fixed left-fold of per-term contributions, so both
    * engines run the identical IEEE op sequence.
    */
  def bm25(documents: DataFrame, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topN: Int = 20): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(Seq(col("doc_id"), size(col("ws")).as("dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), w => w === lit(t))).cast("double").as(s"tf$i")
        }: _*)
    val statCols =
      Seq(count(lit(1)).as("n_docs"),
        (sum(col("dl").cast("decimal(18,0)")).cast("double") /
          count(lit(1))).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val contribs = terms.indices.map { i =>
      val idf = (col("n_docs") - col(s"df$i") + lit(0.5)) /
        (col(s"df$i") + lit(0.5))
      idf * (col(s"tf$i") * (lit(k1) + lit(1.0))) /
        (col(s"tf$i") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    }
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), contribs.reduceLeft(_ + _).as("score"))
      .filter(col("score") > 0)
    // Global top-N via the bounded TopK aggregator, not a rank over an
    // unpartitioned window: each map task keeps ≤ N candidates, so no
    // single-partition sort of every scored doc. (sim desc, id asc) is
    // a total order, so the result equals the rank formulation exactly.
    scored
      .agg(graft.functions.Aggregators.topK(topN)(
        col("score"), col("doc_id")).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("s.id").as("doc_id"), col("s.sim").as("score"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Deterministic train/val/test split: bucket every document by a
    * seeded md5 hash of its id — uniform, engine-independent, stable
    * under any repartitioning or re-run (the property a 100 TB
    * pipeline needs so splits never leak across reshuffles). Pure
    * narrow projection; no shuffle.
    */
  /** The q44 split-bucket expression — THE one definition of split
    * membership, shared by [[trainSplit]] and the leakage audit/scrub
    * (Dedup.splitLeakage / Dedup.leakageScrub) so the three can never
    * silently disagree on what "train" means.
    * DuckDB: `('0x' || substr(md5('split|' || id), 1, 15))::BIGINT % 100` */
  private[operators] def splitBucket(id: Column): Column =
    pmod(hash60(concat(lit("split|"), id)), lit(100))

  def trainSplit(documents: DataFrame, trainPct: Int = 90,
                 valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split: trainPct=$trainPct valPct=$valPct")
    documents.select(col("doc_id"),
      splitBucket(col("doc_id"))
        .as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Deterministic stratified sampling — mixture rebalancing by
    * language: each stratum keeps `rates(lang)`% (else `defaultPct`%)
    * of its documents, selected by a seeded hash of the id, so the
    * sample is uniform within strata, stable under reshuffles and
    * re-runs, and independent of the train/val/test hash (different
    * seed prefix). Map-only: the filter fuses into the scan — at
    * 100 TB this touches no shuffle and reads only (doc_id, lang).
    */
  def stratifiedSample(documents: DataFrame,
                       rates: Seq[(String, Int)] = sampleRates,
                       defaultPct: Int = 10): DataFrame = {
    val rate = rates.foldRight(lit(defaultPct): Column) {
      case ((l, p), acc) => when(col("lang") === l, lit(p)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("lang"),
        pmod(hash60(concat(lit("sample|"), col("doc_id"))), lit(100))
          .as("bucket"),
        rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** PII / term scrubbing: count and redact every match of an
    * email-address, URL, or listed-term pattern, emitting the match
    * count and the content address (md5) of the redacted text. Narrow
    * per-row transform — at 100 TB this is a map-only pass fused into
    * the scan. The regex sticks to the RE2-compatible subset so any
    * engine applies the identical automaton.
    */
  private[operators] def scrubPat(terms: Seq[String]): String =
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}|https?://[^\\s]+" +
      terms.mkString("|\\b(", "|", ")\\b")

  def scrub(documents: DataFrame, terms: Seq[String]): DataFrame = {
    val pat = scrubPat(terms)
    documents.select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
        .as("n_hits"),
      md5(regexp_replace(lower(col("text")), pat, "<X>")).as("scrubbed_md5"))
  }

  /** Corpus composition report — the "data mixture" table every
    * training-data pipeline publishes before a run: per (source,
    * language) document count, estimated token budget, and mean
    * document length. One partial-aggregated exchange on a tiny group
    * key; at 100 TB the shuffle carries per-task partials only.
    * Portability: the mean is a single bigint/bigint double division.
    */
  def sourceMix(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), col("lang"),
        size(words(col("text"))).as("nw"),
        ceil(col("n_chars") / 4.0).cast("long").as("et"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("et")).as("est_tokens"),
        (sum(col("nw")).cast("double") / count(lit(1)))
          .as("mean_ws_tokens"))

  /** Repetition quality signals (the Gopher-rule family): per-doc
    * type-token ratio and the share of tokens claimed by the most
    * frequent bigram — the two cheapest detectors of degenerate
    * boilerplate/looped text. MAP-ONLY: the dominant-bigram count is
    * the per-row mode of the shingle array, computed by one generated
    * sort + run-length pass (`MaxStringMultiplicity`) instead of
    * exploding the corpus into a (doc, bigram) aggregation — at
    * 100 TB this fuses into the scan and shuffles nothing. Exact
    * string semantics, identical to the exploded count formulation.
    * Documents with fewer than 2 tokens have no bigram and drop out
    * (mirrored by the oracle's gram inner-unnest).
    */
  def repetitionSignals(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), words(col("text")).as("ws"))
      // the <2-token guard goes on the CHEAP size condition here; a
      // filter on the top2_cnt alias would push the whole mode
      // expression into an interpreted Filter below the projection
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), size(col("ws")).as("n_tokens"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        graft.functions.VectorExpressions
          .maxStringMultiplicity(shingles(col("ws"), 2)).as("top2_cnt"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens"))
          .as("distinct_ratio"),
        (col("top2_cnt").cast("double") * lit(2.0) / col("n_tokens"))
          .as("top2_share"))

  /** Benchmark decontamination screen: for every training document,
    * the number of distinct word n-grams it shares with ANY document
    * of the held-out benchmark source — the standard eval-leakage
    * check run before training. The benchmark n-gram index is tiny
    * relative to the corpus (eval suites are small by construction),
    * so it broadcasts under the same source-stats gate as the
    * jaccard lookup and the training side never shuffles before its
    * final per-doc count (only SHARED gram rows reach that
    * aggregation); grams travel as 60-bit hashes, never strings.
    * Docs appear in the output iff they share at least one n-gram,
    * with the doc's total gram count for a ratio.
    *
    * The [[SizeGate]] on the benchmark side picks the plan. Under it,
    * a frozen-index MAP-ONLY probe runs (one
    * [[graft.functions.GramSetSharedCount]] call per doc against the
    * fitContamIndex array — zero exchanges, zero joins, the exact
    * shape the streaming gate serves from). Past it the index cannot
    * freeze on the driver, so the gram-explode + shuffled index-join
    * formulation runs instead, with identical rows (parity-spec'd on
    * an input past the gate). History: the round-8 A/B measured the
    * fused path 0.5-0.6 s SLOWER per run and it was opt-in through
    * round 13; the round-14 fused expression nodes (WordShingles +
    * Md5PrefixLong) cut its per-row cost 3-4× and the same A/B then
    * favored it (OPTIMIZATION_r14.md §6: 0.64 s fused vs 0.75 s join
    * for the report, 1.12 vs 1.39 for the apply).
    */
  def contamination(documents: DataFrame, benchSource: String = "src0",
                    n: Int = 5): DataFrame =
    if (SizeGate.small(documents.filter(col("source") === benchSource))) {
      // FUSED probe (under the gate; see the scaladoc):
      // freeze the benchmark grams as a sorted h60 array
      // (fitContamIndex — the exact structure the streaming gate
      // serves from) and count per-doc membership in ONE generated
      // call per row. The corpus gram pipeline stays identical
      // (words → n-shingles → distinct), but nothing explodes,
      // probes a join, or re-aggregates per doc — a single map-only
      // scan. Results are bit-identical to the join formulation:
      // both count distinct gram STRINGS whose h60 matches a
      // benchmark gram (membership by the same hash on both paths),
      // and the parity spec pins the two paths row for row.
      val idx = fitContamIndex(documents, benchSource, n)
      documents.filter(col("source") =!= benchSource)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= n)
        .select(col("doc_id"),
          array_distinct(shingles(col("ws"), n)).as("gs"))
        .select(col("doc_id"), size(col("gs")).as("n_grams"),
          graft.functions.VectorExpressions
            .gramSetSharedCount(col("gs"), idx).as("n_shared"))
        .filter(col("n_shared") >= 1)
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_grams"))
            .as("contam_ratio"))
    } else contaminationJoin(documents, benchSource, n)

  /** [[contamination]] past the gate: the benchmark side is too large
    * to freeze on the driver, so both sides explode to gram hashes
    * and meet in a shuffled join. Token array materialized in its OWN
    * projection before the shingle lambda references it n times —
    * inlined, every element_at re-runs the regex split (measured 15×
    * slower). The explode is the OUTER variant + an explicit
    * post-generate null filter: a plain explode makes the optimizer
    * infer `size(gs) > 0` and push it below the projection as an
    * INTERPRETED filter with the whole shingle pipeline inlined twice
    * per row (measured 25 s of a 29 s query at sf0.1). */
  private def contaminationJoin(documents: DataFrame, benchSource: String,
                                n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), array_distinct(shingles(col("ws"), n)).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), col("n_grams"), hash60(col("g")).as("gh"))
    val idx = grams(documents.filter(col("source") === benchSource))
      .select(col("gh")).distinct()
    grams(documents.filter(col("source") =!= benchSource))
      .join(idx, "gh")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_grams"))
          .as("contam_ratio"))
  }

  /** Decontamination APPLY — the surviving corpus after dropping every
    * document whose shared-n-gram ratio with the held-out benchmark
    * source reaches `maxSharePermille` (q43's report→apply closure for
    * q55: the report says how contaminated the corpus is; this cuts
    * the corpus that ships). The threshold compare is exact integer
    * cross-multiplication (n_shared·1000 ≥ permille·n_grams) — no
    * float near the corpus-sized keep/drop decision. Benchmark rows
    * themselves are not part of the output (they are eval data, not
    * training data).
    *
    * SCALE SHAPE: while the benchmark side sits under the
    * [[SizeGate]], the keep/drop decision fuses into the corpus scan
    * itself — ONE map-only pass, zero exchanges, zero joins; the
    * exact per-document decision
    * [[graft.streaming.StreamAggs.decontamGate]] makes in-stream.
    * Past the gate the index cannot freeze on the driver, so it rides
    * [[contamination]]'s shuffled gram-index join (60-bit gram
    * hashes, distinct bench index), then ONE bare-id drop set
    * anti-joins the corpus on doc_id — payloads move zero times.
    * The round-8 A/B measured the fused path SLOWER (its shingle
    * assembly and gram hash were interpreted then); with the round-14
    * fused expression nodes it re-measured FASTER (fused 1.12 s vs
    * join 1.39 s at sf0.1, OPTIMIZATION_r14.md §6). Path equality is
    * spec-asserted (OperatorsSpec).
    */
  def decontaminate(documents: DataFrame, benchSource: String = "src0",
                    n: Int = 5, maxSharePermille: Long = 100): DataFrame = {
    require(maxSharePermille >= 1,
      s"maxSharePermille must be >= 1, got $maxSharePermille")
    if (SizeGate.small(documents.filter(col("source") === benchSource))) {
      val idx = fitContamIndex(documents, benchSource, n)
      val out = Seq(col("doc_id"), col("lang"), col("source"),
        col("n_chars"))
      // token array and gram array each materialized in their OWN
      // projection (the contamination inline-rerun lesson); docs
      // below n tokens have no grams (null) and are always kept —
      // the join path's inner-join semantics
      documents.filter(col("source") =!= benchSource)
        .select(out :+ words(col("text")).as("__ws"): _*)
        .select(out :+ when(size(col("__ws")) >= n,
          array_distinct(shingles(col("__ws"), n))).as("__gs"): _*)
        .filter(col("__gs").isNull ||
          graft.functions.VectorExpressions
            .gramSetSharedCount(col("__gs"), idx) * lit(1000L) <
            lit(maxSharePermille) * size(col("__gs")))
        .select(out: _*)
    } else {
      val drops = contaminationJoin(documents, benchSource, n)
        .filter(col("n_shared") * 1000L >=
          lit(maxSharePermille) * col("n_grams"))
        .select(col("doc_id"))
      documents.filter(col("source") =!= benchSource)
        .join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }
  }

  /** Train half of the streaming decontamination gate
    * ([[graft.streaming.StreamAggs.decontamGate]]): the benchmark
    * source's distinct n-gram 60-bit hashes as a SORTED array —
    * binary-searchable, compact to broadcast, order-deterministic.
    * Collecting is safe by construction: held-out benchmark suites
    * are bounded eval sets (the q120 literal-benchmark argument), not
    * corpus-scale — the index is grams-of-the-benchmark-sized. Gram
    * definition (words → n-shingles → distinct → hash60) matches
    * [[contamination]]/[[decontaminate]] bit for bit, so the gate's
    * stream survivors equal q125's batch survivors (spec-asserted).
    */
  def fitContamIndex(documents: DataFrame, benchSource: String = "src0",
                     n: Int = 5): Array[Long] = {
    val idx = documents.filter(col("source") === benchSource)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(explode(array_distinct(shingles(col("ws"), n))).as("g"))
      .select(hash60(col("g")).as("gh"))
      .distinct()
      .as[Long](documents.sparkSession.implicits.newLongEncoder)
      .collect()
    java.util.Arrays.sort(idx)
    idx
  }

  /** floor(log₂ x) = length(bin(x)) − 1 for x ≥ 1: an exact integer
    * in any engine (see [[unigramSurprisal]]). */
  private def flog2(c: Column): Column = length(bin(c)) - 1

  /** Unigram-LM surprisal — the perplexity-proxy quality score every
    * production filtering pipeline runs (CCNet-style: score each
    * document by how surprising its tokens are under a language model
    * fit on the corpus itself; gibberish scores high, boilerplate
    * scores low). The "model" is the corpus unigram distribution, and
    * the per-token surprisal −log₂ p(w) is QUANTIZED to whole bits:
    * flog2(x) = floor(log₂ x) = length(bin(x)) − 1, an exact integer
    * in any engine — same portability doctrine as BM25's rational idf
    * (ln()'s last-bit rounding differs across math libraries; an
    * integer bit-length never does). Per document:
    * bits = Σ_tokens (flog2(total_tokens) − flog2(count(w))), and the
    * reported score is bits / n_tokens (one IEEE division at the end).
    *
    * Scale shape (100 TB): the token stream shuffles ONCE (an explicit
    * repartition on doc_id); the per-doc term frequencies, the scoring
    * join's probe side, and the final per-doc aggregation all reuse
    * that partitioning, so the only other exchange is the vocabulary
    * count (8-byte word hashes, partial-aggregated). The vocab table
    * (natural-language vocabularies are millions of rows, not corpus-
    * sized) broadcasts under the same source-stats gate as the q29
    * lookup ([[SizeGate]]); past the gate the scoring join degrades to
    * a shuffled hash join on the word-hash key.
    */
  def unigramSurprisal(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), hash60(col("w")).as("wh"))
      .repartition(col("doc_id"))
    // doc_id partitioning satisfies the (doc_id, wh) clustering, so
    // this aggregates in place — no second token-scale exchange
    val tf = tok.groupBy(col("doc_id"), col("wh"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("wh")).agg(sum(col("tf")).as("cnt"))
    val total = tf.agg(sum(col("tf")).as("total"))
    tf.join(SizeGate.broadcastIfSmall(documents)(vocab), "wh")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * (flog2(col("total")) - flog2(col("cnt"))))
          .as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        (col("bits").cast("double") / col("n_tokens"))
          .as("bits_per_token"))
  }

  /** Bigram language-model surprisal — the CCNet-style quality screen:
    * fit bigram/unigram counts on a REFERENCE corpus, score held-out
    * documents by add-one-smoothed per-token bits. Cheap-model
    * perplexity is the standard "is this prose or noise" filter for
    * pretraining data; documents scoring far above the corpus median
    * are boilerplate/garbled, far below are templated repetition.
    *
    * Scoring is a proper distribution per position: the first token
    * pays `lg((T+V)) - lg(c_uni+1)` against the unigram model, every
    * later token pays `lg(c_ctx+V) - lg(c_bi+1)` where `c_bi` counts
    * the (prev, cur) bigram in the reference and `c_ctx` counts prev
    * as a bigram head (so the smoothed conditionals sum to 1 over the
    * V-word vocabulary). All bit costs are the exact integer
    * `floor(log2)` quantization [[unigramSurprisal]] uses — the
    * per-document sum is integer arithmetic, independent of partition
    * order, and the oracle reproduces it bit-for-bit.
    *
    * SCALE SHAPE: model tables (unigram, bigram, context counts) are
    * vocabulary-sized, not corpus-sized; each scoring join is either a
    * broadcast (reference under the 1 GiB source gate) or a
    * key-partitioned shuffle join on a 60-bit hash — never a window,
    * never a collect. The two scoring frames (first-token, bigram)
    * union and aggregate once per doc_id; T and V ride a broadcast
    * scalar. At 100 TB the held-out side streams through map-side
    * hash probes of the model.
    */
  def bigramSurprisal(reference: DataFrame, scored: DataFrame): DataFrame = {
    def lg(c: Column): Column = length(bin(c))
    val gate = SizeGate.broadcastIfSmall(reference)
    val refW = reference
      .select(explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
    val uni = refW.groupBy(hash60(col("w")).as("uh"))
      .agg(count(lit(1)).as("uc"))
    val scal = refW.agg(count(lit(1)).as("t"),
      countDistinct(col("w")).as("v"))
    // materialize the token array BEFORE the generate: inlined under
    // the explode, every element_at of the shingle transform would
    // re-run the whole-document regex normalization (measured 20×
    // per-row vs this spelling — the Generate boundary pins `ws`)
    val refBi = reference
      .select(words(col("text")).as("ws"))
      .select(explode_outer(shingles(col("ws"), 2)).as("sh"))
      .filter(col("sh").isNotNull)
      .select(hash60(col("sh")).as("bh"),
        hash60(split(col("sh"), " ", 2).getItem(0)).as("ch"))
    val bi = refBi.groupBy(col("bh")).agg(count(lit(1)).as("bc"))
    val ctx = refBi.groupBy(col("ch")).agg(count(lit(1)).as("cc"))
    val sW = scored.select(col("doc_id"), words(col("text")).as("ws"))
    val fBits = sW
      .select(col("doc_id"), hash60(element_at(col("ws"), 1)).as("uh"))
      .join(gate(uni), Seq("uh"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        (lg(col("t") + col("v")) - lg(coalesce(col("uc"), lit(0L)) + 1))
          .cast("long").as("pos_bits"))
    val bBits = sW
      .select(col("doc_id"), explode(shingles(col("ws"), 2)).as("sh"))
      .select(col("doc_id"), hash60(col("sh")).as("bh"),
        hash60(split(col("sh"), " ", 2).getItem(0)).as("ch"))
      .join(gate(bi), Seq("bh"), "left")
      .join(gate(ctx), Seq("ch"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        (lg(coalesce(col("cc"), lit(0L)) + col("v")) -
          lg(coalesce(col("bc"), lit(0L)) + 1)).cast("long").as("pos_bits"))
    fBits.unionByName(bBits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("pos_bits")).as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        (col("bits").cast("double") / col("n_tokens"))
          .as("bits_per_token"))
  }

  /** DSIR-style importance selection (q83): score every document by
    * how target-domain-like its hashed bigram features are, then keep
    * the top N — the standard recipe for carving a domain-matched
    * subset (e.g. "wiki-like web pages") out of a raw crawl. Features
    * are word bigrams hashed into `buckets` slots; per bucket the
    * model is the add-1-smoothed log-ratio of target vs corpus
    * frequencies, and a document's importance is
    * logw = Σ_f n_f · [flog2(ct_f+1) − flog2(cr_f+1) + c0], where the
    * constant c0 = flog2(T_raw + B) − flog2(T_tgt + B) normalizes the
    * two totals. All bit costs are the exact integer floor(log₂) of
    * [[unigramSurprisal]], so the sum is integer arithmetic the
    * oracle reproduces bit-for-bit; selection order is (logw desc,
    * doc_id asc).
    *
    * SCALE SHAPE: one tokenize pass feeds the per-doc bucket counts
    * (the single token-scale exchange, reused by BOTH model fits and
    * the scoring join); the model is buckets-sized (never
    * vocabulary- or corpus-sized — the hashing is what makes DSIR
    * tractable), broadcast under the source gate with a key-join
    * fallback; top-N rides the bounded TopK aggregator (≤ N rows per
    * partition, never a global sort), and the final payload join
    * moves only N ids.
    */
  def dsirSelect(documents: DataFrame, targetSource: String = "src0",
                 buckets: Int = 4096, topN: Int = 100): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"), col("source"),
        explode(shingles(words(col("text")), 2)).as("bg"))
      .select(col("doc_id"), col("source"),
        pmod(hash60(col("bg")), lit(buckets.toLong)).as("b"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
    // ONE bucket-keyed pass computes both marginals (raw + target);
    // perDoc then has exactly two consumers (model fit, scoring join)
    // sharing its token-scale exchange — the old raw/tgt/shift
    // spelling re-ran the post-exchange aggregation four times.
    val marginals = perDoc.groupBy(col("b"))
      .agg(sum(col("n")).as("cr"),
        sum(when(col("source") === targetSource, col("n"))).as("ct"))
    val model = marginals
      .select(col("b"),
        (flog2(coalesce(col("ct"), lit(0L)) + 1) -
          flog2(col("cr") + 1)).as("lam"))
    // totals fold over the buckets-sized marginals table, not the corpus
    val shift = marginals.agg(
      (flog2(sum(col("cr")) + buckets) -
        flog2(coalesce(sum(col("ct")), lit(0L)) + buckets)).as("c0"))
    val scored = perDoc
      .join(SizeGate.broadcastIfSmall(documents)(model), "b")
      .crossJoin(broadcast(shift))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * (col("lam") + col("c0"))).as("logw"))
    val top = scored.groupBy()
      .agg(graft.functions.Aggregators.topK(topN)(
        col("logw").cast("double"), col("doc_id")).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn"))
    scored.join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("n_feats"), col("logw"), col("rn"))
  }

  /** Weighted sample without replacement, k docs per source — the
    * Efraimidis-Spirakis A-ES scheme: each document draws a uniform
    * `u` from a seeded hash of its id and competes with priority
    * `-ln(u) / w` (weight `w` = n_chars, floored at 1); the k SMALLEST
    * priorities per source are the sample, distributed as length-
    * weighted sampling without replacement. Used to pull inspection /
    * eval subsets whose length mass mirrors the corpus.
    *
    * SCALE SHAPE: the per-source selection rides the bounded [[
    * graft.functions.Aggregators.TopK]] aggregator — each map task
    * carries ≤ k candidates per source, so there is NO rank window
    * and no per-source sort of the full corpus. The join that
    * re-attaches n_chars moves only the k·|sources| sampled ids
    * (AQE broadcasts it); the corpus payload never shuffles.
    * Determinism: the priority is a pure function of (seed, doc_id),
    * ties broken by doc_id — identical sample on every run/cluster.
    */
  def weightedSample(documents: DataFrame, k: Int = 20,
                     seed: String = "sample79"): DataFrame = {
    val u = (hash60(concat(lit(seed), lit("|"), col("doc_id"))) + 1)
      .cast("double") / lit(1152921504606846976.0d)
    // topK keeps the LARGEST scores; score = ln(u)/w = -priority
    val score = log(u) / greatest(col("n_chars"), lit(1L)).cast("double")
    documents
      .select(col("source"), col("doc_id"), score.as("score"))
      .groupBy(col("source"))
      .agg(graft.functions.Aggregators.topK(k)(col("score"), col("doc_id"))
        .as("picks"))
      .select(col("source"), posexplode(col("picks")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"))
      .join(documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
  }

  /** Per-source distinctive tokens (q89): the top-k tokens whose
    * frequency in a source most exceeds their corpus-wide rate —
    * pointwise mutual information in integer bits,
    * pmi = flog2(c_sw) + flog2(T) − flog2(c_w) − flog2(T_s),
    * restricted to tokens with c_sw ≥ `minCount`. This is the
    * corpus-QA report a pipeline prints per crawl/domain: "what is
    * this source actually full of?" — PMI surfaces the vocabulary a
    * source over-represents, not just its most frequent tokens.
    * All four bit costs are exact integer floor(log₂) (summed as
    * ints, no float), so selection order (pmi desc, word asc) is
    * engine-portable.
    *
    * SCALE SHAPE: the corpus collapses to the (source, word) count
    * table first (ONE token-scale exchange, map-side combined); the
    * word marginal re-aggregates that table on vocab-sized keys and
    * joins back on the word key (hash-partitioned — the natural
    * vocab join; AQE broadcasts it at small scale); source totals
    * (#sources rows) and the corpus total (1 row) broadcast. Top-k
    * rides the bounded by-key aggregator — ≤ k candidates per source
    * per map task, never a rank window over the vocabulary.
    */
  def distinctiveTokens(documents: DataFrame, k: Int = 10,
                        minCount: Int = 5): DataFrame = {
    // the explicit not-null filters match the constraints the joins
    // below infer on the scored branch — without them the cw/ts/tot
    // branches compile to a DIFFERENT scan subtree (no IsNotNull
    // pushed) and the token-scale (source, w) exchange materializes
    // twice instead of being plan-reused (the q83 lesson)
    val sw = documents
      .select(col("source"), explode(words(col("text"))).as("w"))
      .filter(col("source").isNotNull && col("w").isNotNull)
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
    val cw = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ts = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
    val tot = ts.agg(sum(col("t_s")).as("t"))
    val scored = sw.filter(col("c_sw") >= minCount)
      .join(cw, "w")
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("w"), col("c_sw"),
        (flog2(col("c_sw")) + flog2(col("t")) -
          flog2(col("c_w")) - flog2(col("t_s")))
          .cast("long").as("pmi_bits"))
    val top = scored.groupBy(col("source"))
      .agg(graft.functions.Aggregators.topKByKey(k)(
        col("pmi_bits"), col("w")).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("source"), col("s.key").as("w"),
        (col("pos") + 1).cast("int").as("rank"))
    // the join-back moves only k·|sources| (source, word) keys
    scored.join(broadcast(top), Seq("source", "w"))
      .select(col("source"), col("rank"), col("w").as("word"),
        col("c_sw"), col("pmi_bits"))
  }

  /** Unigram-LM tokenizer: fit a substring piece inventory from the
    * corpus and tokenize by VITERBI (minimum-cost) segmentation — the
    * SentencePiece-style optimal counterpart of q97's greedy
    * longest-match, completing the tokenizer family (q74 pair stats →
    * q101 BPE train → q103 BPE encode → q97 greedy apply → optimal
    * apply here). Piece costs are exact integer bits
    * (flog2(total) − flog2(count), the q65 spelling) packed as
    * cost·256 + 1 so one integer DP minimizes total bits first,
    * piece count second; per-word results are VALUES (bits, pieces),
    * so cost ties never make the output ambiguous. Single-character
    * pieces are kept unconditionally — full coverage, no unk path.
    *
    * SCALE SHAPE: piece counting and the DP run ONLY on the distinct
    * word table (vocab-scale; the substring explode and the DP UDF
    * never see the corpus); the kept piece inventory is a model-sized
    * driver collect (it IS the tokenizer — the q34/q65 discipline);
    * per-word results rejoin the token stream under the q97 source
    * gate and roll up per doc.
    */
  def unigramTokenize(documents: DataFrame, maxPiece: Int = 4,
                      minCount: Long = 5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tok = documents
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val wtab = tok.groupBy(col("w")).agg(count(lit(1)).as("f"))
    // all substrings with multiplicity, freq-weighted — vocab-scale
    val mp = maxPiece
    val subs = udf { (w: String) =>
      val s = if (w == null) "" else w
      (for {
        i <- 0 until s.length
        l <- 1 to math.min(mp, s.length - i)
      } yield s.substring(i, i + l)).toArray
    }
    val pieces = wtab
      .select(explode(subs(col("w"))).as("p"), col("f"))
      .groupBy(col("p")).agg(sum(col("f")).as("c"))
      .filter(col("c") >= minCount || length(col("p")) === 1)
    // model-sized collect: the piece inventory IS the tokenizer
    val pcs = pieces.as[(String, Long)].collect()
    val total = pcs.map(_._2).sum
    def fl(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val costMap = pcs.map { case (p, c) =>
      p -> ((fl(total) - fl(c)) * 256L + 1L) }.toMap
    val dp = udf { (w: String) =>
      val s = if (w == null) "" else w
      val n = s.length
      val cost = Array.fill(n + 1)(Long.MaxValue)
      cost(n) = 0L
      var i = n - 1
      while (i >= 0) {
        var l = 1
        while (l <= math.min(mp, n - i)) {
          costMap.get(s.substring(i, i + l)) match {
            case Some(pc) if cost(i + l) != Long.MaxValue =>
              val c2 = pc + cost(i + l)
              if (c2 < cost(i)) cost(i) = c2
            case _ =>
          }
          l += 1
        }
        i -= 1
      }
      (cost(0) / 256L, cost(0) % 256L) // (total bits, piece count)
    }
    val dw = wtab.select(col("w")).withColumn("e", dp(col("w")))
      .select(col("w"), col("e._1").as("bits"), col("e._2").as("pieces"))
    tok.join(SizeGate.broadcastIfSmall(documents)(dw), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("pieces")).as("n_pieces"),
        sum(col("bits")).as("total_bits"))
  }

  /** Corpus-wide collocation extraction — the top-k adjacent word
    * pairs by pointwise mutual information (weighted by support):
    * multi-word entities, templated boilerplate phrases, and glued
    * tokens a tokenizer or a phrase-aware dedup pass should know
    * about. PMI uses [[distinctiveTokens]]' exact integer-bits
    * formulation (floor-log2 of each factor — deterministic and
    * engine-portable, no ln()); the ranking score packs
    * (pmi_bits, count) into one long so the bounded aggregator's
    * total order equals the oracle's two-key sort.
    *
    * SCALE SHAPE: two token-scale partial-aggregated exchanges (the
    * bigram-vocabulary and word-vocabulary counts — counts, never
    * positions); the PMI join runs at bigram-vocab scale; the global
    * top-k is ONE bounded aggregate carrying ≤ k pairs per map task.
    * No rank window ever sees the vocabulary.
    */
  def collocations(documents: DataFrame, k: Int = 20,
                   minCount: Int = 5): DataFrame = {
    val bi = documents
      .select(words(col("text")).as("ws"))
      .select(explode_outer(shingles(col("ws"), 2)).as("sh"))
      .filter(col("sh").isNotNull)
      .select(split(col("sh"), " ", 2).getItem(0).as("wa"),
        split(col("sh"), " ", 2).getItem(1).as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c_ab"))
    val toks = documents
      .select(explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val tot = toks.agg(count(lit(1)).as("t"))
    // pmi_bits ∈ [-120, 120] and c_ab < 2^38, so the BIASED pack
    // score = (pmi_bits + 128)·2^38 + c_ab is positive and exact in a
    // long (truncating div == floor div on the unpack) and orders by
    // (pmi DESC, count DESC) — the aggregator breaks full ties by
    // the "wa wb" key ascending, mirrored in the oracle
    val scored = bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("wa"), col("c_w").as("c_a")), "wa")
      .join(uni.select(col("w").as("wb"), col("c_w").as("c_b")), "wb")
      .crossJoin(broadcast(tot))
      .select(col("wa"), col("wb"), col("c_ab"),
        (flog2(col("c_ab")) + flog2(col("t")) -
          flog2(col("c_a")) - flog2(col("c_b")))
          .cast("long").as("pmi_bits"))
    scored
      .agg(graft.functions.Aggregators.topKByKey(k)(
        (col("pmi_bits") + lit(128L)) * lit(1L << 38) + col("c_ab"),
        concat(col("wa"), lit(" "), col("wb"))).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("int").as("rank"),
        split(col("s.key"), " ", 2).getItem(0).as("wa"),
        split(col("s.key"), " ", 2).getItem(1).as("wb"),
        pmod(col("s.score"), lit(1L << 38)).as("c_ab"),
        (expr(s"s.score div ${1L << 38}") - 128L).as("pmi_bits"))
  }

  /** Fit the [[unigramSurprisal]] model for the STREAMING serve path
    * (`StreamAggs.surprisalScore`): collect the (word-hash → count)
    * vocabulary and the token total. The collect is model-sized (a
    * natural-language vocabulary, not the corpus) — the same
    * train/serve split every production quality filter uses: fit
    * offline on a reference corpus, apply per-record online.
    */
  def fitSurprisalVocab(documents: DataFrame): (Map[Long, Long], Long) = {
    import documents.sparkSession.implicits._
    val vocab = documents
      .select(explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(hash60(col("w")).as("wh"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().toMap
    (vocab, vocab.valuesIterator.sum)
  }

  /** Per-source top-k token leaderboard — the vocabulary drift /
    * boilerplate screen run per ingestion source: (source, token)
    * counts, then each source's k most frequent tokens. The per-source
    * top-k rides the bounded [[graft.functions.Aggregators.topKByKey]]
    * aggregator — partial-aggregated, ≤ k candidates per map task —
    * NOT a rank window over the full per-source vocabulary (at 100 TB
    * a source's vocabulary is millions of tokens; the window sort
    * would shuffle all of them to one partition per source). Ties
    * break (count desc, token asc) — a total order, so the result
    * equals the window formulation exactly.
    */
  def topTokensPerSource(documents: DataFrame, k: Int = 5): DataFrame =
    documents
      .select(col("source"), explode_outer(words(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(graft.functions.Aggregators.topKByKey(k)(
        col("cnt"), col("token")).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rn"),
        col("s.key").as("token"), col("s.score").as("cnt"))

  // ---- driver bindings -------------------------------------------------

  private[operators] val bm25Terms = Seq("spark", "query", "fast")

  /** The q39 oracle as a reusable fragment (also composed into the
    * hybrid-RRF oracle): DuckDB SQL computing exactly
    * `bm25(documents, terms, k1, b, topN)`. */
  private[operators] def bm25OracleSql(terms: Seq[String], k1: Double = 1.2,
                                       b: Double = 0.75,
                                       topN: Int = 20): String = {
    val wsSql =
      "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS DOUBLE) AS tf$i"
    }.mkString(",\n               ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n               ")
    val contribs = terms.indices.map(i =>
      s"((n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ($k1 + 1.0)) " +
      s"/ (tf$i + $k1 * (1.0 - $b + $b * dl / avgdl))")
      .reduceLeft((a, c) => s"$a\n               + $c")
    s"""
      WITH t AS (
        SELECT doc_id, $wsSql AS ws FROM documents),
      d AS (
        SELECT doc_id, len(ws) AS dl,
               $tfCols
        FROM t),
      s AS (
        SELECT count(*) AS n_docs,
               CAST(sum(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / count(*)
                 AS avgdl,
               $dfCols
        FROM d),
      sc AS (
        SELECT doc_id,
               $contribs AS score
        FROM d CROSS JOIN s)
      SELECT doc_id, score, rn FROM (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        FROM sc WHERE score > 0)
      WHERE rn <= $topN"""
  }
  private[operators] val scrubTerms = Seq("customer", "secret")
  // upsample the rare languages, downsample the dominant one
  private val sampleRates: Seq[(String, Int)] =
    Seq("zh" -> 100, "de" -> 80, "es" -> 80, "fr" -> 80, "en" -> 25)

  /** BPE-trainer inner loop at corpus scale (q74): adjacent
    * character-pair frequencies weighted by word frequency — the
    * statistic a byte-pair-encoding trainer maximizes to pick its
    * next merge. The scale-correct shape: the corpus collapses to the
    * DISTINCT-word frequency table first (one word-keyed exchange —
    * vocab-sized, millions of rows at 100 TB, not trillions), and the
    * per-word pair explode runs over that table only; the pair key
    * space is character-bigram-sized, so the final aggregate and the
    * top-N sort are tiny. Total order (count desc, pair asc) makes
    * the cut deterministic.
    */
  def bpePairStats(documents: DataFrame, topN: Int = 50): DataFrame = {
    val wf = documents
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) >= 2) // 1-char words contribute no pairs
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    wf.select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
      )).as("pair"), col("freq"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topN)
  }

  /** Full BPE tokenizer training (q101): learn the first `merges`
    * byte-pair merges from the corpus — the iterative loop q74 is one
    * step of, and the artifact q97's encoder consumes. Each round
    * counts adjacent-piece frequencies (weighted by word frequency,
    * overlapping adjacencies counted — the classic get_stats), picks
    * the (count desc, left asc, right asc) argmax, and rewrites every
    * word's piece sequence by merging that pair left-to-right
    * non-overlapping (exactly `replace` over a space-separated piece
    * string, so the Spark and oracle rewrites share one definition).
    * Words are restricted to `^[a-z0-9]+$` so per-character splitting
    * is engine-portable (no grapheme-vs-code-unit ambiguity).
    *
    * SCALE SHAPE: the corpus collapses ONCE to the distinct-word
    * frequency table (one word-keyed exchange — vocab-sized, millions
    * of rows at 100 TB, not trillions), checkpointed so no iteration
    * re-scans the corpus; every training round is then one vocab-keyed
    * aggregate over a character-pair key space plus a 1-row argmax
    * collect — the kmeans (q34) driver-loop discipline: model state
    * (the merge) rides the driver, data never re-shuffles. Pass
    * `checkpointDir` for a reliable leaf on a real cluster (the
    * [[Dedup.dedupGroups]] durability option); the default
    * localCheckpoint is executor-local.
    */
  def bpeTrain(documents: DataFrame, merges: Int = 8,
               checkpointDir: Option[String] = None,
               maxDriverVocab: Long = MaxDriverVocab): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeLoop(documents, merges, checkpointDir, maxDriverVocab)._1
      .toDF("step", "lhs", "rhs", "merged", "n")
  }

  /** Vocab-row ceiling for running the BPE merge rounds ON THE
    * DRIVER: below it the whole loop is local (zero per-round Spark
    * jobs); above it the distributed round loop runs (one vocab-keyed
    * aggregate + argmax collect per round). The same size-gate
    * discipline as [[graft.operators.Dedup.dedupGroups]]' union-find:
    * the WORD table is model-sized (vocabulary, not corpus) in any
    * sane corpus, the driver holds (word, pieces, freq) ≈ ~100 B/row
    * → ~100 MB at the cap, and the mis-pick penalty is bounded (the
    * distributed loop still works below the cap, just ~1 s slower at
    * bench scale). Callers override it through `maxDriverVocab`. */
  private val MaxDriverVocab = 1000000L

  /** The [[bpeTrain]] driver loop; also returns the final piece table
    * (word, ps, freq) so [[bpeEncode]] can apply the learned merges.
    *
    * Round 14: the per-round work is VOCAB-sized (the corpus collapses
    * to the distinct-word table before any round runs), so when the
    * vocab fits [[MaxDriverVocab]] the merge rounds run on the driver
    * — `merges` rounds of count-adjacent-pairs → argmax → rewrite over
    * a local array, ZERO Spark jobs per round, vs one aggregate + one
    * argmax collect job per round distributed (measured: the 8-round
    * q101 spent ~1.2 s of its 1.31 s on per-round job overhead at
    * sf0.1). Bit-equivalence: the local rewrite is
    * `String.replace(" l r ", " lr ")` on the SAME padded piece
    * string, and java.lang.String.replace, UTF8String.replace (what
    * Spark's `replace` executes) and DuckDB's replace all share
    * leftmost non-overlapping semantics (verified on the boundary-
    * space case " a a a a " → " aa a a " in all three); the argmax
    * order (n desc, l asc, r asc) compares ASCII pieces, where String
    * ordering == UTF8String binary ordering. The distributed fallback
    * path is unchanged and still exercised (OperatorsSpec forces it). */
  private def bpeLoop(documents: DataFrame, merges: Int,
                      checkpointDir: Option[String],
                      maxDriverVocab: Long = MaxDriverVocab)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val spark = documents.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val wf0 = bpeInitState(documents)
    // size gate in ONE job: limit(cap+1) — if fewer rows come back,
    // those are ALL the rows, collected without a separate count pass.
    // limit takes an Int, so the cap clamps to Int.MaxValue - 1
    val cap = math.min(maxDriverVocab, Int.MaxValue - 1L)
    val probe =
      if (cap <= 0) Array.empty[org.apache.spark.sql.Row]
      else wf0.limit(cap.toInt + 1).collect()
    if (cap > 0 && probe.length <= cap) {
      val (out, state) = bpeLoopLocal(
        probe.map(r => (r.getString(0), r.getString(1), r.getLong(2))),
        merges)
      import spark.implicits._
      (out, spark.createDataset(state.toSeq).toDF("word", "ps", "freq"))
    } else bpeLoopDistributed(wf0, merges, checkpointDir.isDefined)
  }

  /** All `merges` BPE rounds over a driver-local vocab. */
  private def bpeLoopLocal(vocab0: Array[(String, String, Long)],
                           merges: Int)
      : (Seq[(Int, String, String, String, Long)],
         Array[(String, String, Long)]) = {
    var vocab = vocab0
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // get_stats: adjacent-piece counts, overlapping adjacencies
      // counted, weighted by word freq — bpePairAgg's local twin
      val counts = new java.util.HashMap[(String, String), Long]
      vocab.foreach { case (_, ps, f) =>
        val p = ps.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < p.length - 1) {
          counts.merge((p(i), p(i + 1)), f, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && (k._1 < best._1._1 ||
              (k._1 == best._1._1 && k._2 < best._1._2)))) best = (k, v)
        }
        val ((l, r), n) = best
        out += ((step, l, r, l + r, n))
        val (from, to) = (s" $l $r ", s" $l$r ")
        vocab = vocab.map { case (w, ps, f) => (w, ps.replace(from, to), f) }
        step += 1
      }
    }
    (out.result(), vocab)
  }

  /** The pre-round-14 distributed round loop — the past-the-gate path
    * for vocabularies too large to hold on the driver. */
  private def bpeLoopDistributed(wf0: DataFrame, merges: Int,
                                 reliable: Boolean)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    def leaf(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    var state = leaf(wf0)
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = bpePairAgg(state)
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((step, l, r, l + r, n))
        // pieces are ^[a-z0-9]+$ by construction — safe to inline
        state = state.withColumn("ps",
          expr(s"replace(ps, ' $l $r ', ' $l$r ')"))
        // production merge counts are vocab-scale (tens of thousands):
        // re-leaf periodically so plan depth stays bounded instead of
        // chaining one replace projection per round (the q47
        // propagation-loop discipline — constant plan size, no cache
        // bookkeeping)
        if (step % 64 == 0) state = leaf(state)
        step += 1
      }
    }
    (out.result(), state)
  }

  /** BPE corpus encoding (q103): train the first `merges` merges
    * ([[bpeTrain]]) and tokenize every document with them — the
    * train→apply composition that closes the tokenizer family
    * (q74 pair stats → q101 merge learning → q103 encoding → q57
    * packing). Per-doc output: qualifying-word and BPE-token counts;
    * words outside `^[a-z0-9]{2,}$` (the trainable alphabet) pass
    * through as one token each, the byte-fallback simplification.
    *
    * SCALE SHAPE: training is q101's (vocab-keyed rounds over the
    * checkpointed word table); the final piece table is VOCAB-sized
    * and joins the exploded corpus under the q97 source gate
    * (broadcast below [[SizeGate.MaxSourceBytes]], shuffled
    * key-join fallback above); the per-doc rollup rides one doc_id
    * exchange. The corpus text itself never shuffles with payloads —
    * only (doc_id, word) pairs move.
    *
    * Requires the corpus to sustain all `merges` rounds (throws on
    * early pair exhaustion — the unrolled oracle cannot branch).
    */
  def bpeEncode(documents: DataFrame, merges: Int = 8,
                checkpointDir: Option[String] = None,
                maxDriverVocab: Long = MaxDriverVocab): DataFrame = {
    val (learned, state) =
      bpeLoop(documents, merges, checkpointDir, maxDriverVocab)
    require(learned.size == merges,
      s"bpeEncode: corpus exhausted adjacent pairs after ${learned.size} " +
        s"of $merges merges — lower `merges`")
    val enc = state.select(col("word"),
      size(filter(split(col("ps"), " "), x => x =!= "")).cast("long")
        .as("np"))
    val dw = documents.select(col("doc_id"),
      explode(words(col("text"))).as("word"))
    dw.join(SizeGate.broadcastIfSmall(documents)(enc), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("np"), lit(1L))).as("n_tokens"))
  }

  /** [[bpeTrain]]'s vocab state: one corpus collapse to the
    * distinct-word frequency table with space-separated piece
    * strings. Split out so PlanSpec can pin the round shape. */
  private[graft] def bpeInitState(documents: DataFrame): DataFrame =
    documents
      .select(explode(words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$") && length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        concat(lit(" "),
          array_join(regexp_extract_all(col("word"), lit("."), lit(0)), " "),
          lit(" ")).as("ps"),
        col("freq"))

  /** One [[bpeTrain]] round's adjacent-pair frequency aggregate over a
    * piece table — one vocab-keyed exchange on the character-pair key
    * space; the caller's limit(1) rides TakeOrderedAndProject. */
  private[graft] def bpePairAgg(state: DataFrame): DataFrame = {
    val n1 = greatest(size(col("p")) - 1, lit(0))
    state
      .select(filter(split(col("ps"), " "), x => x =!= "").as("p"),
        col("freq"))
      .select(explode(zip_with(
          slice(col("p"), lit(1), n1), slice(col("p"), lit(2), n1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("pr"),
        col("freq"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("freq")).as("n"))
  }

  /** Linear-probe classifier training (q102): batch gradient descent
    * on squared loss over hashed-bigram bucket counts, predicting a
    * language label — the trainable cousin of q23's heuristic
    * language-ID and the FineWeb-Edu-style "train a cheap quality
    * probe, score the corpus" pattern (feature hashing as in q83's
    * DSIR buckets). All arithmetic is scaled-integer: weights live as
    * `w·2²⁰` longs, the learning rate is the exact dyadic
    * `1/(n·2^(lrShift-1))`, and every update is a truncating integer
    * division — bit-identical across engines, no float accumulation.
    *
    * SCALE SHAPE: the feature map `[bias] ++ bucket(bigram)*` is a
    * PURE MAP (zero exchanges — no doc_id ever needed); each GD
    * iteration scores against the weight vector inlined as a LITERAL
    * array (the q34 kmeans discipline: model state rides the driver)
    * and reduces to ONE map-side-combined aggregate over the
    * `buckets+1`-key space — per-occurrence error sums, which equal
    * the err·count formulation exactly. The corpus text is scanned
    * and hashed ONCE — GD passes iterate over the checkpointed
    * feature table — and never shuffled; the only exchange per
    * iteration carries ≤ (buckets+1) partial rows per task. Pass
    * `checkpointDir` for a reliable feature leaf on a real cluster.
    * Per-row products stay within LONG (|err| ≤ ~2⁴⁰ for sane
    * feature counts); cross-row gradient sums ride DECIMAL(38,0).
    */
  def probeTrain(documents: DataFrame, buckets: Int = 64, iters: Int = 4,
                 lrShift: Int = 8, targetLang: String = "en",
                 checkpointDir: Option[String] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (_, w) = probeTrainOn(documents, buckets, iters, lrShift,
      targetLang, checkpointDir)
    w.toSeq.zipWithIndex.map { case (wv, j) => (j, wv) }.toDF("j", "w")
  }

  /** The [[probeTrain]] loop, also returning the checkpointed feature
    * table so callers (q110's AUC eval) can score the trained weights
    * WITHOUT re-scanning and re-hashing the corpus. Feature-leaf
    * lifetime follows [[probeTrain]]'s existing semantics (local
    * checkpoint blocks are reclaimed by the ContextCleaner when the
    * frame goes out of scope). */
  private[operators] def probeTrainOn(documents: DataFrame, buckets: Int,
                                      iters: Int, lrShift: Int,
                                      targetLang: String,
                                      checkpointDir: Option[String])
  : (DataFrame, Array[Long]) = {
    val spark = documents.sparkSession
    import spark.implicits._
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // feature extraction runs ONCE (the standard extract-then-iterate
    // ML split): the checkpointed (y, js) table is ~40% the text's
    // size and saves re-hashing the corpus every GD pass
    val feats0 = probeFeatures(documents, buckets, targetLang)
    val docFeats =
      if (checkpointDir.isDefined) feats0.checkpoint(eager = true)
      else feats0.localCheckpoint(true)
    // n (the doc count) arrives WITH the first gradient collect — the
    // bias occurrence count at j = 0 — instead of a separate count()
    // job: iteration 1's gradients are w=0 products, independent of n,
    // and the update divides only after the collect (round 14)
    // iters == 0 (the zero-weight baseline) has no gradient collect to
    // ride, so it keeps the explicit count for the empty-corpus guard
    if (iters == 0)
      require(docFeats.count() > 0, "probeTrain: empty corpus")
    var divisor = 0L
    val w = Array.fill(buckets + 1)(0L)
    for (it <- 1 to iters) {
      val grads = probeGrad(docFeats, w.toSeq)
        .as[(Int, java.math.BigDecimal, Long)].collect()
      if (it == 1) {
        val n = grads.collectFirst { case (0, _, c) => c }.getOrElse(0L)
        require(n > 0, "probeTrain: empty corpus")
        divisor = n * (1L << (lrShift - 1))
      }
      grads.foreach { case (j, g, _) =>
        w(j) -= g.toBigInteger.longValueExact() / divisor
      }
    }
    (docFeats, w)
  }

  /** Trained-probe AUC (q110): train the q102 probe, then measure its
    * discrimination on the corpus with q104's exact histogram AUC —
    * the train-then-evaluate loop a pipeline runs before trusting a
    * cheap probe to gate a 100 TB filtering pass (FineWeb-Edu's
    * "validate the classifier before scoring the dump" step). Scores
    * quantize by the exact power of two 1024 (floor on an exact
    * double division — identical in any engine), giving a ≤4096-key
    * score domain for the histogram.
    *
    * SCALE SHAPE: scoring rides the SAME checkpointed feature table
    * the GD loop iterated (no second corpus scan or re-hash); the
    * trained weights inline as literals; then one model-sized score
    * exchange finishes the AUC (the q104 shape). */
  def probeAuc(documents: DataFrame, buckets: Int = 64, iters: Int = 4,
               lrShift: Int = 8, targetLang: String = "en",
               checkpointDir: Option[String] = None): DataFrame = {
    val (docFeats, w) = probeTrainOn(documents, buckets, iters, lrShift,
      targetLang, checkpointDir)
    val wlit = typedlit(w.toSeq)
    val scored = docFeats.select(col("y"),
      floor(aggregate(col("js"), lit(0L),
        (a, j) => a + element_at(wlit, j + 1)) / lit(1024.0))
        .cast("long").as("score"))
    Analysis.aucFromScores(scored)
  }

  /** Trained-probe calibration table (q111, the reliability diagram):
    * bucket the probe's clamped score into ten fixed-width bins of
    * the 2²⁰ prediction scale and report, per bin, the document
    * count, the mean predicted probability, and the actual positive
    * rate — how a pipeline decides whether the probe's raw score can
    * be read as a keep-probability (q91-style sampling) or needs
    * recalibration first. Clamping to [0, 2²⁰) happens BEFORE the
    * bucket division so the integer division is truncation==floor on
    * both engines (no negative-division semantics divergence).
    *
    * SCALE SHAPE: q110's discipline — scoring rides the checkpointed
    * GD feature table (no second corpus scan), then ONE 10-key
    * exchange carries exact decimal score sums; the two ratios are
    * per-bin doubles on exact sums.
    */
  def probeCalibration(documents: DataFrame, buckets: Int = 64,
                       iters: Int = 4, lrShift: Int = 8,
                       targetLang: String = "en",
                       checkpointDir: Option[String] = None): DataFrame = {
    val (docFeats, w) = probeTrainOn(documents, buckets, iters, lrShift,
      targetLang, checkpointDir)
    val wlit = typedlit(w.toSeq)
    docFeats.select(col("y"),
      least(lit(ProbeScale - 1), greatest(lit(0L),
        aggregate(col("js"), lit(0L),
          (a, j) => a + element_at(wlit, j + 1)))).as("s"))
      .select(col("y"), col("s"), expr(s"(s * 10) div $ProbeScale").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("s").cast("decimal(38,0)")).as("ssum"))
      .select(col("bin"), col("n"), col("pos").cast("long").as("pos"),
        ((col("ssum").cast("double") / col("n")) / ProbeScale.toDouble)
          .as("mean_pred"),
        (col("pos") / col("n").cast("double")).as("pos_rate"))
  }

  private val ProbeScale = 1L << 20

  /** `[bias] ++ bucket(bigram)` feature-occurrence ids of a text
    * column — the [[probeTrain]]/[[probeScore]] feature map, a pure
    * Column expression (works on batch and streaming frames alike).
    * A null text has no bigrams but keeps its bias occurrence, so it
    * still counts in probeTrain's divisor (the oracle's
    * `list_concat([0], NULL)` is `[0]`). */
  private def probeJs(text: Column, buckets: Int): Column =
    concat(array(lit(0)),
      coalesce(transform(shingles(words(text), 2),
          g => (pmod(hash60(g), lit(buckets.toLong)) + 1).cast("int")),
        typedlit(Seq.empty[Int])))

  /** [[probeTrain]]'s feature map — label + `[bias] ++ bucket(bigram)`
    * occurrence ids, a pure map over the corpus (zero exchanges). A
    * null `lang` labels 0, as the oracle's `CASE WHEN lang = … ELSE 0`
    * does. */
  private[graft] def probeFeatures(documents: DataFrame, buckets: Int,
                                   targetLang: String): DataFrame =
    documents.select(
      (col("lang") <=> targetLang).cast("long").as("y"),
      probeJs(col("text"), buckets).as("js"))

  /** Score documents with a trained probe ([[probeTrain]] weights):
    * scaled-integer prediction `Σ w[j]` over feature occurrences —
    * ≥ 2¹⁹ (= 0.5 in w·2²⁰ units) reads "target class". A pure map
    * with the weights inlined as literals, so it serves unchanged on
    * a STREAMING frame (stateless — no watermark or state store);
    * the train/serve split of the q65 surprisal family.
    */
  def probeScore(documents: DataFrame, weights: Seq[Long],
                 buckets: Int = 64): DataFrame =
    documents.select(col("doc_id"),
      probeScoreCol(col("text"), weights, buckets).as("score_s"))

  /** The [[probeScore]] expression as a bare Column (used by the
    * streaming score-histogram monitor, which needs the score next to
    * its own timestamp/window columns). */
  private[graft] def probeScoreCol(text: Column, weights: Seq[Long],
                                   buckets: Int): Column = {
    require(weights.size == buckets + 1,
      s"probeScore: ${weights.size} weights for $buckets buckets")
    val wlit = typedlit(weights)
    aggregate(probeJs(text, buckets), lit(0L),
      (a, j) => a + element_at(wlit, j + 1))
  }

  /** One [[probeTrain]] GD iteration: per-doc scaled error against the
    * LITERAL weight vector, reduced to per-feature error sums in one
    * map-side-combined (buckets+1)-key aggregate. */
  private[graft] def probeGrad(docFeats: DataFrame,
                               w: Seq[Long]): DataFrame = {
    val wlit = typedlit(w)
    docFeats
      .select((aggregate(col("js"), lit(0L),
          (a, j) => a + element_at(wlit, j + 1)) -
        col("y") * ProbeScale).as("err"), col("js"))
      .select(explode(col("js")).as("j"), col("err"))
      .groupBy(col("j"))
      // `c` rides the same aggregate: every doc carries exactly one
      // bias occurrence (j = 0), so c at j = 0 IS the document count —
      // probeTrainOn reads n from the first iteration's collect
      // instead of running a separate count() job (round 14)
      .agg(sum(col("err").cast("decimal(38,0)")).as("g"),
        count(lit(1)).as("c"))
  }

  /** Scaled-integer sum of squared errors of a trained probe on the
    * corpus — the training-curve check ([[probeTrain]] semantics). */
  private[graft] def probeSse(documents: DataFrame, weights: Seq[Long],
                              buckets: Int = 64,
                              targetLang: String = "en"): BigDecimal = {
    val wlit = typedlit(weights)
    val row = probeFeatures(documents, buckets, targetLang)
      .select((aggregate(col("js"), lit(0L),
          (a, j) => a + element_at(wlit, j + 1)) -
        col("y") * ProbeScale).as("err"))
      .agg(sum((col("err") * col("err")).cast("decimal(38,0)")))
      .head()
    BigDecimal(row.getDecimal(0))
  }

  /** Oracle twin of [[probeTrain]]: the GD loop unrolled into chained
    * CTEs over the sparse (doc_id, j) occurrence table — per-occurrence
    * error sums equal the err·count gradient exactly, and the update's
    * floor division on an exactly-divisible numerator matches Spark's
    * truncating long division for either sign. */
  /** The [[probeTrain]] GD loop as chained CTEs (shared by the q102
    * and q110 oracles): defines `f` (doc, feature) occurrences, `yt`
    * labels, `nn` count, and `w0..w<iters>` weight tables. */
  private def probeCtes(buckets: Int, iters: Int, lrShift: Int,
                        targetLang: String): String = {
    val scale = 1L << 20
    val iterCtes = (1 to iters).map { i =>
      s"""
      p$i AS (
        SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS pred
        FROM f JOIN w${i - 1} w USING (j) GROUP BY f.doc_id),
      e$i AS (
        SELECT p.doc_id, p.pred - y.y * $scale AS err
        FROM p$i p JOIN yt y USING (doc_id)),
      g$i AS (
        SELECT f.j, CAST(sum(e.err) AS BIGINT) AS g
        FROM f JOIN e$i e USING (doc_id) GROUP BY f.j),
      w$i AS (
        SELECT w.j,
               CAST(w.w - ((COALESCE(g.g, 0) - COALESCE(g.g, 0) %
                 (n.n * ${1L << (lrShift - 1)})) //
                 (n.n * ${1L << (lrShift - 1)})) AS BIGINT) AS w
        FROM w${i - 1} w LEFT JOIN g$i g USING (j), nn n)"""
    }.mkString(",")
    s"""d0 AS (
        SELECT doc_id,
               CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END AS y,
               list_concat([0], list_transform(CASE WHEN len(ws) < 2
                   THEN []::VARCHAR[]
                   ELSE list_transform(generate_series(1, len(ws) - 1),
                     i -> array_to_string(list_slice(ws, i, i + 1), ' '))
                   END,
                 g -> CAST(('0x' || substr(md5(g), 1, 15))::BIGINT %
                   $buckets AS INT) + 1)) AS js
        FROM (
          SELECT doc_id, lang,
                 string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents)),
      f AS (SELECT doc_id, unnest(js) AS j FROM d0),
      yt AS (SELECT doc_id, y FROM d0),
      nn AS (SELECT count(*) AS n FROM d0),
      w0 AS (SELECT CAST(unnest(range(0, ${buckets + 1})) AS INT) AS j,
                    CAST(0 AS BIGINT) AS w),$iterCtes"""
  }

  private def probeOracle(buckets: Int, iters: Int, lrShift: Int,
                          targetLang: String): String = s"""
      WITH ${probeCtes(buckets, iters, lrShift, targetLang)}
      SELECT CAST(j AS INT) AS j, w FROM w$iters ORDER BY j"""

  /** Oracle twin of [[probeAuc]]: the shared training CTEs feed one
    * scoring join over the occurrence table, scores quantize by the
    * exact power-of-two 1024 (floor on an exact double division), and
    * the q104 histogram identity finishes the AUC. */
  private def probeAucOracle(buckets: Int, iters: Int, lrShift: Int,
                             targetLang: String): String = s"""
      WITH ${probeCtes(buckets, iters, lrShift, targetLang)},
      ps AS (
        SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS s
        FROM f JOIN w$iters w USING (j) GROUP BY f.doc_id),
      sc AS (
        SELECT y.y, CAST(floor(ps.s / 1024.0) AS BIGINT) AS score
        FROM ps JOIN yt y USING (doc_id)),
      hist AS (
        SELECT score, sum(y) AS p, count(*) - sum(y) AS n
        FROM sc GROUP BY 1),
      cum AS (
        SELECT score, p, n, sum(n) OVER (ORDER BY score ASC) AS cum_n
        FROM hist),
      u AS (
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(n) AS BIGINT) AS n_neg,
               CAST(sum(p * (cum_n * 2 - n)) AS BIGINT) AS u2
        FROM cum)
      SELECT n_pos, n_neg, u2, u2 / (2.0 * n_pos * n_neg) AS auc
      FROM u"""

  /** Oracle twin of [[probeCalibration]]: shared training CTEs → one
    * scoring join → clamp-then-bucket (clamping first keeps the
    * integer division nonneg, so `//` floor == Spark's truncating
    * `div`) → the 10-bin reliability table. */
  private def probeCalibOracle(buckets: Int, iters: Int, lrShift: Int,
                               targetLang: String): String = {
    val scale = 1L << 20
    s"""
      WITH ${probeCtes(buckets, iters, lrShift, targetLang)},
      ps AS (
        SELECT f.doc_id, CAST(sum(w.w) AS BIGINT) AS s
        FROM f JOIN w$iters w USING (j) GROUP BY f.doc_id),
      sc AS (
        SELECT y.y, least(${scale - 1}, greatest(0, ps.s)) AS s
        FROM ps JOIN yt y USING (doc_id)),
      b AS (SELECT y, s, (s * 10) // $scale AS bin FROM sc),
      g AS (
        SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos,
               sum(CAST(s AS DECIMAL(38,0))) AS ssum
        FROM b GROUP BY 1)
      SELECT CAST(bin AS BIGINT) AS bin, n, pos,
             (CAST(ssum AS DOUBLE) / n) / ${scale}.0 AS mean_pred,
             pos / CAST(n AS DOUBLE) AS pos_rate
      FROM g"""
  }

  /** Oracle twin of [[bpeTrain]]: the driver loop unrolled into
    * chained CTEs — per round, the pair aggregate (p), the 1-row
    * argmax (b), and the rewrite (s) over the previous round's piece
    * table, sharing bpeTrain's replace() semantics verbatim. */
  private def bpeOracle(merges: Int): String = {
    val emit = (1 to merges).map { i =>
      s"""SELECT CAST($i AS INT) AS step, l AS lhs, r AS rhs,
                 l || r AS merged, n FROM b$i"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH ${bpeCtes(merges, keepLast = false)}
      $emit"""
  }

  /** Oracle twin of [[bpeEncode]]: the shared training CTEs (with the
    * final rewrite kept) feed a vocab-sized piece-count table that
    * left-joins the exploded corpus; non-trainable words fall back to
    * one token, mirroring the Spark coalesce. */
  private def bpeEncodeOracle(merges: Int): String = s"""
      WITH ${bpeCtes(merges, keepLast = true)},
      enc AS (
        SELECT word,
               CAST(len(list_filter(string_split(ps, ' '), x -> x <> ''))
                 AS BIGINT) AS np
        FROM s$merges),
      dw AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS word
        FROM documents)
      SELECT doc_id, count(*) AS n_words,
             CAST(sum(COALESCE(e.np, 1)) AS BIGINT) AS n_tokens
      FROM dw LEFT JOIN enc e USING (word)
      GROUP BY doc_id"""

  /** Shared WITH-body of the unrolled BPE training loop: per round the
    * pair aggregate (p), 1-row argmax (b), and word-carrying rewrite
    * (s). `keepLast` materializes the final rewrite for consumers of
    * the trained piece table (q103). */
  private def bpeCtes(merges: Int, keepLast: Boolean): String = {
    val rounds = (1 to merges).map { i =>
      val rewrite =
        if (i == merges && !keepLast) "" // feeds nothing in q101
        else s""",
      s$i AS (
        SELECT s.word, replace(s.ps, ' ' || b.l || ' ' || b.r || ' ',
                       ' ' || b.l || b.r || ' ') AS ps, s.freq
        FROM s${i - 1} s, b$i b)"""
      s"""
      p$i AS (
        SELECT p[j] AS l, p[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS n
        FROM (
          SELECT p, freq, unnest(range(1, len(p))) AS j FROM (
            SELECT list_filter(string_split(ps, ' '), x -> x <> '') AS p,
                   freq
            FROM s${i - 1}))
        GROUP BY 1, 2),
      b$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l ASC, r ASC
              LIMIT 1)$rewrite"""
    }.mkString(",")
    s"""w0 AS (
        SELECT word, count(*) AS freq FROM (
          SELECT unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS word
          FROM documents)
        WHERE regexp_matches(word, '^[a-z0-9]+$$') AND strlen(word) >= 2
        GROUP BY word),
      s0 AS (
        SELECT word,
               ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
                 || ' ' AS ps, freq
        FROM w0),$rounds"""
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_bpe_train"  -> ((s, d) => bpeTrain(Tables.documents(s, d))),
    "q102_probe_train" -> ((s, d) => probeTrain(Tables.documents(s, d))),
    "q110_probe_auc"  -> ((s, d) => probeAuc(Tables.documents(s, d))),
    "q111_probe_calib" -> ((s, d) => probeCalibration(Tables.documents(s, d))),
    "q103_bpe_encode" -> ((s, d) => bpeEncode(Tables.documents(s, d))),
    "q74_bpe_pairs"   -> ((s, d) => bpePairStats(Tables.documents(s, d))),
    "q121_collocations" -> ((s, d) => collocations(Tables.documents(s, d))),
    "q123_unigram_lm" -> ((s, d) => unigramTokenize(Tables.documents(s, d))),
    "q39_bm25"        -> ((s, d) => bm25(Tables.documents(s, d), bm25Terms)),
    "q20_wordcount"   -> ((s, d) => wordCount(Tables.documents(s, d))),
    "q21_token_stats" -> ((s, d) => tokenStats(Tables.documents(s, d))),
    "q22_quality"     -> ((s, d) => qualityScore(Tables.documents(s, d))),
    "q96_quality_threshold" ->
      ((s, d) => qualityThreshold(Tables.documents(s, d))),
    "q97_subword" -> ((s, d) => subwordEncode(Tables.documents(s, d))),
    "q132_tokenizer_diff" -> ((s, d) => tokenizerDiff(Tables.documents(s, d))),
    "q23_lang_id"     -> ((s, d) => languageId(Tables.documents(s, d))),
    "q24_fingerprint" -> ((s, d) => fingerprints(Tables.documents(s, d))),
    "q44_train_split" -> ((s, d) => trainSplit(Tables.documents(s, d))),
    "q46_scrub"       -> ((s, d) => scrub(Tables.documents(s, d), scrubTerms)),
    "q48_source_mix"  -> ((s, d) => sourceMix(Tables.documents(s, d))),
    "q50_langid_eval" -> ((s, d) => languageIdEval(Tables.documents(s, d))),
    "q51_sample_strata" -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "q45_top_tokens"  -> ((s, d) => topTokensPerSource(Tables.documents(s, d))),
    "q54_repetition"  -> ((s, d) => repetitionSignals(Tables.documents(s, d))),
    "q55_contamination" -> ((s, d) => contamination(Tables.documents(s, d))),
    "q125_decontaminate" -> ((s, d) => decontaminate(Tables.documents(s, d))),
    "q65_surprisal"   -> ((s, d) => unigramSurprisal(Tables.documents(s, d))),
    "q79_weighted_sample" -> ((s, d) => weightedSample(Tables.documents(s, d))),
    "q83_dsir_select" -> ((s, d) => dsirSelect(Tables.documents(s, d))),
    "q89_distinct_tokens" -> ((s, d) => distinctiveTokens(Tables.documents(s, d))),
    // same deterministic 80/20 fit/score split the q73 admission uses
    "q77_bigram_surprisal" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      bigramSurprisal(docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8))
    })
  )

  private[operators] def sqlArr(xs: Seq[String]) =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** The q123 oracle: the Viterbi DP unrolled position by position.
    * Substring pieces with multiplicity via a constant (start, len)
    * VALUES cross join; position CTEs c{N}..c0 compute, per distinct
    * word, the min packed cost from position i — `least` skips NULL
    * candidates (missing piece / invalid tail) on both engines, and
    * a word of length i contributes the base case 0. The synthetic
    * vocabulary's words are ≤ `maxWordLen` chars (asserted by the
    * guard CTE: any longer word makes the oracle return the poison
    * row that fails the compare loudly rather than silently wrong). */
  private def unigramOracle(maxWordLen: Int, maxPiece: Int,
                            minCount: Long): String = {
    val ws =
      "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    val slPairs = (for {
      s <- 1 to maxWordLen
      l <- 1 to maxPiece
    } yield s"($s, $l)").mkString(", ")
    val dpCtes = (maxWordLen - 1 to 0 by -1).map { i =>
      val terms = (1 to maxPiece).filter(i + _ <= maxWordLen).map { l =>
        s"p$l.cost + n$l.c"
      }
      val joins = (1 to maxPiece).filter(i + _ <= maxWordLen).map { l =>
        s"""LEFT JOIN pieces p$l
             ON p$l.p = substr(wt.w, ${i + 1}, $l)
             AND strlen(wt.w) >= ${i + l}
           LEFT JOIN c${i + l} n$l ON n$l.w = wt.w"""
      }.mkString("\n           ")
      s"""c$i AS (
        SELECT wt.w,
               CASE WHEN strlen(wt.w) = $i THEN 0
                    ELSE least(${terms.mkString(", ")}) END AS c
        FROM wt
           $joins)"""
    }.mkString(",\n      ")
    s"""
      WITH w0 AS (
        SELECT doc_id, unnest($ws) AS w FROM documents),
      wt AS (SELECT w, count(*) AS f FROM w0 GROUP BY 1),
      guard AS (
        SELECT CASE WHEN max(strlen(w)) > $maxWordLen
               THEN error('q123 oracle: word longer than $maxWordLen')
               END AS ok FROM wt),
      sl(s, l) AS (VALUES $slPairs),
      subs AS (
        SELECT substr(wt.w, sl.s, sl.l) AS p, wt.f
        FROM wt CROSS JOIN sl
        WHERE sl.s + sl.l - 1 <= strlen(wt.w)),
      pieces0 AS (
        SELECT p, CAST(sum(f) AS BIGINT) AS c FROM subs GROUP BY 1),
      kept AS (
        SELECT p, c FROM pieces0 WHERE c >= $minCount OR strlen(p) = 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM kept),
      pieces AS (
        SELECT p,
               (length(bin(t)) - length(bin(c))) * 256 + 1 AS cost
        FROM kept CROSS JOIN tot),
      c$maxWordLen AS (
        SELECT w, CASE WHEN strlen(w) = $maxWordLen THEN 0 END AS c
        FROM wt),
      $dpCtes,
      wcost AS (
        SELECT w, c // 256 AS bits, c % 256 AS pieces FROM c0)
      SELECT w0.doc_id, count(*) AS n_words,
             CAST(sum(wc.pieces) AS BIGINT) AS n_pieces,
             CAST(sum(wc.bits) AS BIGINT) AS total_bits
      FROM w0 JOIN wcost wc ON wc.w = w0.w CROSS JOIN guard
      GROUP BY 1"""
  }

  def oracle: Map[String, String] = Map(
    "q123_unigram_lm" -> unigramOracle(8, 4, 5),
    /* q121: bigram/unigram count CTEs, the same floor-log2 PMI bits,
     * the same biased (pmi+128)·2^38 + count pack, row_number by
     * (score DESC, "wa wb" ASC) — the aggregator's total order. */
    "q121_collocations" -> s"""
      WITH w AS (
        SELECT string_split(trim(regexp_replace(lower(text),
          '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      sh AS (
        SELECT unnest(CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
               ELSE list_transform(generate_series(1, len(ws) - 1),
                      i -> array_to_string(list_slice(ws, i, i + 1), ' '))
               END) AS sh
        FROM w),
      bi AS (
        SELECT split_part(sh, ' ', 1) AS wa, split_part(sh, ' ', 2) AS wb,
               count(*) AS c_ab
        FROM sh GROUP BY 1, 2),
      tok AS (SELECT unnest(ws) AS w FROM w),
      uni AS (SELECT w, count(*) AS c_w FROM tok GROUP BY 1),
      tot AS (SELECT count(*) AS t FROM tok),
      scored AS (
        SELECT wa, wb, c_ab,
               (length(bin(c_ab)) - 1) + (length(bin(t)) - 1)
                 - (length(bin(ua.c_w)) - 1) - (length(bin(ub.c_w)) - 1)
                 AS pmi_bits
        FROM bi
        JOIN uni ua ON ua.w = bi.wa
        JOIN uni ub ON ub.w = bi.wb
        CROSS JOIN tot
        WHERE c_ab >= 5),
      r AS (
        SELECT wa, wb, c_ab, pmi_bits,
               row_number() OVER (ORDER BY
                 (pmi_bits + 128) * ${1L << 38} + c_ab DESC,
                 wa || ' ' || wb ASC) AS rn
        FROM scored)
      SELECT CAST(rn AS INT) AS rank, wa, wb, c_ab,
             CAST(pmi_bits AS BIGINT) AS pmi_bits
      FROM r WHERE rn <= 20""",
    "q101_bpe_train" -> bpeOracle(8),
    "q102_probe_train" -> probeOracle(64, 4, 8, "en"),
    "q110_probe_auc" -> probeAucOracle(64, 4, 8, "en"),
    "q111_probe_calib" -> probeCalibOracle(64, 4, 8, "en"),
    "q103_bpe_encode" -> bpeEncodeOracle(8),
    /* q97: the greedy longest-prefix encode as a recursive CTE over
     * the DISTINCT word table (one step strips one piece); terminal
     * rows (rest = '') carry each word's piece/unk counts. */
    "q97_subword" -> s"""
      WITH RECURSIVE t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+',
                 ' ', 'g')), ' ') AS ws
        FROM documents),
      w AS (SELECT doc_id, unnest(ws) AS w FROM t),
      dw AS (SELECT DISTINCT w FROM w),
      st AS (
        SELECT w, w AS rest, 0::BIGINT AS n_pieces, 0::BIGINT AS n_unk
        FROM dw
        UNION ALL
        SELECT w,
               substr(rest, CASE WHEN p > 0 THEN p + 1 ELSE 2 END),
               n_pieces + 1,
               n_unk + CASE WHEN p > 0 THEN 0 ELSE 1 END
        FROM (
          SELECT w, rest, n_pieces, n_unk,
                 (SELECT COALESCE(max(len(v)), 0)
                  FROM (SELECT unnest(${sqlArr(subwordVocab)}) AS v)
                  WHERE substr(rest, 1, len(v)) = v) AS p
          FROM st WHERE len(rest) > 0) s),
      enc AS (
        SELECT w, n_pieces, n_unk FROM st WHERE len(rest) = 0)
      SELECT doc_id, count(*) AS n_words,
             CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
             CAST(sum(n_unk) AS BIGINT) AS n_unk
      FROM w JOIN enc USING (w)
      GROUP BY 1""",
    /* q132: q97's greedy recursive encode run under BOTH vocabularies
     * on the distinct-word table, joined back per source; the ratio
     * is integer per-mille on the aggregated sums. */
    "q132_tokenizer_diff" -> s"""
      WITH RECURSIVE t AS (
        SELECT source,
               string_split(trim(regexp_replace(lower(text), '\\s+',
                 ' ', 'g')), ' ') AS ws
        FROM documents),
      w AS (SELECT source, unnest(ws) AS w FROM t),
      dw AS (SELECT DISTINCT w FROM w),
      sta AS (
        SELECT w, w AS rest, 0::BIGINT AS n_pieces, 0::BIGINT AS n_unk
        FROM dw
        UNION ALL
        SELECT w,
               substr(rest, CASE WHEN p > 0 THEN p + 1 ELSE 2 END),
               n_pieces + 1,
               n_unk + CASE WHEN p > 0 THEN 0 ELSE 1 END
        FROM (
          SELECT w, rest, n_pieces, n_unk,
                 (SELECT COALESCE(max(len(v)), 0)
                  FROM (SELECT unnest(${sqlArr(subwordVocab)}) AS v)
                  WHERE substr(rest, 1, len(v)) = v) AS p
          FROM sta WHERE len(rest) > 0) s),
      enca AS (
        SELECT w, n_pieces AS np_a, n_unk AS nu_a
        FROM sta WHERE len(rest) = 0),
      stb AS (
        SELECT w, w AS rest, 0::BIGINT AS n_pieces, 0::BIGINT AS n_unk
        FROM dw
        UNION ALL
        SELECT w,
               substr(rest, CASE WHEN p > 0 THEN p + 1 ELSE 2 END),
               n_pieces + 1,
               n_unk + CASE WHEN p > 0 THEN 0 ELSE 1 END
        FROM (
          SELECT w, rest, n_pieces, n_unk,
                 (SELECT COALESCE(max(len(v)), 0)
                  FROM (SELECT unnest(${sqlArr(subwordVocabV2)}) AS v)
                  WHERE substr(rest, 1, len(v)) = v) AS p
          FROM stb WHERE len(rest) > 0) s),
      encb AS (
        SELECT w, n_pieces AS np_b, n_unk AS nu_b
        FROM stb WHERE len(rest) = 0)
      SELECT source, count(*) AS n_words,
             CAST(sum(np_a) AS BIGINT) AS pieces_a,
             CAST(sum(np_b) AS BIGINT) AS pieces_b,
             CAST(sum(nu_a) AS BIGINT) AS unk_a,
             CAST(sum(nu_b) AS BIGINT) AS unk_b,
             CASE WHEN sum(np_a) = 0 THEN NULL
                  ELSE (1000 * CAST(sum(np_b) AS BIGINT))
                       // CAST(sum(np_a) AS BIGINT) END AS ratio_permille
      FROM w JOIN enca USING (w) JOIN encb USING (w)
      GROUP BY 1""",
    /* q96: integer per-mille score → exact histogram; DuckDB's window
     * sum returns HUGEINT, cast back for the driver hash. */
    "q96_quality_threshold" -> s"""
      WITH s AS (
        SELECT source,
               (len(list_filter(ws, w -> list_contains(
                  ${sqlArr(stopwords)}, w))) * 1000) // len(ws) AS score
        FROM (SELECT source,
                string_split(trim(regexp_replace(lower(text), '\\s+',
                  ' ', 'g')), ' ') AS ws
              FROM documents WHERE source IS NOT NULL)),
      hist AS (SELECT source, score, count(*) AS c FROM s GROUP BY 1, 2),
      ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                    (CAST(sum(c) AS BIGINT) * 30) // 100 AS budget
             FROM hist GROUP BY 1),
      cum AS (
        SELECT source, score, c,
               sum(c) OVER (PARTITION BY source ORDER BY score DESC)
                 AS cum
        FROM hist)
      SELECT source, n_docs, CAST(budget AS BIGINT) AS budget,
             CAST(min(score) AS BIGINT) AS threshold,
             CAST(max(cum) AS BIGINT) AS kept
      FROM cum JOIN ns USING (source)
      WHERE cum <= budget
      GROUP BY 1, 2, 3""",
    "q74_bpe_pairs" -> """
      WITH w AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text),
          '\s+', ' ', 'g')), ' ')) AS word
        FROM documents),
      wf AS (
        SELECT word, count(*) AS freq FROM w
        WHERE len(word) >= 2 GROUP BY word),
      px AS (
        SELECT substring(word, CAST(i AS INT), 2) AS pair, freq
        FROM (SELECT word, freq,
                     unnest(generate_series(1, len(word) - 1)) AS i
              FROM wf))
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      FROM px GROUP BY pair
      ORDER BY n DESC, pair ASC LIMIT 50""",
    "q39_bm25" -> bm25OracleSql(bm25Terms),
    "q20_wordcount" -> """
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(list_filter(
              string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS word
            FROM documents)
      GROUP BY word""",
    "q45_top_tokens" -> """
      WITH tok AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ')) AS token
        FROM documents),
      c AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
      r AS (SELECT source, token, cnt,
                   row_number() OVER (PARTITION BY source
                     ORDER BY cnt DESC, token ASC) AS rn
            FROM c)
      SELECT source, CAST(rn AS INT) AS rn, token, cnt
      FROM r WHERE rn <= 5""",
    "q48_source_mix" -> """
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
               AS est_tokens,
             CAST(sum(len(string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' '))) AS DOUBLE) / count(*)
               AS mean_ws_tokens
      FROM documents GROUP BY 1, 2""",
    "q21_token_stats" -> """
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
               AS n_ws_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS n_bpe_tokens,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
      FROM documents""",
    "q22_quality" -> s"""
      WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws,
               len(replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ', ''))
                 AS n_word_chars
        FROM documents)
      SELECT doc_id, len(ws) AS n_tokens,
             CAST(n_word_chars AS DOUBLE) / len(ws) AS avg_word_len,
             CAST(len(list_filter(ws, w -> list_contains(${sqlArr(stopwords)}, w)))
                  AS DOUBLE) / len(ws) AS stopword_ratio
      FROM t""",
    "q23_lang_id" -> {
      val scoreCols = dicts.map { case (name, dict) =>
        s"len(list_filter(ws, w -> list_contains(${sqlArr(dict)}, w))) AS score_$name"
      }.mkString(",\n               ")
      val bestExpr = dicts.map(d => s"score_${d._1}")
        .reduceLeft((a, b) => s"greatest($a, $b)")
      val caseExpr = dicts.map { case (name, _) =>
        s"WHEN score_$name = $bestExpr THEN '$name'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      s AS (
        SELECT doc_id,
               $scoreCols
        FROM t)
      SELECT *, $caseExpr AS predicted FROM s"""
    },
    "q50_langid_eval" -> {
      val scoreCols = dicts.map { case (name, dict) =>
        s"len(list_filter(ws, w -> list_contains(${sqlArr(dict)}, w))) AS score_$name"
      }.mkString(",\n               ")
      val bestExpr = dicts.map(d => s"score_${d._1}")
        .reduceLeft((a, b) => s"greatest($a, $b)")
      val caseExpr = dicts.map { case (name, _) =>
        s"WHEN score_$name = $bestExpr THEN '$name'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      WITH t AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      s AS (
        SELECT doc_id, lang,
               $scoreCols
        FROM t)
      SELECT lang, $caseExpr AS predicted, count(*) AS n
      FROM s GROUP BY 1, 2"""
    },
    "q54_repetition" -> """
      WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      s AS (
        SELECT doc_id, len(ws) AS n_tokens, len(list_distinct(ws)) AS n_distinct,
               CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
                    ELSE list_transform(generate_series(1, len(ws) - 1),
                           i -> array_to_string(list_slice(ws, i, i + 1), ' ')) END AS gs
        FROM t),
      g AS (SELECT doc_id, n_tokens, n_distinct, unnest(gs) AS g FROM s),
      c AS (SELECT doc_id, n_tokens, n_distinct, g, count(*) AS c
            FROM g GROUP BY 1, 2, 3, 4)
      SELECT doc_id, n_tokens,
             CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
             CAST(max(c) AS DOUBLE) * 2.0 / n_tokens AS top2_share
      FROM c GROUP BY doc_id, n_tokens, n_distinct""",
    "q55_contamination" -> """
      WITH t AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      s AS (
        SELECT doc_id, source,
               list_distinct(CASE WHEN len(ws) < 5 THEN []::VARCHAR[]
                    ELSE list_transform(generate_series(1, len(ws) - 4),
                           i -> array_to_string(list_slice(ws, i, i + 4), ' ')) END) AS gs
        FROM t),
      h AS (SELECT doc_id, source, len(gs) AS n_grams,
                   ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT AS gh
            FROM s),
      b AS (SELECT DISTINCT gh FROM h WHERE source = 'src0')
      SELECT doc_id, n_grams, count(*) AS n_shared,
             CAST(count(*) AS DOUBLE) / n_grams AS contam_ratio
      FROM h JOIN b USING (gh)
      WHERE source <> 'src0'
      GROUP BY doc_id, n_grams""",
    /* q125: q55's CTEs ending in the integer cross-multiplied drop
     * set, anti-joined against the non-benchmark corpus. */
    "q125_decontaminate" -> """
      WITH t AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      s AS (
        SELECT doc_id, source,
               list_distinct(CASE WHEN len(ws) < 5 THEN []::VARCHAR[]
                    ELSE list_transform(generate_series(1, len(ws) - 4),
                           i -> array_to_string(list_slice(ws, i, i + 4), ' ')) END) AS gs
        FROM t),
      h AS (SELECT doc_id, source, len(gs) AS n_grams,
                   ('0x' || substr(md5(unnest(gs)), 1, 15))::BIGINT AS gh
            FROM s),
      b AS (SELECT DISTINCT gh FROM h WHERE source = 'src0'),
      drops AS (
        SELECT doc_id FROM (
          SELECT doc_id, n_grams, count(*) AS n_shared
          FROM h JOIN b USING (gh)
          WHERE source <> 'src0'
          GROUP BY doc_id, n_grams)
        WHERE n_shared * 1000 >= 100 * n_grams)
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE source <> 'src0'
        AND doc_id NOT IN (SELECT doc_id FROM drops)""",
    /* q79: A-ES weighted sampling — same seeded-hash uniform, same
     * -ln(u)/w priority, k smallest per source with doc_id ties. The
     * priority itself is never an output column (double from ln), so
     * the hash check compares the selected ROWS only. */
    "q79_weighted_sample" -> """
      WITH p AS (
        SELECT doc_id, source, n_chars,
               -ln((('0x' || substr(md5('sample79|' || doc_id), 1, 15))::BIGINT
                    + 1) / 1152921504606846976.0)
                 / greatest(n_chars, 1) AS pri
        FROM documents),
      r AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY pri, doc_id) AS rank
        FROM p)
      SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars
      FROM r WHERE rank <= 20""",
    /* q77: fit on doc_id % 10 < 8, score the rest. Same md5-hash keys,
     * same integer floor(log2) bit costs as the Spark side — the -1s
     * of lg cancel in every difference, so plain bin-length works. */
    "q77_bigram_surprisal" -> {
      val ws =
        "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
      val bigrams =
        """CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
           ELSE list_transform(generate_series(1, len(ws) - 1),
                  i -> array_to_string(list_slice(ws, i, i + 1), ' ')) END"""
      val h60 = (x: String) => s"('0x' || substr(md5($x), 1, 15))::BIGINT"
      s"""
      WITH w AS (SELECT doc_id, $ws AS ws FROM documents),
      rt AS (SELECT unnest(ws) AS w FROM w WHERE doc_id % 10 < 8),
      uni AS (SELECT ${h60("w")} AS uh, count(*) AS uc FROM rt GROUP BY 1),
      scal AS (SELECT count(*) AS t, count(DISTINCT w) AS v FROM rt),
      rsh AS (SELECT unnest($bigrams) AS sh FROM w WHERE doc_id % 10 < 8),
      bi AS (SELECT ${h60("sh")} AS bh, count(*) AS bc FROM rsh GROUP BY 1),
      ctx AS (SELECT ${h60("split_part(sh, ' ', 1)")} AS ch, count(*) AS cc
              FROM rsh GROUP BY 1),
      sf AS (SELECT doc_id, ${h60("ws[1]")} AS uh
             FROM w WHERE doc_id % 10 >= 8),
      sb AS (SELECT doc_id, ${h60("sh")} AS bh,
                    ${h60("split_part(sh, ' ', 1)")} AS ch
             FROM (SELECT doc_id, unnest($bigrams) AS sh
                   FROM w WHERE doc_id % 10 >= 8)),
      pos AS (
        SELECT doc_id,
               length(bin(t + v)) - length(bin(coalesce(uc, 0) + 1))
                 AS pos_bits
        FROM sf LEFT JOIN uni USING (uh) CROSS JOIN scal
        UNION ALL
        SELECT doc_id,
               length(bin(coalesce(cc, 0) + v)) -
               length(bin(coalesce(bc, 0) + 1))
        FROM sb LEFT JOIN bi USING (bh) LEFT JOIN ctx USING (ch)
        CROSS JOIN scal)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(pos_bits) AS BIGINT) AS bits,
             CAST(sum(pos_bits) AS DOUBLE) / count(*) AS bits_per_token
      FROM pos GROUP BY doc_id"""
    },
    /* q83: the -1 in flog2 = length(bin(x)) − 1 cancels in every
     * difference, so the SQL uses raw bin lengths. */
    "q83_dsir_select" -> """
      WITH w AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS ws
        FROM documents),
      bg AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(unnest(CASE WHEN len(ws) < 2
                  THEN []::VARCHAR[]
                  ELSE list_transform(generate_series(1, len(ws) - 1),
                    i -> array_to_string(list_slice(ws, i, i + 1), ' '))
                  END)), 1, 15))::BIGINT % 4096 AS b
        FROM w),
      pd AS (
        SELECT doc_id, source, b, count(*) AS n FROM bg GROUP BY 1, 2, 3),
      raw AS (
        SELECT b, CAST(sum(n) AS BIGINT) AS cr FROM pd GROUP BY 1),
      tgt AS (
        SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM pd
        WHERE source = 'src0' GROUP BY 1),
      model AS (
        SELECT b, length(bin(COALESCE(ct, 0) + 1)) - length(bin(cr + 1))
                 AS lam
        FROM raw LEFT JOIN tgt USING (b)),
      shift AS (
        SELECT length(bin(CAST(sum(n) AS BIGINT) + 4096)) -
               length(bin(COALESCE(CAST(sum(CASE WHEN source = 'src0'
                 THEN n END) AS BIGINT), 0) + 4096)) AS c0
        FROM pd),
      scored AS (
        SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
               CAST(sum(n * (lam + c0)) AS BIGINT) AS logw
        FROM pd JOIN model USING (b) CROSS JOIN shift
        GROUP BY doc_id)
      SELECT doc_id, n_feats, logw, rn FROM (
        SELECT doc_id, n_feats, logw,
               row_number() OVER (ORDER BY logw DESC, doc_id ASC) AS rn
        FROM scored)
      WHERE rn <= 100""",
    /* q89: counts + the q65 flog2 bit spelling; the oracle's rank
     * window mirrors the bounded by-key aggregator's (pmi desc, word
     * asc) total order. */
    "q89_distinct_tokens" -> """
      WITH w AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ')) AS w
        FROM documents),
      sw AS (SELECT source, w, count(*) AS c_sw FROM w GROUP BY 1, 2),
      cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w
             FROM sw GROUP BY 1),
      ts AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS t_s
             FROM sw GROUP BY 1),
      tot AS (SELECT CAST(sum(c_sw) AS BIGINT) AS t FROM sw),
      scored AS (
        SELECT source, w, c_sw,
               CAST((length(bin(c_sw)) - 1) + (length(bin(t)) - 1)
                 - (length(bin(c_w)) - 1) - (length(bin(t_s)) - 1)
                 AS BIGINT) AS pmi_bits
        FROM sw JOIN cw USING (w) JOIN ts USING (source) CROSS JOIN tot
        WHERE c_sw >= 5),
      top AS (
        SELECT source, w, c_sw, pmi_bits,
               row_number() OVER (PARTITION BY source
                 ORDER BY pmi_bits DESC, w ASC) AS rank
        FROM scored)
      SELECT source, CAST(rank AS INT) AS rank, w AS word, c_sw, pmi_bits
      FROM top WHERE rank <= 10""",
    "q65_surprisal" -> """
      WITH tok AS (
        SELECT doc_id,
               ('0x' || substr(md5(unnest(string_split(trim(regexp_replace(
                 lower(text), '\s+', ' ', 'g')), ' '))), 1, 15))::BIGINT AS wh
        FROM documents),
      tf AS (SELECT doc_id, wh, count(*) AS tf FROM tok GROUP BY 1, 2),
      vocab AS (SELECT wh, CAST(sum(tf) AS BIGINT) AS cnt
                FROM tf GROUP BY 1),
      tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf)
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(tf * (length(bin(total)) - length(bin(cnt))))
               AS BIGINT) AS bits,
             CAST(sum(tf * (length(bin(total)) - length(bin(cnt))))
               AS DOUBLE) / sum(tf) AS bits_per_token
      FROM tf JOIN vocab USING (wh) CROSS JOIN tot
      GROUP BY doc_id""",
    "q51_sample_strata" -> {
      val rateExpr = sampleRates.map { case (l, p) =>
        s"WHEN lang = '$l' THEN $p"
      }.mkString("CASE ", " ", " ELSE 10 END")
      s"""
      SELECT doc_id, lang, bucket
      FROM (SELECT doc_id, lang,
                   ('0x' || substr(md5('sample|' || doc_id), 1, 15))::BIGINT
                     % 100 AS bucket,
                   $rateExpr AS rate
            FROM documents)
      WHERE bucket < rate"""
    },
    "q24_fingerprint" -> """
      WITH t AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        FROM documents)
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(norm, ' '),
                   w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS fp,
             md5(norm) AS content_md5
      FROM t""",
    "q44_train_split" -> """
      SELECT doc_id, bucket,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   ('0x' || substr(md5('split|' || doc_id), 1, 15))::BIGINT
                     % 100 AS bucket
            FROM documents)""",
    "q46_scrub" -> {
      val pat = scrubPat(scrubTerms)
      s"""
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '$pat')) AS n_hits,
             md5(regexp_replace(lower(text), '$pat', '<X>', 'g'))
               AS scrubbed_md5
      FROM documents"""
    }
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Portable._

/** Corpus-evaluation operators: the measurement passes a training-data
  * pipeline runs over its own filters and tokenizers before committing
  * a 100 TB pass to them. Everything here reduces the corpus to a
  * model-sized table (a score histogram, a bounded candidate set, a
  * per-language rollup, a bucket layout) in at most one token-scale
  * exchange, then finishes on that tiny table — the same discipline as
  * q59/q96: never a sort, window, or rank over raw documents.
  */
object Analysis extends graft.QueryModule {

  /** Exact ROC-AUC of an integer quality score against a binary label
    * (here: the per-mille stopword ratio predicting `lang = posLang`) —
    * the standard "is this cheap filter worth running?" measurement
    * for a quality signal before it gates a corpus pass.
    *
    * AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻) over all
    * positive/negative pairs. Computed exactly from the per-score
    * histogram: with p_s positives and n_s negatives at score s and
    * N_s the running negative total up to and including s,
    * 2·U = Σ_s p_s·(2·N_s − n_s), AUC = U / (pos·neg). All pair
    * counting is exact integer arithmetic; only the final single-row
    * division is a double (IEEE ops on identical exact operands are
    * bit-identical across engines).
    *
    * SCALE SHAPE: one map-only scoring scan, ONE exchange on the
    * score histogram key (≤1001 rows for a per-mille score no matter
    * the corpus size), then the rank-free pair count runs on that tiny
    * table (the global window orders ≤1001 rows — model-sized by
    * construction, not a corpus sort).
    */
  def aucEval(documents: DataFrame, posLang: String = "en"): DataFrame = {
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val scored = documents
      .filter(col("lang").isNotNull)
      .select((col("lang") === posLang).cast("long").as("y"),
        words(col("text")).as("ws"))
      .select(col("y"),
        size(col("ws")).cast("long").as("n_tok"),
        size(filter(col("ws"), w => array_contains(stopArr, w)))
          .cast("long").as("n_stop"))
      .select(col("y"), expr("(n_stop * 1000) div n_tok").as("score"))
    aucFromScores(scored)
  }

  /** The histogram half of [[aucEval]] (shared with q110's trained-
    * probe eval): exact AUC of an integer-`score` / 0-1-`y` frame.
    * The caller guarantees a model-sized score domain — the exchange
    * and window here touch one row per distinct score. The pair
    * count runs in DECIMAL(38,0): the per-score product p·(2N−n)
    * reaches ~n²/4 and would silently wrap LONG past ~4·10⁹ labeled
    * documents (DuckDB's oracle side is already exact via HUGEINT);
    * the final BIGINT cast fails loudly under ANSI if 2U itself ever
    * exceeds long range, matching the oracle's overflow error. */
  private[graft] def aucFromScores(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("n"))
    // model-sized table: the unpartitioned window orders one row per
    // distinct integer score, not the corpus
    val cum = hist.withColumn("cum_n",
      sum(col("n")).over(Window.orderBy(col("score").asc)))
    cum.agg(
      sum(col("p")).cast("long").as("n_pos"),
      sum(col("n")).cast("long").as("n_neg"),
      sum(col("p").cast("decimal(38,0)") *
        (col("cum_n") * 2 - col("n")).cast("decimal(38,0)"))
        .cast("long").as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        (col("u2") / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Guaranteed heavy hitters: every word with frequency strictly
    * above total/k, with its EXACT count — boilerplate/spam token
    * detection at corpus scale. Two passes, and the full vocabulary
    * is never shuffled:
    *
    *  1. a Misra-Gries pass with k counters per partition emits a
    *     bounded candidate set (≤ k·partitions rows total). Pigeonhole
    *     gives the guarantee: a word with global freq > total/k has
    *     local freq > local/k in at least one partition, and MG with
    *     k counters keeps every item above local/(k+1) ≥ that bar;
    *  2. an exact confirm pass counts ONLY tokens matching the
    *     broadcast candidate set and filters freq·k > total.
    *
    * False candidates are eliminated by the exact filter, so the
    * result is deterministic — identical for every partition layout —
    * even though the intermediate candidate set is not. Compare q45's
    * bounded top-k (needs a vocabulary-scale (key, count) exchange for
    * exact ranks): heavy hitters with a support threshold need only
    * candidate-scale state, the right tool when the vocabulary itself
    * is too large to shuffle.
    */
  def heavyHitters(documents: DataFrame, k: Int = 40): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val spark = documents.sparkSession
    import spark.implicits._
    val tok = documents.select(explode(words(col("text"))).as("w"))
    // ONE pass computes both the MG candidates and the token total:
    // each partition emits its candidates as (w, null) plus one
    // (null, localCount) row. The tiny result (≤(k+1)·partitions
    // rows) is localCheckpointed so deriving the two sides below
    // doesn't re-run the corpus scan — the whole operator costs two
    // corpus scans (this one + the confirm), not three.
    val mg = tok.as[String].mapPartitions { it =>
      // Misra-Gries with k counters: increment on hit, insert while
      // room, else decrement all (amortized O(1): each decrement
      // cancels one prior increment). Survivors = local candidates.
      val c = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { w =>
        n += 1
        c.get(w) match {
          case Some(v) => c.update(w, v + 1)
          case None if c.size < k => c.update(w, 1L)
          case None =>
            c.mapValuesInPlace((_, v) => v - 1)
            c.filterInPlace((_, v) => v > 0)
        }
      }
      c.keysIterator.map(w => (Option(w), None: Option[Long])) ++
        Iterator((None: Option[String], Some(n)))
    }.toDF("w", "cnt").localCheckpoint(true)
    val cands = mg.filter(col("w").isNotNull).select(col("w")).distinct()
    val total = mg.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(cands), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * k > col("total"))
      .select(col("w").as("word"), col("freq").cast("long").as("freq"))
  }

  /** Tokenizer fertility per language: pieces-per-word and unk share
    * of the q97 subword tokenizer, weighted by token frequency — THE
    * standard tokenizer-evaluation table (a tokenizer trained on
    * English text typically shows fertility 1.2–1.5 on English and
    * 2–4× that on unseen scripts, where every character falls back to
    * unk). Run before committing a vocabulary to a multilingual
    * corpus: high-fertility languages pay proportionally more of the
    * sequence budget per word.
    *
    * SCALE SHAPE: identical to q97 — the greedy encode loop runs only
    * on the DISTINCT word table (vocabulary-scale), encodings rejoin
    * the token stream under the q29 stats gate, and the final rollup
    * key is `lang` (a handful of groups). The per-language division
    * happens once per group row on exact integer sums.
    */
  def tokenizerFertility(documents: DataFrame,
                         vocab: Seq[String] = TextOps.subwordVocab)
  : DataFrame = {
    val tok = documents
      .filter(col("lang").isNotNull)
      .select(col("lang"), explode(words(col("text"))).as("w"))
    val dw = TextOps.encodeDistinctWords(tok.select(col("w")), vocab)
    tok.join(SizeGate.broadcastIfSmall(documents)(dw), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("nu")).as("n_unk"))
      .select(col("lang"), col("n_words"),
        col("n_pieces").cast("long").as("n_pieces"),
        col("n_unk").cast("long").as("n_unk"),
        (col("n_pieces") / col("n_words")).as("fertility"),
        expr("(n_unk * 1000) div n_pieces").as("unk_permille"))
  }

  /** Length-bucketed batching report: assign each document to the
    * power-of-two length bucket covering its token count (bucket b
    * holds 2^(b−1) ≤ n < 2^b, i.e. b = bit-length of n) and report
    * per bucket the sequence count, token total, full-batch count,
    * padded capacity, and fill rate — the padding-waste ledger for
    * dynamic-batching trainers that pad each batch to its bucket cap
    * instead of packing (q57). A fill_permille far below 1000 in a
    * populated bucket says the bucket boundaries (or q57 packing)
    * should be revisited before a full training run.
    *
    * Bit-length is exact integer arithmetic in any engine (length of
    * the base-2 string — no float log2 at power-of-two edges).
    *
    * SCALE SHAPE: map-only bucket assignment fused into the scan, ONE
    * exchange on the bucket id (≤64 keys); every downstream number is
    * integer arithmetic on that tiny table.
    */
  def lengthBuckets(documents: DataFrame, batchSize: Int = 16): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    documents
      .select(size(words(col("text"))).cast("long").as("n_tok"))
      .select(length(conv(col("n_tok"), 10, 2)).cast("long").as("bucket_bits"),
        col("n_tok"))
      .groupBy(col("bucket_bits"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_tok")).as("sum_tok"))
      .select(col("bucket_bits"),
        expr("shiftleft(1L, cast(bucket_bits as int)) - 1").as("cap"),
        col("n_seqs"), col("sum_tok").cast("long").as("sum_tok"))
      .select(col("bucket_bits"), col("cap"), col("n_seqs"), col("sum_tok"),
        expr(s"(n_seqs + ${batchSize - 1}) div $batchSize").as("batches"),
        (col("n_seqs") * col("cap")).as("capacity"),
        expr("(sum_tok * 1000) div (n_seqs * cap)").as("fill_permille"))
  }

  /** Per-dimension-pair Pearson correlation of the first `probeDims`
    * embedding dimensions — the redundant-dimension screen run before
    * committing a PQ subspace split (q80) or an IVF coarse quantizer
    * (q36) to a corpus: |corr| ≈ 1 pairs say the quantizer is paying
    * two dimensions for one signal (rotate or drop before indexing).
    * Complements q68 (per-dim mean/variance finds DEAD dims; this
    * finds DUPLICATED ones).
    *
    * All cross-moments accumulate as 2²⁰-quantized exact DECIMAL sums
    * (the q68 spelling, overflow-guarded the same way); the Pearson
    * ratio itself is computed per pair-row in double from those exact
    * sums — identical expression tree on identical operands on both
    * engines. Zero-variance dimensions yield corr = 0 by definition
    * (guarded, not NaN).
    *
    * SCALE SHAPE: ONE map-side-combined global aggregate carrying
    * 2·D + D·(D−1)/2 decimal sums (D=8 → 44 numbers) — zero
    * hashpartitioning exchanges, no per-dim explode, the corpus never
    * shuffles; the pair table is unstacked from the single result row.
    */
  def dimCorr(embeddings: DataFrame, probeDims: Int = 8): DataFrame = {
    require(probeDims >= 2, s"probeDims must be >= 2: $probeDims")
    val pow20 = 1048576.0 // 2^20, the q68 quantization
    val d = probeDims
    val q = embeddings.select(col("embedding").cast("array<double>").as("emb"))
      .select((1 to d).map(i =>
        floor(element_at(col("emb"), i) * pow20).cast("long").as(s"q$i")): _*)
    val pairs = for { i <- 1 to d; j <- i + 1 to d } yield (i, j)
    val absCols = (1 to d).map(i => abs(col(s"q$i")))
    val aggs = Seq(count(lit(1)).as("n"),
      max(absCols.reduceLeft(greatest(_, _))).as("qabs")) ++
      (1 to d).map(i => sum(col(s"q$i").cast("decimal(38,0)")).as(s"s$i")) ++
      (1 to d).map(i => sum((col(s"q$i") * col(s"q$i"))
        .cast("decimal(38,0)")).as(s"ss$i")) ++
      pairs.map { case (i, j) => sum((col(s"q$i") * col(s"q$j"))
        .cast("decimal(38,0)")).as(s"p${i}_$j") }
    // same loud overflow guard as q68: q*q silently wraps past 2^62
    val one = q.agg(aggs.head, aggs.tail: _*)
      .filter(when(col("qabs") > lit(1L << 31),
        raise_error(concat(
          lit("dimCorr: component magnitude >= 2^11 (max |q| = "),
          col("qabs"),
          lit(") - cross products would overflow LONG; rescale")))
          .cast("boolean"))
        .otherwise(lit(true)))
    val stacked = one.select(expr(
      s"stack(${pairs.size}, " + pairs.map { case (i, j) =>
        s"$i, $j, n, cast(s$i as double), cast(s$j as double), " +
          s"cast(ss$i as double), cast(ss$j as double), " +
          s"cast(p${i}_$j as double)"
      }.mkString(", ") + ") as (d1, d2, n, sx, sy, sxx, syy, sxy)"))
    stacked.select(col("d1").cast("long").as("d1"),
      col("d2").cast("long").as("d2"), col("n"),
      expr("""CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
                   THEN (n * sxy - sx * sy)
                        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                   ELSE 0.0 END""").as("corr"))
  }

  /** Filter ablation matrix — which quality filters are redundant?
    * q92 reports the SEQUENTIAL funnel; this measures the filters
    * INDEPENDENTLY and reports, per filter pair, how much their
    * kill sets overlap (Jaccard). A pair with overlap ≈ 1 means the
    * second filter is dead weight at 100 TB (drop it and save its
    * pass); overlap ≈ 0 means they remove disjoint slices. Filters
    * are q92's four signals, un-nested: length range, word count,
    * mean word length, distinct-word ratio — all exact integer
    * cross-multiplied predicates.
    *
    * SCALE SHAPE: the per-doc kill bits and all 4 + 2·C(4,2) pair
    * sums fold into ONE map-side-combined global aggregate (a single
    * 1-row exchange no matter the corpus size); the 6-row pair
    * matrix unstacks from that row, and the only double is the final
    * per-pair Jaccard on exact counts.
    */
  def filterAblation(documents: DataFrame,
                     minChars: Int = 200, maxChars: Int = 100000,
                     minWords: Int = 30): DataFrame = {
    val m = documents
      .filter(col("source").isNotNull)
      .select(col("n_chars"), words(col("text")).as("ws"))
      .select(col("n_chars"),
        size(col("ws")).cast("long").as("n_w"),
        size(array_distinct(col("ws"))).cast("long").as("n_d"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("wchars"))
    val kill = Map(
      1 -> !(col("n_chars") >= minChars && col("n_chars") <= maxChars),
      2 -> !(col("n_w") >= minWords),
      3 -> !(col("wchars") >= col("n_w") * 3 &&
        col("wchars") <= col("n_w") * 10),
      4 -> !(col("n_d") * 5 >= col("n_w") * 2))
    val pairs = for { i <- 1 to 4; j <- i + 1 to 4 } yield (i, j)
    val aggs = (1 to 4).map(i =>
      sum(when(kill(i), 1L).otherwise(0L)).as(s"k$i")) ++
      pairs.flatMap { case (i, j) => Seq(
        sum(when(kill(i) && kill(j), 1L).otherwise(0L)).as(s"b${i}_$j"),
        sum(when(kill(i) || kill(j), 1L).otherwise(0L)).as(s"e${i}_$j"))
      }
    val one = m.agg(aggs.head, aggs.tail: _*)
    val stacked = one.select(expr(
      s"stack(${pairs.size}, " + pairs.map { case (i, j) =>
        s"$i, $j, k$i, k$j, b${i}_$j, e${i}_$j"
      }.mkString(", ") +
        ") as (fa, fb, killed_a, killed_b, killed_both, killed_either)"))
    stacked.select(col("fa").cast("long").as("fa"),
      col("fb").cast("long").as("fb"),
      col("killed_a"), col("killed_b"),
      col("killed_both"), col("killed_either"),
      when(col("killed_either") > 0,
        col("killed_both").cast("double") / col("killed_either"))
        .otherwise(lit(0.0)).as("overlap_jacc"))
  }

  /** Zipf-conformance profile — the rank-frequency curve of the
    * corpus vocabulary at power-of-two ranks, with the rank·freq
    * product that Zipf's law predicts is ~constant. A natural-language
    * corpus tracks a flat curve; boilerplate/spam floods specific
    * ranks (the q105 heavy hitters) and template-generated text decays
    * too fast — this is the one-page "does this corpus look like
    * language" screen, all in exact integers (no log fit, so no ln()
    * portability hazard and no float regression over unordered sums).
    *
    * SCALE SHAPE: one token-scale partial-aggregated exchange (word
    * counts), then ONE bounded top-k aggregate (≤ maxRank entries per
    * map task — the vocabulary never meets a rank window); the
    * power-of-two filter runs on the ≤ maxRank result rows.
    */
  def zipfProfile(documents: DataFrame, maxRank: Int = 1024): DataFrame = {
    val counts = documents
      .select(explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    counts
      .agg(graft.functions.Aggregators.topKByKey(maxRank)(
        col("c"), col("w")).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("s.key").as("word"), col("s.score").as("freq"))
      .filter(expr("(rank & (rank - 1)) = 0"))
      .select(col("rank"), col("word"), col("freq"),
        (col("rank") * col("freq")).as("rank_freq"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q104_auc" -> ((s, d) => aucEval(Tables.documents(s, d))),
    "q105_heavy_hitters" -> ((s, d) => heavyHitters(Tables.documents(s, d))),
    "q106_fertility" -> ((s, d) => tokenizerFertility(Tables.documents(s, d))),
    "q107_length_buckets" -> ((s, d) => lengthBuckets(Tables.documents(s, d))),
    "q108_dim_corr" -> ((s, d) => dimCorr(Tables.embeddings(s, d))),
    "q115_filter_ablation" -> ((s, d) => filterAblation(Tables.documents(s, d))),
    "q122_zipf" -> ((s, d) => zipfProfile(Tables.documents(s, d)))
  )

  /** The q108 oracle, generated for `probeDims` dims: one sums CTE
    * carrying the same 2D + D(D−1)/2 exact decimal moments, then one
    * SELECT per pair unioned into the pair table — the same numbers
    * the single Spark aggregate produces, same double Pearson. */
  private def dimCorrOracle(d: Int): String = {
    val pairs = for { i <- 1 to d; j <- i + 1 to d } yield (i, j)
    val qCols = (1 to d).map(i =>
      s"CAST(floor(emb[$i] * 1048576.0) AS BIGINT) AS q$i").mkString(", ")
    val moments = (Seq("count(*) AS n") ++
      (1 to d).map(i => s"sum(CAST(q$i AS DECIMAL(38,0))) AS s$i") ++
      (1 to d).map(i => s"sum(CAST(q$i * q$i AS DECIMAL(38,0))) AS ss$i") ++
      pairs.map { case (i, j) =>
        s"sum(CAST(q$i * q$j AS DECIMAL(38,0))) AS p${i}_$j" }).mkString(", ")
    val rows = pairs.map { case (i, j) =>
      s"""SELECT CAST($i AS BIGINT) AS d1, CAST($j AS BIGINT) AS d2, n,
             CAST(s$i AS DOUBLE) AS sx, CAST(s$j AS DOUBLE) AS sy,
             CAST(ss$i AS DOUBLE) AS sxx, CAST(ss$j AS DOUBLE) AS syy,
             CAST(p${i}_$j AS DOUBLE) AS sxy
      FROM sums"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH base AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (SELECT $qCols FROM base),
      sums AS (SELECT $moments FROM q),
      pairs AS ($rows)
      SELECT d1, d2, n,
             CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0.0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                  ELSE 0.0 END AS corr
      FROM pairs"""
  }

  private def wsSql =
    """string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"""

  def oracle: Map[String, String] = Map(
    /* q104: per-score histogram → running negative count → exact 2U. */
    "q104_auc" -> s"""
      WITH s AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               (len(list_filter(ws, w -> list_contains(
                  ${TextOps.sqlArr(TextOps.stopwords)}, w))) * 1000)
                 // len(ws) AS score
        FROM (SELECT lang, $wsSql AS ws
              FROM documents WHERE lang IS NOT NULL)),
      hist AS (
        SELECT score, sum(y) AS p, count(*) - sum(y) AS n
        FROM s GROUP BY 1),
      cum AS (
        SELECT score, p, n,
               sum(n) OVER (ORDER BY score ASC) AS cum_n
        FROM hist),
      u AS (
        SELECT CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(n) AS BIGINT) AS n_neg,
               CAST(sum(p * (cum_n * 2 - n)) AS BIGINT) AS u2
        FROM cum)
      SELECT n_pos, n_neg, u2, u2 / (2.0 * n_pos * n_neg) AS auc
      FROM u""",
    /* q105: the exact definition — the MG candidate pass is a pure
     * optimization (deterministic final set, see scaladoc). */
    "q105_heavy_hitters" -> s"""
      WITH w AS (SELECT unnest($wsSql) AS w FROM documents),
      t AS (SELECT count(*) AS total FROM w),
      f AS (SELECT w AS word, count(*) AS freq FROM w GROUP BY 1)
      SELECT word, CAST(freq AS BIGINT) AS freq
      FROM f, t WHERE freq * 40 > total""",
    /* q106: the q97 greedy-encode recursive CTE, rolled up by lang. */
    "q106_fertility" -> s"""
      WITH RECURSIVE d AS (
        SELECT lang, $wsSql AS ws
        FROM documents WHERE lang IS NOT NULL),
      w AS (SELECT lang, unnest(ws) AS w FROM d),
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
                  FROM (SELECT unnest(${TextOps.sqlArr(TextOps.subwordVocab)})
                        AS v)
                  WHERE substr(rest, 1, len(v)) = v) AS p
          FROM st WHERE len(rest) > 0) s),
      enc AS (
        SELECT w, n_pieces, n_unk FROM st WHERE len(rest) = 0)
      SELECT lang, count(*) AS n_words,
             CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
             CAST(sum(n_unk) AS BIGINT) AS n_unk,
             CAST(sum(n_pieces) AS BIGINT) / CAST(count(*) AS BIGINT)
               AS fertility,
             (CAST(sum(n_unk) AS BIGINT) * 1000)
               // CAST(sum(n_pieces) AS BIGINT) AS unk_permille
      FROM w JOIN enc USING (w)
      GROUP BY 1""",
    "q108_dim_corr" -> dimCorrOracle(8),
    /* q107: bit-length bucketing via the base-2 string — exact at
     * power-of-two edges where float log2 is not. */
    "q107_length_buckets" -> s"""
      WITH s AS (SELECT len($wsSql) AS n_tok FROM documents),
      b AS (SELECT CAST(len(bin(n_tok)) AS BIGINT) AS bucket_bits, n_tok
            FROM s),
      g AS (SELECT bucket_bits, count(*) AS n_seqs,
                   CAST(sum(n_tok) AS BIGINT) AS sum_tok
            FROM b GROUP BY 1)
      SELECT bucket_bits,
             (1::BIGINT << CAST(bucket_bits AS INT)) - 1 AS cap,
             n_seqs, sum_tok,
             (n_seqs + ${16 - 1}) // 16 AS batches,
             n_seqs * ((1::BIGINT << CAST(bucket_bits AS INT)) - 1)
               AS capacity,
             (sum_tok * 1000)
               // (n_seqs * ((1::BIGINT << CAST(bucket_bits AS INT)) - 1))
               AS fill_permille
      FROM g""",
    /* q115: same single sums row (4 kill counts + per-pair both/
     * either), pair rows unioned out of it, Jaccard on exact counts. */
    "q115_filter_ablation" -> {
      val pairs = for { i <- 1 to 4; j <- i + 1 to 4 } yield (i, j)
      val kills = Map(
        1 -> "NOT (n_chars >= 200 AND n_chars <= 100000)",
        2 -> "NOT (n_w >= 30)",
        3 -> "NOT (wchars >= n_w * 3 AND wchars <= n_w * 10)",
        4 -> "NOT (n_d * 5 >= n_w * 2)")
      val sums = ((1 to 4).map(i =>
        s"sum(CASE WHEN ${kills(i)} THEN 1 ELSE 0 END) AS k$i") ++
        pairs.flatMap { case (i, j) => Seq(
          s"sum(CASE WHEN (${kills(i)}) AND (${kills(j)}) " +
            s"THEN 1 ELSE 0 END) AS b${i}_$j",
          s"sum(CASE WHEN (${kills(i)}) OR (${kills(j)}) " +
            s"THEN 1 ELSE 0 END) AS e${i}_$j")
        }).mkString(",\n               ")
      val rows = pairs.map { case (i, j) =>
        s"""SELECT CAST($i AS BIGINT) AS fa, CAST($j AS BIGINT) AS fb,
               CAST(k$i AS BIGINT) AS killed_a,
               CAST(k$j AS BIGINT) AS killed_b,
               CAST(b${i}_$j AS BIGINT) AS killed_both,
               CAST(e${i}_$j AS BIGINT) AS killed_either
      FROM sums"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH m AS (
        SELECT n_chars,
               CAST(len(ws) AS BIGINT) AS n_w,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_d,
               CAST(list_sum(list_transform(ws, w -> strlen(w)))
                 AS BIGINT) AS wchars
        FROM (SELECT n_chars, $wsSql AS ws
              FROM documents WHERE source IS NOT NULL)),
      sums AS (
        SELECT $sums
        FROM m),
      p AS ($rows)
      SELECT fa, fb, killed_a, killed_b, killed_both, killed_either,
             CASE WHEN killed_either > 0
                  THEN CAST(killed_both AS DOUBLE) / killed_either
                  ELSE 0.0 END AS overlap_jacc
      FROM p"""
    },
    /* q122: word counts → row_number by (count DESC, word ASC) — the
     * aggregator's total order — at power-of-two ranks ≤ 1024. */
    "q122_zipf" -> s"""
      WITH tok AS (
        SELECT unnest($wsSql) AS w FROM documents),
      c AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
      r AS (SELECT w, c,
                   row_number() OVER (ORDER BY c DESC, w ASC) AS rank
            FROM c)
      SELECT rank, w AS word, c AS freq, rank * c AS rank_freq
      FROM r
      WHERE rank <= 1024 AND (rank & (rank - 1)) = 0"""
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Portable._

/** Deduplication operators for training-data pipelines over
  * `documents`. Scale design notes (100 TB):
  *   - exact dedup: hash-groupBy on a 128-bit content address — one
  *     shuffle of (hash, id), never of the payload;
  *   - MinHash/LSH: candidate pairs come from grouping docs by band
  *     key (one bucket aggregate) — the only scalable alternative to
  *     O(n²) all-pairs. One md5 per shingle, then k affine transforms
  *     (a·h+b mod p) form the hash family — not k md5 passes — all in
  *     one per-row codegen node ([[graft.functions.MinHashMins]]), so
  *     the signature is a map and the band key is the first shuffle;
  *   - SimHash: the 32-bit fingerprint is computed by exploding
  *     token hashes and running 32 vectorized ±1 sums in a single
  *     hash aggregate (whole-stage codegen) — not a nested
  *     interpreted fold; hamming-ball candidates via byte-band
  *     equi-join (pigeonhole: distance ≤ maxDist over 4 bands with
  *     maxDist < 4 ⇒ ≥1 identical band);
  *   - n-gram Jaccard: inverted-index join on shingles; a frequency
  *     cap on hot shingles (`maxShingleFreq`) bounds join fan-out,
  *     the standard guard against quadratic blowup on stop-shingles.
  * All hashing is md5-based (Portable) so every op is oracle-checked.
  */
object Dedup extends graft.QueryModule {

  private[graft] val P = 1000000007L

  /** Default in-bucket population cap for the LSH-style candidate ops
    * (q26/q28/q29): a bucket shared by more docs than this is a
    * stop-band — its O(n²) pairs are never useful dedup candidates and
    * would concentrate in one task. Mirrored verbatim in the oracles.
    */
  private[operators] val DefaultMaxBucket = 100

  /** Affine hash-family coefficients, derived from md5 so the oracle
    * can inline the identical literals. a ∈ [1, 2^30), b ∈ [0, p):
    * a·h32 + b < 2^62 — no 64-bit overflow on either engine. */
  private[graft] val coefA: Array[Long] =
    Array.tabulate(16)(i => h32Scala(s"a$i") % 1073741789L + 1)
  private[graft] val coefB: Array[Long] =
    Array.tabulate(16)(i => h32Scala(s"b$i") % P)

  /** Exact dedup groups: content-md5 → canonical (min) doc_id + group
    * size. Duplicates are `n_docs > 1`. */
  def exactGroups(documents: DataFrame): DataFrame =
    documents
      .select(md5(normText(col("text"))).as("content_md5"), col("doc_id"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Aggressively-normalized dedup groups — the near-exact tier
    * BETWEEN [[exactGroups]] and MinHash: lowercase, strip every
    * non-alphanumeric to a space, collapse runs. Catches the trivial
    * variants exact dedup misses (punctuation/hyphenation/quote-style
    * edits, "Hello, World!" vs "hello world") at exact-dedup cost —
    * no shingling, no candidate join. Only groups that collide ACROSS
    * distinct exact-normalized contents are emitted (`n_variants >
    * 1`): a group of byte-identical dupes is q25's finding, not a new
    * one, so the output is exactly the increment this tier adds.
    *
    * SCALE SHAPE: identical to q25 — one map-only normalize+hash pass
    * (text never outlives its two 128-bit hashes), one partial-
    * aggregated exchange on the aggressive hash; the distinct-variant
    * count folds into the same aggregate via a 1-scan two-level
    * groupBy on (agg_md5, exact_md5) then agg_md5.
    */
  def normVariantGroups(documents: DataFrame): DataFrame = {
    // one regex: any run of non-alphanumerics (incl. whitespace)
    // collapses to a single space, so no second collapse pass needed
    val aggNorm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    documents
      .select(md5(aggNorm).as("norm_md5"),
        md5(normText(col("text"))).as("exact_md5"), col("doc_id"))
      .groupBy(col("norm_md5"), col("exact_md5"))
      .agg(min(col("doc_id")).as("kid"), count(lit(1)).as("nd"))
      .groupBy(col("norm_md5"))
      .agg(min(col("kid")).as("keep_id"),
        sum(col("nd")).as("n_docs"),
        count(lit(1)).as("n_variants"))
      .filter(col("n_variants") > 1)
  }

  /** Per-row MinHash signature of `text`'s 3-word shingles — the k
    * hashes of the affine family above, one generated node per row
    * ([[graft.functions.MinHashMins]]): no explode, no aggregate, so
    * no consumer shuffles on doc_id to build it. Null for a null text
    * or one with fewer than 3 words. The signature is per ROW, which
    * is what the oracles' `sig` CTE computes: doc_id must be unique
    * per input.
    * DuckDB: `list_transform(generate_series(0, k - 1), i -> list_min(
    *   list_transform(sh, s -> (a[i + 1] * h32(s) + b[i + 1]) % p)))`
    */
  private def minhashSig(text: Column, k: Int): Column = {
    require(k <= 16, "coefficient table has 16 entries")
    minhash(shingles(words(text), 3), coefA.take(k), coefB.take(k), P)
  }

  /** MinHash signature of `k` hashes over 3-word shingles: one 32-bit
    * md5-hash per shingle, then sig_i = min over shingles of
    * (a_i·h + b_i mod p) — a valid universal hash family, portable to
    * any engine with md5 and 64-bit arithmetic. Documents with fewer
    * than 3 words have no shingles and drop out.
    */
  def minhashSignature(documents: DataFrame, k: Int): DataFrame =
    documents.select(col("doc_id"), minhashSig(col("text"), k).as("sig"))
      // a one-element explode drops the null rows: a filter would be
      // pushed below the projection and run the kernel twice per row
      .select(col("doc_id"),
        explode(when(col("sig").isNotNull, array(col("sig")))).as("sig"))

  /** All unordered (ids[i], ids[j]) pairs, i < j, of a pre-sorted
    * array — the in-bucket pair generator shared by the LSH-style
    * candidate ops. Bucket membership lists are collected per band
    * key, so candidates come from ONE aggregation instead of a
    * persisted self-join (no cached intermediate to leak, one shuffle
    * instead of two join sides). Bucket sizes are bounded by band
    * selectivity (and by explicit frequency caps where semantics allow),
    * which keeps the collected id lists small at any corpus size.
    *
    * Skew note for a 100 TB run: a pathological bucket (a stop-band
    * shared by millions of docs) concentrates its quadratic pair
    * explosion in one task here, whereas a band-key self-join spreads
    * the same pairs across tasks at the cost of shuffling both sides
    * and computing signatures twice. Production guidance: keep this
    * single-pass shape and CAP bucket size (pairs from a
    * million-member bucket are never useful dedup candidates — that
    * band is effectively a stop-shingle), as ngramJaccardPairs already
    * does with `maxShingleFreq`; fall back to the self-join only if
    * uncapped pathological buckets must be enumerated exactly.
    */
  private[operators] def sortedPairs(ids: Column): Column =
    graft.functions.VectorExpressions.sortedArrayPairs(ids)

  /** Band `b`'s key of a signature: its rows b·r … b·r+r−1 joined
    * with "|" as decimal strings. */
  private def bandKey(sig: Column, b: Int, r: Int): Column =
    concat_ws("|", (b * r until (b + 1) * r).map(i => sig(i).cast("string")): _*)

  /** (doc_id, band_idx, band_key) rows of the banded MinHash
    * signature — the LSH keying of [[minhashPairs]] and
    * [[dupRateEstimate]]. Map-only. Documents with < 3 words have no
    * signature and produce no rows. */
  private def bandedKeys(documents: DataFrame, k: Int,
                         bands: Int): DataFrame = {
    val r = k / bands
    val sig = col("sig")
    documents.select(col("doc_id"), minhashSig(col("text"), k).as("sig"))
      .select(col("doc_id"), posexplode(when(sig.isNotNull,
        array((0 until bands).map(b => bandKey(sig, b, r)): _*))))
      .toDF("doc_id", "band_idx", "band_key")
  }

  /** LSH candidate pairs: split the k-element signature into `bands`
    * bands of k/bands rows, key each band by its joined slice, group
    * docs by band key, and emit in-bucket pairs. Emits each unordered
    * pair once with the number of matching bands.
    */
  def minhashPairs(documents: DataFrame, k: Int = 16, bands: Int = 4,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandedKeys(documents, k, bands)
    banded
      .groupBy(col("band_idx"), col("band_key"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      // cap bucket size (see sortedPairs scaladoc): a stop-band bucket
      // would otherwise concentrate O(n²) pairs in one task. A dropped
      // bucket just doesn't count toward n_shared_bands.
      .filter(size(col("ids")).between(2, maxBucket))
      // outer explode: a plain explode gets an inferred size()>0
      // filter that evaluates the pair expression twice more per
      // bucket, interpreted; the bucket-size filter above already
      // guarantees non-empty pair arrays
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Winnowing fingerprint pairs (q113) — the MOSS algorithm
    * (Schleimer et al., SIGMOD 2003): hash every k-gram, slide a
    * w-hash window, keep each window's MINIMUM hash, and report
    * document pairs sharing ≥ `minShared` distinct fingerprints.
    * Winnowing guarantees any shared run of ≥ w+k−1 tokens yields at
    * least one shared fingerprint — POSITION-ROBUST local overlap
    * detection (quotes, clone fragments, license boilerplate) where
    * MinHash (q26) measures whole-document similarity and span dedup
    * (q76) needs exact span equality. Fingerprints here are the
    * window-min VALUES, distinct per document (the standard
    * value-winnowing simplification; a doc shorter than one window
    * contributes the min of what it has).
    *
    * SCALE SHAPE: the k-gram hash array and the window-min fold are
    * map-only (the winnow step is one pass over the per-row hash
    * array — evaluated once per row); candidates come from the same
    * capped inverted-index-and-pair-aggregate shape as q26 — hot
    * fingerprints (> maxDocsPerFp docs) are dropped as stop-grams, so
    * no bucket ever expands O(n²) pairs; the pair key exchange
    * carries ids only.
    */
  def winnowPairs(documents: DataFrame, k: Int = 3, window: Int = 4,
                  minShared: Int = 2,
                  maxDocsPerFp: Int = 50): DataFrame = {
    require(k >= 1 && window >= 1 && minShared >= 1 && maxDocsPerFp >= 2,
      s"bad winnow params: k=$k window=$window " +
        s"minShared=$minShared maxDocsPerFp=$maxDocsPerFp")
    val winnow = udf { gh: Seq[Long] =>
      val m = gh.size
      if (m == 0) Array.empty[Long]
      else (0 until math.max(1, m - window + 1))
        .map(i => gh.slice(i, math.min(i + window, m)).min)
        .distinct.toArray
    }
    val fps = documents
      .select(col("doc_id"), shingles(words(col("text")), k).as("gs"))
      .select(col("doc_id"), transform(col("gs"), g => hash60(g)).as("gh"))
      .select(col("doc_id"), explode(winnow(col("gh"))).as("f"))
    fps.groupBy(col("f"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDocsPerFp))
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Pre-flight duplicate-rate estimate: the per-band LSH bucket
    * census run BEFORE committing a cluster to the full q26→q47→q43
    * dedup chain. Reports, per band: how many buckets exist, how many
    * collide (≥ 2 docs), the largest bucket, how many candidate pairs
    * the capped pair stage would expand (Σ c·(c−1)/2 over surviving
    * buckets), and how many stop-band buckets the cap would drop.
    * From these a 100 TB operator reads off (a) the expected pair
    * volume — the cost driver of the whole dedup pass — and (b)
    * whether the band width needs retuning (q87 measures recall; this
    * measures COST) — without ever materializing a pair.
    *
    * SCALE SHAPE: exactly the q26 pipeline truncated at the bucket
    * census: one exchange on (band_idx, band_key) carrying partial
    * counts, then a #bands-key rollup of the bucket table. The
    * quadratic pair expansion never runs; all counts are integers.
    */
  def dupRateEstimate(documents: DataFrame, k: Int = 16, bands: Int = 4,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedKeys(documents, k, bands)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band_idx"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("colliding_buckets"),
        max(col("c")).as("max_bucket"),
        sum(when(col("c").between(2, maxBucket),
          expr("(c * (c - 1)) div 2")).otherwise(0L)).as("candidate_pairs"),
        sum(when(col("c") > maxBucket, 1L).otherwise(0L)).as("capped_buckets"))

  /** 32-bit SimHash over the word multiset: bit j of the fingerprint
    * is 1 iff the multiplicity-weighted ±1 vote of token-hash bit j is
    * positive. Computed as explode → 32 conditional sums in ONE hash
    * aggregate (vectorized, codegen) — the multiset vote is
    * order-free, so this equals the sequential fold the oracle runs.
    */
  def simhash(documents: DataFrame): DataFrame = {
    val perToken = documents
      .select(col("doc_id"), explode_outer(words(col("text"))).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), hash32(col("w")).as("h"))
    val votes = (0 until 32).map { j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1L).otherwise(-1L))
        .as(s"v$j")
    }
    perToken.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup candidates: byte-band bucketing (4 bands of
    * 8 bits), in-bucket pairs, then exact hamming distance ≤ `maxDist`
    * via popcount of xor. */
  /** SimHash near-dup candidates with a bucket cap. The cap composes
    * with the first-matching-band trick below as: a pair is emitted
    * iff its LOWEST value-matching band's bucket survived the cap
    * (emissions from higher matching bands are suppressed by the
    * `!m(lower)` filter whether or not the lower bucket survived).
    * Recall-loss mode, accepted and mirrored in the oracle: a pair
    * whose lowest matching band is a hot bucket is dropped even if a
    * higher matching band's bucket is small. */
  def simhashPairs(documents: DataFrame, maxDist: Int = 6,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = simhash(documents)
      .select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftright(simhash, b * 8) & 255)")))
      .toDF("doc_id", "simhash", "band_idx", "band_val")
    banded
      .groupBy(col("band_idx"), col("band_val"))
      // sorts by doc_id (first struct field) → pairs have a.doc_id <
      // b.doc_id by construction
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("band_idx"),
        explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("band_idx"), col("p.a.doc_id").as("a"),
        col("p.b.doc_id").as("b"),
        col("p.a.simhash").bitwiseXOR(col("p.b.simhash")).as("x"))
      // first-matching-band: keep a pair only in its LOWEST matching
      // band (band j matches iff byte j of the xor is zero) — every
      // qualifying pair is emitted exactly once, so no distinct
      // shuffle over the candidate multiset is needed
      .filter({
        def m(j: Int): Column =
          (shiftright(col("x"), j * 8).bitwiseAND(lit(255))) === 0
        col("band_idx") === 0 ||
          (col("band_idx") === 1 && !m(0)) ||
          (col("band_idx") === 2 && !m(0) && !m(1)) ||
          (col("band_idx") === 3 && !m(0) && !m(1) && !m(2))
      })
      .select(col("a"), col("b"), bit_count(col("x")).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** N-gram Jaccard near-dup pairs: inverted-index join on 3-word
    * shingles (capped at `maxShingleFreq` docs per shingle to bound
    * fan-out), then exact word-set Jaccard ≥ `threshold` on the
    * candidates.
    */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.8,
                        maxShingleFreq: Int = DefaultMaxBucket): DataFrame = {
    // doc_id → SORTED word set: sorting once per doc lets the per-pair
    // jaccard be a single codegen merge walk (SortedArrayJaccard).
    // Computed per lookup join below (2× word-split of matched docs)
    // rather than persisted — keeps the operator cache-free.
    val wsets = documents
      .select(col("doc_id"),
        array_sort(array_distinct(words(col("text")))).as("wset"))
    // inverted index: shingle-hash → docs, with hot shingles (> freq
    // cap) dropped in the same aggregation that buckets the index.
    // Keyed by the 60-bit md5 prefix, not the shingle string: the
    // distinct + group shuffles move 8-byte keys. A collision merges
    // two shingles' doc lists, which can only LOSE candidates when the
    // merged bucket crosses maxShingleFreq and is dropped whole (false
    // candidates are removed by the exact jaccard filter either way) —
    // at 60 bits that needs ~2³⁰ distinct shingles before the first
    // collision, vs ~2¹⁶ for a 32-bit key.
    val inv = documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(shingles(col("w"), 3)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"), hash60(col("shingle")).as("sh"))
    // collect_set dedups repeated (doc, shingle) occurrences inside
    // the bucket aggregation itself — one exchange on sh instead of a
    // full (doc_id, sh) distinct exchange followed by the group-by
    // The distinct stays BEFORE the lookup joins even though measured
    // cross-bucket duplication is only ~1.1×: its exchange is also the
    // REBALANCE between the skewed pair explosion (hot buckets emit
    // O(cap²) pairs in one task) and the per-pair jaccard walks.
    // Deferring dedup to after the threshold filter fused explosion,
    // joins, and jaccard into one skew-bound stage and ran ~2× slower.
    val cands = inv
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleFreq))
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    // broadcast the doc→wset lookups while the corpus is small enough
    // that the candidate pairs (the big, skew-prone side) should never
    // shuffle and the jaccard runs map-side; past the SizeGate the
    // word-set table IS the corpus, so the op switches to a shuffled
    // join on the pair keys instead.
    val g = SizeGate.broadcastIfSmall(documents)
    cands
      .join(g(wsets.toDF("a", "a_w")), "a")
      .join(g(wsets.toDF("b", "b_w")), "b")
      .select(col("a"), col("b"),
        graft.functions.VectorExpressions
          .sortedJaccard(col("a_w"), col("b_w")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** N-gram CONTAINMENT near-dup pairs — the asymmetric companion to
    * [[ngramJaccardPairs]]: containment(A,B) = |S(A) ∩ S(B)| /
    * min(|S(A)|, |S(B)|) over 3-word shingle sets. Jaccard misses
    * subset inclusion (a paragraph quoted inside a much longer
    * document scores low on |∩|/|∪| but 1.0 on containment), and
    * inclusion is exactly what crawl dedup needs to catch for
    * quote/boilerplate/wrapper pages. Candidates come from the same
    * frequency-capped inverted index as the jaccard op; the exact
    * containment then runs per pair as one codegen merge walk over the
    * pre-sorted 60-bit shingle-hash arrays (ints only — the score is a
    * single int/int division, bit-portable to any engine).
    *
    * Scale shape: identical to q29 — index bucketing bounds fan-out,
    * shingle hashes (8 bytes) travel instead of strings, and the
    * per-doc shingle-set lookup broadcasts only under the source-stats
    * gate, else the candidate join shuffles on the pair keys.
    */
  def containmentPairs(documents: DataFrame, threshold: Double = 0.9,
                       maxShingleFreq: Int = DefaultMaxBucket): DataFrame = {
    val ssets = documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(shingles(col("w"), 3),
          s => hash60(s)))).as("ss"))
    val inv = documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(shingles(col("w"), 3)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"), hash60(col("shingle")).as("sh"))
    val cands = inv
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleFreq))
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    val g = SizeGate.broadcastIfSmall(documents)
    cands
      .join(g(ssets.toDF("a", "a_s")), "a")
      .join(g(ssets.toDF("b", "b_s")), "b")
      .select(col("a"), col("b"),
        graft.functions.VectorExpressions
          .sortedLongIntersect(col("a_s"), col("b_s")).as("inter"),
        size(col("a_s")).as("n_a"), size(col("b_s")).as("n_b"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / least(col("n_a"), col("n_b")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Dedup GROUP assignment — the step after candidate pairs that a
    * real fuzzy-dedup pipeline needs before it can pick one keeper per
    * near-dup cluster: connected components over the MinHash-LSH pair
    * graph, labeled by the component's minimum doc_id. Emits only
    * nodes that appear in some pair (singletons are their own group
    * by definition).
    *
    * Two execution paths behind one size gate, because the EDGE set is
    * orders of magnitude smaller than the corpus (only docs that
    * band-collided, as bare (id, id) pairs — never payloads):
    *
    *  - edge count ≤ `maxDriverEdges`: collect the pairs and run
    *    union-find (path compression, smaller root wins so every root
    *    IS its component's min id) on the driver — one pass, no
    *    per-round shuffles. 3M edges ≈ 48 MB raw; the
    *    result broadcasts back as a literal table. This is the normal
    *    case even at 100 TB corpus scale when dup density is sane.
    *  - otherwise: iterative min-label propagation with POINTER
    *    JUMPING as a batch driver loop (T7, like kmeansRefine) — see
    *    [[propagateMinLabels]]. The jump bounds rounds at
    *    O(log diameter), so chain-shaped components (the adversarial
    *    case for plain propagation) converge within the round cap.
    *    Each round is two joins + one agg on the persisted undirected
    *    edge list, and each round's result is persisted so the next
    *    round plans against the materialized table, not the whole
    *    loop's lineage.
    *
    * Both paths produce the identical (doc_id, min-id-of-component)
    * labeling, so the gate is invisible to the oracle. The default
    * derives from the round-7 crossover sweep (SCALE.md, q47
    * gate calibration): whole-call wall, both paths forced, on
    * verbatim-duplication graphs from 60 k to 6.7 M edges — the
    * driver path wins at ≤ 2.5 M edges (7.9 s vs 11.9 s at 2.5 M)
    * and loses from ~5 M (19.7 s vs 14.2 s at 5.05 M), so the
    * measured crossover sits between 2.5 M and 5 M. The 3 M default
    * keeps headroom below it because a real cluster pays a network
    * collect + rebroadcast that local-mode timing flatters, and the
    * mis-pick penalty is asymmetric (the loop is ~1.5× when wrongly
    * chosen; the driver path keeps degrading with edge count).
    * (An earlier round-6 single-point reading of 19.2 s driver at
    * 480 k edges did not reproduce — see BENCHDRIFT.md for the
    * machine-weather/testdata-regeneration post-mortem.)
    */
  def dedupGroups(documents: DataFrame, maxRounds: Int = 20,
                  maxDriverEdges: Long = 3000000L,
                  checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(
      minhashPairs(documents).select(col("a"), col("b")),
      maxRounds, maxDriverEdges, checkpointDir)

  /** Connected components over an undirected (a, b) pair graph —
    * the size-gated driver union-find / pointer-jumping loop
    * documented on [[dedupGroups]], reusable by any pair family
    * (text MinHash q47, image dHash q134). Returns
    * (doc_id, group_id = min id of the component). */
  private[graft] def connectedComponents(pairsDf: DataFrame,
      maxRounds: Int = 20, maxDriverEdges: Long = 3000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    val edges = pairsDf.select(col("a"), col("b")).persist()
    val nEdges = edges.count()
    if (nEdges <= maxDriverEdges) {
      val pairs = edges.as[(Long, Long)].collect()
      edges.unpersist()
      val parent = new scala.collection.mutable.LongMap[Long](pairs.length * 2)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // roots carry the min id of their component already: unions always
      // point the larger root at the smaller one, and node ids only ever
      // join components they are members of.
      val labeled = parent.keysIterator
        .map(n => (n, find(n))).toSeq
      labeled.toDF("doc_id", "group_id")
    } else {
      // finally: the edge cache must release even when the loop
      // refuses to converge and throws
      try propagateMinLabels(edges, maxRounds, checkpointDir)
        .withColumnsRenamed(Map("node" -> "doc_id", "label" -> "group_id"))
      finally edges.unpersist()
    }
  }

  /** Distributed min-label propagation WITH pointer jumping: each
    * round every node takes the min of its own and its neighbors'
    * labels, then follows its label one hop through the label table
    * (label ← label(label)). The jump halves the effective distance
    * to the component minimum every round, so convergence is
    * O(log diameter) rounds instead of O(diameter) — the property
    * that makes the at-scale path safe for chain-shaped components
    * (re-post chains, rolling boilerplate) that plain propagation's
    * round cap would truncate. Labels only decrease and only to ids
    * inside the component, so the fixpoint is the same
    * min-id-of-component labeling as the driver union-find.
    *
    * Throws (rather than silently returning a truncated labeling) if
    * `maxRounds` is hit with labels still changing.
    *
    * Durability: `localCheckpoint` blocks live only on executors — on
    * a real cluster, losing one executor mid-loop kills the lineage
    * and the job, and the >5M-edge inputs that take this path are
    * exactly the runs too expensive to restart. Pass `checkpointDir`
    * (durable storage: HDFS/S3) to use reliable `checkpoint(eager)`
    * leaves instead; the loop then survives executor loss at the cost
    * of one round-trip write per round. Unset keeps the local-mode
    * default (no extra I/O, same constant-plan-size property).
    */
  private[graft] def propagateMinLabels(edges: DataFrame,
                                        maxRounds: Int,
                                        checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // a true plan leaf each round: reliable when a dir is configured,
    // executor-local otherwise
    def leaf(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    val und = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .persist()
    // every round's table is checkpointed, not persisted: the
    // jump self-join would otherwise DOUBLE the logical plan each
    // round (the cached-plan substitution happens after the full tree
    // is built, but execution-start explain-string generation walks
    // the raw tree — measured minutes of driver spin by round ~8).
    // A checkpoint is a true leaf: plan size stays constant across
    // rounds and there is no cache bookkeeping to leak.
    var labels = leaf(und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")))
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbrMin = und
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node"))
        .agg(min(col("label")).as("nbr_min"))
      val stepped = leaf(labels.join(nbrMin, "node")
        .select(col("node"), col("label"),
          least(col("label"), col("nbr_min")).as("mid")))
      // pointer jump (label <- label(label)): mid-label values are
      // themselves node ids (mins of node ids), so every row
      // inner-joins a jump target; the jump halves the distance to
      // the component minimum each round
      val next = leaf(stepped
        .join(stepped.select(col("node").as("jn"), col("mid").as("jl")),
          col("mid") === col("jn"))
        .select(col("node"), col("label"),
          least(col("mid"), col("jl")).as("next_label")))
      changed = next.filter(col("next_label") < col("label")).count()
      labels = next.select(col("node"), col("next_label").as("label"))
      round += 1
    }
    und.unpersist()
    if (changed > 0) {
      // silent truncation would return labels that differ from the
      // transitive closure with nothing flagging it — refuse instead
      throw new IllegalStateException(
        s"dedupGroups: min-label propagation did not converge in " +
        s"$maxRounds rounds ($changed labels still changing) — with " +
        "pointer jumping, rounds needed = O(log(component diameter))")
    }
    labels
  }

  /** Keeper selection — the decision that ends a fuzzy-dedup
    * pipeline: per near-dup group, keep the longest document (token
    * count as the quality signal, ties to the smallest id) and report
    * group size. The keeper pick is one max-struct aggregate, no rank
    * window.
    *
    * At sane dup density the group table is tiny relative to the
    * corpus (only docs that paired) and broadcasts against the per-doc
    * quality projection — but at crawl-scale 30–50% duplication it is
    * corpus-ordered and would hit the 8 GB broadcast ceiling, so the
    * broadcast is size-gated on the source-scan stats ([[SizeGate]])
    * exactly like ngramJaccardPairs' lookup, with a shuffled join as
    * the fallback.
    */
  def dedupKeepers(documents: DataFrame): DataFrame =
    keeperTable(documents, dedupGroups(documents),
      SizeGate.broadcastIfSmall(documents))

  /** (group_id, keep_id, n_docs) from a labeled group table: one
    * max-struct aggregate over the quality-joined groups, `g` being
    * the caller's size-gate hint for the group side. */
  private def keeperTable(documents: DataFrame, groups: DataFrame,
                          g: DataFrame => DataFrame): DataFrame = {
    val quality = documents
      .select(col("doc_id"),
        size(graft.functions.Portable.words(col("text"))).as("n_tokens"))
    quality.join(g(groups), "doc_id")
      .groupBy(col("group_id"))
      .agg(
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg"))).as("m"),
        count(lit(1)).as("n_docs"))
      .select(col("group_id"), (-col("m.neg")).as("keep_id"), col("n_docs"))
  }

  /** Apply the dedup decisions — materialize the SURVIVING corpus:
    * every unpaired document plus, per near-dup group, only its
    * keeper. This is the step that actually shrinks the training set;
    * everything upstream (pairs → groups → keepers) only decides.
    *
    * Scale shape: `dedupGroups` is eager and returns a materialized
    * (driver-literal or localCheckpointed) table, so the three uses
    * below do NOT re-run the LSH pipeline. The drop set is bare ids
    * (dup count × 8 bytes) joined anti against the corpus under the
    * same stats gate as the keeper broadcast — past it, the anti-join
    * shuffles on doc_id instead of broadcasting.
    */
  def dedupApply(documents: DataFrame): DataFrame = {
    val g = SizeGate.broadcastIfSmall(documents)
    val groups = dedupGroups(documents)
    val keep = keeperTable(documents, groups, g)
      .select(col("group_id"), col("keep_id"))
    val drops = groups.join(g(keep), "group_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    documents.join(g(drops), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Duplicate provenance — WHERE the near-dups come from: MinHash
    * pair counts aggregated per unordered source pair. The report
    * that tells a crawl pipeline which feeds mirror each other (and
    * whether dedup should run before or after a given ingest).
    *
    * Scale shape: the PAIR side broadcasts (it is the small side —
    * dup density × corpus, bucket-capped upstream) and the bare
    * (doc_id, source) corpus projection streams through both lookups
    * without shuffling; the gate (same stats proxy as the keeper
    * broadcast) degrades both to shuffled id joins past it. The final
    * agg groups a tiny source-pair key space.
    */
  def dupSources(documents: DataFrame): DataFrame = {
    val g = SizeGate.broadcastIfSmall(documents)
    val src = documents.select(col("doc_id"), col("source"))
    val pairs = minhashPairs(documents).select(col("a"), col("b"))
    val withA = src.toDF("a", "source_a").join(g(pairs), "a")
      .select(col("b"), col("source_a"))
    val withBoth = src.toDF("b", "source_b").join(g(withA), "b")
    withBoth
      .groupBy(least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental dedup: admit a NEW batch against an already-kept
    * REFERENCE corpus — the batch analog of the streaming admission
    * op, and what a continuously-crawled corpus actually runs (the
    * reference is yesterday's 100 TB; the batch is today's crawl).
    *
    * A batch document is admitted iff it passes ALL of:
    *   T1 exact: its content md5 is not in the reference, and it is
    *      the min-doc_id holder of that md5 within the batch;
    *   T2 near-dup vs reference: none of its MinHash LSH bands
    *      collides with a reference band (bands shared by more than
    *      `maxBucket` reference docs are stop-bands and don't count);
    *   T3 near-dup within batch: for every band bucket it shares with
    *      other T1∩T2 survivors (bucket size ≤ `maxBucket`), it is
    *      the bucket's min doc_id.
    *
    * The two-phase batch semantics are deliberately conservative
    * relative to one-at-a-time streaming admission: a doc can be
    * rejected for colliding with a batch sibling that was itself
    * rejected (streaming would have admitted it). That is the
    * standard trade for a one-pass parallel admission — no
    * sequential dependence, so 1000 executors admit independently.
    *
    * Scale shape: one map-only projection over BOTH sides computes
    * each doc's content md5 and its per-row MinHash signature, and
    * explodes them into keys — `(-1, md5)` for every doc, plus
    * `(band_idx, band_key)` per band when it has a signature. ONE
    * aggregate on that key gives every test: the reference count
    * `n_ref` and the batch ids of each key, and from them
    *   T1: a content key with `n_ref = 0` (or a null md5) admits its
    *       min batch id;
    *   T2: a band key with `n_ref` in 1..maxBucket rejects its ids;
    *   T3: the other band keys with ≥ 2 batch ids are regrouped over
    *       the T1∩T2 survivors.
    * The reference corpus' text never moves — only keys and ids
    * shuffle, once — and no pairs are enumerated; the stop-band cap
    * bounds the only skew surface. doc_id must be unique per input.
    * DuckDB: the q73 oracle's `sig` CTE is this signature
    * ([[minhashSig]]), row for row.
    */
  def incrementalAdmit(reference: DataFrame, batch: DataFrame,
                       k: Int = 16, bands: Int = 4,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val r = k / bands
    def side(df: DataFrame, ref: Boolean): DataFrame =
      df.select(lit(ref).as("ref"), col("doc_id"), col("text"))
    val docs = side(reference, ref = true).unionByName(side(batch, ref = false))
      .select(col("ref"), col("doc_id"), md5(normText(col("text"))).as("md5"),
        minhashSig(col("text"), k).as("sig"))
    def key(idx: Int, value: Column): Column =
      struct(lit(idx).as("band_idx"), value.as("band_key"))
    val md5Key = array(key(-1, col("md5")))
    val keys = docs.select(col("ref"), col("doc_id"),
      inline(when(col("sig").isNull, md5Key).otherwise(concat(md5Key,
        array((0 until bands).map(b => key(b, bandKey(col("sig"), b, r))): _*)))))
    val nRef = count_if(col("ref"))
    val ids = collect_list(when(!col("ref"), col("doc_id")))
    // each key's role is an aggregate OUTPUT: a filter conjunct on the
    // grouping key alone would be pushed below the aggregate and split
    // it in two (the second copy rescans and re-hashes both sides)
    val role =
      when(col("band_idx") < 0,
        when((nRef === 0 || col("band_key").isNull) && size(ids) > 0, 1))
        .when(nRef.between(1, maxBucket), 2)
        .when(size(ids) >= 2, 3)
    val buckets = keys
      .groupBy(col("band_idx"), col("band_key"))
      .agg(ids.as("ids"), role.as("role"))
    def withRole(n: Int): DataFrame = buckets.filter(col("role") === n)
    // T1 minus T2; anti-join inputs need no distinct
    val t12 = withRole(1).select(array_min(col("ids")).as("doc_id"))
      .join(withRole(2).select(explode(col("ids")).as("doc_id")),
        Seq("doc_id"), "left_anti")
    // T3: min-per-bucket among surviving batch docs; oversized buckets
    // are stop-bands here too (same cap semantics as minhashPairs)
    val rejected = withRole(3)
      .select(col("band_idx"), col("band_key"), explode(col("ids")).as("doc_id"))
      .join(t12, Seq("doc_id"), "left_semi")
      .groupBy(col("band_idx"), col("band_key"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode_outer(slice(col("ids"), lit(2), size(col("ids"))))
        .as("doc_id"))
    // full admitted rows — callers project; the scan prunes unused
    // columns (text is only read by the key projection above)
    batch
      .join(t12, Seq("doc_id"), "left_semi")
      .join(rejected, Seq("doc_id"), "left_anti")
  }

  /** Bloom-gated exact admission — [[incrementalAdmit]]'s T1 test
    * restructured so that NEITHER corpus ever shuffles its keys. The
    * plain spelling (batch anti-join reference on content hash) moves
    * every reference hash through an exchange when the reference is
    * too big to broadcast — at 100 TB that shuffle IS the job. Here
    * the reference instead folds map-side into `buckets` bloom-filter
    * bitsets (one tiny exchange of bitset partials), the batch probes
    * the broadcast bitsets in its scan stage, and only PROBABLE
    * duplicates — true dups plus the bloom's false-positive residue,
    * a set ~|dups| not ~|batch| — take the exact-confirmation path:
    * reference semi-join broadcast(suspects), then batch anti-join
    * broadcast(confirmed). A bloom has no false negatives, so rows
    * skipped by the probe are PROVABLY absent from the reference; the
    * result is bit-identical to the plain anti-join (the oracle runs
    * exactly that), and the md5-keyed confirmation step means 60-bit
    * probe collisions cost extra work, never a wrong admission.
    *
    * Sizing: the per-bucket bitset is `bitsPerKey * expectedRefKeys /
    * buckets` bits rounded up to a power of two (10 bits/key ≈ 1% FP
    * with 5 probes). A production pipeline passes its corpus stats;
    * the bitset state is bounded by `buckets * 128 MiB` regardless of
    * data volume, and partial aggregation means each map task emits
    * at most `buckets` bitsets however many rows it scanned.
    *
    * The suspect/confirmed broadcasts are gated on the BATCH source
    * like the other gated ops ([[SizeGate]]: batch under 1 GiB —
    * conservative; the suspect set is usually orders smaller). Above
    * the gate both joins fall back to key-partitioned shuffles of the
    * SUSPECT set only — still never the full corpora.
    */
  def bloomAdmit(reference: DataFrame, batch: DataFrame,
                 buckets: Int = 64, bitsPerKey: Int = 10,
                 numHashes: Int = 5,
                 expectedRefKeys: Long = 1L << 20): DataFrame = {
    import graft.functions.{Aggregators, Bloom}
    require(buckets >= 1, "need at least one bloom bucket")
    val numBits = Bloom.pow2Bits(bitsPerKey * expectedRefKeys / buckets)
    val gate = SizeGate.broadcastIfSmall(batch)
    def keyed(df: DataFrame, cols: Column*): DataFrame = df.select(
      cols :+ md5(normText(col("text"))).as("m") :+
        hash60(normText(col("text"))).as("h"): _*)
    val refKeys = keyed(reference)
    val blooms = refKeys
      .groupBy(pmod(col("h"), lit(buckets.toLong)).as("bucket"))
      .agg(Aggregators.bloomAgg(numBits, numHashes)(col("h")).as("bloom"))
    val batchKeys = keyed(batch, col("doc_id"))
    // empty-reference buckets are absent from the left join → null
    // bloom → null probe → coalesce(false): provably new, no confirm
    val suspects = batchKeys
      .withColumn("bucket", pmod(col("h"), lit(buckets.toLong)))
      .join(broadcast(blooms), Seq("bucket"), "left")
      .filter(coalesce(
        Bloom.mightContain(col("bloom"), col("h"), numBits, numHashes),
        lit(false)))
      .select(col("m")).distinct()
    val confirmed = refKeys
      .join(gate(suspects), Seq("m"), "left_semi")
      .select(col("m")).distinct()
    val admitted = batchKeys
      .join(gate(confirmed), Seq("m"), "left_anti")
      .groupBy(col("m")).agg(min(col("doc_id")).as("doc_id"))
    batch.join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** C4-style repeated-span removal: split every document into
    * non-overlapping `window`-token spans, keep only each span's FIRST
    * occurrence corpus-wide (ordered by doc_id, then position), and
    * reassemble the surviving spans per document. This is the
    * span-granular sibling of exact dedup — it strips boilerplate
    * (headers, navigation, license blocks) that exact and near-dup
    * doc-level passes both miss, because the containing documents
    * differ. C4 does it on lines; this corpus has no line structure,
    * so the unit is a fixed token window (cf. `Corpus.chunk`).
    *
    * Emits per document the span count, surviving-span count, and the
    * content address (md5) of the reassembled text — the full clean
    * text stays distributed; callers re-derive it by joining spans if
    * they need the payload.
    *
    * SCALE SHAPE: two exchanges. The first-occurrence choice is a
    * window min over the span's 128-bit content key — one shuffle of
    * (span, doc_id, position) tuples, no join-back and no second scan
    * (a groupBy+join spelling moves the same rows TWICE). The second
    * exchange regroups survivors by doc_id for reassembly. Span-key
    * cardinality is ~corpus_tokens/window, so partitions stay
    * balanced; a pathological span repeated across a large fraction
    * of a 100 TB corpus concentrates its copies in one partition —
    * bounded by docs/window copies per doc, and exactly the rows this
    * op exists to delete.
    */
  /** (doc_id, ci, span) rows: every document's non-overlapping
    * `window`-token spans, in position order — the span granularity
    * shared by [[spanDedup]] and [[spanAttribution]]. Map-only. */
  private def docSpans(documents: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val nSpansMinus1 = greatest(
      ceil(size(col("ws")).cast("double") / window).cast("long") - 1, lit(0L))
    documents
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), nSpansMinus1)).as("ci"))
      .select(col("doc_id"), col("ci").cast("int").as("ci"),
        concat_ws(" ",
          slice(col("ws"), (col("ci") * window + 1).cast("int"), lit(window)))
          .as("span"))
  }

  def spanDedup(documents: DataFrame, window: Int = 8): DataFrame = {
    val firstOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("span")))
    docSpans(documents, window)
      .withColumn("first", min(struct(col("doc_id"), col("ci"))).over(firstOcc))
      .withColumn("keep",
        col("first.doc_id") === col("doc_id") && col("first.ci") === col("ci"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_windows"),
        count(when(col("keep"), lit(1))).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("ci"), col("span"))))),
            _.getField("span")))).as("clean_md5"))
  }

  /** Span-overlap attribution: for every document, the OTHER document
    * sharing the most distinct `window`-token spans (ties to the
    * smallest doc_id) — the "which training document did this output
    * copy from" screen. Distinct from Jaccard (q29, symmetric
    * set-similarity) and containment (q66, subset score): attribution
    * wants the single strongest donor by ABSOLUTE shared-span count,
    * which surfaces a 100-line verbatim block inside two otherwise
    * unrelated documents that neither similarity ratio would flag.
    *
    * SCALE SHAPE: the same capped-inverted-index discipline as the
    * pair family — spans group once on their content key (collect_set
    * dedups doc multiplicity inside the aggregate buffer, so no
    * separate per-doc distinct exchange), spans shared by more than
    * `maxBucket` docs are stop-spans (boilerplate — dropped, fan-out
    * bound), in-bucket pairs come from the codegen pair expansion,
    * and the per-doc winner rides a max-struct aggregate — no rank
    * window anywhere. Pair counts are exact over surviving spans.
    */
  def spanAttribution(documents: DataFrame, window: Int = 8,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val cnt = docSpans(documents, window)
      .select(col("doc_id"), md5(col("span")).as("sh"))
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))
    // mirror in-plan with ONE explode — a union of two selects over
    // `cnt` would plan (and execute) the whole pair pipeline twice
    cnt
      .select(explode(array(
        struct(col("a").as("doc_id"), col("b").as("src"), col("n")),
        struct(col("b").as("doc_id"), col("a").as("src"), col("n"))))
        .as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.src").as("src"),
        col("e.n").as("n"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("n"), (-col("src")).as("neg_src"), col("src")))
        .as("best"))
      .select(col("doc_id"), col("best.src").as("attributed_to"),
        col("best.n").as("n_shared_spans"))
  }

  /** MinHash-LSH candidate-quality eval (q87): precision/recall of
    * [[minhashPairs]] against the exact n-gram Jaccard ≥ `threshold`
    * pairs of [[ngramJaccardPairs]] as ground truth — the dedup
    * twin of the q38/q41 ANN recall evals. This is the measurement a
    * pipeline runs before committing LSH parameters (k, bands) to a
    * 100 TB dedup pass: recall says how many true near-dups the
    * banding finds, precision says how much exact-verification work
    * the candidates cost. Ground truth shares the same capped
    * inverted-index bound (a pair at jaccard ≥ τ shares shingles by
    * construction, so the index misses nothing the cap doesn't drop).
    *
    * SCALE SHAPE: both inputs are bucket-capped candidate sets (never
    * all-pairs); the (a, b) equi-join of two bounded pair sets and
    * ONE single-row aggregate — counts partial-aggregate, ratios are
    * single-row double math.
    */
  def minhashRecallEval(documents: DataFrame,
                        threshold: Double = 0.8): DataFrame = {
    val cand = minhashPairs(documents)
      .select(col("a"), col("b"), lit(1L).as("c"))
    val truth = ngramJaccardPairs(documents, threshold)
      .select(col("a"), col("b"), lit(1L).as("t"))
    cand.join(truth, Seq("a", "b"), "full_outer")
      .agg(count(col("c")).as("n_candidates"),
        count(col("t")).as("n_truth"),
        count(when(col("c").isNotNull && col("t").isNotNull, lit(1)))
          .as("n_hits"))
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        when(col("n_candidates") === 0, lit(null))
          .otherwise(col("n_hits").cast("double") / col("n_candidates"))
          .as("prec"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(col("n_hits").cast("double") / col("n_truth"))
          .as("recall"))
  }

  /** Post-dedup summary: the duplicate-group SIZE histogram — how many
    * groups of 2, of 3, …, and how many documents a keep-one-per-group
    * pass removes at each size. The first report printed after any
    * corpus dedup run (is duplication dominated by pairs or by a few
    * giant clusters?), and the input to choosing q53's keeper policy.
    *
    * SCALE SHAPE: rides [[dedupGroups]] unchanged, then adds one
    * exchange keyed by group id (collapsing to group sizes) and one
    * keyed by size — the histogram key space is log-scale tiny. No
    * payload ever moves.
    */
  def dedupGroupProfile(documents: DataFrame): DataFrame =
    dedupGroups(documents)
      .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))
      .select(col("sz").as("group_size"), col("n_groups"),
        ((col("sz") - 1) * col("n_groups")).as("docs_removed"))

  /** Split-leakage audit: near-duplicate contamination ACROSS the
    * train/val/test split. An eval (val/test) document with a train
    * near-dup is a leaked benchmark row — the model has effectively
    * seen it, so held-out metrics on it are inflated. The split is
    * q44's seeded-hash bucketing recomputed as an EXPRESSION on the
    * pair ids (split is a pure function of doc_id), and candidates
    * are q26's banded MinHash pairs, so the audit composes the two
    * existing disciplines without new machinery. Emits one row per
    * leaked eval doc: its split, how many train near-dups touch it,
    * and the smallest such train id (a stable exemplar to inspect).
    *
    * SCALE SHAPE: the pair set is the bucket-capped LSH candidate
    * output (bare ids — orders of magnitude smaller than the corpus)
    * and the split buckets are map-side hash expressions on those
    * ids, so the corpus itself is touched only inside [[minhashPairs]]
    * and NO join against the document table exists here: the only
    * added exchange is the final (eval_id, split) aggregate over the
    * filtered cross-split pairs.
    */
  def splitLeakage(documents: DataFrame, trainPct: Int = 90,
                   valPct: Int = 5): DataFrame = {
    // out-of-range percentages would silently classify nothing as
    // train (or everything), reporting an empty/false-clean audit
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split: trainPct=$trainPct valPct=$valPct")
    def bucket(id: Column): Column = TextOps.splitBucket(id)
    // each (a < b) pair leaks in at most one direction, so both
    // buckets are computed once per pair and a `when` picks the eval
    // side — no undirected union, the pair subtree plans ONCE
    minhashPairs(documents)
      .select(col("a"), col("b"),
        bucket(col("a")).as("ba"), bucket(col("b")).as("bb"))
      .filter((col("ba") >= trainPct && col("bb") < trainPct) ||
        (col("bb") >= trainPct && col("ba") < trainPct))
      .select(
        when(col("ba") >= trainPct, col("a")).otherwise(col("b"))
          .as("eval_id"),
        when(col("ba") >= trainPct, col("b")).otherwise(col("a"))
          .as("train_id"),
        when(col("ba") >= trainPct, col("ba")).otherwise(col("bb"))
          .as("be"))
      .groupBy(col("eval_id"),
        when(col("be") < trainPct + valPct, "val").otherwise("test")
          .as("split"))
      .agg(count(lit(1)).as("n_train_dups"),
        min(col("train_id")).as("min_train_id"))
  }

  /** Leakage SCRUB — the remediation [[splitLeakage]] motivates: drop
    * from TRAIN every doc that near-dups a val/test doc, keeping the
    * eval side intact (benchmark integrity preserved; training loses
    * the contaminated rows — the q55→q125 measure→apply discipline
    * applied to the split). Emits the surviving corpus.
    *
    * SCALE SHAPE: the drop set is bare train ids bounded by the
    * bucket-capped pair count (orders of magnitude smaller than the
    * corpus); it anti-joins the corpus under the same stats gate as
    * q43 (broadcast below, shuffled id join above the 1 GiB source
    * threshold). Split membership is a hash expression on the pair
    * ids, so no corpus join exists before the single anti-join.
    */
  def leakageScrub(documents: DataFrame, trainPct: Int = 90): DataFrame = {
    require(trainPct > 0 && trainPct <= 100, s"bad trainPct=$trainPct")
    def bucket(id: Column): Column = TextOps.splitBucket(id)
    val drops = minhashPairs(documents)
      .select(col("a"), col("b"),
        bucket(col("a")).as("ba"), bucket(col("b")).as("bb"))
      .filter((col("ba") >= trainPct && col("bb") < trainPct) ||
        (col("bb") >= trainPct && col("ba") < trainPct))
      .select(when(col("ba") < trainPct, col("a")).otherwise(col("b"))
        .as("doc_id"))
      .distinct()
    documents.join(SizeGate.broadcastIfSmall(documents)(drops), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Train half of the streaming leakage-scrub gate
    * ([[graft.streaming.StreamAggs.scrubGate]]): [[leakageScrub]]'s
    * drop set — every train doc id that near-dups a val/test doc
    * under the frozen split-pair audit ([[splitLeakage]]'s q127
    * machinery) — as a SORTED id array: binary-searchable, compact
    * to broadcast, order-deterministic. Collecting is safe by
    * construction: the set is bounded by the bucket-capped LSH pair
    * count (the same bound that lets [[leakageScrub]] broadcast it
    * under the stats gate), not corpus-sized. Because the ids come
    * from the identical pair subtree and split expression, gating a
    * stream of the corpus on this index reproduces q131's batch
    * survivor set row for row (spec-asserted). */
  def fitScrubIndex(documents: DataFrame, trainPct: Int = 90): Array[Long] = {
    require(trainPct > 0 && trainPct <= 100, s"bad trainPct=$trainPct")
    def bucket(id: Column): Column = TextOps.splitBucket(id)
    minhashPairs(documents)
      .select(col("a"), col("b"),
        bucket(col("a")).as("ba"), bucket(col("b")).as("bb"))
      .filter((col("ba") >= trainPct && col("bb") < trainPct) ||
        (col("bb") >= trainPct && col("ba") < trainPct))
      .select(when(col("ba") < trainPct, col("a")).otherwise(col("b"))
        .as("doc_id"))
      .distinct()
      .orderBy(col("doc_id"))
      .select(col("doc_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
  }

  /** Near-dup THRESHOLD profile: where should τ be set before running
    * [[ngramJaccardPairs]]/[[dedupApply]] over the full corpus? For
    * every candidate pair the frequency-capped inverted index
    * surfaces, the WORD-set jaccard — the measure q29's τ filter
    * applies, so decile ≥ 8 is q29's τ=0.8 pair set (10i div u ≥ 8
    * ⟺ i/u ≥ 0.8; spec-asserted equal on the test corpus) — is
    * bucketed into integer deciles (least(9, 10·|∩| div |∪|) —
    * integer cross-multiplication, no float selection), and each
    * decile reports its pair count and how many distinct documents
    * those pairs touch. Reading the histogram top-down gives the
    * kept/removed doc counts at every candidate τ in one pass —
    * instead of re-running the dedup per τ. Words ride as sorted
    * 60-bit hash sets so the per-pair score is one codegen merge
    * walk over long arrays; q29 itself scores STRING word sets, so
    * the decile-vs-τ correspondence is exact only modulo 60-bit
    * word-hash collisions (a collision merges two words for both
    * sides — mirrored in the oracle, so the driver hash never
    * diverges; a pair could in principle cross a τ boundary vs
    * q29's string score, at ~2⁻⁶⁰ per word pair).
    *
    * SCALE SHAPE: identical candidate machinery to q29/q66 (capped
    * buckets bound fan-out; 8-byte hashes travel, never strings; the
    * doc→word-hash-set lookup broadcasts only under the source-stats
    * gate, else the join shuffles on pair keys). Everything after the
    * per-pair walk is model-sized: one rollup keyed by the ≤10-row
    * decile space.
    */
  def jaccardProfile(documents: DataFrame,
                     maxShingleFreq: Int = DefaultMaxBucket): DataFrame = {
    val ssets = documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(col("w"),
          w => hash60(w)))).as("ss"))
    val inv = documents
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(shingles(col("w"), 3)).as("shingle"))
      .filter(col("shingle").isNotNull)
      .select(col("doc_id"), hash60(col("shingle")).as("sh"))
    val cands = inv
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleFreq))
      .select(explode_outer(sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    val g = SizeGate.broadcastIfSmall(documents)
    val deciled = cands
      .join(g(ssets.toDF("a", "a_s")), "a")
      .join(g(ssets.toDF("b", "b_s")), "b")
      .select(col("a"), col("b"),
        graft.functions.VectorExpressions
          .sortedLongIntersect(col("a_s"), col("b_s")).as("inter"),
        (size(col("a_s")) + size(col("b_s"))).as("tot"))
      // decile by integer division: union = tot - inter ≥ 1 (candidate
      // pairs share ≥ 1 shingle hash); `div` keeps selection float-free
      .select(col("a"), col("b"),
        least(lit(9L), expr("10 * inter div (tot - inter)")).as("decile"))
    // both rollups in ONE aggregate over the exploded endpoints: each
    // pair contributes exactly 2 rows, so n_pairs = count div 2 —
    // no second pass over the candidate subtree, no decile join
    deciled
      .select(col("decile"),
        explode_outer(array(col("a"), col("b"))).as("d"))
      .filter(col("d").isNotNull)
      .groupBy(col("decile"))
      .agg(expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("d")).as("n_docs"))
  }

  // ---- driver bindings -------------------------------------------------

  /** q73's deterministic reference/batch split of the documents table
    * (the oracle mirrors it): 80% reference, 20% incoming batch. */
  private def q73Split(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(pmod(col("doc_id"), lit(10)) < 8),
     docs.filter(pmod(col("doc_id"), lit(10)) >= 8))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_incremental_dedup" -> ((s, d) => {
      val (ref, batch) = q73Split(Tables.documents(s, d))
      incrementalAdmit(ref, batch)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "q76_span_dedup"     -> ((s, d) => spanDedup(Tables.documents(s, d))),
    "q113_winnow_pairs"  -> ((s, d) => winnowPairs(Tables.documents(s, d))),
    "q81_span_attrib"    -> ((s, d) => spanAttribution(Tables.documents(s, d))),
    "q78_bloom_admit" -> ((s, d) => {
      val (ref, batch) = q73Split(Tables.documents(s, d))
      bloomAdmit(ref, batch)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    }),
    "q64_dup_sources"    -> ((s, d) => dupSources(Tables.documents(s, d))),
    "q43_dedup_apply"    -> ((s, d) => dedupApply(Tables.documents(s, d))),
    "q53_dedup_keep"     -> ((s, d) => dedupKeepers(Tables.documents(s, d))),
    "q25_dedup_exact"    -> ((s, d) => exactGroups(Tables.documents(s, d))),
    // the synthetic corpus has no punctuation/case variants, so the
    // fixture unions in a deterministic re-rendered copy of every 5th
    // doc (trailing "!!" — differs under exact norm, identical under
    // the aggressive norm), the q112 mutated-snapshot style
    "q117_norm_variants" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      normVariantGroups(docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
            concat(col("text"), lit("!!")).as("text"))))
    }),
    "q26_minhash_pairs"  -> ((s, d) => minhashPairs(Tables.documents(s, d))),
    "q27_simhash"        -> ((s, d) => simhash(Tables.documents(s, d))),
    "q28_simhash_pairs"  -> ((s, d) => simhashPairs(Tables.documents(s, d))),
    "q29_jaccard_pairs"  -> ((s, d) => ngramJaccardPairs(Tables.documents(s, d), 0.8)),
    "q47_dedup_groups"   -> ((s, d) => dedupGroups(Tables.documents(s, d))),
    "q66_containment"    -> ((s, d) => containmentPairs(Tables.documents(s, d), 0.9)),
    "q87_minhash_recall" -> ((s, d) => minhashRecallEval(Tables.documents(s, d))),
    "q94_dup_rate"       -> ((s, d) => dupRateEstimate(Tables.documents(s, d))),
    "q98_group_profile"  -> ((s, d) => dedupGroupProfile(Tables.documents(s, d))),
    "q127_split_leakage" -> ((s, d) => splitLeakage(Tables.documents(s, d))),
    "q128_jaccard_profile" -> ((s, d) => jaccardProfile(Tables.documents(s, d))),
    "q131_leakage_scrub" -> ((s, d) => leakageScrub(Tables.documents(s, d)))
  )

  // Shared oracle fragments (DuckDB dialect).
  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val wordsSql = s"string_split($normSql, ' ')"
  private val h32Sql = (x: String) => s"('0x' || substr(md5($x), 1, 8))::BIGINT"
  private val h60Sql = (x: String) => s"('0x' || substr(md5($x), 1, 15))::BIGINT"
  private def shinglesSql(ws: String) =
    s"""CASE WHEN len($ws) < 3 THEN []::VARCHAR[]
        ELSE list_transform(generate_series(1, len($ws) - 2),
               i -> array_to_string(list_slice($ws, i, i + 2), ' ')) END"""
  private def lits(xs: Array[Long]) = xs.mkString("[", ", ", "]::BIGINT[]")

  /** Shared simhash oracle SQL (multiset vote via the same fold the
    * previous implementation used — order-free, equals the Spark agg). */
  private val simhashSql = s"""
      WITH h AS (
        SELECT doc_id,
               list_transform($wordsSql, w -> ${h32Sql("w")}) AS hs
        FROM documents),
      s AS (
        SELECT doc_id,
               list_reduce(list_prepend(0::BIGINT, generate_series(0, 31)),
                 (acc, j) -> acc + CASE WHEN
                   list_reduce(list_prepend(0::BIGINT, hs),
                     (a, x) -> a + CASE WHEN (x >> j) & 1 = 1
                                        THEN 1 ELSE -1 END) > 0
                   THEN (1::BIGINT << j) ELSE 0 END) AS simhash
        FROM h)"""

  /** The sh→hs→sig→banded CTE chain shared by q26's pair join and
    * q94's bucket-census estimate. */
  private lazy val bandedSqlCtes: String = s"""
      sh AS (
        SELECT doc_id, ${shinglesSql(wordsSql)} AS sh FROM documents),
      hs AS (
        SELECT doc_id, list_transform(sh, s -> ${h32Sql("s")}) AS hs
        FROM sh WHERE len(sh) > 0),
      sig AS (
        SELECT doc_id,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(hs,
                        h -> ((${lits(coefA)})[i + 1] * h +
                              (${lits(coefB)})[i + 1]) % 1000000007))) AS sig
        FROM hs),
      banded AS (
        SELECT doc_id, k AS band_idx,
               array_to_string(list_slice(sig, k*4 + 1, k*4 + 4), '|')
                 AS band_key
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))"""

  /** q26's full statement, reused as a derived table by q47. */
  private lazy val q26Sql: String = s"""
      WITH $bandedSqlCtes,
      ok AS (
        SELECT band_idx, band_key FROM banded
        GROUP BY 1, 2 HAVING count(*) <= $DefaultMaxBucket)
      SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared_bands
      FROM banded x JOIN banded y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
      JOIN ok ON ok.band_idx = x.band_idx AND ok.band_key = x.band_key
      GROUP BY 1, 2"""

  /** q47's full statement: transitive closure of the undirected pair
    * graph; min reachable id = the component label min-propagation
    * converges to. */
  private lazy val q47Sql: String = s"""
      WITH RECURSIVE pairs AS (SELECT a, b FROM ($q26Sql) q26),
      und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM und
        UNION
        SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
      )
      SELECT node AS doc_id, min(r) AS group_id FROM reach GROUP BY node"""

  def oracle: Map[String, String] = Map(
    /* q81: distinct spans per doc, stop-spans (> maxBucket docs)
     * dropped, strongest donor by shared-span count with smallest-id
     * ties — the row_number mirrors the max-struct exactly. */
    "q81_span_attrib" -> s"""
      WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      sp AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(list_slice(ws, ci*8 + 1, ci*8 + 8), ' '))
                 AS sh
        FROM (
          SELECT doc_id, ws,
                 unnest(generate_series(0,
                   greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT) - 1, 0)))
                   AS ci
          FROM t)),
      keep AS (
        SELECT sh FROM sp GROUP BY sh
        HAVING count(*) BETWEEN 2 AND $DefaultMaxBucket),
      pairs AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS src, count(*) AS n
        FROM sp a JOIN keep USING (sh) JOIN sp b USING (sh)
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_id, src AS attributed_to, n AS n_shared_spans FROM (
        SELECT doc_id, src, n,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY n DESC, src ASC) AS rn
        FROM pairs) WHERE rn = 1""",
    /* q78: the bloom is pure acceleration — no false negatives means
     * the admitted set IS the plain exact-admission anti-join, which
     * is what this oracle computes. Same 80/20 split as q73. */
    "q78_bloom_admit" -> s"""
      WITH m AS (SELECT doc_id, md5($normSql) AS m FROM documents),
      ref AS (SELECT DISTINCT m FROM m WHERE doc_id % 10 < 8),
      firsts AS (
        SELECT min(doc_id) AS doc_id
        FROM m WHERE doc_id % 10 >= 8
          AND m NOT IN (SELECT m FROM ref)
        GROUP BY m)
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d JOIN firsts USING (doc_id)""",
    /* q76: non-overlapping 8-token spans, first occurrence by
     * (doc_id, position) wins corpus-wide, docs reassembled from
     * survivors. Same span text ⇒ same md5 key as the Spark window. */
    "q76_span_dedup" -> s"""
      WITH t AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      s AS (
        SELECT doc_id, CAST(ci AS INT) AS ci,
               array_to_string(list_slice(ws, ci*8 + 1, ci*8 + 8), ' ')
                 AS span
        FROM (
          SELECT doc_id, ws,
                 unnest(generate_series(0,
                   greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT) - 1, 0)))
                   AS ci
          FROM t)),
      k AS (
        SELECT doc_id, ci, span,
               row_number() OVER (PARTITION BY span
                 ORDER BY doc_id, ci) = 1 AS keep
        FROM s)
      SELECT doc_id,
             CAST(count(*) AS INT) AS n_windows,
             CAST(count(*) FILTER (WHERE keep) AS INT) AS n_kept,
             md5(coalesce(string_agg(span, ' ' ORDER BY ci)
               FILTER (WHERE keep), '')) AS clean_md5
      FROM k GROUP BY doc_id""",
    /* q73: same banded-signature machinery as q26, split 80/20 into
     * reference/batch on doc_id % 10; T1 = first batch holder of an
     * unseen content md5 or of the null md5 (a null never matches, and
     * a NULL in a NOT IN set would reject every probe), T2 = no band
     * collision with the (stop-band-capped) reference band set, T3 =
     * min doc_id per surviving batch bucket. Mirrors incrementalAdmit
     * exactly. */
    "q73_incremental_dedup" -> s"""
      WITH sh AS (
        SELECT doc_id, ${shinglesSql(wordsSql)} AS sh FROM documents),
      hs AS (
        SELECT doc_id, list_transform(sh, s -> ${h32Sql("s")}) AS hs
        FROM sh WHERE len(sh) > 0),
      sig AS (
        SELECT doc_id,
               list_transform(generate_series(0, 15),
                 i -> list_min(list_transform(hs,
                        h -> ((${lits(coefA)})[i + 1] * h +
                              (${lits(coefB)})[i + 1]) % 1000000007))) AS sig
        FROM hs),
      banded AS (
        SELECT doc_id, k AS band_idx,
               array_to_string(list_slice(sig, k*4 + 1, k*4 + 4), '|')
                 AS band_key
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
      m AS (SELECT doc_id, md5($normSql) AS h FROM documents),
      refmd5 AS (SELECT DISTINCT h FROM m WHERE doc_id % 10 < 8),
      t1 AS (
        SELECT doc_id FROM (
          SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS mn
          FROM m WHERE doc_id % 10 >= 8)
        WHERE doc_id = mn AND (h IS NULL OR
          h NOT IN (SELECT h FROM refmd5 WHERE h IS NOT NULL))),
      refb AS (
        SELECT band_idx, band_key FROM banded WHERE doc_id % 10 < 8
        GROUP BY 1, 2 HAVING count(*) <= $DefaultMaxBucket),
      refcoll AS (
        SELECT DISTINCT b.doc_id FROM banded b
        JOIN refb USING (band_idx, band_key) WHERE b.doc_id % 10 >= 8),
      t12 AS (
        SELECT doc_id FROM t1
        WHERE doc_id NOT IN (SELECT doc_id FROM refcoll)),
      bb AS (
        SELECT b.band_idx, b.band_key, b.doc_id FROM banded b
        JOIN t12 USING (doc_id)),
      rej AS (
        SELECT DISTINCT doc_id FROM (
          SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY band_idx, band_key) AS mn,
                 count(*) OVER (PARTITION BY band_idx, band_key) AS cnt
          FROM bb)
        WHERE cnt BETWEEN 2 AND $DefaultMaxBucket AND doc_id > mn)
      SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
      JOIN t12 USING (doc_id)
      WHERE d.doc_id NOT IN (SELECT doc_id FROM rej)""",
    "q43_dedup_apply" -> s"""
      WITH RECURSIVE pairs AS (SELECT a, b FROM ($q26Sql) q26),
      und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM und
        UNION
        SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
      ),
      groups AS (
        SELECT node AS doc_id, min(r) AS group_id FROM reach GROUP BY node),
      q AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS n_tokens
        FROM documents),
      keep AS (
        SELECT group_id, keep_id FROM (
          SELECT g.group_id,
                 first_value(g.doc_id) OVER w AS keep_id,
                 row_number() OVER w AS rn
          FROM groups g JOIN q ON q.doc_id = g.doc_id
          WINDOW w AS (PARTITION BY g.group_id
                       ORDER BY q.n_tokens DESC, g.doc_id ASC))
        WHERE rn = 1),
      drops AS (
        SELECT g.doc_id FROM groups g
        JOIN keep ON keep.group_id = g.group_id
        WHERE g.doc_id <> keep.keep_id)
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)""",
    "q25_dedup_exact" -> s"""
      SELECT md5($normSql) AS content_md5,
             min(doc_id) AS keep_id, count(*) AS n_docs
      FROM documents GROUP BY 1""",
    /* q117: the aggressive norm collapses every non-alphanumeric run
     * to one space; only norm groups spanning >1 distinct exact-norm
     * content qualify (byte-identical dupes are q25's finding). */
    "q117_norm_variants" -> s"""
      WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text || '!!'
        FROM documents WHERE doc_id % 5 = 0),
      v AS (
        SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                 AS norm_md5,
               md5($normSql) AS exact_md5,
               min(doc_id) AS kid, count(*) AS nd
        FROM d2 GROUP BY 1, 2)
      SELECT norm_md5, min(kid) AS keep_id,
             CAST(sum(nd) AS BIGINT) AS n_docs,
             count(*) AS n_variants
      FROM v GROUP BY 1
      HAVING count(*) > 1""",
    "q26_minhash_pairs" -> q26Sql,
    /* q94: the q26 banded CTEs truncated at the bucket census —
     * integer counts only, the pair join never runs. */
    "q94_dup_rate" -> s"""
      WITH $bandedSqlCtes,
      cnt AS (
        SELECT band_idx, band_key, count(*) AS c
        FROM banded GROUP BY 1, 2)
      SELECT band_idx,
             count(*) AS n_buckets,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS colliding_buckets,
             CAST(max(c) AS BIGINT) AS max_bucket,
             CAST(sum(CASE WHEN c BETWEEN 2 AND $DefaultMaxBucket
               THEN (c * (c - 1)) // 2 ELSE 0 END) AS BIGINT)
               AS candidate_pairs,
             CAST(sum(CASE WHEN c > $DefaultMaxBucket THEN 1 ELSE 0 END)
               AS BIGINT) AS capped_buckets
      FROM cnt GROUP BY 1""",
    "q47_dedup_groups" -> q47Sql,
    /* q98: q47's groups collapsed to the size histogram. */
    "q98_group_profile" -> s"""
      WITH g AS ($q47Sql),
      s AS (SELECT group_id, count(*) AS sz FROM g GROUP BY 1)
      SELECT sz AS group_size, count(*) AS n_groups,
             CAST((sz - 1) * count(*) AS BIGINT) AS docs_removed
      FROM s GROUP BY 1""",
    "q64_dup_sources" -> s"""
      WITH p AS (SELECT a, b FROM ($q26Sql) q26),
      s AS (SELECT doc_id, source FROM documents)
      SELECT least(x.source, y.source) AS src_lo,
             greatest(x.source, y.source) AS src_hi,
             count(*) AS n_pairs
      FROM p JOIN s x ON p.a = x.doc_id
             JOIN s y ON p.b = y.doc_id
      GROUP BY 1, 2""",
    "q53_dedup_keep" -> s"""
      WITH RECURSIVE pairs AS (SELECT a, b FROM ($q26Sql) q26),
      und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      reach(node, r) AS (
        SELECT DISTINCT a AS node, a AS r FROM und
        UNION
        SELECT u.a AS node, reach.r FROM und u JOIN reach ON u.b = reach.node
      ),
      groups AS (
        SELECT node AS doc_id, min(r) AS group_id FROM reach GROUP BY node),
      q AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS n_tokens
        FROM documents)
      SELECT group_id, keep_id, n_docs FROM (
        SELECT g.group_id,
               first_value(g.doc_id) OVER w AS keep_id,
               count(*) OVER (PARTITION BY g.group_id) AS n_docs,
               row_number() OVER w AS rn
        FROM groups g JOIN q ON q.doc_id = g.doc_id
        WINDOW w AS (PARTITION BY g.group_id
                     ORDER BY q.n_tokens DESC, g.doc_id ASC))
      WHERE rn = 1""",
    "q27_simhash" -> s"""$simhashSql
      SELECT doc_id, simhash FROM s""",
    "q28_simhash_pairs" -> s"""$simhashSql,
      banded AS (
        SELECT doc_id, simhash, k AS band_idx,
               (simhash >> (k * 8)) & 255 AS band_val
        FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)),
      sizes AS (
        SELECT band_idx, band_val, count(*) AS n
        FROM banded GROUP BY 1, 2),
      pairs AS (
        SELECT x.doc_id AS a, y.doc_id AS b, x.simhash AS sx,
               y.simhash AS sy, x.band_idx AS j, z.n AS n
        FROM banded x JOIN banded y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id
        JOIN sizes z
          ON z.band_idx = x.band_idx AND z.band_val = x.band_val),
      -- a pair is emitted iff its LOWEST matching band's bucket
      -- survived the cap (the Spark side's first-matching-band filter
      -- composed with the bucket-size filter)
      first AS (
        SELECT a, b, sx, sy, n,
               row_number() OVER (PARTITION BY a, b ORDER BY j) AS rn
        FROM pairs)
      SELECT a, b, bit_count(xor(sx, sy)) AS hamming
      FROM first
      WHERE rn = 1 AND n <= $DefaultMaxBucket
        AND bit_count(xor(sx, sy)) <= 6""",
    "q66_containment" -> s"""
      WITH t AS (
        SELECT doc_id, $wordsSql AS ws FROM documents),
      s AS (
        SELECT doc_id,
               list_sort(list_distinct(list_transform(${shinglesSql("ws")},
                 g -> ${h60Sql("g")}))) AS ss
        FROM t),
      inv AS (
        SELECT DISTINCT doc_id,
               ${h60Sql("unnest(" + shinglesSql("ws") + ")")} AS sh
        FROM t),
      hot AS (
        SELECT sh FROM inv GROUP BY sh HAVING count(*) <= $DefaultMaxBucket),
      capped AS (
        SELECT inv.doc_id, inv.sh FROM inv JOIN hot USING (sh)),
      cands AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM capped x JOIN capped y
          ON x.sh = y.sh AND x.doc_id < y.doc_id)
      SELECT a, b,
             CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
               / least(len(sa.ss), len(sb.ss)) AS containment
      FROM cands
      JOIN s sa ON sa.doc_id = a
      JOIN s sb ON sb.doc_id = b
      WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
              / least(len(sa.ss), len(sb.ss)) >= 0.9""",
    "q29_jaccard_pairs" -> q29Sql,
    /* q113: hash 3-grams, window-min over 4-hash windows (slice
     * clamped for short docs), distinct per doc, capped inverted
     * index, pair counts — value winnowing verbatim. */
    "q113_winnow_pairs" -> s"""
      WITH gh AS (
        SELECT doc_id,
               list_transform(${shinglesSql(wordsSql)}, g -> ${h60Sql("g")})
                 AS gh
        FROM documents),
      fp AS (
        SELECT DISTINCT doc_id, f
        FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(gh) = 0 THEN []::BIGINT[]
                        ELSE list_transform(
                          generate_series(1, greatest(1, len(gh) - 3)),
                          i -> list_min(list_slice(gh, i,
                            least(i + 3, len(gh)))))
                        END) AS f
          FROM gh)),
      keep AS (
        SELECT f FROM fp GROUP BY f HAVING count(*) BETWEEN 2 AND 50),
      pr AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM fp x JOIN keep USING (f) JOIN fp y USING (f)
        WHERE x.doc_id < y.doc_id)
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_shared
      FROM pr GROUP BY 1, 2 HAVING count(*) >= 2""",
    /* q87: both pair sets as CTEs (the very SQL the driver already
     * hash-checks as q26/q29), three scalar counts, single-row
     * ratios. */
    "q87_minhash_recall" -> s"""
      WITH cand AS (SELECT a, b FROM ($q26Sql) c),
      truth AS (SELECT a, b FROM ($q29Sql) t),
      n AS (SELECT
        (SELECT count(*) FROM cand) AS n_candidates,
        (SELECT count(*) FROM truth) AS n_truth,
        (SELECT count(*) FROM cand JOIN truth USING (a, b)) AS n_hits)
      SELECT n_candidates, n_truth, n_hits,
             CASE WHEN n_candidates = 0 THEN NULL
                  ELSE CAST(n_hits AS DOUBLE) / n_candidates END AS prec,
             CASE WHEN n_truth = 0 THEN NULL
                  ELSE CAST(n_hits AS DOUBLE) / n_truth END AS recall
      FROM n""",
    /* q127: q26's banded pairs made undirected, split buckets as the
     * q44 hash expression on the pair ids (90/95 = the default
     * trainPct/valPct), cross-split filter, then the per-eval-doc
     * rollup. */
    "q127_split_leakage" -> s"""
      WITH p AS (SELECT a, b FROM ($q26Sql) q26),
      und AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
      k AS (SELECT a AS eval_id, b AS train_id,
              ${h60Sql("'split|' || a")} % 100 AS ba,
              ${h60Sql("'split|' || b")} % 100 AS bb
            FROM und)
      SELECT eval_id,
             CASE WHEN ba < 95 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_train_dups,
             min(train_id) AS min_train_id
      FROM k WHERE bb < 90 AND ba >= 90
      GROUP BY 1, 2""",
    /* q131: the q127 cross-split pairs reduced to their TRAIN-side
     * ids, anti-joined off the corpus (eval rows always survive). */
    "q131_leakage_scrub" -> s"""
      WITH p AS (SELECT a, b FROM ($q26Sql) q26),
      k AS (SELECT a, b,
              ${h60Sql("'split|' || a")} % 100 AS ba,
              ${h60Sql("'split|' || b")} % 100 AS bb
            FROM p),
      drops AS (
        SELECT DISTINCT CASE WHEN ba < 90 THEN a ELSE b END AS doc_id
        FROM k
        WHERE (ba >= 90 AND bb < 90) OR (bb >= 90 AND ba < 90))
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d LEFT JOIN drops USING (doc_id)
      WHERE drops.doc_id IS NULL""",
    /* q128: q29's capped candidate CTEs, exact word-hash-set jaccard
     * (q29's own measure) bucketed by integer division into deciles,
     * then the two model-sized rollups. */
    "q128_jaccard_profile" -> s"""
      WITH ss AS (
        SELECT doc_id, list_sort(list_distinct(list_transform(
                 $wordsSql, x -> ${h60Sql("x")}))) AS ss
        FROM documents),
      inv AS (
        SELECT DISTINCT doc_id,
               ${h60Sql("unnest(" + shinglesSql(wordsSql) + ")")} AS sh
        FROM documents),
      hot AS (
        SELECT sh FROM inv GROUP BY sh HAVING count(*) <= $DefaultMaxBucket),
      capped AS (
        SELECT inv.doc_id, inv.sh FROM inv JOIN hot USING (sh)),
      cands AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM capped x JOIN capped y
          ON x.sh = y.sh AND x.doc_id < y.doc_id),
      d AS (
        SELECT a, b,
               CAST(least(9, (10 * len(list_intersect(sa.ss, sb.ss))) //
                 (len(sa.ss) + len(sb.ss)
                  - len(list_intersect(sa.ss, sb.ss)))) AS BIGINT) AS decile
        FROM cands
        JOIN ss sa ON sa.doc_id = a
        JOIN ss sb ON sb.doc_id = b)
      SELECT decile, n_pairs, n_docs
      FROM (SELECT decile, count(*) AS n_pairs FROM d GROUP BY 1) p
      JOIN (SELECT decile, count(DISTINCT x) AS n_docs
            FROM (SELECT decile, unnest([a, b]) AS x FROM d) u
            GROUP BY 1) q
      USING (decile)"""
  )

  /** q29's oracle, shared verbatim by the q87 recall eval. */
  private lazy val q29Sql: String = s"""
      WITH wsets AS (
        SELECT doc_id, list_distinct($wordsSql) AS wset FROM documents),
      inv AS (
        SELECT DISTINCT doc_id,
               ${h60Sql("unnest(" + shinglesSql(wordsSql) + ")")} AS sh
        FROM documents),
      hot AS (
        SELECT sh FROM inv GROUP BY sh HAVING count(*) <= $DefaultMaxBucket),
      capped AS (
        SELECT inv.doc_id, inv.sh FROM inv JOIN hot USING (sh)),
      cands AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM capped x JOIN capped y
          ON x.sh = y.sh AND x.doc_id < y.doc_id)
      SELECT a, b,
             CAST(len(list_distinct(list_intersect(da.wset, db.wset))) AS DOUBLE)
               / len(list_distinct(list_concat(da.wset, db.wset))) AS jaccard
      FROM cands
      JOIN wsets da ON da.doc_id = a
      JOIN wsets db ON db.doc_id = b
      WHERE CAST(len(list_distinct(list_intersect(da.wset, db.wset))) AS DOUBLE)
              / len(list_distinct(list_concat(da.wset, db.wset))) >= 0.8"""
}

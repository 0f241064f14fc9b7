package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Portable.h32Scala

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two paths:
  *   - brute-force cosine top-k: the correctness baseline. Query set
  *     broadcast against the corpus → map-side scoring, one final
  *     rank shuffle on query_id. Works at any corpus size when the
  *     query set is small.
  *   - LSH (random-hyperplane signs): each vector gets a small bucket
  *     id; candidates are bucket-equi-join only. At 100 TB this is the
  *     scale path: bucketing is one narrow map, and the join fans out
  *     only within buckets (expected corpus/2^planes per bucket).
  *
  * All float math is double-precision sequential folds, bit-identical
  * to the DuckDB oracle's list_reduce (both engines execute the same
  * IEEE op sequence). Hyperplane components are md5-derived constants
  * computed once in Scala and inlined as literals into both the Spark
  * plan and the oracle SQL.
  */
object Similarity extends graft.QueryModule {

  /** Sequential dot product of two double arrays (matches DuckDB
    * list_reduce(list_prepend(0.0, list_zip->mult)) fold order) —
    * a native codegen expression, not an interpreted HOF fold. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Embedding width for the per-dimension column expansions
    * (kmeansRefine / labelOutliers): derived from the data when not
    * supplied (`dims = 0`) — a hardcoded width that diverges from the
    * table would silently truncate every vector (or throw mid-job on
    * element_at). One LIMIT-1 scan, model-sized. */
  private def deriveDims(embeddings: DataFrame, dims: Int): Int =
    if (dims > 0) dims
    else embeddings.select(size(col("embedding")).as("d")).head().getInt(0)

  private def norm(c: Column): Column = sqrt(dot(c, c))

  /** Cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column = {
    val (da, db) = (asDouble(a), asDouble(b))
    dot(da, db) / (norm(da) * norm(db))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id <
    * nQueries), the k most similar other vectors. The SMALL query set
    * is broadcast; the corpus streams in parallel across partitions
    * (at 100 TB the corpus never moves — only k rows per query per
    * partition reach the final top-k shuffle). Norms are precomputed
    * per side so the per-pair work is a single dot product.
    */
  def knnBruteForce(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    knnPrefix(embeddings, nQueries, k, width = 0)

  /** [[knnBruteForce]] generalized to score over only the FIRST
    * `width` dimensions (`width = 0` = full vectors) — the primitive
    * behind [[truncationRecall]]. Same broadcast-queries /
    * corpus-streams shape at any width. */
  private def knnPrefix(embeddings: DataFrame, nQueries: Int, k: Int,
                        width: Int): DataFrame = {
    def emb(c: Column): Column =
      if (width > 0) slice(asDouble(c), 1, width) else asDouble(c)
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        emb(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
    val c = embeddings.select(col("vec_id").as("neighbor_id"),
      emb(col("embedding")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
    rankTopK(scored, k)
  }

  /** Batch/stream-agnostic kNN SERVE: external query vectors
    * `(query_id, embedding)` — a batch frame OR a micro-batch stream —
    * scored against the static corpus, one row per query with the
    * bounded top-k `[struct(sim, id)]` neighbor list. The SAME plan
    * serves both surfaces (the [[graft.streaming.StreamAggs]]
    * surprisal-serve discipline): as a streaming frame the corpus is
    * the static side of a stream-static join and the top-k is an
    * update-mode streaming aggregation; batch and streaming outputs
    * on the same queries are identical (spec-asserted parity,
    * StreamAggsSpec). `excludeSelf` (default true) skips the
    * query_id = neighbor_id match, so serving corpus rows as queries
    * reproduces [[knnBruteForce]] exactly — it assumes queries share
    * the corpus id space. External callers with an UNRELATED query id
    * space must pass excludeSelf = false, or a query whose id
    * coincidentally collides with a corpus id silently loses that
    * neighbor.
    *
    * SCALE SHAPE: a per-micro-batch query set is model-sized, so the
    * nested-loop join should broadcast IT while the corpus streams
    * map-side — in local tests the planner picks that side from
    * stats; at scale pin it by hinting the query frame
    * (`broadcast(queries)`) before calling. Only ≤ k rows per query
    * per partition reach the top-k exchange.
    */
  def knnServe(queries: DataFrame, corpus: DataFrame,
               k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"),
        asDouble(col("embedding")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
    val q = queries.select(col("query_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
    // the self-skip compares ids across the two frames, so it is only
    // meaningful when queries share the corpus id space (the
    // corpus-as-queries parity case); external callers whose query ids
    // could coincidentally collide with corpus ids pass
    // excludeSelf = false to keep every neighbor
    val joinCond =
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    q.join(c, joinCond)
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.Aggregators.topK(k)(
        col("sim"), col("neighbor_id")).as("top"))
  }

  /** Matryoshka-style truncation-recall eval: how much top-k recall
    * survives serving only the FIRST `d` embedding dimensions? For
    * each prefix width the brute-force top-k over the truncated
    * vectors is compared against the full-width ground truth, and one
    * row per width reports total hits and recall — the measurement
    * behind choosing a cheap serving width (or validating an
    * MRL-trained model's prefix quality) before building the ANN
    * index at that width.
    *
    * SCALE SHAPE: one map-only scored pass per width + one for the
    * truth (widths is a small constant list) — each is q30's shape:
    * queries broadcast, the corpus streams and NEVER shuffles, only
    * ≤ k rows per query per partition reach the bounded top-k
    * aggregate. The recall join runs on (widths+1) × nQueries × k
    * id pairs — model-sized; output is |widths| rows.
    */
  /** Two-stage (coarse-to-fine) ANN: stage 1 scores the corpus over
    * only the first `width` dims and keeps top-`m` candidates per
    * query (m > k — the recall buffer [[truncationRecall]] sizes);
    * stage 2 re-ranks ONLY those candidates with the exact full-width
    * cosine and returns top-k. The standard serving trade: the wide
    * corpus scan runs at prefix cost, the expensive exact score
    * touches nQueries×m rows.
    *
    * SCALE SHAPE: stage 1 is q30's map-only shape at prefix width
    * (queries broadcast, corpus never shuffles, bounded top-m
    * aggregate). The candidate set (nQueries×m bare ids) broadcasts
    * against the corpus to fetch full vectors — the corpus streams
    * map-side again, no shuffle — and the final top-k runs on ≤ m
    * rows per query. With m = corpus size it degrades to exact
    * brute force (spec-asserted equality).
    */
  def knnTwoStage(embeddings: DataFrame, nQueries: Int = 16, k: Int = 5,
                  width: Int = 8, m: Int = 25): DataFrame = {
    require(m >= k, s"rerank pool m=$m must be >= k=$k")
    val cand = knnPrefix(embeddings, nQueries, m, width)
      .select(col("query_id"), col("neighbor_id"))
    val q = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
    val c = embeddings.select(col("vec_id").as("neighbor_id"),
      asDouble(col("embedding")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
    val rescored = c.join(broadcast(cand), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
    rankTopK(rescored, k)
  }

  def truncationRecall(embeddings: DataFrame, nQueries: Int = 16,
                       k: Int = 5,
                       widths: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 1),
      s"widths must be >= 1: $widths")
    val truth = knnBruteForce(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    widths.map { w =>
      val ap = knnPrefix(embeddings, nQueries, k, w)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      truth.join(ap, Seq("query_id", "neighbor_id"), "left")
        .agg(count(col("hit")).as("n_hits"), count(lit(1)).as("n_truth"))
        .select(lit(w.toLong).as("dims_kept"), col("n_hits"),
          col("n_truth"),
          (col("n_hits").cast("double") / col("n_truth")).as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Per-query top-k via a bounded Aggregator (partial-aggregated:
    * each map task keeps ≤ k candidates — no full sort/shuffle of all
    * scored pairs). Total order (sim desc, id asc) matches the
    * rank-over-window formulation exactly.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.Aggregators.topK(k)(
        col("sim"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.sim").as("sim"), (col("pos") + 1).cast("int").as("rn"))

  /** Deterministic pseudo-random hyperplane components in [-1, 1]:
    * md5("p<plane>_<dim>") → 32-bit int (`Portable.h32Scala`) →
    * scaled. Same formula is inlined into the oracle SQL as literals.
    */
  lazy val planes: Array[Array[Double]] =
    Array.tabulate(nPlanes, dims)((p, i) =>
      (h32Scala(s"p${p}_$i") % 2001 - 1000) / 1000.0)
  val nPlanes = 8
  val dims = 64

  /** Seeded Rademacher (±1) sign matrix for [[randomProject]]:
    * rProj × dims entries, sign = parity of md5("rp<j>_<i>") — the
    * [[planes]] discipline: computed once in Scala, inlined as
    * literals into both the Spark plan and the oracle SQL. */
  val rProj = 8
  lazy val projSigns: Array[Array[Double]] =
    Array.tabulate(rProj, dims)((j, i) =>
      if (h32Scala(s"rp${j}_$i") % 2 == 0) 1.0 else -1.0)

  /** Johnson–Lindenstrauss random projection (q86): reduce each
    * embedding to `rProj` dimensions via the seeded Rademacher sign
    * matrix — the standard cheap width reducer a pipeline runs before
    * clustering or coarse ANN when the native dims are too wide to
    * shuffle. Deterministic (seeded md5 signs), so engines agree
    * bit-for-bit: each output dim is the same sequential
    * double-precision fold on both sides.
    *
    * SCALE SHAPE: map-only — the sign matrix is model-sized literal
    * constants in the plan, each output dim one codegen dot product;
    * zero exchanges, zero joins, fuses into the scan. Output is
    * rProj/dims of the input width, shrinking every downstream
    * shuffle that rides on it.
    */
  def randomProject(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val cols = projSigns.zipWithIndex.map { case (row, j) =>
      dot(v, array(row.map(lit): _*)).as(s"p${j + 1}")
    }
    embeddings.select(col("vec_id") +: cols.toSeq: _*)
  }

  /** Sign-LSH bucket id of an embedding: bit p = (v · plane_p) > 0. */
  def lshBucket(emb: Column): Column = {
    val v = asDouble(emb)
    planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(lit): _*)
      when(dot(v, planeLit) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** LSH ANN: top-k by cosine among same-bucket candidates only. */
  def knnLsh(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bucketed = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"),
      lshBucket(col("embedding")).as("bucket"))
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("bucket").as("q_bucket"))
      .withColumn("q_nrm", norm(col("q_emb")))
    val c = bucketed.select(col("vec_id").as("neighbor_id"),
      col("emb").as("c_emb"), col("bucket"))
      .withColumn("c_nrm", norm(col("c_emb")))
    val scored = c.join(broadcast(q), col("q_bucket") === col("bucket") &&
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
    rankTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs (dedup family): all
    * unordered pairs in the SAME sign-LSH bucket with cosine ≥
    * `threshold`. The bucket join bounds candidates (expected
    * corpus²/2^planes per bucket pair-count) — never all-pairs.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    // candidate ids from one bucket aggregation (ids only — the
    // vectors never enter the collect_list), then the embeddings are
    // fetched back by equi-join per side. Cache-free: buckets are
    // computed once, and no persisted frame outlives the query.
    val bucketed = embeddings.select(col("vec_id"),
      lshBucket(col("embedding")).as("bucket"))
    val cands = bucketed
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode_outer(Dedup.sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val base = embeddings.select(col("vec_id"),
        asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    cands
      .join(base.select(col("vec_id").as("a"), col("emb").as("a_emb"),
        col("nrm").as("a_nrm")), "a")
      .join(base.select(col("vec_id").as("b"), col("emb").as("b_emb"),
        col("nrm").as("b_nrm")), "b")
      .select(col("a"), col("b"),
        (dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Contrastive training-pair mining — for every vector, its best
    * same-label partner (the POSITIVE) and its most similar
    * wrong-label neighbor (the HARD NEGATIVE), the pair selection
    * behind contrastive/triplet embedding fine-tuning. Candidates are
    * same-sign-LSH-bucket only (the q35 bound: expected corpus²/2^planes
    * per bucket — never all-pairs), which is also what production
    * miners do: hard negatives are by definition near the anchor, so
    * bucket-local search is the semantics, not an approximation of it.
    * Emits vectors that have BOTH a positive and a negative in their
    * bucket.
    *
    * Scale shape: bucket equi-join for candidates, then the per-anchor
    * argmax rides ONE max(struct) aggregate per side (no rank window);
    * ties break to the smaller candidate id.
    */
  def contrastivePairs(embeddings: DataFrame): DataFrame = {
    val b = embeddings.select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("emb"),
        lshBucket(col("embedding")).as("bucket"))
      .withColumn("nrm", norm(col("emb")))
    val x = b.toDF("vec_id", "label", "emb", "bucket", "nrm")
    val y = b.toDF("cand", "c_label", "c_emb", "c_bucket", "c_nrm")
    val pairs = x.join(y,
        col("bucket") === col("c_bucket") && col("vec_id") =!= col("cand"))
      .select(col("vec_id"), col("label"), col("cand"), col("c_label"),
        (dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
          .as("sim"))
    pairs.groupBy(col("vec_id"))
      .agg(
        max(when(col("label") === col("c_label"),
          struct(col("sim"), (-col("cand")).as("neg")))).as("p"),
        max(when(col("label") =!= col("c_label"),
          struct(col("sim"), (-col("cand")).as("neg")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("vec_id"),
        (-col("p.neg")).as("pos_id"), col("p.sim").as("pos_sim"),
        (-col("n.neg")).as("neg_id"), col("n.sim").as("neg_sim"))
  }

  /** SemDeDup-style semantic pruning (q84): cluster the corpus with a
    * coarse quantizer, then inside each cluster drop every vector that
    * has a ≥ `threshold`-cosine neighbor with a SMALLER vec_id — the
    * deterministic spelling of "keep one representative per ε-group",
    * the embedding-space dedup used to thin web-scale corpora before
    * training. Clusters larger than `maxCluster` are skipped
    * (conservative: only prunes are lost), the same stop-bucket
    * discipline as the q29/q81 caps.
    *
    * SCALE SHAPE: assignment is a PURE MAP over literal modulo-seeded
    * centroids (zero exchanges — the q34 kmeans shape, |C| scales as
    * corpus/centroidMod so expected cluster size stays ~centroidMod);
    * candidate pairs come from ONE cluster-keyed aggregation of ids
    * only (vectors never enter the collect), pair cosines fetch
    * embeddings back by equi-join, and the drop set — ids only, at
    * most one per near-dup pair — anti-joins against the assignment.
    * Never all-pairs: the pair space is Σ_cluster min(n_c, cap)².
    */
  def semanticPrune(embeddings: DataFrame, centroidMod: Int = 127,
                    threshold: Double = 0.2,
                    maxCluster: Int = 1000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val cents = base
      .filter(pmod(col("vec_id"), lit(centroidMod.toLong)) === 0)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    // cosine to each centroid with the shared fold; centroid norms are
    // driver-side sqrt of the same left-to-right |c|² fold
    val sims = centroidCosines(cents)
    val centroid = element_at(typedlit(cents.map(_._1)), coalesce(
      nullif(array_position(sims, array_max(sims)), lit(0L)),
      lit(1L)).cast("int"))
    val assigned = base.select(col("vec_id"), centroid.as("centroid"))
    val cands = assigned.groupBy(col("centroid"))
      .agg(array_sort(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxCluster)
      .select(explode_outer(Dedup.sortedPairs(col("ids"))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val sided = base.withColumn("nrm", norm(col("emb")))
    val drops = cands
      .join(sided.select(col("vec_id").as("a"), col("emb").as("a_emb"),
        col("nrm").as("a_nrm")), "a")
      .join(sided.select(col("vec_id").as("b"), col("emb").as("b_emb"),
        col("nrm").as("b_nrm")), "b")
      .filter((dot(col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm"))) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
  }

  /** Cluster-quality report (q88): simplified silhouette of the
    * deterministic coarse clustering every downstream op here rides
    * (centroids = vec_id ≡ 0 mod `centroidMod`, assignment =
    * max-cosine — the q34/q36/q84 quantizer). Per vector, with
    * cosine distance d = 1 − sim: a = d(assigned), b = d(second-best
    * centroid); s = (b − a) / b (the centroid-based silhouette — a ≤ b
    * by construction; s = 0 when b = 0). Per cluster: member count,
    * mean silhouette, mean cohesion (a). This is the go/no-go
    * measurement before trusting the clustering for SemDeDup (q84) or
    * IVF routing (q36): near-zero mean silhouette says the coarse
    * partition is noise.
    *
    * Determinism: sims ride the same literal-centroid sequential
    * double folds as q84 (identical IEEE op sequence in the oracle);
    * second-best = second element of the sorted sim array (value-
    * identical under ties to the rn=2 row of the oracle's window);
    * means go through DECIMAL(18,9) sums — order-independent.
    *
    * SCALE SHAPE: assignment + per-vector silhouette is a PURE MAP
    * over model-sized literal centroids (no centroid join, the corpus
    * never shuffles for it); the single exchange carries |C|-keyed
    * decimal partials. |C| scales as corpus/centroidMod, so the
    * report stays model-sized at any corpus.
    */
  def clusterQuality(embeddings: DataFrame,
                     centroidMod: Int = 127): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val cents = base
      .filter(pmod(col("vec_id"), lit(centroidMod.toLong)) === 0)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    require(cents.size >= 2,
      s"clusterQuality needs >= 2 centroids, got ${cents.size}")
    val sims = centroidCosines(cents)
    val centroid = element_at(typedlit(cents.map(_._1)), coalesce(
      nullif(array_position(sims, array_max(sims)), lit(0L)),
      lit(1L)).cast("int"))
    val scored = base
      .select(col("vec_id"), centroid.as("centroid"),
        array_sort(sims).as("ss"))
      .select(col("centroid"),
        (lit(1.0) - element_at(col("ss"), -1)).as("a"),
        (lit(1.0) - element_at(col("ss"), -2)).as("b"))
      .select(col("centroid"), col("a"),
        when(col("b") === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / col("b")).as("s"))
    scored.groupBy(col("centroid"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Portable.dec(col("s"), 9)).as("sil_sum"),
        sum(graft.functions.Portable.dec(col("a"), 9)).as("coh_sum"))
      .select(col("centroid"), col("n"),
        (col("sil_sum").cast("double") / col("n")).as("mean_silhouette"),
        (col("coh_sum").cast("double") / col("n")).as("mean_cohesion"))
  }

  /** Per-dimension embedding statistics — the health screen run before
    * any ANN index build: mean and population variance of every
    * embedding dimension (dead dims have ~zero variance; a shifted
    * mean breaks cosine assumptions; both silently degrade recall).
    *
    * Exactness: components are quantized as q = floor(v·2²⁰) (the ×2ⁿ
    * multiply and floor are exact in any engine), so q² stays inside
    * LONG arithmetic per element (|v| < 2¹¹ ⇒ q² < 2⁶²) — the squares
    * are codegen long multiplies, never per-row BigDecimal work — and
    * only the Σq / Σq² accumulation runs in DECIMAL(38,0) (order-free,
    * no float accumulation, room for a trillion-row corpus). The
    * derived mean/variance doubles are computed from the exact sums by
    * a fixed IEEE op sequence mirrored in the oracle.
    *
    * Scale shape: the whole computation is ONE map-side-combined hash
    * aggregate producing a single row of 2·dims decimal sums (the q27
    * bit-vote shape — no posexplode into dims× the corpus row count);
    * the per-dim unpivot then runs on that one model-sized row. The
    * array cast and quantization each run in their OWN projection
    * (referenced 64× downstream, so CollapseProject keeps them
    * materialized instead of re-evaluating per use — the kmeans
    * lesson, measured ~10× on this op).
    */
  def embeddingStats(embeddings: DataFrame, dims: Int = 0): DataFrame = {
    val d = deriveDims(embeddings, dims)
    val pow20 = 1048576.0 // 2^20
    val q = embeddings.select(asDouble(col("embedding")).as("emb"))
      .select((1 to d).map(i =>
        floor(element_at(col("emb"), i) * pow20).cast("long").as(s"q$i")): _*)
    val absCols = (1 to d).map(i => abs(col(s"q$i")))
    val aggs = Seq(count(lit(1)).as("n"),
      max(absCols.reduceLeft(greatest(_, _))).as("qabs")) ++
      (1 to d).map(i => sum(col(s"q$i").cast("decimal(38,0)")).as(s"s$i")) ++
      (1 to d).map(i => sum((col(s"q$i") * col(s"q$i"))
        .cast("decimal(38,0)")).as(s"ss$i"))
    // the |v| < 2^11 bound is ENFORCED, not just documented: q*q is a
    // plain long multiply that would silently wrap (ANSI off) past
    // |q| = 2^31 — fail loudly instead of corrupting dim_var. The max
    // rides the same single aggregate, so the check is free.
    val one = q.agg(aggs.head, aggs.tail: _*)
      .filter(when(col("qabs") > lit(1L << 31),
        raise_error(concat(
          lit("embeddingStats: component magnitude >= 2^11 (max |q| = "),
          col("qabs"),
          lit(") - q*q would overflow LONG; rescale the embeddings")))
          .cast("boolean"))
        .otherwise(lit(true)))
    one.select(expr(s"stack($d, " + (1 to d).map(i =>
        s"$i, n, s$i, ss$i").mkString(", ") + ") as (dim, n, s, ss)"))
      .select(col("dim"), col("n"),
        ((col("s").cast("double") / col("n")) / pow20).as("dim_mean"),
        (((col("ss").cast("double") -
          (col("s").cast("double") * col("s").cast("double")) / col("n"))
          / col("n")) / (pow20 * pow20)).as("dim_var"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion (RRF) of the lexical
    * (BM25, q39) and dense (cosine top-N for one query vector)
    * rankings over the same document ids: the standard production
    * retrieval stack for training-data selection, where neither signal
    * alone is trusted. rrf(d) = Σ_lists 1/(k + rank_list(d)) with
    * k = 60 (the constant from the original RRF paper), summed over
    * the lists that contain d. Absent ranks contribute 0 (encoded as
    * rank 0 — no nullable-int rendering differences between engines);
    * the two reciprocal terms are exact int-derived divisions added in
    * a fixed order, so the score is bit-portable.
    *
    * Scale shape: both input rankings are top-N-bounded BEFORE the
    * fusion (BM25 via the bounded topK aggregator, dense via the same
    * aggregator against one broadcast query row — the corpus streams
    * map-side in both), so the full-outer fusion join and the final
    * re-rank window touch ≤ 2N rows regardless of corpus size.
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
                terms: Seq[String], queryVecId: Long = 0L,
                topN: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = TextOps.bm25(documents, terms, topN = topN)
      .select(col("doc_id"), col("rn").as("rn_lex"))
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", norm(col("q_emb")))
    val dense = embeddings.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), asDouble(col("embedding")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
      .agg(graft.functions.Aggregators.topK(topN)(
        col("sim"), col("vec_id")).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("s.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rn_dense"))
    def recip(rn: Column): Column =
      when(rn > 0, lit(1.0) / (lit(rrfK) + rn)).otherwise(lit(0.0))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rn_lex"), lit(0)).as("rn_lex"),
        coalesce(col("rn_dense"), lit(0)).as("rn_dense"))
      .withColumn("rrf", recip(col("rn_lex")) + recip(col("rn_dense")))
      // ≤ 2N fused rows by construction — the unpartitioned window is
      // model-sized, never corpus-sized
      .withColumn("rn", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("int"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (centroids =
    * vectors with vec_id ≡ 0 mod `centroidMod`, broadcast), every
    * vector assigned to its max-cosine centroid, queries probe the
    * `nProbe` nearest centroids and score only vectors assigned there.
    * The scale path when sign-LSH recall is insufficient: assignment
    * is one broadcast map pass, candidate fan-in is corpus/nCentroids
    * × nProbe.
    */
  /** IVF index-balance audit (q95's discipline for the vector side):
    * assign every vector to its max-cosine coarse centroid, then
    * report the CELL-occupancy distribution — cells, vectors, min/max/
    * median occupancy (empty cells folded back from the centroid
    * list), and the balance ratio max·cells/vectors. Probe cost of an
    * IVF search is driven by the cells the query probes; a ratio ≫ 1
    * means hot cells dominate every probe and the quantizer needs
    * refitting (q34) before serving.
    *
    * SCALE SHAPE: assignment is the q34/q84 literal-centroid PURE MAP
    * — centroids are collected driver-side (model-sized, the
    * documented kmeans-family collect) and inlined as plan literals,
    * so the per-vector argmax is a projection with NO exchange below
    * it (a broadcast-join + groupBy(vec_id) spelling would shuffle a
    * corpus-keyed row set instead — DumpPlans' audit caught that in
    * the first cut); occupancy is one |C|-keyed exchange of partial
    * counts, and every stat computes on the |C|-row table (tiny
    * window + one-row broadcast; integer cross-multiplied median, the
    * q59 rule).
    */
  def ivfOccupancy(embeddings: DataFrame, centroidMod: Int = 127): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val cents = base
      .filter(pmod(col("vec_id"), lit(centroidMod.toLong)) === 0)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val sims = centroidCosines(cents)
    // first max = smallest centroid id (cents sorted) — the same
    // tie-break as the oracle's ORDER BY c_sim DESC, c_id ASC
    val centroid = element_at(typedlit(cents.map(_._1)), coalesce(
      nullif(array_position(sims, array_max(sims)), lit(0L)),
      lit(1L)).cast("int"))
    val occ0 = base.select(centroid.as("centroid"))
      .groupBy(col("centroid")).agg(count(lit(1)).as("c"))
    val occ = cents.map(_._1).toDF("centroid")
      .join(occ0, Seq("centroid"), "left")
      .select(col("centroid"), coalesce(col("c"), lit(0L)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c"),
      col("centroid"))
    occ.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(occ.agg(
        count(lit(1)).as("n_cells"), sum(col("c")).as("n_vectors"),
        min(col("c")).as("min_c"), max(col("c")).as("max_c"))))
      .groupBy(col("n_cells"), col("n_vectors"), col("min_c"),
        col("max_c"))
      .agg(min(when(col("rk") * 2 >= col("n_cells"), col("c"))).as("p50"))
      .select(col("n_cells"), col("n_vectors"), col("min_c"),
        col("max_c"), col("p50"),
        (col("max_c").cast("double") * col("n_cells").cast("double") /
          col("n_vectors").cast("double")).as("balance"))
  }

  def knnIvf(embeddings: DataFrame, nQueries: Int, k: Int,
             centroidMod: Int = 127, nProbe: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
        asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    // round 7: the coarse ASSIGNMENT is a pure map over the literal
    // centroid model (one fused CosineToConstants node — the q34/q84
    // shape) instead of a broadcast cross-join that expanded the
    // corpus |C|-fold and re-collapsed it through a corpus-wide
    // max-struct exchange. At 100 TB that exchange was the plan's
    // only corpus-sized shuffle; now the corpus never shuffles at
    // all before the bounded top-k. Same assignment: first max in
    // the id-sorted sims array = max cosine with ties to the
    // smallest centroid id (all-NaN rows fall back to the first
    // centroid — the max-struct tie-break's pick too).
    val cents = base.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val cIds = typedlit(cents.map(_._1))
    val withSims = base.select(col("vec_id"), col("emb"), col("nrm"),
      centroidCosines(cents).as("__sims"))
    val assign = withSims.select(col("vec_id"),
      element_at(cIds, coalesce(
        nullif(array_position(col("__sims"), array_max(col("__sims"))),
          lit(0L)),
        lit(1L)).cast("int")).as("centroid"))
    val probes = withSims.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), posexplode(col("__sims")))
      .select(col("query_id"),
        element_at(cIds, (col("pos") + 1).cast("int")).as("c_id"),
        col("col").as("c_sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.Aggregators.topK(nProbe)(
        col("c_sim"), col("c_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("centroid"))
    val cands = probes
      .join(assign, "centroid")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // only real queries are broadcast — never the whole corpus
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val c = base.select(col("vec_id").as("neighbor_id"),
      col("emb").as("c_emb"), col("nrm").as("c_nrm"))
    val scored = cands.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
          .as("sim"))
    rankTopK(scored, k)
  }

  /** Lloyd refinement of the IVF coarse quantizer (the batch
    * driver-loop iteration pattern, SURVEY.md §2.7 T7): start from the
    * deterministic seed centroids (vec_id ≡ 0 mod `centroidMod`), then
    * `iters` times assign every vector to its max-cosine centroid and
    * recompute each centroid as the element-wise mean of its members.
    * Emits the final (centroid, dim, mean) table.
    *
    * The mean is exact and order-free: components are integerized as
    * floor(v·2⁵²) — multiplying a double by a power of two is exact,
    * and floor (unlike a raw long cast, which truncates toward zero in
    * Spark but rounds half-even in DuckDB) is engine-independent —
    * then summed as DECIMAL(38,0), so no floating accumulation order
    * and no group-size overflow bound. The only remaining bound is
    * per-element: |v| < 2¹¹ keeps floor's long result in range, far
    * above any real embedding component.
    */
  def kmeansRefine(embeddings: DataFrame, centroidMod: Int = 127,
                   iters: Int = 2, dims: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val d = deriveDims(embeddings, dims)
    val pow52 = 4503599627370496.0 // 2^52
    val base = embeddings.select(col("vec_id"),
        asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))

    // The Lloyd loop's model state (the centroid table) lives on the
    // driver, collected each iteration and inlined as LITERAL arrays —
    // the MLlib KMeans pattern. Keeping it lazy instead nests every
    // iteration's wide aggregate into the next one's lineage, and the
    // timed cost becomes Catalyst re-optimizing a plan that grows per
    // iteration (measured 2× total at just 2 iterations). The collect
    // moves numCentroids × dims doubles — model-sized, not data-sized
    // — and doubles round-trip the driver bit-exactly. Norms are
    // computed Spark-side BEFORE collecting so the literal carries the
    // identical IEEE fold result the lazy plan would have used.

    /** One Lloyd step against literal centroids: per-vector max-cosine
      * assignment (ties to the smallest centroid id — the first max
      * position in the c_id-ascending sims array), then per-centroid
      * member count + element-wise integerized sums as `dims` decimal
      * aggregate columns in ONE hash aggregate (the q27 bit-vote
      * shape) — not a posexplode into dims× the row count feeding dims
      * hash probes per vector into a (centroid, dim)-keyed table. The
      * integerization runs in its own projection BEFORE the aggregate:
      * inlined in the sum exprs it re-evaluates floor/cast per
      * aggregate update (measured ~2× the agg cost). With the model as
      * literals the assignment is a pure map — no broadcast-join row
      * expansion, no per-vector max shuffle, no re-join to fetch the
      * vector back. The corpus is scanned, never shuffled: the only
      * exchange per iteration is the map-side-combined centroid sums
      * (one row per centroid per task).
      */
    def step(cents: Seq[(Long, Seq[Double], Double)]): DataFrame = {
      val sorted = cents.sortBy(_._1)
      val cIds = typedlit(sorted.map(_._1))
      base
        // fused per-centroid cosines (CosineToConstants recomputes
        // sqrt(|x|2) = the materialized nrm column bit-for-bit)
        .select(col("emb"),
          graft.functions.VectorExpressions.cosineToConstants(
            col("emb"), sorted.map(_._2), sorted.map(_._3)).as("sims"))
        // first position of the max = smallest centroid id among ties;
        // position 0 (max is NaN from a zero norm, equality never
        // matches) falls back to the first centroid, which is what the
        // NaN-tied max-struct ordering picked in the join formulation
        .select(col("emb"),
          element_at(cIds, coalesce(
            nullif(array_position(col("sims"), array_max(col("sims"))),
              lit(0L)),
            lit(1L)).cast("int")).as("centroid"))
        .select(Seq(col("centroid")) ++ (0 until d).map(i =>
          floor(element_at(col("emb"), i + 1) * pow52)
            .cast("decimal(38,0)").as(s"v$i")): _*)
        .groupBy(col("centroid"))
        .agg(count(lit(1)).as("n"),
          (0 until d).map(i => sum(col(s"v$i")).as(s"s$i")): _*)
    }
    def meanCol(i: Int): Column =
      (col(s"s$i").cast("double") / pow52) / col("n")
    val meanArr = array((0 until d).map(meanCol): _*)

    var cents = base.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id"), col("emb"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect().toSeq
    for (_ <- 1 until iters)
      cents = step(cents)
        .select(col("centroid"), meanArr.as("m"), norm(meanArr).as("nm"))
        .as[(Long, Seq[Double], Double)].collect().toSeq
    // the final iteration stays lazy — the returned frame runs one
    // flat assignment+sums pass against the collected model
    step(cents)
      .select(col("centroid"), posexplode(meanArr))
      .toDF("centroid", "pos", "mean")
      .select(col("centroid"), (col("pos") + 1).cast("long").as("dim"),
        col("mean"))
  }

  /** Product quantization: split each embedding into `m` contiguous
    * subvectors, run an independent L2 Lloyd refinement per subspace
    * (same deterministic `vec_id % centroidMod` seeding and literal-
    * centroid integerized-mean machinery as [[kmeansRefine]]), then
    * encode every vector as its per-subspace nearest-centroid codes
    * plus the exact total squared reconstruction error. PQ codes are
    * how a 100 TB embedding corpus fits an ANN index in memory: m
    * bytes-ish per vector instead of 4·dims.
    *
    * Determinism: assignment distances use the codegen dot-product
    * identity |x|² − 2x·c + |c|² with driver-computed |c|² literals
    * folded in the same left-to-right order as the Column expression;
    * argmin ties go to the smallest centroid id. The per-row error is
    * a fixed-order combination of per-row folds — no cross-row double
    * accumulation anywhere, so the oracle reproduces it bit-for-bit.
    *
    * SCALE SHAPE: per Lloyd round and per subspace, ONE map-side-
    * combined aggregate of `sub` decimal sums (the corpus is scanned,
    * never shuffled); the final encode emits all m codes and the
    * error in a SINGLE pure-map pass over the scan (m literal-array
    * lookups per row, zero exchanges, zero joins).
    */
  def pqEncode(embeddings: DataFrame, m: Int = 4, centroidMod: Int = 127,
               iters: Int = 1, dims: Int = 0): DataFrame = {
    val d = deriveDims(embeddings, dims)
    require(m >= 1 && d % m == 0, s"dims $d must split evenly into $m subspaces")
    val sub = d / m
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val models = pqFit(base, m, sub, centroidMod, iters)
    val withD = pqWithDists(base, m, sub, models, Seq("vec_id"))
    val codeCols = (0 until m).map(s =>
      pqCodeOf(col(s"__d_$s"), models(s)).as(s"code_$s"))
    val errCols = (0 until m).map(s => array_min(col(s"__d_$s")))
    withD.select(Seq(col("vec_id")) ++ codeCols :+
      errCols.reduceLeft(_ + _).as("err"): _*)
  }

  // ---- shared PQ machinery (pqEncode q80, pqSearch q82) ------------

  private def pqSubvec(sub: Int, s: Int): Column =
    slice(col("emb"), s * sub + 1, sub)
  // |c|² / dot with the dotProduct fold order (left-to-right prepend-0)
  private def pqN2(v: Seq[Double]): Double =
    v.foldLeft(0.0)((a, x) => a + x * x)
  private def pqDot(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)

  /** Fused per-centroid cosine sims of the `emb` column against a
    * collected id-sorted (id, embedding) model — ONE codegen node
    * ([[graft.functions.VectorExpressions.CosineToConstants]]; the
    * HOF-over-literal-centroids spelling hit the many-literal-loops
    * generated-code cliff), centroid norms via the shared |c|² fold.
    * The single spelling keeps the bit-exactness contract of every
    * literal-centroid assignment site in one place. */
  private def centroidCosines(cents: Seq[(Long, Seq[Double])]): Column =
    graft.functions.VectorExpressions.cosineToConstants(
      col("emb"), cents.map(_._2), cents.map(c => math.sqrt(pqN2(c._2))))

  /** Per-centroid squared L2 distances of one subspace via the
    * |x|² − 2x·c + |c|² identity, as ONE fused codegen node over the
    * literal codebook ([[graft.functions.VectorExpressions.PqDistances]]
    * — see its scaladoc for the round-7 measurement story: HOF
    * lambdas, literal-array dots, and per-centroid loop expressions
    * all hit a generated-code cliff; the fused nested loop runs the
    * sf10 distance pass ~15× faster with a model-sized plan, bit
    * identically). */
  private def pqDistsTo(sv: Column,
                        cents: Seq[(Long, Seq[Double])]): Column =
    graft.functions.VectorExpressions.pqDistances(sv,
      cents.map(_._2), cents.map(c => pqN2(c._2)))

  /** Adds the materialized per-subspace `__d_s` distance arrays (and
    * `__sv_s` subvectors — needed again by fit's quantized-component
    * columns): both are multi-referenced expensive aliases, which
    * CollapseProject keeps materialized, so slices and distance
    * arrays evaluate once per row. */
  private def pqWithDists(base: DataFrame, m: Int, sub: Int,
                          models: Seq[Seq[(Long, Seq[Double])]],
                          keep: Seq[String]): DataFrame = {
    val keepC = keep.map(col)
    val withSv = base.select(keepC ++ (0 until m).map(s =>
      pqSubvec(sub, s).as(s"__sv_$s")): _*)
    withSv.select(keepC ++ (0 until m).flatMap(s => Seq(
      col(s"__sv_$s"),
      pqDistsTo(col(s"__sv_$s"), models(s)).as(s"__d_$s"))): _*)
  }

  /** 1-based POSITION of the argmin (ties → first = smallest centroid
    * id, `cents` being id-sorted). */
  private def pqCodeIdx(dists: Column): Column =
    coalesce(nullif(array_position(dists, array_min(dists)), lit(0L)),
      lit(1L)).cast("int")

  /** Centroid ID of the argmin (the persisted code of q80). */
  private def pqCodeOf(dists: Column, cents: Seq[(Long, Seq[Double])]): Column =
    element_at(typedlit(cents.map(_._1)), pqCodeIdx(dists))

  /** Per-subspace deterministic Lloyd fit: `vec_id % centroidMod`
    * seeds, integerized 2^52 decimal means, id-sorted codebooks. Each
    * round per subspace is ONE map-side-combined aggregate; codebooks
    * are model-sized driver state. */
  private def pqFit(base: DataFrame, m: Int, sub: Int, centroidMod: Int,
                    iters: Int): Seq[Seq[(Long, Seq[Double])]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val pow52 = 4503599627370496.0 // 2^52
    // ONE seed collect for all m subspaces (sliced driver-side), then
    // ONE stacked (subspace, code)-keyed aggregate per Lloyd round —
    // the per-subspace formulation ran m separate corpus scans per
    // round (m jobs + m collects; measured 4.1 s → 1.9 s for q80 at
    // sf0.1). Per-group math is unchanged: the same 2^52-quantized
    // decimal sums, order-independent, so codebooks are bit-identical
    // to the per-subspace fits and the oracle.
    val seeds = base
      .filter(pmod(col("vec_id"), lit(centroidMod.toLong)) === 0)
      .select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    var models: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map(s =>
      seeds.map { case (id, emb) => (id, emb.slice(s * sub, s * sub + sub)) })
    for (_ <- 1 to iters) {
      // stack m rows per vector: (subspace, assigned code, quantized
      // subvector components) — all m assignments ride one scan
      val withD = pqWithDists(base, m, sub, models, Seq.empty)
      val stacked = withD.select(explode(array((0 until m).map { s =>
        struct(Seq(lit(s).as("s"),
          pqCodeOf(col(s"__d_$s"), models(s)).as("code")) ++
          (0 until sub).map(i =>
            floor(element_at(col(s"__sv_$s"), i + 1) * pow52)
              .cast("decimal(38,0)").as(s"v$i")): _*)
      }: _*)).as("r")).select(col("r.*"))
      val fitted = stacked
        .groupBy(col("s"), col("code"))
        .agg(count(lit(1)).as("n"),
          (0 until sub).map(i => sum(col(s"v$i")).as(s"s$i")): _*)
        .select(col("s"), col("code"), array((0 until sub).map(i =>
          (col(s"s$i").cast("double") / pow52) / col("n")): _*).as("mean"))
        .as[(Int, Long, Seq[Double])].collect()
      models = (0 until m).map(s =>
        fitted.filter(_._1 == s).map(t => (t._2, t._3)).toSeq.sortBy(_._1))
    }
    models
  }

  /** IVF-PQ-style ADC search (q82): top-k nearest neighbors per query
    * under the PQ-compressed metric. The corpus is represented ONLY by
    * its m per-subspace code indexes; each query precomputes a lookup
    * table lut[s][c] = ‖q_s − cent_{s,c}‖² and the per-pair distance is
    * the sum of m table lookups — O(m) per candidate instead of the
    * O(dims) dot product of [[knnBruteForce]]. This is the serving
    * shape that lets a 100 TB embedding corpus fit an in-memory ANN
    * index: m small ints per vector, queries carry the float math.
    *
    * SCALE SHAPE: codebooks and per-query LUTs are model-sized driver
    * state (nQueries · m · |C| doubles) shipped via one broadcast; the
    * corpus encodes map-only over literal codebooks and NEVER
    * shuffles; the bounded top-k aggregator caps the only exchange at
    * k rows per query per partition. Determinism: LUT entries are
    * computed with the same ((x·x) − 2.0·(x·c)) + |c|² left-to-right
    * fold as the oracle's SQL, ties in the argmin code go to the
    * smallest centroid id, and the final order is (adist asc,
    * neighbor_id asc).
    */
  def pqSearch(embeddings: DataFrame, nQueries: Int, k: Int, m: Int = 4,
               centroidMod: Int = 127, iters: Int = 1,
               dims: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val d = deriveDims(embeddings, dims)
    require(m >= 1 && d % m == 0, s"dims $d must split evenly into $m subspaces")
    val sub = d / m
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val models = pqFit(base, m, sub, centroidMod, iters)
    // corpus side: m code INDEXES per vector (positions into the
    // id-sorted codebooks — the LUT lookup is positional), map-only
    val withD = pqWithDists(base, m, sub, models, Seq("vec_id"))
    val idxCols = (0 until m).map(s =>
      pqCodeIdx(col(s"__d_$s")).as(s"idx_$s"))
    val codes = withD.select(
      Seq(col("vec_id").as("neighbor_id")) ++ idxCols: _*)
    // query side: model-sized collect (like centroids), then one
    // broadcast of per-query ADC tables
    val qs = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val qlut = qs.map { case (qid, emb) =>
      val luts = (0 until m).map { s =>
        val sv = emb.slice(s * sub, s * sub + sub)
        val x2 = pqDot(sv, sv)
        models(s).map { case (_, ce) => (x2 - 2.0 * pqDot(sv, ce)) + pqN2(ce) }
      }
      (qid, luts)
    }.toDF("query_id", "lut")
    val adist = (0 until m).map(s =>
      element_at(element_at(col("lut"), s + 1), col(s"idx_$s")))
      .reduceLeft(_ + _)
    val scored = codes
      .join(broadcast(qlut), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-adist).as("nd"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.Aggregators.topK(k)(
        col("nd"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (-col("col.sim")).as("adist"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** ANN evaluation: per-query recall of the LSH top-k against the
    * brute-force ground truth (|lsh ∩ exact| / k). The query every ANN
    * deployment needs before trusting its index. */
  def lshRecall(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallVs(knnLsh(embeddings, nQueries, k), embeddings, nQueries, k)

  /** Same evaluation for the IVF index (probe-count recall tuning). */
  def ivfRecall(embeddings: DataFrame, nQueries: Int, k: Int,
                nProbe: Int = 2): DataFrame =
    recallVs(knnIvf(embeddings, nQueries, k, nProbe = nProbe),
      embeddings, nQueries, k)

  private def recallVs(approx: DataFrame, embeddings: DataFrame,
                       nQueries: Int, k: Int): DataFrame = {
    val bf = knnBruteForce(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"),
      lit(1).as("hit"))
    bf.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / k)
  }

  /** kNN label classification — the standard label-transfer /
    * eval-by-neighbors query over an embedded corpus: each query
    * vector's label is predicted by majority vote of its k nearest
    * neighbors (ties to the smallest label), reported against the true
    * label. Scale shape: the vote rides on knnBruteForce's bounded
    * top-k (corpus never shuffles); the nQueries×k neighbor list is
    * broadcast against the corpus' (vec_id, label) projection, so the
    * label lookup is map-side too.
    */
  def knnClassify(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    val nbrs = knnBruteForce(embeddings, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val votes = labels.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(nbrs), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("c"))
    // majority vote, ties to the smallest label
    val pred = votes.groupBy(col("query_id"))
      .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
      .select(col("query_id"), (-col("m.neg")).cast("int").as("predicted"))
    labels.withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("label", "true_label")
      .join(broadcast(pred), "query_id")
      .select(col("query_id"), col("true_label"), col("predicted"))
  }

  /** Symmetric int8 quantization of the embedding column — the
    * compression pass an embedding store runs before serving ANN at
    * scale: per-vector scale = max|v|/127, q_i = round(v_i/scale)
    * (floor(x+0.5), the engine-independent rounding), emitted exploded
    * per dimension so the oracle verifies every quantized value.
    * Map-only — at 100 TB this fuses into the scan and shuffles
    * nothing.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), col("emb"),
        (array_max(transform(col("emb"), v => abs(v))) / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(transform(col("emb"), v =>
          when(col("scale") === 0, 0L)
            .otherwise(floor(v / col("scale") + 0.5).cast("long")))))
      .toDF("vec_id", "scale", "pos", "qval")
      .select(col("vec_id"), col("scale"),
        (col("pos") + 1).cast("long").as("dim"), col("qval"))

  /** Per-label embedding outliers — the mislabeled-example screen a
    * training pipeline runs over (embedding, label) pairs: each label's
    * centroid is the exact element-wise mean of its members, and the
    * `k` members with the LOWEST cosine to their own centroid are
    * flagged. Centroid sums use the kmeans integerization (floor at
    * scale 2^52 into DECIMAL(38,0)) so the mean is identical across
    * engines; the centroid table is #labels rows, so it broadcasts and
    * the corpus is scanned twice but never shuffled — the only
    * exchanges are the label-keyed sums and the bounded per-label
    * bottom-k (≤k per task per label via the TopK aggregator, fed the
    * negated cosine; no rank window over every member).
    */
  def labelOutliers(embeddings: DataFrame, k: Int = 5,
                    dims: Int = 0): DataFrame = {
    val d = deriveDims(embeddings, dims)
    val pow52 = 4503599627370496.0 // 2^52
    val base = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("emb"))
    val sums = base
      .select(Seq(col("label")) ++ (0 until d).map(i =>
        floor(element_at(col("emb"), i + 1) * pow52)
          .cast("decimal(38,0)").as(s"v$i")): _*)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (0 until d).map(i => sum(col(s"v$i")).as(s"s$i")): _*)
    val cents = sums.select(col("label"),
      array((0 until d).map(i =>
        (col(s"s$i").cast("double") / pow52) / col("n")): _*).as("c_emb"))
    base.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        (dot(col("emb"), col("c_emb")) /
          (norm(col("emb")) * norm(col("c_emb")))).as("sim"))
      .groupBy(col("label"))
      // bottom-k by cosine = topK on the negated score; -(-x) == x
      // bit-exact, so the emitted sim is the original double
      .agg(graft.functions.Aggregators.topK(k)(
        negate(col("sim")), col("vec_id")).as("tk"))
      .select(col("label"), posexplode(col("tk")).as(Seq("pos", "s")))
      .select(col("label"), col("s.id").as("vec_id"),
        negate(col("s.sim")).as("centroid_sim"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Cluster-balanced diverse sampling — keep at most `cap` vectors
    * per coarse cluster, chosen by seeded-hash priority: the
    * diversity-preserving subsample that follows SemDeDup-style
    * curation (a uniform sample over-represents dense regions; a
    * per-cluster cap flattens them while every populated region of
    * embedding space stays represented). Assignment is the q34/q84/
    * q99 literal-centroid pure map; selection is the bounded top-k
    * aggregator — at most `cap` candidates per map task per cluster,
    * never a rank window over the corpus.
    *
    * SCALE SHAPE: one corpus scan (assignment fused, zero joins), one
    * partial-aggregated exchange on the #centroids key whose payload
    * is ≤ cap ids per cluster per task; the kept-id explode is
    * #centroids·cap rows — model-sized output.
    */
  def diverseSample(embeddings: DataFrame, centroidMod: Int = 127,
                    cap: Int = 8, seed: String = "div"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("emb"))
    val cents = base
      .filter(pmod(col("vec_id"), lit(centroidMod.toLong)) === 0)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val sims = centroidCosines(cents)
    // first max = smallest centroid id (cents sorted) — the same
    // tie-break as the oracle's ORDER BY c_sim DESC, c_id ASC
    val centroid = element_at(typedlit(cents.map(_._1)), coalesce(
      nullif(array_position(sims, array_max(sims)), lit(0L)),
      lit(1L)).cast("int"))
    val assigned = base.select(col("vec_id"), centroid.as("centroid"))
    // smallest seeded hash survives (topK keeps LARGEST sims, so the
    // priority is negated); ties break by id — q85's discipline
    val pri = graft.functions.Portable
      .hash32(col("vec_id").cast("string"), seed)
    assigned
      .groupBy(col("centroid"))
      .agg(graft.functions.Aggregators.topK(cap)(
        -pri.cast("double"), col("vec_id")).as("ks"))
      .select(col("centroid"), explode(col("ks")).as("k"))
      .select(col("k.id").as("vec_id"), col("centroid"))
  }

  /** Embedding-level benchmark decontamination — flag every corpus
    * vector whose cosine to ANY held-out benchmark vector reaches
    * `threshold` (the semantic sibling of q55's n-gram check: catches
    * paraphrased eval contamination that shares no 8-gram). The
    * benchmark set is label-designated and model-sized — it collects
    * to plan literals, so the scan side is a PURE MAP: per corpus
    * vector one fold over the literal benchmark arrays producing the
    * max cosine and its argmax benchmark id, then a filter. No join,
    * no exchange, corpus never shuffles — the same literal-fold shape
    * as q34/q84 assignment.
    */
  def semanticDecon(embeddings: DataFrame, benchLabel: Int = 9,
                    threshold: Double = 0.38): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("emb"))
    val bench = base.filter(col("label") === benchLabel)
      .select(col("vec_id"), col("emb"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    require(bench.nonEmpty, s"no benchmark vectors with label $benchLabel")
    val sims = centroidCosines(bench)
    val benchId = element_at(typedlit(bench.map(_._1)), coalesce(
      nullif(array_position(sims, array_max(sims)), lit(0L)),
      lit(1L)).cast("int"))
    base.filter(col("label") =!= benchLabel)
      .select(col("vec_id"), benchId.as("bench_id"),
        array_max(sims).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---- streaming semantic admission: embedding near-dup gate ------------

  /** Ascending-index dot product on plain arrays — the driver/probe
    * twin of [[graft.functions.VectorExpressions.dotProduct]]'s fold
    * (and the oracle's `list_reduce(list_prepend(0.0, …))`): same
    * IEEE op sequence, so sign bits and cosines computed here are
    * bit-equal to the batch plan's. */
  private[operators] def dotScala(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Band `band`'s sign key of `v` over `perBand`-plane slices of
    * `planes`: bit p = (v · planes(band·perBand + p)) > 0, tagged with
    * the band index so distinct bands never share buckets. For
    * band 0 / perBand 8 the untagged bits ARE [[lshBucket]]'s value. */
  private def signKey(v: Array[Double], planes: Array[Array[Double]],
                      band: Int, perBand: Int): Long = {
    var key = 0L
    var p = 0
    while (p < perBand) {
      if (dotScala(v, planes(band * perBand + p)) > 0) key |= 1L << p
      p += 1
    }
    (band.toLong << 32) | key
  }

  /** Frozen embedding near-dup index for [[semanticAdmitStream]] — the
    * admission-gate family's member for the EMBEDDING modality (text:
    * `StreamAggs.bloomAdmitStream`/`decontamGate`; media:
    * `Multimodal.imageAdmitStream`/`audioAdmitStream`/
    * `videoAdmitStream`). Reference vectors are bucketed by banded
    * sign-LSH keys: band b keys on the sign pattern of seeded
    * hyperplanes [b·P, (b+1)·P) — the SAME md5-seeded matrix as
    * [[lshBucket]], so the (1, 8) config (what AUTO resolves to below
    * [[Similarity.semanticAutoWideRefs]] refs) keys bit-identically to
    * q35's bucket and gate rejections equal q35's batch pairs
    * restricted to (arrival, reference) (spec-asserted, and
    * hash-checked against a DuckDB anti-join oracle as q146). At/above
    * that ref count AUTO resolves to the semanP serving layout (4,
    * 16), whose probe rate holds through 200k refs where (1, 8)
    * decays linearly (SCALE.md gatefit table). Every candidate is verified with the EXACT
    * cosine, so extra bands can only add TRUE near-dup rejections,
    * never a false positive.
    *
    * SCALE SHAPE: entries are exactly bands × references (one bucket
    * per band per reference — content-size-independent, unlike the
    * shingle/fingerprint indexes), so the broadcast is dominated by
    * the vectors themselves (8·dims bytes each; ~51 MB at 100k refs ×
    * 64 dims) — the media gates' curated-bounded-reference-set
    * contract. Probe cost is the per-band bucket load in exact
    * cosines: uniform bound refs/2^planesPerBand per band, but
    * embedding corpora CLUSTER, so real buckets skew above it
    * (measured in SCALE.md's gatefit table). `planesPerBand` is the
    * load lever (16 → 65 536 keys per band), `bands` the recall
    * lever — the standard banded-LSH trade. NO bucket cap: q35 has
    * none (its 2^P key space is the bound), and a dropped bucket here
    * would silently admit true near-dups with no batch analog to
    * mirror. */
  case class SemanticDupIndex(threshold: Double, bands: Int,
                              planesPerBand: Int,
                              planes: Array[Array[Double]],
                              refVecs: Array[Array[Double]],
                              refNorms: Array[Double],
                              buckets: scala.collection.mutable.LongMap[Array[Int]]) {
    /** true iff `v` cosine-near-dups (sim ≥ threshold) some reference
      * sharing a band key with it. Zero-norm vectors never hit on
      * either side (0/0 = NaN, and NaN ≥ threshold is false — the
      * batch op's exact behavior). */
    def hits(v: Array[Double]): Boolean = {
      val nrm = math.sqrt(dotScala(v, v))
      // NO cross-band candidate dedup, deliberately (unlike the
      // audio/video probes' BitSet): a hit early-returns, and for a
      // MISS a candidate repeats across bands only when an unrelated
      // reference matches the probe in 2+ independent band keys
      // (~bucketload/2^P extra verifies, ~1%) — while a
      // reference-sized BitSet costs refs/8 bytes of zeroing per
      // probe, which MEASURED as ~2/3 of the 16-plane config's probe
      // time at 100k refs
      var band = 0
      while (band < bands) {
        val b = buckets.getOrNull(signKey(v, planes, band, planesPerBand))
        if (b != null) {
          var k = 0
          while (k < b.length) {
            val id = b(k)
            if (dotScala(v, refVecs(id)) / (nrm * refNorms(id)) >= threshold)
              return true
            k += 1
          }
        }
        band += 1
      }
      false
    }
  }

  /** Past this reference count the AUTO layout (bands/planesPerBand
    * left at 0) switches from the q35-bit-identical 1×8 default to the
    * semanP serving config (4×16-plane bands): gatefit measures the
    * 1×8 layout's probe decaying LINEARLY with refs (a 256-key space
    * walks ~refs/256 exact cosines per probe — 1 275 probes/s at 200k)
    * while 4×16 holds 146–447 k probes/s at ~98.5% recall (SCALE.md
    * semantic table). Same discipline as the media fits' auto
    * `shards` (`Multimodal.fitImageDupIndex` resolves one shard per
    * `ImageShardTargetRefs` references), applied to the layout default
    * so a plain `fitSemanticDupIndex(refs)` at scale cannot silently
    * get the decaying layout. */
  val semanticAutoWideRefs = 20000

  /** Fit the frozen semantic index over a reference embedding frame
    * (`embedding` column; null vectors are skipped — they never pair
    * in batch either). ONE bounded collect: the vectors must come to
    * the driver anyway for the exact verify (the audio-index
    * argument), and each contributes exactly `bands` fixed-size index
    * entries — no content-driven fan-out to cap.
    *
    * `bands`/`planesPerBand` = 0 (the default) means AUTO, resolved
    * per knob from the collected reference count: below
    * [[semanticAutoWideRefs]] refs → the q35-bit-identical (1, 8);
    * at/above → the semanP serving layout (4, 16). Pass explicit
    * values to pin a layout (e.g. (1, 8) when q35 bucket
    * bit-identity matters more than probe rate at scale — extra
    * bands only ever ADD true near-dup rejections, so auto-widening
    * never introduces a false positive). */
  def fitSemanticDupIndex(embeddings: DataFrame, threshold: Double = 0.2,
                          bands: Int = 0, planesPerBand: Int = 0)
      : SemanticDupIndex = {
    require(bands >= 0, s"bands must be >= 1 (or 0 = auto), got $bands")
    require(planesPerBand >= 0 && planesPerBand <= 32,
      s"planesPerBand must be in [1, 32] (or 0 = auto), got $planesPerBand")
    val refVecs: Array[Array[Double]] = embeddings
      .select(asDouble(col("embedding")).as("emb"))
      .where(col("emb").isNotNull)
      .collect().map(_.getSeq[Double](0).toArray)
    val wide = refVecs.length >= semanticAutoWideRefs
    val bandsR = if (bands == 0) { if (wide) 4 else 1 } else bands
    val planesPerBandR =
      if (planesPerBand == 0) { if (wide) 16 else 8 } else planesPerBand
    // rows [0, 8) of this matrix ARE `planes` (same seeded formula),
    // which is what makes the small-refs auto config q35-bit-identical
    val allPlanes: Array[Array[Double]] =
      Array.tabulate(bandsR * planesPerBandR, dims)((p, i) =>
        (h32Scala(s"p${p}_$i") % 2001 - 1000) / 1000.0)
    val byKey = new java.util.HashMap[Long, java.util.ArrayList[Integer]]
    refVecs.zipWithIndex.foreach { case (v, idx) =>
      var band = 0
      while (band < bandsR) {
        byKey.computeIfAbsent(signKey(v, allPlanes, band, planesPerBandR),
          _ => new java.util.ArrayList[Integer]).add(idx)
        band += 1
      }
    }
    // probe-side layout: primitive open-addressed long keys (the
    // round-10 audio/video discipline)
    val buckets =
      new scala.collection.mutable.LongMap[Array[Int]](byKey.size * 2)
    byKey.forEach { (key, ids) =>
      buckets.update(key, Array.tabulate(ids.size)(ids.get(_).intValue()))
    }
    buckets.repack()
    SemanticDupIndex(threshold, bandsR, planesPerBandR, allPlanes, refVecs,
      refVecs.map(v => math.sqrt(dotScala(v, v))), buckets)
  }

  /** Streaming semantic admission against the frozen index: admit each
    * arriving row unless its embedding cosine-near-dups a reference.
    * STATELESS per row — the media gates' shape verbatim: the index
    * ships once per executor, no joins/shuffles/state/watermark; works
    * identically on a batch frame (q146's spelling). Null embeddings
    * admit (they never pair in batch). Arriving near-dups of EACH
    * OTHER both admit (frozen index) — compose with
    * [[semanticDedupStream]] for in-stream collapse. The caller
    * broadcasts the fitted index and owns the broadcast's lifecycle. */
  def semanticAdmitStream(stream: DataFrame, embCol: Column,
                          index: org.apache.spark.broadcast.Broadcast[SemanticDupIndex])
      : DataFrame = {
    val hit = udf { emb: Array[Double] =>
      emb != null && index.value.hits(emb)
    }
    stream.filter(!hit(embCol.cast("array<double>")))
  }

  /** In-stream embedding dedup — the media dedup twins' composition
    * for the embedding modality: key the watermark-bounded dedup on
    * the 64-bit sign-LSH signature (planes [0, 64) of the same seeded
    * matrix — an embedding SimHash), so byte-identical vectors AND
    * perturbations too small to flip any of 64 signs collapse to the
    * first arrival. A near-dup that flips even one sign survives, by
    * design — that is [[semanticAdmitStream]]'s (reference set) or
    * q35's (batch) job. State is delay × rate keys of 8 bytes each;
    * the signature is one map-side 64-dot-product pass per row. `id`
    * (default -1 = unattributed) rides into the null-embedding error
    * so one bad row names itself instead of killing the query
    * anonymously (the media twins' contract). */
  def semanticDedupStream(stream: DataFrame, embCol: Column, ts: Column,
                          watermarkDelay: String,
                          id: Column = lit(-1L)): DataFrame = {
    val signPlanes: Array[Array[Double]] = Array.tabulate(64, dims)((p, i) =>
      (h32Scala(s"p${p}_$i") % 2001 - 1000) / 1000.0)
    val sig = udf { (rowId: Long, emb: Seq[Double]) =>
      if (emb == null) throw new IllegalArgumentException(
        (if (rowId == -1L) "stream row" else s"vec $rowId") +
          ": null embedding")
      val v = emb.toArray
      var key = 0L
      var p = 0
      while (p < 64) {
        if (dotScala(v, signPlanes(p)) > 0) key |= 1L << p
        p += 1
      }
      key
    }
    graft.streaming.StreamAggs.dedupWithinWatermark(
        stream.withColumn("__esig", sig(id, embCol.cast("array<double>"))),
        ts, watermarkDelay, "__esig")
      .drop("__esig")
  }

  /** q146: the semantic admission gate as a batch query the DuckDB
    * oracle can hash-check — the FIRST serving gate with a full SQL
    * oracle (the media gates' codecs have no SQL spelling; this one is
    * pure math). References are vec_id % 4 < 2, arrivals the rest; the
    * output is the admitted arrivals' ids. Runs the ACTUAL gate — fit
    * + semanticAdmitStream — not a batch re-derivation.
    *
    * The layout is PINNED to (1, 8): the DuckDB oracle SQL hardcodes
    * the 1×8 bucketing, and AUTO would silently switch to (4, 16) at
    * ≥[[semanticAutoWideRefs]] reference vectors — whose rejections
    * are a strict superset — breaking the hash-identity contract the
    * moment someone runs the oracle sweep on a replicated-embeddings
    * scale (200k vectors in SCALE.md's 100× record). AUTO stays the
    * right default for serving callers; the oracle-checked query must
    * be layout-stable regardless of data size. */
  def semanticAdmitQuery(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val index = fitSemanticDupIndex(emb.filter(col("vec_id") % 4 < 2),
      bands = 1, planesPerBand = 8)
    semanticAdmitStream(emb.filter(col("vec_id") % 4 >= 2),
        col("embedding"), s.sparkContext.broadcast(index))
      .select(col("vec_id"))
  }

  /** splitmix64 finalizer folded to [-1, 1] — the seeded component
    * generator behind the synthetic embedding fixture (the media
    * fixtures' determinism discipline: same id → same vector on every
    * executor and in the profiling harnesses, no RNG state). */
  private def mix(x0: Long): Double = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x = x ^ (x >>> 31)
    x.toDouble / Long.MaxValue
  }

  /** One fixture vector: groups of 4 ids share a base vector
    * (component = mix(group, dim)); members 1-3 add per-member seeded
    * noise at 0.12·member scale, landing them at cosine ≈ 0.99-0.95
    * to the base — near-dup grade, but close enough to the sign-LSH
    * boundaries that single-band bucket recall is genuinely imperfect
    * (what the gatefit harness measures). */
  def nearDupEmbedding(id: Long): Array[Float] = {
    val grp = id / 4
    val member = (id % 4).toInt
    Array.tabulate(dims) { i =>
      (mix(grp * 131 + i) + member * 0.12 * mix(id * 131 + i + 7919))
        .toFloat
    }
  }

  /** A fresh seeded perturbation of fixture vector `id` — an arriving
    * near-dup that is NOT in the reference set (exact copies always
    * share the bucket, so they measure nothing). */
  def perturbedEmbedding(id: Long, seed: Long, scale: Double = 0.12)
      : Array[Float] = {
    val base = nearDupEmbedding(id)
    Array.tabulate(base.length) { i =>
      (base(i) + scale * mix(seed * 131 + i + 104729)).toFloat
    }
  }

  /** Synthetic near-dup embedding table over a `doc_id` frame (the
    * media `nearDup*Table` shape): (vec_id, embedding, label) rows,
    * generated distributed and deterministic. */
  def nearDupEmbeddingTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      (id, nearDupEmbedding(id).toSeq, (id / 4 % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  // ---- driver bindings -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q56_label_outliers" -> ((s, d) => labelOutliers(Tables.embeddings(s, d))),
    "q52_quantize_int8" -> ((s, d) => quantizeInt8(Tables.embeddings(s, d))),
    "q49_knn_classify" -> ((s, d) => knnClassify(Tables.embeddings(s, d), 16, 5)),
    "q30_knn_cosine" -> ((s, d) => knnBruteForce(Tables.embeddings(s, d), 16, 5)),
    "q31_knn_lsh"    -> ((s, d) => knnLsh(Tables.embeddings(s, d), 16, 5)),
    "q35_cosine_dups" -> ((s, d) => cosineNearDupPairs(Tables.embeddings(s, d), 0.2)),
    "q34_kmeans_refine" -> ((s, d) => kmeansRefine(Tables.embeddings(s, d))),
    "q36_knn_ivf"    -> ((s, d) => knnIvf(Tables.embeddings(s, d), 16, 5)),
    "q38_lsh_recall" -> ((s, d) => lshRecall(Tables.embeddings(s, d), 16, 5)),
    "q41_ivf_recall" -> ((s, d) => ivfRecall(Tables.embeddings(s, d), 16, 5)),
    "q67_hybrid_rrf" -> ((s, d) => hybridRrf(Tables.documents(s, d),
      Tables.embeddings(s, d), TextOps.bm25Terms)),
    "q68_emb_stats" -> ((s, d) => embeddingStats(Tables.embeddings(s, d))),
    "q69_contrastive" -> ((s, d) => contrastivePairs(Tables.embeddings(s, d))),
    "q80_pq_encode" -> ((s, d) => pqEncode(Tables.embeddings(s, d))),
    "q82_pq_search" -> ((s, d) => pqSearch(Tables.embeddings(s, d), 16, 5)),
    "q84_semantic_prune" -> ((s, d) => semanticPrune(Tables.embeddings(s, d))),
    "q86_rand_proj" -> ((s, d) => randomProject(Tables.embeddings(s, d))),
    "q88_cluster_quality" -> ((s, d) => clusterQuality(Tables.embeddings(s, d))),
    "q99_ivf_occupancy" -> ((s, d) => ivfOccupancy(Tables.embeddings(s, d))),
    "q118_diverse_sample" -> ((s, d) => diverseSample(Tables.embeddings(s, d))),
    "q120_semantic_decon" -> ((s, d) => semanticDecon(Tables.embeddings(s, d))),
    "q129_trunc_recall" -> ((s, d) => truncationRecall(Tables.embeddings(s, d))),
    "q130_two_stage" -> ((s, d) => knnTwoStage(Tables.embeddings(s, d))),
    "q146_semantic_admit" -> ((s, d) => semanticAdmitQuery(s, d))
  )

  private val dotSql = (a: String, b: String) => s"""
    list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"""
  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  // Double.toString prints the shortest round-tripping decimal, and
  // DuckDB's decimal-literal → DOUBLE parse is correctly rounded, so
  // these literals reproduce the exact Scala doubles.
  private def planesSqlLit: String =
    planes.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n               ", "]::DOUBLE[][]")

  private def projSignsSqlLit: String =
    projSigns.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n               ", "]::DOUBLE[][]")

  private def bucketsSql = s"""
      planes AS (
        SELECT $planesSqlLit AS ps),
      b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               list_reduce(list_prepend(0::BIGINT, generate_series(0, 7)),
                 (acc, p) -> acc + CASE WHEN
                   (${dotSql("emb", "ps[p + 1]")}) > 0
                   THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM embeddings CROSS JOIN planes)"""

  /** IVF index CTE chain (expects `base(vec_id, emb)`): modulo-sampled
    * centroids, full assignment, 2-probe candidate lists, cosine
    * scores — shared by the q36 top-k and the q41 recall oracle. */
  private def ivfChainSql = s"""cents AS (
        SELECT vec_id AS c_id, emb AS c_emb FROM base
        WHERE vec_id % 127 = 0),
      sc AS (
        SELECT base.vec_id, c_id,
               ${cosSql("emb", "c_emb")} AS c_sim
        FROM base CROSS JOIN cents),
      assign AS (
        SELECT vec_id, c_id AS centroid FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY c_sim DESC, c_id ASC) AS rn
          FROM sc)
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, c_id AS centroid FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY c_sim DESC, c_id ASC) AS rn
          FROM sc WHERE vec_id < 16)
        WHERE rn <= 2),
      cands AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON p.centroid = a.centroid
        WHERE p.query_id <> a.vec_id),
      scored AS (
        SELECT query_id, neighbor_id,
               ${cosSql("q.emb", "c.emb")} AS sim
        FROM cands
        JOIN base q ON q.vec_id = query_id
        JOIN base c ON c.vec_id = neighbor_id)"""

  private def pqD2Sql(sv: String, ce: String) =
    s"((${dotSql(sv, sv)}) - 2.0 * (${dotSql(sv, ce)})) + (${dotSql(ce, ce)})"

  /** One PQ subspace's CTE chain (expects `base(vec_id, emb)` and
    * `sdims`): subvectors b$s, modulo-seeded centroids c0$s, one Lloyd
    * round (assignment a$s, integerized means m$s, refined codebook
    * c1$s), final codes + per-subspace d² f$s. Shared by the q80
    * encode and q82 ADC oracles. */
  private def pqChainSql(s: Int, sub: Int): String = {
    val (lo, hi) = (s * sub + 1, (s + 1) * sub)
    s"""b$s AS (SELECT vec_id, list_slice(emb, $lo, $hi) AS sv FROM base),
      c0$s AS (
        SELECT vec_id AS c_id, list_slice(emb, $lo, $hi) AS c_emb
        FROM base WHERE vec_id % 127 = 0),
      a$s AS (
        SELECT vec_id, sv, c_id AS code FROM (
          SELECT b.vec_id, b.sv, c.c_id,
                 row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY ${pqD2Sql("b.sv", "c.c_emb")} ASC, c.c_id ASC) AS rn
          FROM b$s b CROSS JOIN c0$s c) WHERE rn = 1),
      m$s AS (
        SELECT code, sdim,
               (CAST(sum(CAST(floor(sv[sdim] * 4503599627370496.0)
                     AS DECIMAL(38,0))) AS DOUBLE)
                 / 4503599627370496.0) / count(*) AS mean
        FROM a$s CROSS JOIN sdims GROUP BY code, sdim),
      c1$s AS (
        SELECT code AS c_id, list(mean ORDER BY sdim) AS c_emb
        FROM m$s GROUP BY code),
      f$s AS (
        SELECT vec_id, code, d2 FROM (
          SELECT b.vec_id, c.c_id AS code,
                 ${pqD2Sql("b.sv", "c.c_emb")} AS d2,
                 row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY ${pqD2Sql("b.sv", "c.c_emb")} ASC, c.c_id ASC) AS rn
          FROM b$s b CROSS JOIN c1$s c) WHERE rn = 1)"""
  }

  /** One Lloyd iteration's CTE chain (assignment + int64-exact means
    * at scale 2^52 + reassembled centroid lists). */
  private def lloydSql(n: Int, centsIn: String) = s"""
      sc$n AS (
        SELECT b.vec_id, b.emb, c.c_id,
               ${cosSql("b.emb", "c.c_emb")} AS s
        FROM base b CROSS JOIN $centsIn c),
      a$n AS (
        SELECT vec_id, emb, c_id AS centroid FROM (
          SELECT vec_id, emb, c_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, c_id ASC) AS rn
          FROM sc$n)
        WHERE rn = 1),
      m$n AS (
        SELECT centroid, dim,
               (CAST(sum(CAST(floor(emb[dim] * 4503599627370496.0)
                     AS DECIMAL(38,0))) AS DOUBLE)
                 / 4503599627370496.0) / count(*) AS mean
        FROM a$n CROSS JOIN dims GROUP BY centroid, dim),
      cents$n AS (
        SELECT centroid AS c_id, list(mean ORDER BY dim) AS c_emb
        FROM m$n GROUP BY centroid)"""

  def oracle: Map[String, String] = Map(
    "q86_rand_proj" -> s"""
      WITH signs AS (SELECT $projSignsSqlLit AS sg),
      b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, sg
        FROM embeddings CROSS JOIN signs)
      SELECT vec_id,
             ${(1 to rProj).map(j =>
               s"(${dotSql("emb", s"sg[$j]")}) AS p$j").mkString(",\n             ")}
      FROM b""",
    "q56_label_outliers" -> s"""
      WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      sums AS (
        SELECT label, dim,
               (CAST(sum(CAST(floor(emb[dim] * 4503599627370496.0)
                     AS DECIMAL(38,0))) AS DOUBLE)
                 / 4503599627370496.0) / count(*) AS mean
        FROM base CROSS JOIN dims GROUP BY label, dim),
      cents AS (
        SELECT label, list(mean ORDER BY dim) AS c_emb
        FROM sums GROUP BY label),
      scored AS (
        SELECT b.label, vec_id,
               ${cosSql("b.emb", "c.c_emb")} AS centroid_sim
        FROM base b JOIN cents c ON b.label = c.label)
      SELECT label, vec_id, centroid_sim, rn FROM (
        SELECT label, vec_id, centroid_sim,
               row_number() OVER (PARTITION BY label
                 ORDER BY centroid_sim ASC, vec_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5""",
    /* q80: four independent 16-dim L2 Lloyd chains (same seeding and
     * integerized means as q34), assignment via the |x|²-2x·c+|c|²
     * identity with the shared dot fold — parenthesized exactly as
     * the Spark expression associates, so every d2 double matches. */
    "q80_pq_encode" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      sdims AS (SELECT unnest(generate_series(1, 16)) AS sdim),
      ${(0 until 4).map(pqChainSql(_, 16)).mkString(",\n      ")}
      SELECT f0.vec_id,
             f0.code AS code_0, f1.code AS code_1,
             f2.code AS code_2, f3.code AS code_3,
             f0.d2 + f1.d2 + f2.d2 + f3.d2 AS err
      FROM f0 JOIN f1 USING (vec_id) JOIN f2 USING (vec_id)
        JOIN f3 USING (vec_id)""",
    /* q84: coarse assignment exactly as q36's (cosine argmax, ties to
     * the smallest centroid id), cluster-capped in-cluster pairs, drop
     * the larger id of any ≥-threshold pair. */
    /* q88: same cents/sc/window chain as q84; a = 1 − rn1.s and
     * b = 1 − rn2.s are value-identical to the Spark side's sorted
     * sim array under ties; means via DECIMAL(18,9) sums. */
    "q88_cluster_quality" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      cents AS (
        SELECT vec_id AS c_id, emb AS c_emb FROM base
        WHERE vec_id % 127 = 0),
      sc AS (
        SELECT base.vec_id, c_id,
               ${cosSql("emb", "c_emb")} AS s
        FROM base CROSS JOIN cents),
      rk AS (
        SELECT vec_id, c_id, s,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, c_id ASC) AS rn
        FROM sc),
      per AS (
        SELECT r1.vec_id, r1.c_id AS centroid,
               1.0 - r1.s AS a, 1.0 - r2.s AS b
        FROM rk r1
        JOIN rk r2 ON r1.vec_id = r2.vec_id AND r2.rn = 2
        WHERE r1.rn = 1),
      sil AS (
        SELECT centroid, a,
               CASE WHEN b = 0 THEN 0.0 ELSE (b - a) / b END AS s
        FROM per)
      SELECT centroid, count(*) AS n,
             CAST(sum(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / count(*)
               AS mean_silhouette,
             CAST(sum(CAST(a AS DECIMAL(18,9))) AS DOUBLE) / count(*)
               AS mean_cohesion
      FROM sil GROUP BY centroid""",
    /* q118: q84's assignment CTEs, then the q85 seeded-priority
     * row_number per cluster. */
    "q118_diverse_sample" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      cents AS (
        SELECT vec_id AS c_id, emb AS c_emb FROM base
        WHERE vec_id % 127 = 0),
      sc AS (
        SELECT base.vec_id, c_id,
               ${cosSql("emb", "c_emb")} AS s
        FROM base CROSS JOIN cents),
      assign AS (
        SELECT vec_id, c_id AS centroid FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, c_id ASC) AS rn
          FROM sc)
        WHERE rn = 1),
      pri AS (
        SELECT vec_id, centroid,
               ('0x' || substr(md5('div|' || CAST(vec_id AS VARCHAR)),
                 1, 8))::BIGINT AS h
        FROM assign)
      SELECT vec_id, centroid FROM (
        SELECT vec_id, centroid,
               row_number() OVER (PARTITION BY centroid
                 ORDER BY h ASC, vec_id ASC) AS rn
        FROM pri)
      WHERE rn <= 8""",
    /* q120: brute-force cross join against the label-9 benchmark set,
     * argmax by (cos DESC, bench id ASC), threshold filter — the
     * same numbers the literal-fold pure map produces. */
    "q120_semantic_decon" -> s"""
      WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      bench AS (
        SELECT vec_id AS b_id, emb AS b_emb FROM base WHERE label = 9),
      sc AS (
        SELECT base.vec_id, b_id,
               ${cosSql("emb", "b_emb")} AS c
        FROM base CROSS JOIN bench
        WHERE base.label <> 9),
      best AS (
        SELECT vec_id, b_id AS bench_id, c AS cos FROM (
          SELECT vec_id, b_id, c,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY c DESC, b_id ASC) AS rn
          FROM sc)
        WHERE rn = 1)
      SELECT vec_id, bench_id, cos FROM best WHERE cos >= 0.38""",
    "q84_semantic_prune" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      cents AS (
        SELECT vec_id AS c_id, emb AS c_emb FROM base
        WHERE vec_id % 127 = 0),
      sc AS (
        SELECT base.vec_id, c_id,
               ${cosSql("emb", "c_emb")} AS s
        FROM base CROSS JOIN cents),
      assign AS (
        SELECT vec_id, c_id AS centroid FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, c_id ASC) AS rn
          FROM sc)
        WHERE rn = 1),
      sized AS (
        SELECT centroid FROM assign GROUP BY centroid
        HAVING count(*) > 1 AND count(*) <= 1000),
      pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM assign a
        JOIN assign b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
        JOIN sized s ON s.centroid = a.centroid),
      close AS (
        SELECT DISTINCT p.b
        FROM pairs p
        JOIN base x ON x.vec_id = p.a
        JOIN base y ON y.vec_id = p.b
        WHERE ${cosSql("x.emb", "y.emb")} >= 0.2)
      SELECT vec_id, centroid FROM assign
      WHERE vec_id NOT IN (SELECT b FROM close)""",
    /* q82: same four Lloyd chains as q80, then ADC — per (query,
     * vector, subspace) the d² of the query subvector against the
     * vector's ASSIGNED refined centroid, summed left-to-right across
     * subspaces exactly as the Spark LUT fold associates. */
    "q82_pq_search" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      sdims AS (SELECT unnest(generate_series(1, 16)) AS sdim),
      ${(0 until 4).map(pqChainSql(_, 16)).mkString(",\n      ")},
      ${(0 until 4).map(s => s"""p$s AS (
        SELECT q.vec_id AS query_id, f.vec_id AS neighbor_id,
               ${pqD2Sql("q.sv", "c.c_emb")} AS d
        FROM b$s q, f$s f JOIN c1$s c ON f.code = c.c_id
        WHERE q.vec_id < 16)""").mkString(",\n      ")},
      adc AS (
        SELECT query_id, neighbor_id,
               p0.d + p1.d + p2.d + p3.d AS adist
        FROM p0 JOIN p1 USING (query_id, neighbor_id)
          JOIN p2 USING (query_id, neighbor_id)
          JOIN p3 USING (query_id, neighbor_id)
        WHERE query_id <> neighbor_id)
      SELECT * FROM (
        SELECT query_id, neighbor_id, adist,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adist ASC, neighbor_id ASC) AS rn
        FROM adc)
      WHERE rn <= 5""",
    "q34_kmeans_refine" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      cents0 AS (
        SELECT vec_id AS c_id, emb AS c_emb FROM base
        WHERE vec_id % 127 = 0),
      ${lloydSql(1, "cents0")},
      ${lloydSql(2, "cents1")}
      SELECT centroid, dim, mean FROM m2""",
    "q52_quantize_int8" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      s AS (
        SELECT vec_id, emb,
               list_max(list_transform(emb, v -> abs(v))) / 127.0 AS scale
        FROM base),
      dims AS (SELECT unnest(generate_series(1, 64)) AS dim)
      SELECT vec_id, scale, dim,
             CASE WHEN scale = 0 THEN 0
                  ELSE CAST(floor(emb[dim] / scale + 0.5) AS BIGINT)
             END AS qval
      FROM s CROSS JOIN dims""",
    "q49_knn_classify" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
      bfq AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM base
        WHERE vec_id < 16),
      knn AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("q_emb", "c.emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM bfq JOIN base c ON query_id <> c.vec_id)
        WHERE rn <= 5),
      votes AS (
        SELECT k.query_id, b.label, count(*) AS c
        FROM knn k JOIN base b ON b.vec_id = k.neighbor_id
        GROUP BY 1, 2),
      pred AS (
        SELECT query_id, label AS predicted FROM (
          SELECT query_id, label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, label ASC) AS rn
          FROM votes)
        WHERE rn = 1)
      SELECT p.query_id, b.label AS true_label, p.predicted
      FROM pred p JOIN base b ON b.vec_id = p.query_id""",
    "q38_lsh_recall" -> s"""
      WITH $bucketsSql,
      bfq AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM b WHERE vec_id < 16),
      bf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("q_emb", "c.emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM bfq JOIN b c ON query_id <> c.vec_id)
        WHERE rn <= 5),
      lq AS (
        SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
        FROM b WHERE vec_id < 16),
      lsh AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("q_emb", "c.emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM lq JOIN b c ON q_bucket = c.bucket AND query_id <> c.vec_id)
        WHERE rn <= 5)
      SELECT bf.query_id,
             count(lsh.neighbor_id) AS n_hits,
             CAST(count(lsh.neighbor_id) AS DOUBLE) / 5 AS recall
      FROM bf LEFT JOIN lsh
        ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
      GROUP BY bf.query_id""",
    "q35_cosine_dups" -> s"""
      WITH $bucketsSql
      SELECT x.vec_id AS a, y.vec_id AS b,
             ${cosSql("x.emb", "y.emb")} AS sim
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE ${cosSql("x.emb", "y.emb")} >= 0.2""",
    "q36_knn_ivf" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      $ivfChainSql
      SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5""",
    /* q99: the ivf chain's assignment collapsed to the cell-occupancy
     * distribution; empty cells fold back from the centroid list. */
    "q99_ivf_occupancy" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      $ivfChainSql,
      occ0 AS (SELECT centroid, count(*) AS c FROM assign GROUP BY 1),
      occ AS (
        SELECT c_id AS centroid, COALESCE(c, 0) AS c
        FROM cents LEFT JOIN occ0 ON cents.c_id = occ0.centroid),
      rk AS (
        SELECT c, centroid,
               row_number() OVER (ORDER BY c, centroid) AS rk
        FROM occ),
      tot AS (
        SELECT count(*) AS n_cells, CAST(sum(c) AS BIGINT) AS n_vectors,
               CAST(min(c) AS BIGINT) AS min_c,
               CAST(max(c) AS BIGINT) AS max_c
        FROM occ)
      SELECT n_cells, n_vectors, min_c, max_c,
             CAST(min(CASE WHEN rk * 2 >= n_cells THEN c END) AS BIGINT)
               AS p50,
             CAST(max_c AS DOUBLE) * CAST(n_cells AS DOUBLE)
               / CAST(n_vectors AS DOUBLE) AS balance
      FROM rk CROSS JOIN tot
      GROUP BY 1, 2, 3, 4""",
    "q41_ivf_recall" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      bfq AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM base
        WHERE vec_id < 16),
      bf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("q_emb", "c.emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM bfq JOIN base c ON query_id <> c.vec_id)
        WHERE rn <= 5),
      $ivfChainSql,
      ivf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rn
          FROM scored)
        WHERE rn <= 5)
      SELECT bf.query_id,
             count(ivf.neighbor_id) AS n_hits,
             CAST(count(ivf.neighbor_id) AS DOUBLE) / 5 AS recall
      FROM bf LEFT JOIN ivf
        ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
      GROUP BY bf.query_id""",
    /* q129: full-width brute-force truth vs the same top-k over each
     * prefix width (list_slice mirrors the Spark slice; the widths
     * list pins the operator default). */
    "q129_trunc_recall" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      bfq AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM base
        WHERE vec_id < 16),
      bf AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("q_emb", "c.emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM bfq JOIN base c ON query_id <> c.vec_id)
        WHERE rn <= 5),
      wd AS (SELECT unnest([8, 16, 32]) AS w),
      ap AS (
        SELECT w, query_id, neighbor_id FROM (
          SELECT w, query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY w, query_id
                   ORDER BY ${cosSql("list_slice(q_emb, 1, w)",
                                     "list_slice(c.emb, 1, w)")} DESC,
                            c.vec_id ASC) AS rn
          FROM wd CROSS JOIN bfq JOIN base c ON query_id <> c.vec_id)
        WHERE rn <= 5)
      SELECT wd.w::BIGINT AS dims_kept,
             count(ap.neighbor_id) AS n_hits,
             count(*) AS n_truth,
             CAST(count(ap.neighbor_id) AS DOUBLE) / count(*) AS recall
      FROM wd CROSS JOIN bf
      LEFT JOIN ap ON ap.w = wd.w AND ap.query_id = bf.query_id
                  AND ap.neighbor_id = bf.neighbor_id
      GROUP BY 1""",
    /* q130: prefix-width top-25 candidates (list_slice stage 1), then
     * the exact full-width rerank to top-5 — defaults pinned to the
     * operator binding (width 8, m 25). */
    "q130_two_stage" -> s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      q AS (
        SELECT vec_id AS query_id, emb AS q_emb FROM base
        WHERE vec_id < 16),
      cand AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("list_slice(q_emb, 1, 8)",
                                     "list_slice(c.emb, 1, 8)")} DESC,
                            c.vec_id ASC) AS rn
          FROM q JOIN base c ON query_id <> c.vec_id)
        WHERE rn <= 25),
      rescored AS (
        SELECT cand.query_id, cand.neighbor_id,
               ${cosSql("q.q_emb", "c.emb")} AS sim
        FROM cand JOIN base c ON cand.neighbor_id = c.vec_id
                  JOIN q ON cand.query_id = q.query_id)
      SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM rescored)
      WHERE rn <= 5""",
    "q30_knn_cosine" -> s"""
      WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id < 16),
      c AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS c_emb
        FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
               ${cosSql("q_emb", "c_emb")} AS sim
        FROM q JOIN c ON query_id <> neighbor_id)
      SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5""",
    "q31_knn_lsh" -> s"""
      WITH planes AS (
        SELECT $planesSqlLit AS ps),
      b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               list_reduce(list_prepend(0::BIGINT, generate_series(0, 7)),
                 (acc, p) -> acc + CASE WHEN
                   (${dotSql("emb", "ps[p + 1]")}) > 0
                   THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM embeddings CROSS JOIN planes),
      q AS (
        SELECT vec_id AS query_id, emb AS q_emb, bucket AS q_bucket
        FROM b WHERE vec_id < 16),
      c AS (
        SELECT vec_id AS neighbor_id, emb AS c_emb, bucket FROM b),
      scored AS (
        SELECT query_id, neighbor_id,
               ${cosSql("q_emb", "c_emb")} AS sim
        FROM q JOIN c ON q_bucket = bucket AND query_id <> neighbor_id)
      SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM scored)
      WHERE rn <= 5""",
    "q69_contrastive" -> s"""
      WITH planes AS (
        SELECT $planesSqlLit AS ps),
      b AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               list_reduce(list_prepend(0::BIGINT, generate_series(0, 7)),
                 (acc, p) -> acc + CASE WHEN
                   (${dotSql("emb", "ps[p + 1]")}) > 0
                   THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        FROM embeddings CROSS JOIN planes),
      p AS (
        SELECT x.vec_id, x.label AS l1, y.vec_id AS cand, y.label AS l2,
               ${cosSql("x.emb", "y.emb")} AS sim
        FROM b x JOIN b y
          ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
      pos AS (
        SELECT vec_id, cand AS pos_id, sim AS pos_sim FROM (
          SELECT vec_id, cand, sim,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, cand ASC) AS rn
          FROM p WHERE l1 = l2) WHERE rn = 1),
      neg AS (
        SELECT vec_id, cand AS neg_id, sim AS neg_sim FROM (
          SELECT vec_id, cand, sim,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, cand ASC) AS rn
          FROM p WHERE l1 <> l2) WHERE rn = 1)
      SELECT vec_id, pos_id, pos_sim, neg_id, neg_sim
      FROM pos JOIN neg USING (vec_id)""",
    "q68_emb_stats" -> s"""
      WITH base AS (
        SELECT embedding::DOUBLE[] AS emb FROM embeddings),
      dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
      q AS (
        SELECT dim,
               CAST(floor(emb[dim] * 1048576.0) AS BIGINT) AS qv
        FROM base CROSS JOIN dims),
      sums AS (
        SELECT dim, count(*) AS n,
               sum(CAST(qv AS DECIMAL(38,0))) AS s,
               sum(CAST(qv * qv AS DECIMAL(38,0))) AS ss
        FROM q GROUP BY dim)
      SELECT dim, n,
             (CAST(s AS DOUBLE) / n) / 1048576.0 AS dim_mean,
             ((CAST(ss AS DOUBLE)
                 - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n) / n)
               / (1048576.0 * 1048576.0) AS dim_var
      FROM sums""",
    "q67_hybrid_rrf" -> s"""
      WITH lex AS (
        SELECT doc_id, rn AS rn_lex
        FROM (${TextOps.bm25OracleSql(TextOps.bm25Terms)}) l),
      q AS (
        SELECT embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id = 0),
      dense AS (
        SELECT doc_id, rn AS rn_dense FROM (
          SELECT c.vec_id AS doc_id,
                 row_number() OVER (
                   ORDER BY ${cosSql("q_emb", "c_emb")} DESC,
                            c.vec_id ASC) AS rn
          FROM (SELECT vec_id, embedding::DOUBLE[] AS c_emb
                FROM embeddings WHERE vec_id <> 0) c
          CROSS JOIN q)
        WHERE rn <= 20),
      fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(l.rn_lex, 0) AS rn_lex,
               coalesce(d.rn_dense, 0) AS rn_dense
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
      scored AS (
        SELECT doc_id, rn_lex, rn_dense,
               (CASE WHEN rn_lex > 0
                     THEN CAST(1.0 AS DOUBLE) / (60 + rn_lex)
                     ELSE CAST(0.0 AS DOUBLE) END)
             + (CASE WHEN rn_dense > 0
                     THEN CAST(1.0 AS DOUBLE) / (60 + rn_dense)
                     ELSE CAST(0.0 AS DOUBLE) END) AS rrf
        FROM fused)
      SELECT doc_id, rn_lex, rn_dense, rrf,
             CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
               AS INT) AS rn
      FROM scored""",
    /* q146: the semantic admission gate — an arrival (vec_id % 4 >= 2)
     * is admitted iff NO reference (vec_id % 4 < 2) shares its q35
     * sign-LSH bucket with cosine >= 0.2. Spelled join + NOT IN, not
     * NOT EXISTS: DuckDB cannot bind the cosine lambdas against a
     * correlated outer column. */
    "q146_semantic_admit" -> s"""
      WITH $bucketsSql,
      rej AS (
        SELECT DISTINCT x.vec_id
        FROM b x JOIN b y ON x.bucket = y.bucket
        WHERE x.vec_id % 4 >= 2 AND y.vec_id % 4 < 2
          AND ${cosSql("x.emb", "y.emb")} >= 0.2)
      SELECT vec_id FROM b
      WHERE vec_id % 4 >= 2
        AND vec_id NOT IN (SELECT vec_id FROM rej)"""
  )
}

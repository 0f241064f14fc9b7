package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Aggregators, Portable}
import graft.functions.Portable._
import graft.operators.{Corpus, Dedup, TextOps}

/** Dev-scratch stage-level profiling, one parameterized harness
  * (round-7 fold of the former ProfileQ20/Q29/Q34/Q55/Q58/Q83/Q83B/
  * Q83C one-offs — the findings each produced are recorded in the
  * operators' scaladoc and SCALE.md; the sections stay runnable so
  * the numbers can be reproduced).
  *
  * `runMain graft.tools.ProfileOps [section ...]` with sections
  * `ops` (default: the original mixed scratch), `q20`, `q29`,
  * `q34`, `q55`, `q58`, `q83`, `q83b`, `q83c`.
  */
object ProfileOps {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sections: Map[String, SparkSession => Unit] = Map(
      "ops" -> scratch, "q20" -> q20, "q29" -> q29, "q34" -> q34,
      "q55" -> q55, "q58" -> q58, "q83" -> q83, "q83b" -> q83b,
      "q83c" -> q83c, "q137" -> q137, "q133" -> q133)
    val run = if (args.isEmpty) Seq("ops") else args.toSeq
    run.foreach { s =>
      println(s"== section $s")
      sections.getOrElse(s,
        (_: SparkSession) => sys.error(
          s"unknown section $s (have ${sections.keys.toSeq.sorted})"))(spark)
    }
    spark.stop()
  }

  private val d = "/root/testdata/sf0.1"

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** min-of-2 noop-sink timings after `warm` warm runs — the Bench
    * discipline, shared by every section. */
  private def time(name: String, warm: Int = 1)(f: => DataFrame): Unit = {
    (1 to warm).foreach(_ => noop(f))
    val times = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); noop(f); (System.nanoTime() - t0) / 1e9 }
    println(f"$name%-40s ${times.min}%7.2f s (runs: ${
      times.map(t => f"$t%.2f").mkString(", ")})")
  }

  /** The original mixed scratch: shingle-construction alternatives,
    * capped inverted-index stages, a bucketed co-located join, and
    * reference ops. */
  private def scratch(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    def timeN(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }
    timeN("docs scan")(docs.count())
    timeN("docs scan warm")(docs.count())
    val slice_based = docs.select(col("doc_id"),
      explode(shingles(words(col("text")), 3)).as("shingle"))
    timeN("shingles slice HOF")(slice_based.count())
    val w = words(col("text"))
    val fast = docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3) // sequence(0, neg) would descend
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")).as("shingle"))
    timeN("shingles element_at HOF")(fast.count())
    val inv = docs.select(col("doc_id"),
      explode(shingles(words(col("text")), 3)).as("shingle")).distinct()
    timeN("inv (shingle explode+dist)")(inv.count())
    val invh = docs.select(col("doc_id"),
        explode(shingles(words(col("text")), 3)).as("shingle"))
      .select(col("doc_id"), hash32(col("shingle")).as("sh")).distinct()
    timeN("inv hashed")(invh.count())
    val capped = inv.join(
      inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100), "shingle")
    timeN("capped")(capped.count())
    val cp = capped.persist()
    cp.count()
    val cands = cp.select(col("shingle"), col("doc_id").as("a"))
      .join(cp.select(col("shingle").as("s2"), col("doc_id").as("b")),
        col("shingle") === col("s2") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    timeN("cands (pair join+distinct)")(cands.count())
    val wsets = docs.select(col("doc_id"),
      array_distinct(words(col("text"))).as("wset")).persist()
    wsets.count()
    val joined = cands.join(wsets.toDF("a", "a_w"), "a")
      .join(wsets.toDF("b", "b_w"), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("a_w"), col("b_w"))).cast("double") /
          size(array_union(col("a_w"), col("b_w")))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    timeN("jaccard join+filter")(joined.count())

    // bucketed co-located join: zero shuffle exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS li_drive"); spark.sql("DROP TABLE IF EXISTS ord_drive")
    graft.core.Bucketing.writeBucketed(Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_quantity")), "li_drive", "l_orderkey", 8)
    graft.core.Bucketing.writeBucketed(Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice")), "ord_drive", "o_orderkey", 8)
    val bj = spark.table("li_drive").join(spark.table("ord_drive"),
      col("l_orderkey") === col("o_orderkey"))
    bj.collect()
    val bplan = bj.queryExecution.executedPlan.toString
    println("BUCKETED_JOIN shuffle=" + bplan.contains("Exchange hashpartitioning")
      + " smj=" + bplan.contains("SortMergeJoin") + " rows=" + bj.count())
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    timeN("q20 wordcount")(graft.operators.TextOps.wordCount(docs).count())
    timeN("q11 hot users")(graft.operators.EventOps.hotUsers(
      Tables.events(spark, d), 3).count())
    timeN("q26 minhash pairs")(graft.operators.Dedup.minhashPairs(docs).count())
    cp.unpersist(); wsets.unpersist()
  }

  /** Decompose q20 wordcount's time (the round-3 bench-drift hunt:
    * codegen/JIT first-run cost vs HOF filter vs shuffle). */
  private def q20(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    docs.count()
    (1 to 3).foreach { i =>
      time(s"q20 full (run $i)", warm = 0)(TextOps.wordCount(docs))
    }
    time("scan only", warm = 0)(docs.select(col("text")))
    time("lower+split only", warm = 0)(
      docs.select(split(lower(col("text")), "\\W+").as("toks")))
    time("with HOF filter", warm = 0)(
      docs.select(TextOps.tokens(col("text")).as("toks")))
    time("explode, no agg", warm = 0)(
      docs.select(explode(TextOps.tokens(col("text"))).as("w")))
    time("explode no-HOF + agg", warm = 0)(
      docs.select(explode(split(lower(col("text")), "\\W+")).as("w"))
        .filter(length(col("w")) > 0).groupBy(col("w")).agg(count(lit(1))))
  }

  /** Is q29 dominated by candidate generation or by the double
    * word-set build on the lookup joins? */
  private def q29(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    docs.count()
    val inv = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(shingles(col("w"), 3)).as("shingle"))
      .select(col("doc_id"), hash60(col("shingle")).as("sh"))
    val cands = inv
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 100))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
    val toks = docs.select(col("doc_id"), words(col("text")).as("w"))
    time("tokens split only")(toks.select(col("doc_id"), size(col("w")).as("n")))
    val shing = toks.select(col("doc_id"), explode(shingles(col("w"), 3)).as("shingle"))
    time("shingles exploded")(shing)
    time("shingles + hash60")(shing.select(col("doc_id"), hash60(col("shingle")).as("sh")))
    time("inv + bucket agg")(inv.groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 100)))
    time("candidates alone")(cands)
    val wsets = docs
      .select(col("doc_id"),
        array_sort(array_distinct(words(col("text")))).as("wset"))
    time("wsets alone")(wsets.select(col("doc_id"), size(col("wset")).as("n")))
    time("q29 full (current)")(Dedup.ngramJaccardPairs(docs, 0.8))
    val preD = inv.groupBy(col("sh"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 100))
      .select(explode(graft.functions.VectorExpressions
        .sortedArrayPairs(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    println(s"PRE_DISTINCT=${preD.count()} UNIQUE=${preD.distinct().count()} " +
      s"SURVIVORS=${Dedup.ngramJaccardPairs(docs, 0.8).count()}")
    val cached = wsets.persist()
    cached.count()
    def look(id: String, w: String) = broadcast(cached.toDF(id, w))
    time("q29 wsets persisted") {
      cands.join(look("a", "a_w"), "a").join(look("b", "b_w"), "b")
        .select(col("a"), col("b"),
          graft.functions.VectorExpressions
            .sortedJaccard(col("a_w"), col("b_w")).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
    }
    cached.unpersist()
  }

  /** q34 kmeans mean-computation variants — posexplode vs 64 decimal
    * column sums vs 64 long sums (overflow-unsafe straw man). */
  private def q34(spark: SparkSession): Unit = {
    val pow52 = 4503599627370496.0
    val base = Tables.embeddings(spark, d).select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    println("rows = " + base.count())
    val assigned = base.select(pmod(col("vec_id"), lit(37)).as("centroid"),
      col("emb")).persist()
    assigned.count()
    time("posexplode (centroid,dim)")(
      assigned.select(col("centroid"), posexplode(col("emb")))
        .toDF("centroid", "pos", "v")
        .groupBy(col("centroid"), (col("pos") + 1).cast("long").as("dim"))
        .agg(((sum(floor(col("v") * pow52).cast("decimal(38,0)"))
          .cast("double") / pow52) / count(lit(1))).as("mean")))
    time("64 decimal col sums")(
      assigned.groupBy(col("centroid"))
        .agg(count(lit(1)).as("n"), (0 until 64).map(i =>
          sum(floor(element_at(col("emb"), i + 1) * pow52)
            .cast("decimal(38,0)")).as(s"s$i")): _*))
    time("64 long col sums (unsafe)")(
      assigned.groupBy(col("centroid"))
        .agg(count(lit(1)).as("n"), (0 until 64).map(i =>
          sum(floor(element_at(col("emb"), i + 1) * pow52).cast("long"))
            .as(s"s$i")): _*))
    time("proj then 64 decimal sums")(
      assigned.select(Seq(col("centroid")) ++ (0 until 64).map(i =>
          floor(element_at(col("emb"), i + 1) * pow52)
            .cast("decimal(38,0)").as(s"v$i")): _*)
        .groupBy(col("centroid"))
        .agg(count(lit(1)).as("n"), (0 until 64).map(i =>
          sum(col(s"v$i")).as(s"s$i")): _*))
    assigned.unpersist()
  }

  /** Where do q55's seconds go? (The explode_outer + null-filter
    * finding lives in TextOps.contamination's comment.) */
  private def q55(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    docs.count()
    val ws = docs.select(col("doc_id"), words(col("text")).as("ws"))
    time("a: words")(ws)
    val sh = ws.select(col("doc_id"), shingles(col("ws"), 5).as("gs"))
    time("b: shingles array")(sh.select(col("doc_id"), size(col("gs")).as("n")))
    val dis = ws.select(col("doc_id"), array_distinct(shingles(col("ws"), 5)).as("gs"))
    time("c: + array_distinct")(dis.select(col("doc_id"), size(col("gs")).as("n")))
    time("d: + size AND explode")(dis
      .select(col("doc_id"), size(col("gs")).as("n_grams"), explode(col("gs")).as("g")))
    time("e: + hash60")(dis
      .select(col("doc_id"), size(col("gs")).as("n_grams"), explode(col("gs")).as("g"))
      .select(col("doc_id"), col("n_grams"), hash60(col("g")).as("gh")))
    time("f: full q55")(TextOps.contamination(docs))
  }

  /** Where do q58's seconds go? (The materialize-ws-before-shingles
    * finding lives in Corpus.vocabSketch's comment.) */
  private def q58(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    docs.count()
    val grams = docs.select(col("source"), words(col("text")).as("ws"))
      .select(col("source"), explode_outer(shingles(col("ws"), 2)).as("g"))
      .filter(col("g").isNotNull)
    time("a: bigrams")(grams)
    val hashed = grams.select(col("source"), hash60(col("g")).as("h"))
    time("b: + hash60")(hashed)
    time("c: + groupBy count (no sketch)")(
      hashed.groupBy("source").agg(count(lit(1))))
    time("d: + bottomKDistinct")(
      hashed.groupBy("source").agg(
        Aggregators.bottomKDistinct(16)(col("h"))))
    time("e: full q58")(Corpus.vocabSketch(docs))
  }

  /** Where do q83's seconds go — tokenize/explode, the doc_id
    * repartition, the model fits, or the scoring join? */
  private def q83(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    println("docs=" + docs.count())
    val buckets = 4096
    val bigr = docs
      .select(col("doc_id"), col("source"),
        explode(shingles(words(col("text")), 2)).as("bg"))
    time("bigram explode only")(bigr)
    val hashed = bigr.select(col("doc_id"), col("source"),
      pmod(hash60(col("bg")), lit(buckets.toLong)).as("b"))
    time("+ hash60 bucket")(hashed)
    val perDoc = hashed.repartition(col("doc_id"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
    time("perDoc agg (repartition)")(perDoc)
    val perDocNoRep = hashed
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
    time("perDoc agg (plain groupBy)")(perDocNoRep)
    time("q83 full (current)")(TextOps.dsirSelect(docs))
    val p = TextOps.dsirSelect(docs).queryExecution.executedPlan.toString
    println("ReusedExchange=" + "ReusedExchange".r.findAllIn(p).size +
      " Exchange=" + "Exchange".r.findAllIn(p).size +
      " FileScan=" + "FileScan".r.findAllIn(p).size)
  }

  /** Isolate the q83 bigram-pass cost — scan parallelism, explode,
    * md5, per-piece timings at tighter grain. */
  private def q83b(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    println("docs=" + docs.count() + " scanParts=" + docs.rdd.getNumPartitions)
    time("scan+count only")(docs.select(col("doc_id")))
    val w = docs.select(col("doc_id"), col("source"), words(col("text")).as("w"))
    time("words only")(w)
    time("words size")(w.select(col("doc_id"), size(col("w")).as("n")))
    val sh = w.select(col("doc_id"), col("source"), shingles(col("w"), 2).as("sg"))
    time("shingles array")(sh)
    val ex = sh.select(col("doc_id"), col("source"), explode(col("sg")).as("bg"))
    time("explode")(ex)
    time("explode repartitioned")(
      docs.repartition(32).select(col("doc_id"), col("source"),
        explode(shingles(words(col("text")), 2)).as("bg")))
    time("+ md5 hash")(ex.select(col("doc_id"),
      pmod(hash60(col("bg")), lit(4096L)).as("b")))
  }

  /** Why does exploding the shingle array cost 50× the array
    * construction? Generate-codegen / evaluation-duplication
    * hypotheses (answer recorded at Portable.shingles). */
  private def q83c(spark: SparkSession): Unit = {
    val docs = Tables.documents(spark, d)
    docs.count()
    val sh = docs.select(col("doc_id"), col("source"),
      shingles(words(col("text")), 2).as("sg"))
    val ex1 = sh.select(col("doc_id"), explode(col("sg")).as("bg"))
    time("explode (collapsed projection)")(ex1)
    println(ex1.queryExecution.executedPlan.toString.take(1500))
    val mat = sh.localCheckpoint(true)
    time("explode (materialized input)")(
      mat.select(col("doc_id"), explode(col("sg")).as("bg")))
    time("explode words (no shingles)")(
      docs.select(col("doc_id"), explode(words(col("text"))).as("w")))
    val shNoWhen = docs.select(col("doc_id"),
      transform(sequence(lit(0), greatest(size(words(col("text"))) - 2, lit(-1))),
        i => concat(element_at(words(col("text")), i + 1), lit(" "),
          element_at(words(col("text")), i + 2))).as("sg"))
    time("explode (no when guard)")(
      shNoWhen.select(col("doc_id"), explode(col("sg")).as("bg")))
    mat.unpersist()
  }

  /** q137 stage decomposition: where does the video pair pass spend
    * its time — decode+hash, banding, bucket pair fan-out, or the
    * first-match/Hamming verify? Prints candidate-pair volume and
    * bucket census alongside stage timings. */
  private def q137(spark: SparkSession): Unit = {
    import graft.operators.Multimodal
    val media = Multimodal.nearDupVideoTable(Tables.documents(spark, d))
    time("q137 decode+hash only")(Multimodal.videoDHashSignature(media))
    val sigs = Multimodal.videoDHashSignature(media).cache()
    sigs.count()
    val banded = sigs.select(col("media_id"), col("nf"),
        posexplode(expr("""transform(sequence(0, nf * 8 - 1),
          j -> CASE WHEN j % 8 < 4
                 THEN shiftright(sig[cast(2 * (j div 8) as int)],
                                 (j % 8) * 8) & 255
                 ELSE shiftright(sig[cast(2 * (j div 8) + 1 as int)],
                                 ((j % 8) - 4) * 8) & 255 END)""")))
      .toDF("media_id", "nf", "band_idx", "band_val")
    println(s"banded rows ${banded.count()}")
    banded.groupBy("nf", "band_idx", "band_val").count()
      .selectExpr(
        "sum(case when count between 2 and 100 then count*(count-1)/2 " +
          "else 0 end) as cand_pairs",
        "sum(case when count > 100 then 1 else 0 end) as capped_buckets",
        "count(*) as n_buckets", "max(count) as max_bucket")
      .show()
    time("q137 full (cold sigs)")(Multimodal.videoDHashPairs(media))
    sigs.unpersist()
  }

  /** Isolate the image decode-scan cost per path: the fixture
    * generator's ENCODE dominates the sf10 sweep, so A/B the HASH
    * pass alone over cached payloads — ImageIO for all vs the BMP
    * direct-raster fast path where it applies. */
  private def q133(spark: SparkSession): Unit = {
    import graft.operators.Multimodal
    import spark.implicits._
    val media = Multimodal.nearDupImageTable(Tables.documents(spark, d))
      .persist()
    println(s"media cached: ${media.count()} payloads")
    def viaImageIO = media.mapPartitions { it =>
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        val (lo, hi) = Multimodal.dHash64(img)
        (r.media_id, lo, hi)
      }
    }.toDF("media_id", "lo", "hi")
    def viaFast = media.mapPartitions { it =>
      it.map { r =>
        val (lo, hi) = Multimodal.dHashAny(r.payload, "probe")
        (r.media_id, lo, hi)
      }
    }.toDF("media_id", "lo", "hi")
    time("hash pass, ImageIO both formats")(viaImageIO)
    time("hash pass, direct BMP+PNG paths")(viaFast)
    media.unpersist()
  }
}

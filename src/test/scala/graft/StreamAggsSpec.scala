package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.streaming.StreamAggs

/** Golden tests for declarative streaming aggregations against the
  * reference fixtures (FIXTURES.md §1, §4, §6).
  */
class StreamAggsSpec extends SparkSpec {
  import spark.implicits._

  test("session windows reproduce the reference's expected sessions") {
    // SessionWindow.java:63-78 fixture; gap 3 ms; expected sessions
    // (comments :71-74): a@[1]=1, b@[1..5]=3, c@[6,11]... with gap 3:
    // c@6 and c@11 are separate; a@1 and a@10 separate.
    val rows = Seq(("a", 1L, 1), ("b", 1L, 1), ("b", 3L, 1), ("b", 5L, 1),
      ("c", 6L, 1), ("a", 10L, 1), ("c", 11L, 1)).toDF("key", "ts", "value")
    val got = StreamAggs.sessionSums(rows,
        timestamp_millis(col("ts")), col("key"), col("value"),
        "3 milliseconds", "0 milliseconds")
      .select("key", "total").as[(String, Long)].collect().toSeq
      .sorted
    assert(got == Seq(("a", 1L), ("a", 1L), ("b", 3L), ("c", 1L), ("c", 1L)))
  }

  test("streaming word count updates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamAggs.wordCounts(in.toDF(), col("value"))
      .writeStream.format("memory").queryName("wc_out")
      .outputMode("complete").start()
    try {
      in.addData("To be or not to be")
      q.processAllAvailable()
      in.addData("to be")
      q.processAllAvailable()
      val counts = spark.table("wc_out").as[(String, Long)].collect().toMap
      assert(counts("to") == 3 && counts("be") == 3 && counts("or") == 1)
    } finally q.stop()
  }

  test("watermarked tumbling window closes and appends finalized counts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val df = in.toDF().toDF("ts_ms", "k")
    val q = StreamAggs.windowedCounts(df, timestamp_millis(col("ts_ms")),
        col("k"), "10 seconds", "10 seconds", "0 seconds")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      in.addData((1000L, "x"), (2000L, "x"), (11000L, "y"))
      q.processAllAvailable()
      // watermark now 11s → window [0,10s) finalized
      in.addData((25000L, "z"))
      q.processAllAvailable()
      val got = spark.table("win_out").select("key", "cnt")
        .as[(String, Long)].collect().toSeq.sorted
      assert(got.contains(("x", 2L)))
    } finally q.stop()
  }

  test("streaming dedup admits each content hash once within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("ts_ms", "doc_id", "content_md5")
    val q = StreamAggs.dedupWithinWatermark(df,
        timestamp_millis(col("ts_ms")), "10 seconds", "content_md5")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1000L, "d1", "H1"), (2000L, "d2", "H1"), (3000L, "d3", "H2"))
      q.processAllAvailable()
      // same hash again in a later batch, still inside the delay
      in.addData((4000L, "d4", "H1"), (5000L, "d5", "H3"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc_id")
        .as[String].collect().toSeq.sorted
      // one row per distinct hash: d1 (H1), d3 (H2), d5 (H3)
      assert(got == Seq("d1", "d3", "d5"))
    } finally q.stop()
  }

  test("streaming near-dup drop collapses re-worded copies by simhash") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("ts_ms", "doc_id", "text")
    val q = StreamAggs.nearDupDropWithinWatermark(df, col("text"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      // d2 is d1's word multiset reordered -> same simhash, dropped;
      // d3 is different content -> admitted
      in.addData((1000L, "d1", "spark query runs fast"),
        (2000L, "d2", "fast spark runs query"))
      q.processAllAvailable()
      in.addData((3000L, "d3", "a completely different document text"))
      q.processAllAvailable()
      val got = spark.table("neardup_out").select("doc_id")
        .as[String].collect().toSeq.sorted
      assert(got == Seq("d1", "d3"))
    } finally q.stop()
  }

  test("streaming bloom admission: reference dups drop, new content admits once") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq("alpha beta gamma", "delta epsilon zeta")
      .toDF("text")
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("ts_ms", "doc_id", "text")
    // saturating params (64-bit bitset) force false positives through
    // the exact-confirm path; correctness must be unchanged
    val q = StreamAggs.bloomAdmitStream(ref, df, col("text"),
        timestamp_millis(col("ts_ms")), "10 seconds",
        buckets = 1, bitsPerKey = 1, numHashes = 2, expectedRefKeys = 64)
      .writeStream.format("memory").queryName("bloom_adm_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1000L, "d1", "alpha beta gamma"),     // exact ref dup → drop
        (2000L, "d2", "Alpha  BETA gamma"),    // ref dup after norm → drop
        (3000L, "d3", "fresh stream content"))
      q.processAllAvailable()
      in.addData(
        (4000L, "d4", "fresh stream content"), // cross-batch dup of d3
        (5000L, "d5", "another new document"))
      q.processAllAvailable()
      val got = spark.table("bloom_adm_out").select("doc_id")
        .as[String].collect().toSeq.sorted
      assert(got == Seq("d3", "d5"))
    } finally {
      q.stop()
      // the bloom bitset cache is deliberately query-lifetime
      // (StreamAggs.bloomAdmitStream's lifecycle note); release it with
      // the query so the shared test session doesn't pin it
      spark.catalog.clearCache()
    }
  }

  test("streaming near-dup drop admits every token-less document") {
    // empty/whitespace payloads carry no simhash signal (all-zero
    // votes) — they must NOT collapse into one admitted row, nor
    // conflate with a real document; each passes through for the
    // downstream quality filter to judge
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("ts_ms", "doc_id", "text")
    val q = StreamAggs.nearDupDropWithinWatermark(df, col("text"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .writeStream.format("memory").queryName("neardup_empty_out")
      .outputMode("append").start()
    try {
      in.addData((1000L, "e1", ""), (2000L, "e2", "   "),
        (3000L, "d1", "real document text here"))
      q.processAllAvailable()
      in.addData((4000L, "e3", ""),
        (5000L, "d2", "text here real document")) // near-dup of d1
      q.processAllAvailable()
      val got = spark.table("neardup_empty_out").select("doc_id")
        .as[String].collect().toSeq.sorted
      // all three empties admitted; d2 still collapses into d1
      assert(got == Seq("d1", "e1", "e2", "e3"))
    } finally q.stop()
  }

  test("allowedLateness approximation: widened watermark re-fires in update mode (W13)") {
    // Flink: a window fires at the watermark and allowedLateness=L
    // keeps its state live, re-firing per late row until end+L. Spark
    // analog: set the WATERMARK DELAY to L and run in update mode —
    // the window emits early results as data arrives, re-emits
    // refreshed counts for late rows while end+L is above the
    // watermark, and drops later rows, exactly Flink's final-drop.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamAggs.windowedCounts(
        in.toDF().toDF("ts_ms", "k"),
        timestamp_millis(col("ts_ms")), col("k"),
        "10 seconds", "10 seconds", "20 seconds")
      .writeStream.format("memory").queryName("lateness_out")
      .outputMode("update").start()
    def emitted: Seq[Long] = spark.table("lateness_out")
      .filter(col("w_start") === timestamp_millis(lit(0)))
      .select("cnt").as[Long].collect().toSeq
    try {
      in.addData((1000L, "x"), (12000L, "x"))
      q.processAllAvailable()
      assert(emitted == Seq(1L)) // on-time firing of [0,10s)
      in.addData((2000L, "x"))   // late, within the 20s budget
      q.processAllAvailable()
      assert(emitted.sorted == Seq(1L, 2L)) // re-fired with the late row
      in.addData((40000L, "x")) // watermark → 20s: [0,10s)+20s expires
      q.processAllAvailable()
      in.addData((3000L, "x"))  // beyond lateness → dropped
      q.processAllAvailable()
      assert(emitted.sorted == Seq(1L, 2L), "expired window re-fired")
    } finally q.stop()
  }

  test("idle-source tolerance: max watermark policy unblocks the window (W12)") {
    // counterpart of the min-policy test above: with
    // withIdleSourceTolerance the advanced source drives the combined
    // watermark, so the idle source no longer holds window emission
    implicit val sqlCtx = spark.sqlContext
    val fast = MemoryStream[(Long, String)]
    val idle = MemoryStream[(Long, String)]
    def prep(in: MemoryStream[(Long, String)]) =
      in.toDF().toDF("ts_ms", "k")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
    StreamAggs.withIdleSourceTolerance(spark) {
      val q = prep(fast).union(prep(idle))
        .groupBy(window(col("ts"), "10 seconds"), col("k"))
        .count()
        .writeStream.format("memory").queryName("wm_max_out")
        .outputMode("append").start()
      try {
        fast.addData((1000L, "x"), (30000L, "x"))
        q.processAllAvailable()
        q.processAllAvailable()
        // idle stream never produced: max policy emits [0,10s) anyway
        assert(spark.table("wm_max_out").count() >= 1)
      } finally q.stop()
    }
    // restored to the session default (min) after the block
    assert(spark.conf.get(
      "spark.sql.streaming.multipleWatermarkPolicy") == "min")
  }

  test("interval join matches the reference's orange/green semantics") {
    // IntervalJoin.java:23-38: orange.ts - 2s <= green.ts <= orange.ts + 1s
    val base = 1599534710000L
    val orange = Seq(("key", 1, base + 1000L), ("key", 5, base + 5000L))
      .toDF("name", "o_value", "o_ts_ms")
      .withColumn("o_ts", timestamp_millis(col("o_ts_ms")))
    val green = Seq(("key", 0, base), ("key", 3, base + 3000L),
        ("key", 6, base + 6000L))
      .toDF("g_name", "g_value", "g_ts_ms")
      .withColumn("g_ts", timestamp_millis(col("g_ts_ms")))
    val got = StreamAggs.intervalJoin(
        orange, "o_ts", col("name"),
        green, "g_ts", col("g_name"),
        "2 seconds", "1 second", "0 seconds")
      .select("o_value", "g_value").as[(Int, Int)].collect().toSeq.sorted
    // orange@1s matches green@0s (within -2s..+1s); orange@5s matches
    // green@3s and green@6s
    assert(got == Seq((1, 0), (5, 3), (5, 6)))
  }

  test("union of two watermarked streams: the lagging source holds the watermark (W12)") {
    // Flink's withIdleness has no Spark equivalent; the default
    // multipleWatermarkPolicy=min means an idle source holds results
    // back — demonstrated here — and policy=max is the documented
    // approximation for idle-source tolerance.
    implicit val sqlCtx = spark.sqlContext
    val fast = MemoryStream[(Long, String)]
    val slow = MemoryStream[(Long, String)]
    def prep(in: MemoryStream[(Long, String)]) =
      in.toDF().toDF("ts_ms", "k")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
    val q = prep(fast).union(prep(slow))
      .groupBy(window(col("ts"), "10 seconds"), col("k"))
      .count()
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      fast.addData((1000L, "x"), (30000L, "x")) // fast watermark → 30 s
      q.processAllAvailable()
      // min policy: slow stream's watermark is still 0 → window [0,10s)
      // NOT finalized
      assert(spark.table("wm_out").count() == 0)
      slow.addData((25000L, "y"))               // slow watermark → 25 s
      q.processAllAvailable()
      q.processAllAvailable()
      // combined min watermark 25 s > 10 s → [0,10s) emits
      assert(spark.table("wm_out").count() >= 1)
    } finally q.stop()
  }

  test("Kafka2Kafka decode/encode round-trips the reference Log sample") {
    import graft.streaming.KafkaPipeline
    // FIXTURES.md §12 sample record
    val sample = """{"lt":"click","plat":"app","timestamp":1597980113000,"user_id":1}"""
    val raw = Seq(sample.getBytes("UTF-8")).toDF("value")
    val decoded = KafkaPipeline.decode(raw)
    val row = decoded.select("plat", "lt", "user_id", "timestamp")
      .as[(String, String, Int, Long)].collect().head
    assert(row == ("app", "click", 1, 1597980113000L))
    // event-time column carries the epoch millis
    assert(decoded.select(unix_timestamp(col("event_time")))
      .as[Long].collect().head == 1597980113L)
    // encode ∘ decode preserves every field (JSON key order may differ)
    val rt = KafkaPipeline.decode(
      KafkaPipeline.encode(decoded).select(col("value").cast("binary")))
      .select("plat", "lt", "user_id", "timestamp")
      .as[(String, String, Int, Long)].collect().head
    assert(rt == row)
  }

  test("async enrichment: ordered preserves order, unordered completes all") {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val ds = spark.createDataset(1 to 100)
    val ordered = graft.streaming.AsyncEnrich
      .enrich(ds, capacity = 8, ordered = true, 10.seconds) { i =>
        Future { Thread.sleep((i % 3)); i * 2 }
      }.collect()
    assert(ordered.toSeq.sorted == (1 to 100).map(_ * 2)) // all results
    // ordered mode: per-partition order preserved ⇒ globally each
    // partition's slice is ascending
    val perPart = graft.streaming.AsyncEnrich
      .enrich(ds.repartition(1), capacity = 8, ordered = true, 10.seconds) { i =>
        Future { Thread.sleep((101 - i) % 5); i }
      }.collect()
    assert(perPart.toSeq == (1 to 100))
    val unordered = graft.streaming.AsyncEnrich
      .enrich(ds, capacity = 8, ordered = false, 10.seconds) { i =>
        Future { i + 1000 }
      }.collect()
    assert(unordered.toSeq.sorted == (1 to 100).map(_ + 1000))
  }

  test("window join pairs same-key same-window rows") {
    val l = Seq(("tom", 3, 1000L), ("alice", 5, 1500L), ("tom", 4, 2500L))
      .toDF("name", "grade", "ts_ms")
    val r = Seq(("tom", 9000, 1800L), ("alice", 8000, 4000L))
      .toDF("s_name", "salary", "s_ts_ms")
    val got = StreamAggs.windowJoin(
        l, timestamp_millis(col("ts_ms")), col("name"),
        r, timestamp_millis(col("s_ts_ms")), col("s_name"),
        "2 seconds", "0 seconds")
      .select("join_key", "grade", "salary")
      .as[(String, Int, Int)].collect().toSeq.sorted
    // inner join: only tom's grade in [0,2s) meets tom's salary there;
    // alice's salary lands in [4s,6s) with no grade partner
    assert(got == Seq(("tom", 3, 9000)))
  }

  test("streaming surprisal scoring reproduces the batch scores on the fit corpus") {
    import graft.core.Tables
    import graft.operators.TextOps
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val (vocab, total) = TextOps.fitSurprisalVocab(docs)
    // batch reference: every fit-corpus word is in-vocab, so the
    // streaming OOV fallback never fires and scores must match exactly
    val want = TextOps.unigramSurprisal(docs)
      .select("doc_id", "n_tokens", "bits", "bits_per_token")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val bc = spark.sparkContext.broadcast(vocab)
    val q = StreamAggs.surprisalScore(
        in.toDF().toDF("doc_id", "text"), col("text"), bc, total)
      .writeStream.format("memory").queryName("surprisal_out")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text")
        .as[(Long, String)].collect()
      in.addData(rows.take(50).toSeq)
      q.processAllAvailable()
      val got = spark.table("surprisal_out")
        .select("doc_id", "n_tokens", "bits", "bits_per_token")
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.size == 50)
      got.foreach { case (id, v) => assert(v == want(id), s"doc $id") }
      // OOV text scores at max per-token surprisal (count-1 fallback)
      in.addData((900001L, "zzqx wvmb"))
      q.processAllAvailable()
      val oov = spark.table("surprisal_out")
        .filter(col("doc_id") === 900001L)
        .select("bits_per_token").as[Double].head()
      val fTotal = 63 - java.lang.Long.numberOfLeadingZeros(total)
      assert(oov == fTotal.toDouble)
    } finally { q.stop(); bc.destroy() }
  }

  test("streaming decontamination gate reproduces q125's batch survivors") {
    import graft.core.Tables
    import graft.operators.TextOps
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // batch reference: q125's survivor set on the same fixture; a
    // permissive permille would drop nothing, so use one that does
    val permille = 1L
    val want = TextOps.decontaminate(docs, maxSharePermille = permille)
      .select("doc_id").as[Long].collect().toSet
    val nonBench = docs.filter(col("source") =!= "src0")
      .select("doc_id").as[Long].collect().toSet
    assert(want.size < nonBench.size,
      "fixture must actually drop contaminated docs for the parity to bite")
    val index = TextOps.fitContamIndex(docs)
    assert(index.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    // the gate scores whatever arrives; the bench source itself is
    // eval data — express the batch apply's source filter through the
    // gate's own isBenchSource predicate (the documented contract)
    val q = StreamAggs.decontamGate(
        in.toDF().toDF("doc_id", "text", "source"),
        col("text"), spark.sparkContext.broadcast(index), 5, permille,
        isBenchSource = Some(col("source") === "src0"))
      .writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text", "source")
        .as[(Long, String, String)].collect()
      // two batches: the frozen index must score later arrivals
      // identically to earlier ones
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq)
      q.processAllAvailable()
      // the hazard the predicate exists for: a benchmark doc below
      // the gram length always-admits on score, so without the
      // predicate it would leak eval data into the survivor set
      in.addData((990001L, "short bench doc", "src0"))
      in.addData(b2.toSeq)
      q.processAllAvailable()
      val got = spark.table("decontam_out")
        .select("doc_id").as[Long].collect().toSet
      assert(!got.contains(990001L),
        "isBenchSource must drop benchmark rows before scoring")
      assert(got == want,
        s"stream kept ${got.size} docs, batch kept ${want.size}; " +
          s"diff ${(got -- want) ++ (want -- got)}")
    } finally q.stop()
  }

  test("decontam gate without isBenchSource admits a short benchmark doc") {
    // the documented precondition, pinned: a < n-word benchmark doc
    // sails through the always-admit short-circuit unless the caller
    // filters upstream or passes isBenchSource
    val docs = Seq((1L, "short bench doc", "src0"))
      .toDF("doc_id", "text", "source")
    val index = spark.sparkContext.broadcast(Array(42L))
    val kept = StreamAggs.decontamGate(
        docs, col("text"), index, 5, 1L)
      .select("doc_id").as[Long].collect()
    assert(kept.sameElements(Array(1L)))
    val gated = StreamAggs.decontamGate(
        docs, col("text"), index, 5, 1L,
        isBenchSource = Some(col("source") === "src0"))
      .count()
    assert(gated == 0L)
    // a zero gram length would index past the word array in every
    // task; the gate refuses it at the call
    val e = intercept[IllegalArgumentException] {
      StreamAggs.decontamGate(docs, col("text"), index, 0, 1L)
    }
    assert(e.getMessage.contains("n must be >= 1"), e.getMessage)
  }

  test("streaming leakage-scrub gate reproduces q131's batch survivors") {
    import graft.core.Tables
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // batch reference: q131's survivor set on the same fixture
    val want = Dedup.leakageScrub(docs)
      .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    assert(want.size < all.size,
      "fixture must actually scrub leaked train docs for parity to bite")
    val index = Dedup.fitScrubIndex(docs)
    assert(index.nonEmpty)
    assert(index.toSet == all -- want,
      "the frozen drop index must be exactly the batch op's drop set")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamAggs.scrubGate(
        in.toDF().toDF("doc_id", "source"), col("doc_id"),
        spark.sparkContext.broadcast(index))
      .writeStream.format("memory").queryName("scrub_out")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "source")
        .as[(Long, String)].collect()
      // two batches: the frozen index must gate later arrivals
      // identically to earlier ones
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq)
      q.processAllAvailable()
      in.addData(b2.toSeq)
      q.processAllAvailable()
      val got = spark.table("scrub_out")
        .select("doc_id").as[Long].collect().toSet
      assert(got == want,
        s"stream kept ${got.size} docs, batch kept ${want.size}; " +
          s"diff ${(got -- want) ++ (want -- got)}")
    } finally q.stop()
  }

  test("scrub gate rejects an unsorted drop index loudly") {
    // both id gates binary-search their index, so both check its
    // order before the first row is gated
    val docs = Seq((1L, "x")).toDF("doc_id", "source")
    val unsorted = spark.sparkContext.broadcast(Array(5L, 3L))
    val err = intercept[IllegalArgumentException] {
      StreamAggs.scrubGate(docs, col("doc_id"), unsorted)
    }
    assert(err.getMessage.contains("not sorted"))
    val errD = intercept[IllegalArgumentException] {
      StreamAggs.decontamGate(docs, col("source"), unsorted)
    }
    assert(errD.getMessage.contains("not sorted"), errD.getMessage)
  }

  test("streaming probe scoring reproduces the batch scores exactly") {
    import graft.core.Tables
    import graft.operators.TextOps
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val w = TextOps.probeTrain(docs, iters = 2)
      .orderBy("j").as[(Int, Long)].collect().map(_._2).toSeq
    val want = TextOps.probeScore(docs, w)
      .as[(Long, Long)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // the scoring map is stateless Column code — the SAME operator
    // call serves the streaming frame, no twin implementation
    val q = TextOps.probeScore(in.toDF().toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("probe_out")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
      in.addData(rows.take(60).toSeq)
      q.processAllAvailable()
      val got = spark.table("probe_out")
        .as[(Long, Long)].collect().toMap
      assert(got.size == 60)
      got.foreach { case (id, s) => assert(s == want(id), s"doc $id") }
    } finally q.stop()
  }

  test("streaming probe score histogram matches the batch calibration bins") {
    import graft.core.Tables
    import graft.operators.TextOps
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(80)
    val w = TextOps.probeTrain(docs, iters = 2)
      .orderBy("j").as[(Int, Long)].collect().map(_._2).toSeq
    // batch truth: the q111 bin assignment on the same fixture
    val want = TextOps.probeScore(docs, w)
      .select(org.apache.spark.sql.functions.expr(
        s"(least(${(1L << 20) - 1}, greatest(0L, score_s)) * 10) " +
          s"div ${1L << 20}").as("bin"))
      .groupBy("bin").count()
      .as[(Long, Long)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val q = StreamAggs.probeScoreHistogram(
        in.toDF().toDF("tsm", "doc_id", "text"),
        timestamp_millis(col("tsm")), col("text"), w,
        windowSize = "1 second")
      .writeStream.format("memory").queryName("probe_hist_out")
      .outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
      in.addData(rows.map { case (id, t) => (100L, id, t) }.toSeq)
      q.processAllAvailable()
      in.addData((5000L, -1L, "closer"))  // close the first window
      q.processAllAvailable()
      val got = spark.table("probe_hist_out")
        .filter(col("w_start") === timestamp_millis(lit(0L)))
        .select("bin", "n").as[(Long, Long)].collect().toMap
      assert(got == want, s"got $got want $want")
    } finally q.stop()
  }

  test("surprisal scoring rejects a degenerate fit") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(20)
    // total <= 0 must fail loudly, not score negative bits
    val bc = spark.sparkContext.broadcast(Map.empty[Long, Long])
    try {
      val e = intercept[IllegalArgumentException] {
        StreamAggs.surprisalScore(docs, col("text"), bc, 0L)
      }
      assert(e.getMessage.contains("total"))
    } finally bc.destroy()
  }

  test("streaming shard manifest equals the batch manifest on the window's rows") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 60L).map(i => (100L + i, i, s"doc body $i", 20L + i % 9))
    val in = MemoryStream[(Long, Long, String, Long)]
    val q = StreamAggs.shardManifestStream(
        in.toDF().toDF("tsm", "doc_id", "text", "n_chars"),
        timestamp_millis(col("tsm")), col("doc_id"), col("text"),
        col("n_chars"), shardBits = 3, windowSize = "1 second")
      .writeStream.format("memory").queryName("manifest_out")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      in.addData((5000L, 999L, "closer", 4L)) // close the [0s,1s) window
      q.processAllAvailable()
      val got = spark.table("manifest_out")
        .select("shard", "n_docs", "n_tokens", "checksum")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      // batch twin over the same rows — identical hash, mod, shard
      val want = graft.operators.Corpus.shardManifest(
          rows.map { case (_, id, t, nc) => (id, t, nc) }
            .toDF("doc_id", "text", "n_chars"), shardBits = 3)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == want, s"got $got want $want")
      assert(got.map(_._2).sum == 60L)
    } finally q.stop()
  }

  test("streaming drift alarm reproduces the batch TV distance when the window closes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Portable.h60Scala
    // the q90 hand fixture (CorpusSpec): source a = {x:3, y:1},
    // source b = {x:1, z:3}; against the corpus mix {x:4, y:1, z:3}
    // both sources sit at TV = 0.375 — the reference here IS that mix
    val ref = Map(h60Scala("x") -> 4L, h60Scala("y") -> 1L,
      h60Scala("z") -> 3L)
    val in = MemoryStream[(Long, String, String)]
    val q = StreamAggs.sourceDriftStream(
        in.toDF().toDF("tsm", "source", "text"),
        timestamp_millis(col("tsm")), col("source"), col("text"),
        ref, refTotal = 8L, windowSize = "1 second")
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      in.addData((100L, "a", "x x x y"), (200L, "b", "x z z z"))
      q.processAllAvailable()
      // append emits only when the watermark passes the window end —
      // a later event closes the first window; its own window stays
      // open and must NOT emit
      in.addData((5000L, "a", "x x x y"))
      q.processAllAvailable()
      val got = spark.table("drift_out")
        .select("source", "n_tokens", "tv_dist")
        .as[(String, Long, Double)].collect().toSeq.sorted
      assert(got == Seq(("a", 4L, 0.375), ("b", 4L, 0.375)), got.toString)
      // a batch distributed EXACTLY like the reference alarms at 0
      in.addData((5100L, "c", "x x x x y z z z"))
      in.addData((9000L, "c", "x"))   // close the [5s,6s) window
      q.processAllAvailable()
      val w2 = spark.table("drift_out")
        .filter(col("source") === "c").select("n_tokens", "tv_dist")
        .as[(Long, Double)].collect().toSeq
      assert(w2 == Seq((8L, 0.0)), w2.toString)
    } finally q.stop()
  }

  test("streaming kNN serve equals the batch path and brute force") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // batch twin: serving corpus rows as queries IS knnBruteForce
    val queries = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id"), col("t.sim"))
        .as[(Long, Long, Double)].collect().groupBy(_._1)
        .view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    val batch = asMap(Similarity.knnServe(queries, corpus, k = 3))
    val bf = Similarity.knnBruteForce(corpus, nQueries = 4, k = 3)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
    assert(batch == bf)
    // streaming: same queries through a MemoryStream, update mode
    val in = MemoryStream[(Long, Array[Float])]
    val sq = Similarity.knnServe(
        in.toDF().toDF("query_id", "embedding"), corpus, k = 3)
      .writeStream.format("memory").queryName("knn_serve_out")
      .outputMode("update").start()
    try {
      val qRows = queries.as[(Long, Array[Float])].collect()
      in.addData(qRows.take(2).toSeq)
      sq.processAllAvailable()
      in.addData(qRows.drop(2).toSeq)
      sq.processAllAvailable()
      val stream = asMap(spark.table("knn_serve_out"))
      assert(stream == batch, s"stream $stream vs batch $batch")
    } finally sq.stop()
  }

  test("streaming image admission gate: verdicts equal a brute-force " +
    "mirror of the frozen band/cap/Hamming index, batch == stream") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupImageTable(docs.limit(200))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    // brute-force mirror of the frozen index semantics, spelled from
    // the public hash op alone: a key is a pair of byte bands (a < b)
    // and their two values, a bucket over the cap is dropped whole,
    // and a surviving bucket hits on total Hamming <= 6
    val refHs = Multimodal.imageDHash(reference).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    def band(k: Int, lo: Long, hi: Long): Long =
      (if (k < 4) lo >>> (k * 8) else hi >>> ((k - 4) * 8)) & 255L
    def pairKeys(lo: Long, hi: Long): Seq[(Int, Int, Long, Long)] =
      for (a <- 0 until 8; b <- a + 1 until 8)
        yield (a, b, band(a, lo, hi), band(b, lo, hi))
    val streamHs = Multimodal.imageDHash(arriving).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def mirrorAdmit(cap: Int): Set[Long] = {
      val buckets = refHs.toSeq
        .flatMap { case (lo, hi) => pairKeys(lo, hi).map(_ -> (lo, hi)) }
        .groupBy(_._1).filter(_._2.size <= cap)
        .view.mapValues(_.map(_._2)).toMap
      streamHs.collect {
        case (id, lo, hi) if !pairKeys(lo, hi).exists(k =>
          buckets.getOrElse(k, Nil).exists { case (rl, rh) =>
            java.lang.Long.bitCount(rl ^ lo) +
              java.lang.Long.bitCount(rh ^ hi) <= 6 }) => id
      }.toSet
    }
    val expectedAdmit = mirrorAdmit(100)
    // planted groups actually gate: most arriving members near-dup
    // their group's reference members
    assert(expectedAdmit.size < streamHs.length / 2,
      s"gate vacuous: ${expectedAdmit.size}/${streamHs.length} admitted")
    assert(expectedAdmit.nonEmpty, "gate degenerate: everything dropped")
    // batch parity: the gate is stateless, so batch == mirror
    val index = Multimodal.fitImageDupIndex(reference)
    def admitted(ix: Multimodal.ImageDupIndex): Set[Long] =
      Multimodal.imageAdmitStream(arriving, spark.sparkContext.broadcast(ix))
        .select("media_id").as[Long].collect().toSet
    assert(admitted(index) == expectedAdmit)
    // the cap boundary: at cap 2 the two reference members of a
    // planted group fill their shared buckets exactly, so a bucket of
    // exactly `cap` entries must survive — verdicts differ from cap 1
    assert(mirrorAdmit(2) != mirrorAdmit(1), "cap boundary never bites")
    assert(admitted(Multimodal.fitImageDupIndex(reference, maxBucket = 2)) ==
      mirrorAdmit(2), "capped index diverges from the mirror")
    // the pigeonhole bound and the shard count are loud contracts
    val e = intercept[IllegalArgumentException](index.copy(maxDist = 7))
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
    val es = intercept[IllegalArgumentException](
      Multimodal.fitImageDupIndex(reference, shards = -1))
    assert(es.getMessage.contains("shards"), es.getMessage)
    // streaming: same records through a MemoryStream, two batches
    val in = MemoryStream[Multimodal.MediaRecord]
    val sq = Multimodal.imageAdmitStream(in.toDS(),
        spark.sparkContext.broadcast(index))
      .select("media_id")
      .writeStream.format("memory").queryName("img_admit_out")
      .outputMode("append").start()
    try {
      val rows = arriving.collect()
      in.addData(rows.take(40).toSeq)
      sq.processAllAvailable()
      in.addData(rows.drop(40).toSeq)
      sq.processAllAvailable()
      val stream = spark.table("img_admit_out").as[Long].collect().toSet
      assert(stream == expectedAdmit, "stream verdicts diverge from batch")
    } finally sq.stop()
  }

  test("streaming audio admission gate: verdicts equal a brute-force " +
    "mirror of the frozen bucket/cap/Jaccard index, batch == stream") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupAudioTable(docs.limit(200))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    val index = Multimodal.fitAudioDupIndex(reference)
    // brute-force mirror of the frozen index semantics, from the
    // public fingerprint API — no index code reused
    def setOf(r: Multimodal.MediaRecord): Array[Long] =
      Multimodal.subFingerprints(Multimodal.parseWav(r.payload).samples)
        .map(_._2).distinct.sorted
    val refSets = reference.collect().map(setOf).filter(_.nonEmpty)
    val surviving: Map[Long, Seq[Array[Long]]] = refSets
      .flatMap(s => s.map(fp => fp -> s)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq).filter(_._2.size <= 100).toMap
    val arrivingSets = arriving.collect().map(r => r.media_id -> setOf(r))
    val expectedAdmit = arrivingSets.collect { case (id, s)
      if !s.flatMap(fp => surviving.getOrElse(fp, Nil)).distinct.exists { r =>
        val shared = s.intersect(r)
        shared.nonEmpty && surviving.contains(shared.min) &&
          shared.length.toLong * 10 >=
            5L * (s.length + r.length - shared.length)
      } => id
    }.toSet
    assert(expectedAdmit.size < arrivingSets.length / 2,
      s"gate vacuous: ${expectedAdmit.size}/${arrivingSets.length} admitted")
    assert(expectedAdmit.nonEmpty, "gate degenerate: everything dropped")
    // batch parity: the gate is stateless, so batch == mirror
    val bc = spark.sparkContext.broadcast(index)
    val batchAdmit = Multimodal.audioAdmitStream(arriving, bc)
      .select("media_id").as[Long].collect().toSet
    assert(batchAdmit == expectedAdmit)
    val es = intercept[IllegalArgumentException](
      Multimodal.fitAudioDupIndex(reference, shards = -1))
    assert(es.getMessage.contains("shards"), es.getMessage)
    // streaming: same records through a MemoryStream, two batches
    val in = MemoryStream[Multimodal.MediaRecord]
    val sq = Multimodal.audioAdmitStream(in.toDS(), bc)
      .select("media_id")
      .writeStream.format("memory").queryName("aud_admit_out")
      .outputMode("append").start()
    try {
      val rows = arriving.collect()
      in.addData(rows.take(40).toSeq)
      sq.processAllAvailable()
      in.addData(rows.drop(40).toSeq)
      sq.processAllAvailable()
      val stream = spark.table("aud_admit_out").as[Long].collect().toSet
      assert(stream == expectedAdmit, "stream verdicts diverge from batch")
    } finally sq.stop()
  }

  test("streaming video admission gate: verdicts equal a brute-force " +
    "mirror of the frozen band/cap/Hamming index, batch == stream") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupVideoTable(docs.limit(200))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    // brute-force mirror from the batch signature op — independent
    // key/cap/Hamming spelling, no index code reused: a key is (frame
    // count, frame, byte-band pair a < b, both values); a bucket over
    // the cap is dropped whole; a surviving bucket hits on total
    // Hamming <= 12 over the equal-length signatures
    def sigs(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRecord]) =
      Multimodal.videoDHashSignature(ds).collect()
        .map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Long](2).toArray))
    def bandByte(sig: Array[Long], j: Int): Long = {
      val el = sig(2 * (j / 8) + (if (j % 8 < 4) 0 else 1))
      (el >>> ((if (j % 8 < 4) j % 8 else j % 8 - 4) * 8)) & 255L
    }
    def pairKeys(nf: Int, sig: Array[Long]) =
      for (f <- 0 until nf; a <- 0 until 8; b <- a + 1 until 8)
        yield (nf, f, a, b, bandByte(sig, f * 8 + a), bandByte(sig, f * 8 + b))
    def hamming(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map(p => java.lang.Long.bitCount(p._1 ^ p._2).toLong).sum
    val refSigs = sigs(reference)
    val arrivingSigs = sigs(arriving)
    def mirrorAdmit(cap: Int): Set[Long] = {
      val buckets = refSigs.toSeq
        .flatMap { case (_, nf, sig) => pairKeys(nf, sig).map(_ -> sig) }
        .groupBy(_._1).filter(_._2.size <= cap)
        .view.mapValues(_.map(_._2)).toMap
      arrivingSigs.collect { case (id, nf, sig)
        if !pairKeys(nf, sig).exists(k =>
          buckets.getOrElse(k, Nil).exists(r => hamming(sig, r) <= 12)) => id
      }.toSet
    }
    val expectedAdmit = mirrorAdmit(100)
    assert(expectedAdmit.size < arrivingSigs.length / 2,
      s"gate vacuous: ${expectedAdmit.size}/${arrivingSigs.length} admitted")
    assert(expectedAdmit.nonEmpty, "gate degenerate: everything dropped")
    val index = Multimodal.fitVideoDupIndex(reference)
    def admitted(ix: Multimodal.VideoDupIndex): Set[Long] =
      Multimodal.videoAdmitStream(arriving, spark.sparkContext.broadcast(ix))
        .select("media_id").as[Long].collect().toSet
    assert(admitted(index) == expectedAdmit)
    // the cap boundary: a bucket of exactly `cap` entries survives
    assert(mirrorAdmit(2) != mirrorAdmit(1), "cap boundary never bites")
    assert(admitted(Multimodal.fitVideoDupIndex(reference, maxBucket = 2)) ==
      mirrorAdmit(2), "capped index diverges from the mirror")
    // the two-frame pigeonhole bound and the shard count are loud
    // contracts, not footguns
    val e = intercept[IllegalArgumentException](index.copy(maxDist = 14))
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
    val es = intercept[IllegalArgumentException](
      Multimodal.fitVideoDupIndex(reference, shards = -1))
    assert(es.getMessage.contains("shards"), es.getMessage)
    val in = MemoryStream[Multimodal.MediaRecord]
    val sq = Multimodal.videoAdmitStream(in.toDS(),
        spark.sparkContext.broadcast(index))
      .select("media_id")
      .writeStream.format("memory").queryName("vid_admit_out")
      .outputMode("append").start()
    try {
      val rows = arriving.collect()
      in.addData(rows.take(40).toSeq)
      sq.processAllAvailable()
      in.addData(rows.drop(40).toSeq)
      sq.processAllAvailable()
      val stream = spark.table("vid_admit_out").as[Long].collect().toSet
      assert(stream == expectedAdmit, "stream verdicts diverge from batch")
    } finally sq.stop()
  }

  test("in-stream image dedup collapses hash-exact copies across " +
    "batches and keeps near-dup variants (the gate composition)") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    def img(grp: Long, member: Int, fmt: String): Array[Byte] =
      Multimodal.nearDupImageBytes((grp % 7 + 16).toInt,
        (grp % 5 + 12).toInt, grp, member, fmt)
    def hashOf(bytes: Array[Byte]): (Long, Long) =
      Multimodal.dHash64(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
    // pick a variant whose dHash genuinely differs from the base —
    // the ±member luminance nudge flips no comparison in some groups
    val (grp, variant) = (for {
      g <- 0L until 40L; m <- 1 to 3
      if hashOf(img(g, m, "png")) != hashOf(img(g, 0, "png"))
    } yield (g, m)).head
    val in = MemoryStream[(Long, Long, Array[Byte])]
    val df = in.toDF().toDF("ts_ms", "media_id", "payload")
    val q = Multimodal.imageDedupStream(df, col("payload"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .select("media_id")
      .writeStream.format("memory").queryName("img_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1000L, 1L, img(grp, 0, "png")),
        (2000L, 2L, img(grp, 0, "bmp")), // same pixels re-encoded → dup
        (3000L, 3L, img(grp, variant, "png"))) // hash differs → survives
      q.processAllAvailable()
      in.addData(
        (4000L, 4L, img(grp, 0, "png")), // cross-batch copy → dup
        (5000L, 5L, img(grp + 101, 2, "png")))
      q.processAllAvailable()
      val got = spark.table("img_dedup_out").as[Long].collect().toSet
      assert(got == Set(1L, 3L, 5L),
        s"got $got: lossless re-encode/copy must collapse, variant must " +
          "survive (fingerprint-exact semantics)")
    } finally q.stop()
  }

  test("in-stream audio dedup collapses gain-scaled copies across " +
    "batches and keeps fingerprint-variant tracks") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val base = Array.tabulate(400)(t =>
      (math.floorMod(t.toLong * t * 3 + t * 5 + 13, 1024) - 512).toShort)
    // uniform gain leaves every fingerprint bit untouched (integer
    // sign-of-energy-delta invariance) — a STRONGER dup than
    // byte-exact, and the key must collapse it
    val gained = base.map(s => (s * 2).toShort)
    // a muted sample region must actually flip a fingerprint bit
    // (energies are squares, so sign flips would be invisible)
    val variant = base.clone()
    (0 until 8).foreach(i => variant(200 + i) = 0)
    assert(!Multimodal.subFingerprints(base).map(_._2).toSeq
      .equals(Multimodal.subFingerprints(variant).map(_._2).toSeq),
      "fixture vacuous: the variant fingerprints equal the base's")
    assert(Multimodal.subFingerprints(base).map(_._2).toSeq ==
      Multimodal.subFingerprints(gained).map(_._2).toSeq)
    def wav(s: Array[Short]) = Multimodal.wavBytes(s, 8000)
    val in = MemoryStream[(Long, Long, Array[Byte])]
    val df = in.toDF().toDF("ts_ms", "media_id", "payload")
    val q = Multimodal.audioDedupStream(df, col("payload"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .select("media_id")
      .writeStream.format("memory").queryName("aud_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1000L, 1L, wav(base)),
        (2000L, 2L, wav(gained)),  // gain-scaled copy → dup
        (3000L, 3L, wav(variant))) // fingerprint differs → survives
      q.processAllAvailable()
      in.addData((4000L, 4L, wav(base))) // cross-batch copy → dup
      q.processAllAvailable()
      val got = spark.table("aud_dedup_out").as[Long].collect().toSet
      assert(got == Set(1L, 3L),
        s"got $got: gain copies must collapse, variants must survive")
    } finally q.stop()
  }

  test("in-stream video dedup collapses signature-exact copies and " +
    "keeps MJPEG re-encodes (near-dups by design)") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val (w, h) = (16, 12)
    def frames(id: Long) =
      (0 until 3).map(f => Multimodal.syntheticDibFrame(id, f, w, h))
    // aviBytes wraps the given frame bytes verbatim: MJPEG payloads
    // carry per-frame JPEGs of the SAME rasters (decode DIB → encode)
    def jpegFrame(id: Long, f: Int): Array[Byte] = {
      val dib = Multimodal.syntheticDibFrame(id, f, w, h)
      val stride = (w * 3 + 3) & ~3
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (h - 1 - y) * stride + x * 3
        img.setRGB(x, y, ((dib(o + 2) & 0xff) << 16) |
          ((dib(o + 1) & 0xff) << 8) | (dib(o) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def avi(id: Long, mjpeg: Boolean) =
      if (mjpeg) Multimodal.aviBytes(
        (0 until 3).map(f => jpegFrame(id, f)), w, h, fps = 25, mjpeg = true)
      else Multimodal.aviBytes(frames(id), w, h, fps = 25, mjpeg = false)
    val in = MemoryStream[(Long, Long, Array[Byte])]
    val df = in.toDF().toDF("ts_ms", "media_id", "payload")
    val q = Multimodal.videoDedupStream(df, col("payload"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .select("media_id")
      .writeStream.format("memory").queryName("vid_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1000L, 1L, avi(7L, mjpeg = false)),
        (2000L, 2L, avi(7L, mjpeg = false)), // signature-exact → dup
        (3000L, 3L, avi(9L, mjpeg = false))) // different clip → survives
      q.processAllAvailable()
      in.addData(
        (4000L, 4L, avi(7L, mjpeg = false)), // cross-batch copy → dup
        (5000L, 5L, avi(7L, mjpeg = true))) // MJPEG re-encode: NEAR-dup,
                                            // survives (the gate's job)
      q.processAllAvailable()
      val got = spark.table("vid_dedup_out").as[Long].collect().toSet
      assert(got == Set(1L, 3L, 5L),
        s"got $got: signature-exact copies must collapse; the lossy " +
          "MJPEG re-encode must survive")
    } finally q.stop()
  }

  test("sharded wide video index: shards=1 is bit-identical to the " +
    "flat fit; the per-shard cap budget recovers cap-dropped genuine " +
    "dups without ever gating a non-dup") {
    import graft.operators.Multimodal
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupVideoTable(docs.limit(400))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    // below the shard target the default (auto) fit IS the flat-cap
    // fit: shards = 1 reproduces it bit-identically (same keys, same
    // entries, same order)
    val flat = Multimodal.fitVideoDupIndex(reference)
    val s1 = Multimodal.fitVideoDupIndex(reference, shards = 1)
    assert(flat.buckets.size == s1.buckets.size)
    flat.buckets.foreach { case (k, v) =>
      assert(java.util.Arrays.equals(v, s1.buckets.getOrNull(k)),
        s"bucket $k diverges at shards=1") }
    // cap 1 so the fixture actually over-caps: a group's two refs
    // share near-identical signatures, so the flat rule drops their
    // shared buckets whole while the sharded budget keeps the <=cap
    // per-shard slices
    val flatTiny = Multimodal.fitVideoDupIndex(
      reference, maxBucket = 1, shards = 1)
    val shTiny = Multimodal.fitVideoDupIndex(
      reference, maxBucket = 1, shards = 3)
    val truth = Multimodal.fitVideoDupIndex(
      reference, maxBucket = Int.MaxValue, shards = 1) // uncapped = exact
    val sigs = Multimodal.videoDHashSignature(arriving).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val gatedFlat = sigs.filter(t => flatTiny.hits(t._2, t._3)).map(_._1).toSet
    val gatedSh = sigs.filter(t => shTiny.hits(t._2, t._3)).map(_._1).toSet
    val genuine = sigs.filter(t => truth.hits(t._2, t._3)).map(_._1).toSet
    // per-key survivors are monotone in shards (a <=cap bucket's
    // shard slices are each <=cap), so gating only ever widens...
    assert(gatedFlat.subsetOf(gatedSh),
      s"sharded lost flat-gated ids: ${gatedFlat -- gatedSh}")
    // ...and the exact Hamming verify makes every widening genuine
    assert(gatedSh.subsetOf(genuine),
      s"sharded gated non-dups: ${gatedSh -- genuine}")
    // the point of the budget: this fixture's over-cap keys hold real
    // near-dups the flat rule was dropping
    assert(gatedSh.size > gatedFlat.size,
      s"cap never bit (flat ${gatedFlat.size}, sharded ${gatedSh.size}) " +
        "- the recovery premise is untested")
    assert(genuine.nonEmpty)
  }

  test("sharded wide image index: shards=1 matches the flat fit per " +
    "key as a multiset; the per-shard cap budget is monotone and " +
    "exact (distributed (key, shard) cap)") {
    import graft.operators.Multimodal
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupImageTable(docs.limit(400))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    // below the shard target the default (auto) fit IS the flat-cap
    // fit; entry ORDER within a bucket comes from collect_list task
    // order, so compare each bucket as a multiset of (lo, hi) pairs
    val flat = Multimodal.fitImageDupIndex(reference)
    val s1 = Multimodal.fitImageDupIndex(reference, shards = 1)
    def pairs(a: Array[Long]): Seq[(Long, Long)] =
      a.grouped(2).map(p => (p(0), p(1))).toSeq.sorted
    assert(flat.buckets.size == s1.buckets.size)
    flat.buckets.forEach { (k, v) =>
      assert(s1.buckets.containsKey(k) && pairs(v) == pairs(s1.buckets.get(k)),
        s"bucket $k diverges at shards=1") }
    val flatTiny = Multimodal.fitImageDupIndex(
      reference, maxBucket = 1, shards = 1)
    val shTiny = Multimodal.fitImageDupIndex(
      reference, maxBucket = 1, shards = 3)
    val truth = Multimodal.fitImageDupIndex(
      reference, maxBucket = Int.MaxValue, shards = 1)
    val hs = Multimodal.imageDHash(arriving).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gatedFlat = hs.filter(t => flatTiny.hits(t._2, t._3)).map(_._1).toSet
    val gatedSh = hs.filter(t => shTiny.hits(t._2, t._3)).map(_._1).toSet
    val genuine = hs.filter(t => truth.hits(t._2, t._3)).map(_._1).toSet
    assert(gatedFlat.subsetOf(gatedSh),
      s"sharded lost flat-gated ids: ${gatedFlat -- gatedSh}")
    assert(gatedSh.subsetOf(genuine),
      s"sharded gated non-dups: ${gatedSh -- genuine}")
    assert(gatedSh.size > gatedFlat.size,
      s"cap never bit (flat ${gatedFlat.size}, sharded ${gatedSh.size}) " +
        "- the recovery premise is untested")
  }

  test("sharded audio index: shards=1 is bit-identical to the flat " +
    "fit; the per-shard budget widens gating only onto exact-Jaccard " +
    "near-dups") {
    import graft.operators.Multimodal
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val all = Multimodal.nearDupAudioTable(docs.limit(400))
    val reference = all.filter(col("media_id") % 4 < 2)
    val arriving = all.filter(col("media_id") % 4 >= 2)
    // below the shard target the default (auto) fit IS the flat-cap fit
    val flat = Multimodal.fitAudioDupIndex(reference)
    val s1 = Multimodal.fitAudioDupIndex(reference, shards = 1)
    assert(flat.buckets.size == s1.buckets.size)
    flat.buckets.foreach { case (k, v) =>
      assert(java.util.Arrays.equals(v, s1.buckets.getOrNull(k)),
        s"bucket $k diverges at shards=1") }
    val flatTiny = Multimodal.fitAudioDupIndex(
      reference, maxBucket = 1, shards = 1)
    val shTiny = Multimodal.fitAudioDupIndex(
      reference, maxBucket = 1, shards = 3)
    val truth = Multimodal.fitAudioDupIndex(
      reference, maxBucket = Int.MaxValue, shards = 1)
    val fps = arriving.collect().map(r => (r.media_id,
      Multimodal.subFingerprints(
        Multimodal.parseWav(r.payload).samples).map(_._2).distinct.sorted))
    val gatedFlat = fps.filter(t => flatTiny.hits(t._2)).map(_._1).toSet
    val gatedSh = fps.filter(t => shTiny.hits(t._2)).map(_._1).toSet
    val genuine = fps.filter(t => truth.hits(t._2)).map(_._1).toSet
    // audio's verify consults the MERGED survivor map for the
    // one-emission check, so sharded gating is a superset of the
    // per-shard union — still never past the exact-Jaccard truth
    assert(gatedFlat.subsetOf(gatedSh),
      s"sharded lost flat-gated ids: ${gatedFlat -- gatedSh}")
    assert(gatedSh.subsetOf(genuine),
      s"sharded gated non-dups: ${gatedSh -- genuine}")
    assert(genuine.nonEmpty)
  }

  test("wide index SQL pair keys are bit-equal to the Scala key " +
    "(the distributed-cap fit premise)") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(0xA11CEL)
    val hs = Seq.fill(200)((rnd.nextLong(), rnd.nextLong()))
    val got = hs.toDF("hash_lo", "hash_hi")
      .select(expr(Multimodal.ImageDupIndex.keysSql).as("ks"))
      .as[Seq[Long]].collect()
    hs.zip(got).foreach { case ((lo, hi), ks) =>
      val want = for (a <- 0 until 8; b <- a + 1 until 8)
        yield Multimodal.ImageDupIndex.key(a, b, lo, hi).toLong
      assert(ks == want, f"keys diverge for lo=$lo%x hi=$hi%x")
    }
  }

  test("dedup-stream decode failures name the offending row when an " +
    "id column is passed") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    def rootMessages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
    val corrupt = Array.tabulate(20)(_.toByte) // RIFF magic cut short
    def failureOf(
        mk: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame,
        label: String): Unit = {
      val in = MemoryStream[(Long, Long, Array[Byte])]
      val df = in.toDF().toDF("ts_ms", "media_id", "payload")
      val q = mk(df, col("media_id"))
        .writeStream.format("noop").start()
      try {
        in.addData((1000L, 41L, corrupt))
        val e = intercept[Throwable] { q.processAllAvailable() }
        assert(rootMessages(e).exists(_.contains("media 41")),
          s"$label failure not attributed: ${rootMessages(e)}")
      } finally q.stop()
    }
    failureOf((df, id) => Multimodal.videoDedupStream(df, col("payload"),
      timestamp_millis(col("ts_ms")), "10 seconds", id = id), "video")
    failureOf((df, id) => Multimodal.audioDedupStream(df, col("payload"),
      timestamp_millis(col("ts_ms")), "10 seconds", id = id), "audio")
    failureOf((df, id) => Multimodal.imageDedupStream(df, col("payload"),
      timestamp_millis(col("ts_ms")), "10 seconds", id = id), "image")
  }

  test("decode audit is stateless: streaming verdicts equal the batch " +
    "ones on the corrupted fixture") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.corruptedMediaTable(docs.limit(60))
    val batch = Multimodal.decodeAudit(media).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    val in = MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal.decodeAudit(in.toDS())
      .writeStream.format("memory").queryName("audit_out")
      .outputMode("append").start()
    try {
      val rows = media.collect()
      in.addData(rows.take(25).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(25).toSeq)
      q.processAllAvailable()
      val stream = spark.table("audit_out")
        .as[(Long, String, Boolean)].collect().toSet
      assert(stream == batch, "streaming audit diverges from batch")
      assert(batch.exists(!_._3) && batch.exists(_._3))
    } finally q.stop()
  }

  // ---- streaming semantic (embedding) admission gate ---------------------

  /** Brute-force mirror of the gate semantics from plain Scala math —
    * no index code reused: ascending-order folds for dots, q35's
    * 8-plane sign bucket, exact cosine. */
  private def semanticMirror(sf: String)
      : (Array[(Long, Array[Double])], Array[(Long, Array[Double])], Set[Long]) = {
    def dotBf(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    def bucketBf(v: Array[Double]): Long =
      (0 until 8).map(p =>
        if (dotBf(Similarity.planes(p), v) > 0) 1L << p else 0L).sum
    def cosBf(a: Array[Double], b: Array[Double]): Double =
      dotBf(a, b) / (math.sqrt(dotBf(a, a)) * math.sqrt(dotBf(b, b)))
    val all = graft.core.Tables.embeddings(spark, s"/root/testdata/$sf")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val refs = all.filter(_._1 % 4 < 2)
    val arrivals = all.filter(_._1 % 4 >= 2)
    val expectedReject = arrivals.collect { case (id, v)
      if refs.exists { case (_, r) =>
        bucketBf(r) == bucketBf(v) && cosBf(r, v) >= 0.2 } => id
    }.toSet
    (refs, arrivals, expectedReject)
  }

  test("streaming semantic admission gate: default config equals the " +
    "brute-force mirror AND the batch q35 cross pairs, batch == stream") {
    implicit val sqlCtx = spark.sqlContext
    val (refs, arrivals, expectedReject) = semanticMirror("sf0.001")
    assert(expectedReject.nonEmpty, "gate vacuous: nothing rejected")
    assert(expectedReject.size < arrivals.length / 2,
      s"gate degenerate: ${expectedReject.size}/${arrivals.length} rejected")
    // the batch near-dup op agrees: its cross (arrival, reference)
    // pairs name exactly the rejected arrivals
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val refIds = refs.map(_._1).toSet
    val q35Reject = Similarity.cosineNearDupPairs(emb, 0.2)
      .select("a", "b").as[(Long, Long)].collect()
      .collect {
        case (a, b) if refIds(a) && !refIds(b) => b
        case (a, b) if refIds(b) && !refIds(a) => a
      }.toSet
    assert(q35Reject == expectedReject,
      "brute-force mirror diverges from the batch q35 semantics")
    val index = spark.sparkContext.broadcast(Similarity.fitSemanticDupIndex(
      emb.filter(col("vec_id") % 4 < 2)))
    // a null embedding never pairs in batch, so the gate admits it
    val nullId = 990001L
    val expectedAdmit =
      arrivals.map(_._1).toSet -- expectedReject + nullId
    val nullRow = emb.limit(1).select(lit(nullId).as("vec_id"),
      lit(null).cast(emb.schema("embedding").dataType).as("embedding"))
    val batchAdmit = Similarity.semanticAdmitStream(
        emb.filter(col("vec_id") % 4 >= 2).select("vec_id", "embedding")
          .union(nullRow), col("embedding"), index)
      .select("vec_id").as[Long].collect().toSet
    assert(batchAdmit == expectedAdmit)
    // streaming: same vectors through a MemoryStream, two batches
    val in = MemoryStream[(Long, Seq[Float])]
    val sq = Similarity.semanticAdmitStream(
        in.toDF().toDF("vec_id", "embedding"), col("embedding"), index)
      .select("vec_id")
      .writeStream.format("memory").queryName("sem_admit_out")
      .outputMode("append").start()
    try {
      val rows = arrivals.map { case (id, v) =>
        (id, v.map(_.toFloat).toSeq) }
      in.addData(rows.take(100).toSeq)
      sq.processAllAvailable()
      in.addData(rows.drop(100).toSeq :+ ((nullId, null: Seq[Float])))
      sq.processAllAvailable()
      val stream = spark.table("sem_admit_out").as[Long].collect().toSet
      assert(stream == expectedAdmit, "stream verdicts diverge from batch")
    } finally sq.stop()
  }

  test("semantic gate wide config (extra bands): rejections are a " +
    "superset of the default's and every extra one is a true near-dup") {
    val (refs, arrivals, defaultReject) = semanticMirror("sf0.001")
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val wide = Similarity.fitSemanticDupIndex(
      emb.filter(col("vec_id") % 4 < 2), bands = 4)
    val wideAdmit = Similarity.semanticAdmitStream(
        emb.filter(col("vec_id") % 4 >= 2), col("embedding"),
        spark.sparkContext.broadcast(wide))
      .select("vec_id").as[Long].collect().toSet
    val wideReject = arrivals.map(_._1).toSet -- wideAdmit
    assert(defaultReject.subsetOf(wideReject),
      "band 0 of the wide index must reproduce the default's rejections")
    // extra bands may only add TRUE near-dups (exact cosine verify)
    def dotBf(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val extras = wideReject -- defaultReject
    extras.foreach { id =>
      val v = arrivals.find(_._1 == id).get._2
      assert(refs.exists { case (_, r) =>
        dotBf(r, v) / (math.sqrt(dotBf(r, r)) * math.sqrt(dotBf(v, v))) >= 0.2
      }, s"wide index rejected $id with no cosine-near reference")
    }
  }

  test("semantic fit AUTO layout: q35-identical (1,8) below the wide " +
    "threshold, semanP (4,16) at/above it, explicit knobs always win") {
    // small ref set (q146's class): AUTO must stay q35-bit-identical
    val small = Similarity.fitSemanticDupIndex(
      Similarity.nearDupEmbeddingTable(
        spark.range(500).select($"id".as("doc_id"))), threshold = 0.6)
    assert(small.bands == 1 && small.planesPerBand == 8,
      s"small-refs AUTO must be the q35 layout, got " +
        s"(${small.bands}, ${small.planesPerBand})")
    // at the threshold: AUTO must pick the serving layout whose probe
    // rate gatefit shows holding where (1,8) decays linearly
    val refs = Similarity.nearDupEmbeddingTable(
      spark.range(Similarity.semanticAutoWideRefs)
        .select($"id".as("doc_id")))
    val wideAuto = Similarity.fitSemanticDupIndex(refs, threshold = 0.6)
    assert(wideAuto.bands == 4 && wideAuto.planesPerBand == 16,
      s"wide-refs AUTO must be semanP, got " +
        s"(${wideAuto.bands}, ${wideAuto.planesPerBand})")
    // an explicit request pins the layout regardless of ref count
    // (the documented bit-identity escape hatch), and each knob
    // resolves independently when only one is explicit
    val pinned = Similarity.fitSemanticDupIndex(refs, threshold = 0.6,
      bands = 1, planesPerBand = 8)
    assert(pinned.bands == 1 && pinned.planesPerBand == 8)
    val mixed = Similarity.fitSemanticDupIndex(
      Similarity.nearDupEmbeddingTable(
        spark.range(500).select($"id".as("doc_id"))),
      threshold = 0.6, bands = 4)
    assert(mixed.bands == 4 && mixed.planesPerBand == 8,
      "explicit bands with AUTO perBand on small refs is the semanW shape")
    // band 0 of the pinned wide-refs index keys with planes [0,8) —
    // the q35 matrix — so its rejections stay a subset story even at
    // scale; spot-check one probe agrees between AUTO and pinned on a
    // true near-dup (exact-cosine verify makes both hit-correct)
    val probe = Similarity.nearDupEmbedding(1L).map(_.toDouble)
    assert(wideAuto.hits(probe) && pinned.hits(probe),
      "a fixture near-dup of ref group 0 must hit under both layouts")
  }

  test("in-stream semantic dedup collapses sign-stable copies across " +
    "batches, keeps sign-flipping variants, names null-embedding rows") {
    implicit val sqlCtx = spark.sqlContext
    val v1: Seq[Float] = Array.tabulate(64)(i =>
      ((i * 37 + 11) % 41 - 20).toFloat / 7f).toSeq
    val gained = v1.map(_ * 2.5f) // positive gain flips no sign bit
    val flipped = v1.map(-_)      // negation flips every non-zero sign
    val other: Seq[Float] = Array.tabulate(64)(i =>
      ((i * 53 + 29) % 37 - 18).toFloat / 5f).toSeq
    val in = MemoryStream[(Long, Long, Seq[Float])]
    val df = in.toDF().toDF("ts_ms", "vec_id", "embedding")
    val q = Similarity.semanticDedupStream(df, col("embedding"),
        timestamp_millis(col("ts_ms")), "10 seconds")
      .select("vec_id")
      .writeStream.format("memory").queryName("sem_dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1000L, 1L, v1),
        (2000L, 2L, v1),      // byte-identical → dup
        (3000L, 3L, gained),  // sign-stable gain → dup
        (4000L, 4L, flipped)) // every sign flips → survives
      q.processAllAvailable()
      in.addData(
        (5000L, 5L, v1),      // cross-batch copy → dup
        (6000L, 6L, other))
      q.processAllAvailable()
      val got = spark.table("sem_dedup_out").as[Long].collect().toSet
      assert(got == Set(1L, 4L, 6L),
        s"got $got: identical/gained copies must collapse, the " +
          "sign-flipped variant must survive (signature-exact semantics)")
    } finally q.stop()
    // a null embedding names its row when an id column is passed
    val in2 = MemoryStream[(Long, Long, Seq[Float])]
    val df2 = in2.toDF().toDF("ts_ms", "vec_id", "embedding")
    val q2 = Similarity.semanticDedupStream(df2, col("embedding"),
        timestamp_millis(col("ts_ms")), "10 seconds", id = col("vec_id"))
      .writeStream.format("noop").start()
    try {
      in2.addData((1000L, 7L, null: Seq[Float]))
      val e = intercept[Throwable] { q2.processAllAvailable() }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("vec 7")),
        s"null-embedding failure not attributed: $msgs")
    } finally q2.stop()
  }
}

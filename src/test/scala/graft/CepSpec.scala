package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.cep.Cep
import graft.cep.CepStreaming
import graft.cep.CepStreaming.{CepMatch, CepRow}

/** CEP golden tests against the reference fixtures:
  * FlinkCEP.java:36-46 (relaxed contiguity + subtype → match 2,6,8),
  * CEPTimeout.java:41-51 (strict `next` + within + timeout channel),
  * flink-sql/sql/dml/CEP.md:53-111 (MATCH_RECOGNIZE V-shape).
  */
class CepSpec extends SparkSpec {
  import spark.implicits._

  private def at(ms: Long) = new java.sql.Timestamp(ms)

  // FlinkCEP.java:36-46: (id, name, price, volume) — volume marks SubEvent
  private def flinkCepFixture: Seq[CepRow] = Seq(
    (1L, "barfoo", 1.0, None), (2L, "start", 2.0, None),
    (3L, "foobar", 3.0, None), (4L, "foo", 4.0, Some(1.0)),
    (5L, "middle", 5.0, None), (6L, "middle", 6.0, Some(2.0)),
    (7L, "bar", 3.0, Some(3.0)), (42L, "42", 42.0, None),
    (8L, "end", 1.0, None)
  ).zipWithIndex.map { case ((id, n, p, v), i) =>
    CepRow("k", id, n, p, v, at(1000L + i))
  }

  private val startMiddleEnd = Cep.begin[CepRow]("start") {
      (e, _) => e.name == "start" }
    .followedByAny("middle") { (e, _) => e.volume.isDefined && e.name == "middle" }
    .followedByAny("end") { (e, _) => e.name == "end" }

  test("relaxed contiguity + subtype reproduces the reference match 2,6,8") {
    val got = Cep.matchBatch(spark.createDataset(flinkCepFixture),
      (r: CepRow) => r.key, (r: CepRow) => r.tsMs, startMiddleEnd,
      (r: CepRow) => r.tsMs) { (k, _, m) =>
      (k, m("start").head.id, m("middle").head.id, m("end").head.id)
    }.collect()
    assert(got.toSeq == Seq(("k", 2L, 6L, 8L)))
  }

  test("strict next + within: matches adjacent error pairs, times out the rest") {
    // CEPTimeout.java:41-51 shape: any event followed immediately by an
    // 'error' within 2 s. Events 100 ms apart except a 3 s gap before
    // the last pair — the partial started at id 42 times out.
    val rows = Seq(
      (1L, "foo", 0L), (2L, "error", 100L), (3L, "critical", 200L),
      (4L, "bar", 300L), (5L, "33", 400L), (6L, "error", 500L),
      (7L, "bar", 600L), (42L, "55", 700L), (8L, "error", 3800L)
    ).map { case (id, n, ts) => CepRow("k", id, n, 1.0, None, at(ts)) }
    val pattern = Cep.begin[CepRow]("start") { (_, _) => true }
      .next("end") { (e, _) => e.name == "error" }
      .within(2000)
    val got = Cep.matchBatch(spark.createDataset(rows),
      (r: CepRow) => r.key, (r: CepRow) => r.tsMs, pattern,
      (r: CepRow) => r.tsMs) { (k, kind, m) =>
      (kind, m("start").head.id)
    }.collect().toSeq.sorted
    // matches: (1→2), (5→6). Strict `next` kills every other partial
    // on its first non-matching successor (7's partial dies when 42
    // arrives); only 42's partial is still alive when 8 arrives 3.1 s
    // later — past `within` → the timeout channel
    assert(got.filter(_._1 == "match").map(_._2) == Seq(1L, 5L))
    assert(got.filter(_._1 == "timeout").map(_._2).toSet == Set(42L))
  }

  test("DSL optional step: a (b?) c matches with and without the middle event") {
    def run(names: String*): Seq[(Long, Long)] = {
      val rows = names.zipWithIndex.map { case (n, i) =>
        CepRow("k", i + 1L, n, 1.0, None, at(1000L + i * 100L)) }
      val pattern = Cep.begin[CepRow]("a") { (e, _) => e.name == "a" }
        .next("b") { (e, _) => e.name == "b" }.optional
        .next("c") { (e, _) => e.name == "c" }
      Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
        (r: CepRow) => r.tsMs, pattern, (r: CepRow) => r.tsMs) { (_, _, m) =>
        (m("a").head.id, m("c").head.id)
      }.collect().toSeq
    }
    assert(run("a", "b", "c") == Seq((1L, 3L)))
    assert(run("a", "c") == Seq((1L, 2L)))   // b skipped entirely
    assert(run("a", "x", "c").isEmpty)       // strict next still applies
  }

  test("DSL all-optional patterns are rejected at Nfa construction " +
    "(pinned empty-match contract, both surfaces)") {
    val allOpt = Cep.begin[CepRow]("a") { (e, _) => e.name == "a" }
      .optional
    val e = intercept[IllegalArgumentException] {
      new Cep.Nfa[CepRow](allOpt, _.tsMs)
    }
    assert(e.getMessage.contains("match empty"))
    val twoOpt = Cep.begin[CepRow]("a") { (e, _) => e.name == "a" }
      .optional
      .followedBy("b", oneOrMore = true) { (e, _) => e.name == "b" }
      .optional
    val e2 = intercept[IllegalArgumentException] {
      new Cep.Nfa[CepRow](twoOpt, _.tsMs)
    }
    assert(e2.getMessage.contains("match empty"))
    // one required step anchors it
    new Cep.Nfa[CepRow](
      Cep.begin[CepRow]("a") { (e, _) => e.name == "a" }
        .followedBy("b") { (e, _) => e.name == "b" }.optional, _.tsMs)
  }

  test("DSL times(n, m) bounds repetitions of the last step") {
    def run(names: String*): Seq[Int] = {
      val rows = names.zipWithIndex.map { case (n, i) =>
        CepRow("k", i + 1L, n, 1.0, None, at(1000L + i * 100L)) }
      val pattern = Cep.begin[CepRow]("a") { (e, _) => e.name == "a" }
        .next("b") { (e, _) => e.name == "b" }.times(2, 3)
        .next("c") { (e, _) => e.name == "c" }
      Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
        (r: CepRow) => r.tsMs, pattern, (r: CepRow) => r.tsMs) { (_, _, m) =>
        m("b").size
      }.collect().toSeq
    }
    assert(run("a", "b", "b", "c") == Seq(2))
    assert(run("a", "b", "b", "b", "c") == Seq(3)) // greedy-by-position
    assert(run("a", "b", "c").isEmpty)             // below the minimum
    assert(run("a", "b", "b", "b", "b", "c").isEmpty) // above the max, strict
  }

  test("MATCH_RECOGNIZE V-shape: PATTERN (A B+ C) via prev-referencing predicates") {
    // flink-sql/sql/dml/CEP.md ticker: ACME prices 12,17,19,21,25,12,
    // 15,20,24,25 → falling run 25→12 then rising 12→15: the doc's
    // expected match starts at the row before the drop (10:00:04),
    // bottom 10:00:07, up 10:00:08 — here ids 4..6
    val prices = Seq(12.0, 17.0, 19.0, 21.0, 25.0, 12.0, 15.0, 20.0, 24.0, 25.0)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      CepRow("ACME", i.toLong, "tick", p, None, at(1000L * i))
    }
    val vshape = Cep.begin[CepRow]("A") { (_, _) => true }
      .next("B", oneOrMore = true) { (e, prev) => e.price < prev.last.price }
      .next("C") { (e, prev) => e.price > prev.last.price }
    val got = Cep.matchBatch(spark.createDataset(rows),
      (r: CepRow) => r.key, (r: CepRow) => r.tsMs, vshape,
      (r: CepRow) => r.tsMs) { (k, _, m) =>
      (m("A").head.id, m("B").map(_.id).mkString("+"), m("C").head.id)
    }.collect().toSeq
    assert(got.contains((4L, "5", 6L)))
  }

  test("a completed one-or-more match is not re-reported as a timeout") {
    // A@0, B@1 completes A B+ (match); the partial stays live to extend
    // B+, then expires at ts=20 — expiry of an already-matched partial
    // must be silent, not a contradictory "timeout"
    val rows = Seq(
      CepRow("k", 1, "a", 1.0, None, at(0L)), CepRow("k", 2, "b", 1.0, None, at(1000L)),
      CepRow("k", 9, "z", 1.0, None, at(20000L)))
    val pattern = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
      .next("B", oneOrMore = true) { (e, _) => e.name == "b" }
      .within(10000)
    val got = Cep.matchBatch(spark.createDataset(rows),
      (r: CepRow) => r.key, (r: CepRow) => r.tsMs, pattern,
      (r: CepRow) => r.tsMs) { (k, kind, m) => kind }.collect().toSeq
    assert(got == Seq("match"))
  }

  test("AFTER MATCH SKIP PAST LAST EVENT yields non-overlapping matches") {
    // a a b a b: NoSkip pairs every 'a' with every later 'b' (relaxed
    // followedByAny); SkipPastLastEvent restarts after each match
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("a", 4L), ("b", 5L))
      .map { case (n, id) => CepRow("k", id, n, 1.0, None, at(1000L * id)) }
    def run(skip: Cep.AfterMatchSkip) = {
      val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
        .followedByAny("B") { (e, _) => e.name == "b" }
        .afterMatchSkip(skip)
      Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
        (r: CepRow) => r.tsMs, p, (r: CepRow) => r.tsMs) { (k, _, m) =>
        (m("A").head.id, m("B").head.id)
      }.collect().toSeq.sorted
    }
    assert(run(Cep.NoSkip) == Seq((1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (4L, 5L)))
    assert(run(Cep.SkipPastLastEvent) == Seq((1L, 3L), (4L, 5L)))
  }

  test("greedy vs reluctant one-or-more resolves the B/C tie differently") {
    // B: price < 10, C: name == "c". Event 3 ("c", price 5) satisfies
    // BOTH → the quantifier decides; event 4 ("c", price 20) only C.
    val rows = Seq((1L, "a", 1.0), (2L, "x", 5.0), (3L, "c", 5.0),
      (4L, "c", 20.0)).map { case (id, n, p) =>
      CepRow("k", id, n, p, None, at(1000L * id)) }
    def run(q: Cep.Quant) = {
      val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
        .followedBy("B", oneOrMore = true, quant = q) { (e, _) => e.price < 10 }
        .followedBy("C") { (e, _) => e.name == "c" }
      Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
        (r: CepRow) => r.tsMs, p, (r: CepRow) => r.tsMs) { (k, _, m) =>
        (m("B").map(_.id).mkString("+"), m("C").head.id)
      }.collect().toSeq.sorted
    }
    assert(run(Cep.Greedy) == Seq(("2+3", 4L)))      // longest B+ run
    assert(run(Cep.Reluctant) == Seq(("2", 3L)))     // shortest B+ run
    assert(run(Cep.AllMatches) == Seq(("2", 3L), ("2+3", 4L)))
  }

  test("greedy B+ backtracks when the longer run never completes") {
    // B: price < 10, C: price < 20; rows a, 4, 5. Event 3 satisfies
    // both B and C; the greedy-extended run B={2,3} has no event left
    // to complete C, so SQL semantics backtrack to B={2}, C=3.
    val rows = Seq((1L, "a", 1.0), (2L, "x", 4.0), (3L, "x", 5.0))
      .map { case (id, n, p) => CepRow("k", id, n, p, None, at(1000L * id)) }
    val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
      .followedBy("B", oneOrMore = true, quant = Cep.Greedy) { (e, _) => e.price < 10 }
      .followedBy("C") { (e, _) => e.price < 20 }
    val got = Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
      (r: CepRow) => r.tsMs, p, (r: CepRow) => r.tsMs) { (k, _, m) =>
      (m("B").map(_.id).mkString("+"), m("C").head.id)
    }.collect().toSeq
    assert(got == Seq(("2", 3L)))
  }

  test("reluctant B+ backtracks to the longer run when the short one dies") {
    // A B+? C D(next): the preferred short branch takes C early but D
    // never follows it; the longer B+ run's C D completes later.
    val rows = Seq((1L, "a", 1.0), (2L, "x", 5.0), (3L, "c", 6.0),
      (4L, "x", 50.0), (5L, "c", 7.0), (6L, "d", 50.0))
      .map { case (id, n, p) => CepRow("k", id, n, p, None, at(1000L * id)) }
    val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
      .followedBy("B", oneOrMore = true, quant = Cep.Reluctant) { (e, _) => e.price < 10 }
      .followedBy("C") { (e, _) => e.name == "c" }
      .next("D") { (e, _) => e.name == "d" }
    val got = Cep.matchBatch(spark.createDataset(rows), (r: CepRow) => r.key,
      (r: CepRow) => r.tsMs, p, (r: CepRow) => r.tsMs) { (k, _, m) =>
      (m("B").map(_.id).mkString("+"), m("C").head.id, m("D").head.id)
    }.collect().toSeq
    assert(got == Seq(("2+3", 5L, 6L)))
  }

  test("event-time timers flush within-timeouts on idle keys") {
    implicit val sqlCtx = spark.sqlContext
    def row(key: String, id: Long, name: String, ts: Long) =
      CepRow(key, id, name, 1.0, None, at(ts))
    val pattern = Cep.begin[CepRow]("start") { (e, _) => e.name == "start" }
      .followedBy("end") { (e, _) => e.name == "end" }
      .within(2000)
    val in = MemoryStream[CepRow]
    val q = CepStreaming.matchPattern(
      in.toDS().withWatermark("eventTime", "0 seconds"), pattern)
      .writeStream.format("memory").queryName("cep_et_out")
      .outputMode("append").start()
    try {
      in.addData(row("a", 1, "start", 1000L)); q.processAllAvailable()
      // key "a" never sees another event; key "b" advances the
      // watermark past a's within-bound, then one more batch lets the
      // timer fire
      in.addData(row("b", 2, "other", 10000L)); q.processAllAvailable()
      in.addData(row("b", 3, "other", 11000L)); q.processAllAvailable()
      val got = spark.table("cep_et_out").as[CepMatch].collect()
      assert(got.toSeq == Seq(CepMatch("a", "timeout", Seq(1L))))
    } finally q.stop()
  }

  test("matchPattern on a batch Dataset equals Cep.matchBatch: a greedy " +
    "run to the end of input, and a within timeout") {
    def both(rows: Seq[CepRow], p: Cep.PatternSpec[CepRow]) = {
      val ds = spark.createDataset(rows)
      // the same call a stream makes: on a batch Dataset the watermark
      // is inert and each key flushes at the end of its rows
      val got = CepStreaming.matchPattern(
        ds.withWatermark("eventTime", "0 seconds"), p)
        .collect().toSeq.sortBy(m => (m.kind, m.ids.head))
      val want = Cep.matchBatch(ds, (r: CepRow) => r.key,
        (r: CepRow) => r.tsMs, p, (r: CepRow) => r.tsMs) { (k, kind, m) =>
        CepMatch(k, kind, m.values.flatten.map(_.id).toSeq.sorted)
      }.collect().toSeq.sortBy(m => (m.kind, m.ids.head))
      assert(got == want)
      got
    }
    // greedy A B+ over a,b,b: the match is held back while B+ could
    // still grow, and only the end of input releases it
    val greedy = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
      .next("B", oneOrMore = true, quant = Cep.Greedy) { (e, _) => e.name == "b" }
    assert(both(Seq("a", "b", "b").zipWithIndex.map { case (n, i) =>
      CepRow("k", i + 1L, n, 1.0, None, at(1000L * (i + 1))) }, greedy) ==
      Seq(CepMatch("k", "match", Seq(1L, 2L, 3L))))
    // CEPTimeout.java:41-51: the partial started at 42 times out
    val timeouts = Seq(
      (1L, "foo", 0L), (2L, "error", 100L), (3L, "critical", 200L),
      (4L, "bar", 300L), (5L, "33", 400L), (6L, "error", 500L),
      (7L, "bar", 600L), (42L, "55", 700L), (8L, "error", 3800L)
    ).map { case (id, n, ts) => CepRow("k", id, n, 1.0, None, at(ts)) }
    val within = Cep.begin[CepRow]("start") { (_, _) => true }
      .next("end") { (e, _) => e.name == "error" }
      .within(2000)
    assert(both(timeouts, within) == Seq(
      CepMatch("k", "match", Seq(1L, 2L)), CepMatch("k", "match", Seq(5L, 6L)),
      CepMatch("k", "timeout", Seq(42L))))
  }

  test("streaming CEP carries partial matches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepRow]
    val q = CepStreaming.matchPattern(in.toDS(), startMiddleEnd)
      .writeStream.format("memory").queryName("cep_out")
      .outputMode("append").start()
    try {
      val (b1, b2) = flinkCepFixture.splitAt(5) // split mid-pattern
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("cep_out").as[CepMatch].collect()
      assert(got.toSeq == Seq(CepMatch("k", "match", Seq(2L, 6L, 8L))))
    } finally q.stop()
  }
}

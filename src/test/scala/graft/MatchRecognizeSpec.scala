package graft

import java.sql.Timestamp
import graft.cep.MatchRecognize

/** The reference doc's two MATCH_RECOGNIZE queries run VERBATIM
  * through the SQL front-end (`flink-sql/sql/dml/CEP.md:8-33` basic
  * syntax, `:72-111` falling-price V-shape with its worked input and
  * expected output). */
class MatchRecognizeSpec extends SparkSpec {
  import spark.implicits._

  test("basic-syntax example: PATTERN (A B C) with per-var name predicates") {
    // CEP.md:8-24 — strict contiguity: only u1 has a,b,c adjacent
    val rows = Seq(
      (1L, 1000L, "a", 10L), (1L, 2000L, "b", 11L), (1L, 3000L, "c", 12L),
      (2L, 1000L, "a", 20L), (2L, 2000L, "x", 21L), (2L, 3000L, "b", 22L),
      (2L, 4000L, "c", 23L)
    ).toDF("userid", "proctime", "name", "id")
    val got = MatchRecognize.run(rows, """
      SELECT T.aid, T.bid, T.cid
      FROM MyTable
          MATCH_RECOGNIZE (
            PARTITION BY userid
            ORDER BY proctime
            MEASURES
              A.id AS aid,
              B.id AS bid,
              C.id AS cid
            PATTERN (A B C)
            DEFINE
              A AS name = 'a',
              B AS name = 'b',
              C AS name = 'c'
          ) AS T""").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == Seq((1L, 10L, 11L, 12L)))
  }

  test("greedy B+ backtracks when predicates overlap (A B+ C)") {
    // B AS price < 10, C AS price < 20: the row with price 5 satisfies
    // both. Greedy B+ prefers consuming it, but then C has no row left
    // — SQL backtracks and reports B={4}, C=5.
    val rows = Seq((1L, 99L), (2L, 4L), (3L, 5L))
      .toDF("seq", "price").withColumn("sym",
        org.apache.spark.sql.functions.lit("S"))
    val got = MatchRecognize.run(rows, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES
        LAST(B.price) AS b_price,
        LAST(C.price) AS c_price
      PATTERN (A B+ C)
      DEFINE
        A AS price > 50,
        B AS price < 10,
        C AS price < 20
    """).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((4L, 5L)))
  }

  test("runner stays in Tungsten: no RDD scan, exchange + sort in the plan") {
    val rows = Seq((1L, 99L), (2L, 4L), (3L, 5L))
      .toDF("seq", "price").withColumn("sym",
        org.apache.spark.sql.functions.lit("S"))
    val plan = MatchRecognize.run(rows, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES LAST(B.price) AS b_price
      PATTERN (A B+)
      DEFINE A AS price > 50, B AS price < 10
    """).queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"runner left Tungsten:\n$plan")
    assert(plan.contains("Exchange hashpartitioning") &&
      plan.contains("Sort "), s"no repartition+sort:\n$plan")
  }

  test("unsupported syntax fails fast instead of mis-parsing") {
    val rows = Seq((1L, 2L)).toDF("seq", "price").withColumn("sym",
      org.apache.spark.sql.functions.lit("S"))
    // % is not a token — the tokenizer rejects it outright
    val err = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price % 2 AS parity
        PATTERN (A)
        DEFINE A AS price > 0
      """)
    }
    assert(err.getMessage.contains("unsupported syntax"))
    // * tokenizes (it is a pattern quantifier) but arithmetic in
    // MEASURES still fails the parse instead of mis-parsing
    val err2 = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price * 2 AS doubled
        PATTERN (A)
        DEFINE A AS price > 0
      """)
    }
    assert(err2.getMessage.contains("expected AS"))
    // a stray token at pattern-element level must fail fast too: the
    // unsupported reluctant-OPTIONAL quantifier B?? (bounded
    // reluctance {n,m}? landed in round 10; ?? did not) would
    // otherwise silently turn the second '?' into an always-true
    // pattern variable
    val err2b = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price AS p
        PATTERN (A B?? C)
        DEFINE A AS price > 0
      """)
    }
    assert(err2b.getMessage.contains("expected a pattern variable"))
    // NESTED groups are rejected loudly (sequence groups themselves
    // are supported as of round 9 — see the sequence-group tests)
    val err3 = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price AS p
        PATTERN (((A B)+) C)
        DEFINE A AS price > 0
      """)
    }
    assert(err3.getMessage.contains("expected a pattern variable"))
  }

  test("measure alias collisions fail at compile time, not as a " +
    "duplicate-field output schema") {
    val rows = Seq((1L, 2L)).toDF("seq", "price").withColumn("sym",
      org.apache.spark.sql.functions.lit("S"))
    // ALL ROWS PER MATCH prepends every input column — a measure
    // aliased to one of them would duplicate the field name
    val e1 = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price AS price
        ALL ROWS PER MATCH
        PATTERN (A)
        DEFINE A AS price > 0
      """)
    }
    assert(e1.getMessage.contains("collides with an input column"))
    // ONE ROW PER MATCH prepends only the partition column; a
    // non-partition input name is a FINE alias there
    val ok = MatchRecognize.run(rows, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES A.price AS price
      PATTERN (A)
      DEFINE A AS price > 0
    """).collect()
    assert(ok.map(_.toSeq).toSeq == Seq(Seq("S", 2L)))
    val e2 = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price AS sym
        PATTERN (A)
        DEFINE A AS price > 0
      """)
    }
    assert(e2.getMessage.contains("partition column"))
    // two measures sharing an alias collide in either mode
    val e3 = intercept[RuntimeException] {
      MatchRecognize.run(rows, """
        PARTITION BY sym
        ORDER BY seq
        MEASURES A.price AS p, COUNT(A.*) AS p
        PATTERN (A)
        DEFINE A AS price > 0
      """)
    }
    assert(e3.getMessage.contains("duplicate measure alias"))
  }

  private def tape(events: (Long, String)*): org.apache.spark.sql.DataFrame =
    events.map { case (seq, name) => (seq, name, "S") }
      .toDF("seq", "name", "sym")

  private def mr(df: org.apache.spark.sql.DataFrame, pattern: String,
                 measures: String, defines: String): Seq[Seq[Any]] =
    MatchRecognize.run(df, s"""
      PARTITION BY sym
      ORDER BY seq
      MEASURES $measures
      PATTERN ($pattern)
      DEFINE $defines
    """).collect().toSeq.map(_.toSeq.drop(1))

  test("A B* C matches with an EMPTY B run and prefers the longest one") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "A.seq AS a_seq, LAST(B.seq) AS b_seq, C.seq AS c_seq"
    // no b between a and c: B* matches zero rows, LAST(B.seq) is null
    assert(mr(tape(1L -> "a", 2L -> "c"), "A B* C", ms, defs) ==
      Seq(Seq(1L, null, 2L)))
    // two bs: greedy B* consumes both
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "c"),
      "A B* C", ms, defs) == Seq(Seq(1L, 3L, 4L)))
    // strict contiguity still applies: a x c does not match
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "c"), "A B* C", ms, defs)
      .isEmpty)
  }

  test("A B? C takes at most one B and backtracks over the ambiguity") {
    // b satisfies both B and C-like predicates? keep it simple: B
    // optional present and absent
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "A.seq AS a_seq, LAST(B.seq) AS b_seq, C.seq AS c_seq"
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "c"), "A B? C", ms, defs) ==
      Seq(Seq(1L, 2L, 3L)))
    assert(mr(tape(1L -> "a", 2L -> "c"), "A B? C", ms, defs) ==
      Seq(Seq(1L, null, 2L)))
    // two bs break it: B? consumes one, the second row must be C
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "c"),
      "A B? C", ms, defs).isEmpty)
  }

  test("alternation (B|C) binds the matched branch's variable only") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "LAST(B.seq) AS b_seq, LAST(C.seq) AS c_seq, D.seq AS d_seq"
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "d"), "A (B|C) D", ms, defs) ==
      Seq(Seq(2L, null, 3L)))
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"), "A (B|C) D", ms, defs) ==
      Seq(Seq(null, 2L, 3L)))
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "d"), "A (B|C) D", ms, defs)
      .isEmpty)
  }

  test("B{2,3} takes two to three rows, greedy") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1, C.seq AS c_seq"
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "c"),
      "A B{2,3} C", ms, defs) == Seq(Seq(2L, 3L, 4L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "c"),
      "A B{2,3} C", ms, defs) == Seq(Seq(2L, 4L, 5L)))
    // only one b → no match
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "c"), "A B{2,3} C", ms, defs)
      .isEmpty)
    // four bs → the extra b breaks strict contiguity into C
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "c"), "A B{2,3} C", ms, defs).isEmpty)
  }

  test("quantified alternation (B|C)+ repeats the group, switching branches") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "LAST(B.seq) AS b_seq, LAST(C.seq) AS c_seq, D.seq AS d_seq"
    // repetitions alternate branches: b c b all consumed by (B|C)+
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "b", 5L -> "d"),
      "A (B|C)+ D", ms, defs) == Seq(Seq(4L, 3L, 5L)))
    // a single repetition of either branch suffices
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"),
      "A (B|C)+ D", ms, defs) == Seq(Seq(null, 2L, 3L)))
    // zero repetitions do not: + requires at least one
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B|C)+ D", ms, defs).isEmpty)
    // a non-member row breaks strict contiguity inside the loop
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "x", 4L -> "c", 5L -> "d"),
      "A (B|C)+ D", ms, defs).isEmpty)
    // (B|C)* allows the empty run
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B|C)* D", ms, defs) ==
      Seq(Seq(null, null, 2L)))
  }

  test("per-branch + inside alternation (B+|C) self-loops B, never switches") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "LAST(B.seq) AS b_seq, LAST(C.seq) AS c_seq, D.seq AS d_seq"
    // B+ branch consumes the whole b run
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "d"),
      "A (B+|C) D", ms, defs) == Seq(Seq(4L, null, 5L)))
    // the C branch is a single row
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"),
      "A (B+|C) D", ms, defs) == Seq(Seq(null, 2L, 3L)))
    // unlike (B|C)+, repetitions may NOT switch branches: b then c
    // fits neither B+ (c breaks the loop) nor C (b took the position)
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "A (B+|C) D", ms, defs).isEmpty)
    // + still requires at least one row
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B+|C) D", ms, defs).isEmpty)
    // C+ branch: the c run is consumed by the self-loop
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "c", 4L -> "d"),
      "A (B|C+) D", ms, defs) == Seq(Seq(null, 3L, 4L)))
  }

  test("optional branch (B?|C) lets the position match empty") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "LAST(B.seq) AS b_seq, LAST(C.seq) AS c_seq, D.seq AS d_seq"
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "d"), "A (B?|C) D", ms, defs) ==
      Seq(Seq(2L, null, 3L)))
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"), "A (B?|C) D", ms, defs) ==
      Seq(Seq(null, 2L, 3L)))
    // skipping the position = choosing B? empty (C alone cannot skip)
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B?|C) D", ms, defs) ==
      Seq(Seq(null, null, 2L)))
    // (B*|C): loop and empty-skip through the same branch
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "d"),
      "A (B*|C) D", ms, defs) == Seq(Seq(3L, null, 4L)))
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B*|C) D", ms, defs) ==
      Seq(Seq(null, null, 2L)))
  }

  test("single-position bounded loop ((B{2,3})) builds partials and counts") {
    // regression: the single-step complete-per-event fast path must
    // not swallow a bounded loop — ((B{2,3})) is ONE position (one
    // group, one branch) and must consume 2-3 rows per match
    val defs = "B AS name = 'b'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1"
    // default skip (PAST LAST ROW): the greedy 3-row match consumes
    // the tape; the would-be {2,3} suffix match is pruned
    assert(mr(tape(1L -> "b", 2L -> "b", 3L -> "b"),
      "(B{2,3})", ms, defs) == Seq(Seq(1L, 3L)))
    // a single b is below the minimum
    assert(mr(tape(1L -> "b"), "(B{2,3})", ms, defs).isEmpty)
    // two bs: exactly the minimum
    assert(mr(tape(1L -> "b", 2L -> "b"), "(B{2,3})", ms, defs).toSet ==
      Set(Seq(1L, 2L)))
  }

  test("bounded branch (B{2,3}|C) counts its own repetitions") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1, " +
      "LAST(C.seq) AS c_seq, D.seq AS d_seq"
    // two bs meet the minimum
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "d"),
      "A (B{2,3}|C) D", ms, defs) == Seq(Seq(2L, 3L, null, 4L)))
    // three bs: greedy up to the cap
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "d"),
      "A (B{2,3}|C) D", ms, defs) == Seq(Seq(2L, 4L, null, 5L)))
    // one b is below the minimum — and the C branch does not take b
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "d"),
      "A (B{2,3}|C) D", ms, defs).isEmpty)
    // four bs exceed the cap: the un-consumed b breaks contiguity to D
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "d"), "A (B{2,3}|C) D", ms, defs).isEmpty)
    // the unbounded branch is unaffected
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"),
      "A (B{2,3}|C) D", ms, defs) == Seq(Seq(null, null, 2L, 3L)))
  }

  test("(B|C){2} takes exactly two rows from either branch") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "LAST(B.seq) AS b_seq, LAST(C.seq) AS c_seq, D.seq AS d_seq"
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "A (B|C){2} D", ms, defs) == Seq(Seq(2L, 3L, 4L)))
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "b", 4L -> "d"),
      "A (B|C){2} D", ms, defs) == Seq(Seq(3L, 2L, 4L)))
    // one group row is not enough for {2}
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "d"),
      "A (B|C){2} D", ms, defs).isEmpty)
    // {1,2} backtracks: one row then D also matches
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "d"),
      "A (B|C){1,2} D", ms, defs) == Seq(Seq(null, 2L, 3L)))
  }

  test("bounded branch inside a quantified group: (B{2,3}|C)+ re-enters B") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1, " +
      "LAST(C.seq) AS c_seq, D.seq AS d_seq"
    def q(t: (Long, String)*) = mr(tape(t: _*), "A (B{2,3}|C)+ D", ms, defs)
    // one iteration, minimum run
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "d") ==
      Seq(Seq(2L, 3L, null, 4L)))
    // one iteration at the cap
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "d") ==
      Seq(Seq(2L, 4L, null, 5L)))
    // FOUR consecutive bs: illegal as one run ({2,3}), legal as two
    // back-to-back B iterations (2+2) — the case the trailing-run
    // decomposition exists for
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "d") == Seq(Seq(2L, 5L, null, 6L)))
    // five bs = 2+3; seven bs = 2+2+3
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "b", 7L -> "d") == Seq(Seq(2L, 6L, null, 7L)))
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "b", 7L -> "b", 8L -> "b", 9L -> "d") ==
      Seq(Seq(2L, 8L, null, 9L)))
    // one b is below every decomposition
    assert(q(1L -> "a", 2L -> "b", 3L -> "d").isEmpty)
    // iterations may switch branches, but only on a repetition
    // boundary: b b c b b b works, b c does not (the lone b is not a
    // whole B{2,3} repetition, and C's predicate rejects b)
    assert(q(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "c", 5L -> "b",
      6L -> "b", 7L -> "b", 8L -> "d") == Seq(Seq(2L, 7L, 4L, 8L)))
    assert(q(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d").isEmpty)
    // a C iteration before the B runs
    assert(q(1L -> "a", 2L -> "c", 3L -> "b", 4L -> "b", 5L -> "d") ==
      Seq(Seq(3L, 4L, 2L, 5L)))
    // {3,4}: five bs have NO decomposition (3+3 > 5 > 4), six do
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "b", 7L -> "d"), "A (B{3,4}|C)+ D", ms, defs).isEmpty)
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "b", 7L -> "b", 8L -> "d"), "A (B{3,4}|C)+ D", ms, defs) ==
      Seq(Seq(2L, 7L, null, 8L)))
  }

  test("greedy/reluctant ties across group iterations of a bounded branch") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1"
    // pattern ENDS in the quantified group: every legal prefix length
    // completes, the quantifier arbitrates — ONE match per attempt,
    // not one per length. Greedy backtracking munches iteration by
    // iteration: the first iteration takes B{3}, a second iteration
    // cannot form from the single leftover b, so the match is THREE
    // bs (regex semantics: a(b{2,3}|c)+ on "abbbb" matches "abbb";
    // 2+2 happens only under a continuation that forces it, as in
    // the re-enters-B test above). The round-8 differential fuzz
    // corrected the earlier longest-total-run (2+2) expectation.
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b"),
      "A (B{2,3}|C)+", ms, defs) == Seq(Seq(2L, 4L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b"),
      "A (B{2,3}|C)+", ms, defs) == Seq(Seq(2L, 4L)))
    // reluctant group: the FEWEST iterations (one), but the bounded
    // branch stays greedy WITHIN its iteration — one B{3} repetition,
    // not B{2} (regex semantics: a(b{2,3}|c)+? on "abbbb" matches
    // "abbb"; the round-8 differential fuzz against the backtracking
    // oracle corrected the earlier B{2} expectation here)
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b"),
      "A (B{2,3}|C)+?", ms, defs) == Seq(Seq(2L, 4L)))
  }

  test("bounded branch in optional and counted groups: (B{2}|C)? and (B{2}|C){2}") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "FIRST(B.seq) AS b0, LAST(B.seq) AS b1, " +
      "LAST(C.seq) AS c_seq, D.seq AS d_seq"
    // optional group (can't repeat — the once-rejected safe combo)
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "d"),
      "A (B{2}|C)? D", ms, defs) == Seq(Seq(2L, 3L, null, 4L)))
    assert(mr(tape(1L -> "a", 2L -> "d"), "A (B{2}|C)? D", ms, defs) ==
      Seq(Seq(null, null, null, 2L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "d"), "A (B{2}|C)? D",
      ms, defs).isEmpty)
    // counted group: each of the two iterations takes a whole branch
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "c", 5L -> "d"),
      "A (B{2}|C){2} D", ms, defs) == Seq(Seq(2L, 3L, 4L, 5L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b", 5L -> "b",
      6L -> "d"), "A (B{2}|C){2} D", ms, defs) == Seq(Seq(2L, 5L, null, 6L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "d"),
      "A (B{2}|C){2} D", ms, defs).isEmpty)
  }

  test("multi-variable sequence group (A B)+: session-shaped repetition") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, " +
      "FIRST(A.seq) AS a0, LAST(B.seq) AS b1, D.seq AS d_seq"
    def q(t: (Long, String)*) = mr(tape(t: _*), "X (A B)+ D", ms, defs)
    // one iteration
    assert(q(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d") ==
      Seq(Seq(1L, 1L, 2L, 3L, 4L)))
    // three iterations: strictly alternating a b a b a b
    assert(q(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b",
      6L -> "a", 7L -> "b", 8L -> "d") ==
      Seq(Seq(3L, 3L, 2L, 7L, 8L)))
    // a dangling A (iteration not closed) kills the attempt: x a b a d
    assert(q(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "d").isEmpty)
    // zero iterations is below the + minimum
    assert(q(1L -> "x", 2L -> "d").isEmpty)
    // two As in a row break the cycle
    assert(q(1L -> "x", 2L -> "a", 3L -> "a", 4L -> "b", 5L -> "d").isEmpty)
  }

  test("sequence group quantifiers: (A B)?, (A B){2}, (A B){1,2}, (A B)*") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, FIRST(A.seq) AS a0, " +
      "LAST(B.seq) AS b1, D.seq AS d_seq"
    // optional: present and absent
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d"),
      "X (A B)? D", ms, defs) == Seq(Seq(1L, 2L, 3L, 4L)))
    assert(mr(tape(1L -> "x", 2L -> "d"), "X (A B)? D", ms, defs) ==
      Seq(Seq(0L, null, null, 2L)))
    // ? admits at most one iteration
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b",
      6L -> "d"), "X (A B)? D", ms, defs).isEmpty)
    // exact count {2}
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b",
      6L -> "d"), "X (A B){2} D", ms, defs) == Seq(Seq(2L, 2L, 5L, 6L)))
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d"),
      "X (A B){2} D", ms, defs).isEmpty)
    // {1,2} takes both lengths
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d"),
      "X (A B){1,2} D", ms, defs) == Seq(Seq(1L, 2L, 3L, 4L)))
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b",
      6L -> "d"), "X (A B){1,2} D", ms, defs) == Seq(Seq(2L, 2L, 5L, 6L)))
    // * admits zero
    assert(mr(tape(1L -> "x", 2L -> "d"), "X (A B)* D", ms, defs) ==
      Seq(Seq(0L, null, null, 2L)))
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b",
      6L -> "d"), "X (A B)* D", ms, defs) == Seq(Seq(2L, 2L, 5L, 6L)))
  }

  test("sequence group at pattern end: greedy vs reluctant iteration count") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b'"
    val ms = "COUNT(A.*) AS n_a, LAST(B.seq) AS b1"
    val t = tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b")
    // greedy +: both iterations; reluctant +?: one
    assert(mr(t, "X (A B)+", ms, defs) == Seq(Seq(2L, 5L)))
    assert(mr(t, "X (A B)+?", ms, defs) == Seq(Seq(1L, 3L)))
    // a trailing half-iteration is simply not consumed
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a"),
      "X (A B)+", ms, defs) == Seq(Seq(1L, 3L)))
  }

  test("sequence groups of three variables and unsupported shapes reject loudly") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "C AS name = 'c', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, LAST(C.seq) AS c1, D.seq AS d_seq"
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "c", 5L -> "a",
      6L -> "b", 7L -> "c", 8L -> "d"), "X (A B C){2} D", ms, defs) ==
      Seq(Seq(2L, 7L, 8L)))
    // zero-capable variables inside a sequence are SUPPORTED since
    // round 10's second pass — they run instead of rejecting
    val msAbd = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, D.seq AS d_seq"
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "d"), "X (A B?) D",
      msAbd, defs) == Seq(Seq(1L, 0L, 3L)))
    assert(mr(tape(1L -> "x", 2L -> "c", 3L -> "d"), "X (A B* | C) D",
      ms, defs) == Seq(Seq(0L, 2L, 3L)))
    // what stays rejected is the empty-capable class: a branch whose
    // every variable is zero-capable
    val allZero = intercept[RuntimeException] {
      mr(tape(1L -> "x"), "X (A? B*) D", ms, defs)
    }
    assert(allZero.getMessage.contains("can match empty"))
  }

  test("per-variable quantifiers inside sequence groups: (A B+), " +
    "(A B{2}), (A+ B)") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "C AS name = 'c', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, D.seq AS d_seq"
    def q(pat: String, t: (Long, String)*) = mr(tape(t: _*), pat, ms, defs)
    // B+ absorbs the whole run inside one iteration
    assert(q("X (A B+) D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "b", 6L -> "d") == Seq(Seq(1L, 3L, 6L)))
    assert(q("X (A B+) D", 1L -> "x", 2L -> "a", 3L -> "d").isEmpty)
    // bounded run: exactly two, a third b kills the strict attempt
    assert(q("X (A B{2}) D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "d") == Seq(Seq(1L, 2L, 5L)))
    assert(q("X (A B{2}) D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "d").isEmpty)
    assert(q("X (A B{2}) D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "b", 6L -> "d").isEmpty)
    // the quantified variable may be first in the cycle
    assert(q("X (A+ B) D", 1L -> "x", 2L -> "a", 3L -> "a", 4L -> "b",
      5L -> "d") == Seq(Seq(2L, 1L, 5L)))
    // composed with a group quantifier: runs are PER ITERATION
    assert(q("X (A B+){2} D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "a", 6L -> "b", 7L -> "d") == Seq(Seq(2L, 3L, 7L)))
    // greedy group: two iterations preferred over one
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b", 5L -> "a",
      6L -> "b"), "X (A B+){1,2}", "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b",
      defs) == Seq(Seq(2L, 3L)))
    // reluctant variable stops at the shortest completing run
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b"),
      "X (A B+?)", "COUNT(B.*) AS n_b", defs) == Seq(Seq(1L)))
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b"),
      "X (A B+)", "COUNT(B.*) AS n_b", defs) == Seq(Seq(2L)))
    // inside a mixed alternation, quantified or not
    assert(q("X (A B+ | C) D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "d") == Seq(Seq(1L, 2L, 5L)))
    assert(mr(tape(1L -> "x", 2L -> "c", 3L -> "a", 4L -> "b", 5L -> "b",
      6L -> "c", 7L -> "d"), "X (C | A B+)+ D",
      "COUNT(C.*) AS n_c, COUNT(B.*) AS n_b", defs) == Seq(Seq(2L, 2L)))
  }

  test("unbounded group quantifiers over per-variable quantifiers: " +
    "(A B+)+, (A B+)*, (A+ B)+ — the last grammar residue") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "C AS name = 'c', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, D.seq AS d_seq"
    def q(pat: String, t: (Long, String)*) = mr(tape(t: _*), pat, ms, defs)
    // two iterations, the first absorbing a 2-run of B
    assert(q("X (A B+)+ D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "a", 6L -> "b", 7L -> "d") == Seq(Seq(2L, 3L, 7L)))
    // a trailing half-iteration (A with no B) kills every completion:
    // leaving after iteration 1 needs D at the 'a', opening a second
    // iteration needs B+ before the 'd'
    assert(q("X (A B+)+ D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a",
      5L -> "d").isEmpty)
    // one iteration suffices ((A B+)+ degenerates to (A B+))
    assert(q("X (A B+)+ D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "d") == Seq(Seq(1L, 1L, 4L)))
    // * admits zero iterations
    assert(q("X (A B+)* D", 1L -> "x", 2L -> "d") ==
      Seq(Seq(0L, 0L, 2L)))
    assert(q("X (A B+)* D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "d") == Seq(Seq(1L, 2L, 5L)))
    // quantified variable first in the cycle
    assert(q("X (A+ B)+ D", 1L -> "x", 2L -> "a", 3L -> "a", 4L -> "b",
      5L -> "a", 6L -> "b", 7L -> "d") == Seq(Seq(3L, 2L, 7L)))
    // greedy: a final all-optional tail prefers MORE iterations
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b"),
      "X (A B+)+", "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b", defs) ==
      Seq(Seq(2L, 2L)))
    // reluctant group: fewest iterations that complete
    assert(mr(tape(1L -> "x", 2L -> "a", 3L -> "b", 4L -> "a", 5L -> "b"),
      "X (A B+)+?", "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b", defs) ==
      Seq(Seq(1L, 1L)))
    // bounded-variable flavor under the unbounded group: (A B{2})+
    assert(q("X (A B{2})+ D", 1L -> "x", 2L -> "a", 3L -> "b", 4L -> "b",
      5L -> "a", 6L -> "b", 7L -> "b", 8L -> "d") == Seq(Seq(2L, 4L, 8L)))
    assert(q("X (A B{2})+ D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "d").isEmpty)
  }

  test("reluctant bounded group backtracking prefers the NEAREST " +
    "optional copy (round-11 fuzz counterexamples)") {
    // Found by the 200k-case soak: the advance walk's leave-first
    // hoist also hoisted the DEEPEST optional copy's entries, so a
    // path re-entering C through the LAST copy (which then died — no
    // copies left for the needed third iteration) outranked the
    // middle-copy path, handing the win to extending E+? instead.
    // SQL/PCRE lazy order: leave first, then iterate-once-more with
    // branches in alternation order (C before E), extension last.
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    // tape c c d c x b c, SKIP TO NEXT ROW, WITHIN 4s: match 1 must
    // be C,C,E(3-run),B — not C,E(4-run),B
    val t1 = Seq((700L, "c"), (1400L, "c"), (2100L, "d"), (2800L, "c"),
      (3500L, "x"), (4200L, "b"), (4900L, "c"))
      .map { case (ts, n) => (ts, n, "S") }.toDF("seq", "name", "sym")
    val m1 = MatchRecognize.run(t1, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES FIRST(C.seq) AS c0, COUNT(C.*) AS n_c,
               COUNT(E.*) AS n_e, B.seq AS b_seq
      AFTER MATCH SKIP TO NEXT ROW
      PATTERN ((C | E+? | B){1,3}? B (B? | E)+?)
      WITHIN INTERVAL '4' SECOND
      DEFINE """ + defs).collect().map(_.toSeq)
    assert(m1.head == Seq("S", 700L, 2L, 3L, 4200L),
      s"first match must bind C twice (got ${m1.head})")
    // ALL ROWS twin: b x a c c d — iteration 3 must bind A (leftmost
    // branch) at the 'a', not extend E+?; with SKIP TO LAST A that
    // also creates the second match the un-bound-A run lost entirely
    val t2 = Seq((700L, "b"), (1400L, "x"), (2100L, "a"), (2800L, "c"),
      (3500L, "c"), (4200L, "d"))
      .map { case (ts, n) => (ts, n, "S") }.toDF("seq", "name", "sym")
    val m2 = MatchRecognize.run(t2, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES CLASSIFIER() AS clf, MATCH_NUMBER() AS mn
      ALL ROWS PER MATCH
      AFTER MATCH SKIP TO LAST A
      PATTERN ((A+? | B | E+?){1,3}? (C | D | C B A){3} B? (E? A | B+? | D+)?)
      DEFINE """ + defs).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(m2.toSeq == Seq(
      (700L, "B", 1L), (1400L, "E", 1L), (2100L, "A", 1L),
      (2800L, "C", 1L), (3500L, "C", 1L), (4200L, "D", 1L),
      (2100L, "A", 2L), (2800L, "C", 2L), (3500L, "C", 2L),
      (4200L, "D", 2L)), s"got ${m2.toSeq}")
  }

  test("alternation containing a sequence branch: (A B | C)") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "C AS name = 'c', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, LAST(C.seq) AS c1, D.seq AS d_seq"
    def q(pat: String, t: (Long, String)*) = mr(tape(t: _*), pat, ms, defs)
    // the sequence branch fires...
    assert(q("X (A B | C) D",
      1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d") ==
      Seq(Seq(1L, null, 4L)))
    // ...and the single-variable branch fires
    assert(q("X (A B | C) D", 1L -> "x", 2L -> "c", 3L -> "d") ==
      Seq(Seq(0L, 2L, 3L)))
    // branch order in the pattern doesn't matter for reachability
    assert(q("X (C | A B) D",
      1L -> "x", 2L -> "a", 3L -> "b", 4L -> "d") ==
      Seq(Seq(1L, null, 4L)))
    // a half iteration of the sequence branch is no match
    assert(q("X (A B | C) D", 1L -> "x", 2L -> "a", 3L -> "d").isEmpty)
    assert(q("X (A B | C) D", 1L -> "x", 2L -> "d").isEmpty)
    // a per-branch quantifier on a single-var branch still composes:
    // C+ consumes the whole c-run in ONE group iteration
    assert(mr(tape(1L -> "x", 2L -> "c", 3L -> "c", 4L -> "c", 5L -> "d"),
      "X (A B | C+) D", "COUNT(C.*) AS n_c, D.seq AS d_seq", defs) ==
      Seq(Seq(3L, 5L)))
  }

  test("SQL alternation preference is leftmost-branch, sequence branches included") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b"
    val t = tape(1L -> "x", 2L -> "a", 3L -> "b")
    // leftmost single-var branch beats the longer sequence branch
    assert(mr(t, "X (A | A B)", ms, defs) == Seq(Seq(1L, 0L)))
    // leftmost sequence branch beats the shorter single-var branch
    assert(mr(t, "X (A B | A)", ms, defs) == Seq(Seq(1L, 1L)))
  }

  test("quantified mixed groups: (A B | C)+, (C | A B){2}, reluctant +?") {
    val defs = "X AS name = 'x', A AS name = 'a', B AS name = 'b', " +
      "C AS name = 'c', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(C.*) AS n_c, D.seq AS d_seq"
    def q(pat: String, t: (Long, String)*) = mr(tape(t: _*), pat, ms, defs)
    // iterations may switch branches: (A B), C, (A B)
    assert(q("X (A B | C)+ D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "c", 5L -> "a", 6L -> "b", 7L -> "d") ==
      Seq(Seq(2L, 1L, 7L)))
    // same-branch re-entry back to back
    assert(q("X (A B | C)+ D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "a", 5L -> "b", 6L -> "d") == Seq(Seq(2L, 0L, 6L)))
    assert(q("X (A B | C)+ D", 1L -> "x", 2L -> "c", 3L -> "c",
      4L -> "d") == Seq(Seq(0L, 2L, 4L)))
    // a dangling sequence iteration kills the attempt
    assert(q("X (A B | C)+ D", 1L -> "x", 2L -> "a", 3L -> "b",
      4L -> "a", 5L -> "d").isEmpty)
    // exact count with a branch switch
    assert(q("X (C | A B){2} D", 1L -> "x", 2L -> "c", 3L -> "a",
      4L -> "b", 5L -> "d") == Seq(Seq(1L, 1L, 5L)))
    assert(q("X (C | A B){2} D", 1L -> "x", 2L -> "c", 3L -> "d").isEmpty)
    // greedy consumes the whole run; reluctant stops at the first
    // completable iteration (pattern end makes one iteration enough)
    val ccTape = Seq(1L -> "x", 2L -> "c", 3L -> "c")
    assert(mr(tape(ccTape: _*), "X (C | A B)+", "COUNT(C.*) AS n_c", defs) ==
      Seq(Seq(2L)))
    assert(mr(tape(ccTape: _*), "X (C | A B)+?", "COUNT(C.*) AS n_c", defs) ==
      Seq(Seq(1L)))
  }

  test("empty-capable patterns are rejected loudly (pinned contract: " +
    "no SQL:2016 empty-match rows)") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "COUNT(B.*) AS n_b"
    // every element admits zero rows -> SQL:2016 would emit an empty
    // match per unmatched row; the engine rejects instead of silently
    // emitting nothing (FlinkCEP's contract for the same machine)
    for (pat <- Seq("B*", "A? B*", "(B? | C?)", "(A B)*",
      "A{0,2} (B* | C?)", "B*?")) {
      val e = intercept[RuntimeException] {
        mr(tape(1L -> "b"), pat, ms, defs)
      }
      assert(e.getMessage.contains("match empty"),
        s"$pat: ${e.getMessage}")
    }
    // one element that REQUIRES a row anchors the pattern - legal
    // ((B?|C) does NOT anchor: its B? branch matches the position
    // empty, so it counts as zero-row-capable above)
    assert(mr(tape(1L -> "a", 2L -> "b"), "A B*", ms, defs) ==
      Seq(Seq(1L)))
    assert(mr(tape(1L -> "c"), "A? (B | C)", ms, defs) == Seq(Seq(0L)))
    assert(mr(tape(1L -> "a", 2L -> "b"), "A? (A B)", ms, defs) ==
      Seq(Seq(1L)))
  }

  test("AFTER MATCH SKIP variants: overlapping vs non-overlapping match sets") {
    val rows = tape(1L -> "b", 2L -> "b", 3L -> "b", 4L -> "b")
    def run(skip: String): Seq[(Long, Long)] =
      MatchRecognize.run(rows, s"""
        PARTITION BY sym
        ORDER BY seq
        MEASURES FIRST(B.seq) AS b0, LAST(B.seq) AS b1
        $skip
        PATTERN (B{2})
        DEFINE B AS name = 'b'
      """).collect().toSeq.map(r => (r.getLong(1), r.getLong(2))).sorted
    // PAST LAST ROW: disjoint matches only
    assert(run("AFTER MATCH SKIP PAST LAST ROW") == Seq((1L, 2L), (3L, 4L)))
    // TO NEXT ROW: resume one row after each match start — overlaps
    assert(run("AFTER MATCH SKIP TO NEXT ROW") ==
      Seq((1L, 2L), (2L, 3L), (3L, 4L)))
  }

  test("reluctant B+? stops at the first completion") {
    // B AS price < 10, C AS price < 20 as in the greedy test — but
    // B+? prefers the SHORTEST loop run that completes
    val rows = Seq((1L, 99L), (2L, 4L), (3L, 5L))
      .toDF("seq", "price").withColumn("sym",
        org.apache.spark.sql.functions.lit("S"))
    val got = MatchRecognize.run(rows, """
      PARTITION BY sym
      ORDER BY seq
      MEASURES LAST(B.price) AS b_price, LAST(C.price) AS c_price
      PATTERN (A B+? C)
      DEFINE A AS price > 50, B AS price < 10, C AS price < 20
    """).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((4L, 5L)))
  }

  test("MEASURES aggregates: SUM/AVG/COUNT/MIN/MAX over a quantified run") {
    val rows = Seq(
      (1L, 1000L, "a", 10L), (1L, 2000L, "b", 5L), (1L, 3000L, "b", 7L),
      (1L, 4000L, "b", 9L), (1L, 5000L, "c", 2L)
    ).toDF("userid", "proctime", "name", "price")
    val got = MatchRecognize.run(rows, """
      PARTITION BY userid
      ORDER BY proctime
      MEASURES
        SUM(B.price) AS total,
        AVG(B.price) AS avg_p,
        COUNT(B.*) AS nb,
        MIN(B.price) AS mn,
        MAX(B.price) AS mx,
        COUNT(*) AS nrows
      PATTERN (A B+ C)
      DEFINE
        A AS name = 'a',
        B AS name = 'b',
        C AS name = 'c'""").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 21L, "SUM over the greedy B run")  // 5+7+9
    assert(r.getDouble(2) == 7.0)
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 5L && r.getLong(5) == 9L)
    assert(r.getLong(6) == 5L, "COUNT(*) spans the whole match")
  }

  test("aggregates in DEFINE use running semantics (budget-bounded run)") {
    val rows = Seq(
      (1L, 1000L, "a", 0L), (1L, 2000L, "b", 8L), (1L, 3000L, "b", 9L),
      (1L, 4000L, "c", 0L)
    ).toDF("userid", "proctime", "name", "price")
    def q(budget: Long) = MatchRecognize.run(rows, s"""
      PARTITION BY userid
      ORDER BY proctime
      MEASURES SUM(B.price) AS total, COUNT(B.*) AS nb
      PATTERN (A B+ C)
      DEFINE
        A AS name = 'a',
        B AS name = 'b' AND SUM(B.price) <= $budget,
        C AS name = 'c'""").collect()
    // budget 20: both b rows admit (running sums 8, 17) → one match
    val fits = q(20)
    assert(fits.length == 1 && fits.head.getLong(1) == 17L &&
      fits.head.getLong(2) == 2L)
    // budget 8: the second b is rejected (17 > 8), the leftover b row
    // can't satisfy C's strict contiguity → no match at all
    assert(q(8).isEmpty)
  }

  test("WITHIN bounds first-to-last row spacing through the NFA window") {
    def ts(s: Int) = new Timestamp(s * 1000L)
    val rows = Seq(
      (1L, ts(0), "a"), (1L, ts(30), "b"), (1L, ts(50), "c")
    ).toDF("userid", "rowtime", "name")
    def q(interval: String) = MatchRecognize.run(rows, s"""
      PARTITION BY userid
      ORDER BY rowtime
      MEASURES FIRST(A.name) AS fa, LAST(C.name) AS lc
      PATTERN (A B C) WITHIN INTERVAL $interval
      DEFINE
        A AS name = 'a',
        B AS name = 'b',
        C AS name = 'c'""").collect()
    assert(q("'1' MINUTE").length == 1, "50 s span fits in a minute")
    assert(q("'40' SECOND").isEmpty, "partial expires before C arrives")
  }

  test("falling-price V-shape reproduces the doc's exact output row") {
    // CEP.md:53-67 Ticker table (ACME, 01-Apr-11 10:00:00 .. 10:00:10)
    val base = Timestamp.valueOf("2011-04-01 10:00:00").getTime
    val prices = Seq(12L, 17L, 19L, 21L, 25L, 18L, 15L, 14L, 24L, 25L, 19L)
    val taxes = Seq(1L, 2L, 1L, 3L, 2L, 1L, 1L, 2L, 2L, 2L, 1L)
    val rows = prices.zip(taxes).zipWithIndex.map { case ((p, t), i) =>
      ("ACME", new Timestamp(base + i * 1000L), p, t)
    }.toDF("symbol", "rowtime", "price", "tax")

    val got = MatchRecognize.run(rows, """
      SELECT *
      FROM Ticker
          MATCH_RECOGNIZE (
              PARTITION BY symbol
              ORDER BY rowtime
              MEASURES
                  START_ROW.rowtime AS start_tstamp,
                  LAST(PRICE_DOWN.rowtime) AS bottom_tstamp,
                  LAST(PRICE_UP.rowtime) AS end_tstamp
              ONE ROW PER MATCH
              AFTER MATCH SKIP TO LAST PRICE_UP
              PATTERN (START_ROW PRICE_DOWN+ PRICE_UP)
              DEFINE
                  PRICE_DOWN AS
                      (LAST(PRICE_DOWN.price, 1) IS NULL AND PRICE_DOWN.price < START_ROW.price) OR
                          PRICE_DOWN.price < LAST(PRICE_DOWN.price, 1),
                  PRICE_UP AS
                      PRICE_UP.price > LAST(PRICE_DOWN.price, 1)
          ) MR""").collect()

    // doc CEP.md:107-111: exactly one summary row
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "ACME")
    assert(r.getAs[Timestamp]("start_tstamp").getTime == base + 4000L)
    assert(r.getAs[Timestamp]("bottom_tstamp").getTime == base + 7000L)
    assert(r.getAs[Timestamp]("end_tstamp").getTime == base + 8000L)
  }

  test("runStream: streaming MATCH_RECOGNIZE equals the batch runner " +
    "across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clause = """
      PARTITION BY sym
      ORDER BY seq
      MEASURES FIRST(A.seq) AS a0, COUNT(B.*) AS n_b, C.seq AS c_seq
      PATTERN (A B+ C)
      DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'
    """
    // two keys interleaved; per-key arrival respects ORDER BY, rows
    // split 3-per-micro-batch so partials cross batch boundaries
    val rows = Seq(
      (1L, "a", "S"), (2L, "b", "S"), (3L, "b", "S"), (4L, "c", "S"),
      (1L, "a", "T"), (2L, "x", "T"), (3L, "a", "T"), (4L, "b", "T"),
      (5L, "c", "T"),
      (5L, "a", "S"), (6L, "b", "S"), (7L, "c", "S"))
    val batch = MatchRecognize.run(rows.toDF("seq", "name", "sym"), clause)
      .collect().map(_.toSeq).toSet
    assert(batch.size == 3)
    val in = MemoryStream[(Long, String, String)]
    val q = MatchRecognize.runStream(
        in.toDF().toDF("seq", "name", "sym"), clause)
      .writeStream.format("memory").queryName("mr_stream_out")
      .outputMode("append").start()
    try {
      rows.grouped(3).foreach { ch =>
        in.addData(ch: _*)
        q.processAllAvailable()
      }
      val got = spark.table("mr_stream_out").collect().map(_.toSeq).toSet
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
    // and on a BATCH DataFrame, runStream degrades to the batch runner
    val viaStreamApi = MatchRecognize.runStream(
      rows.toDF("seq", "name", "sym"), clause).collect().map(_.toSeq).toSet
    assert(viaStreamApi == batch)
  }

  test("runStream state round-trips NULL fields held across " +
    "micro-batches (the Row state encoding's null path)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // `tag` is unused by DEFINE but read by a MEASURE; its null on
    // the A row must survive the batch-boundary state encode/decode
    val clause = """
      PARTITION BY sym
      ORDER BY seq
      MEASURES A.tag AS a_tag, COUNT(B.*) AS n_b
      PATTERN (A B+ C)
      DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'
    """
    val rows: Seq[(Long, String, String, java.lang.Long)] = Seq(
      (1L, "a", "S", null),             // A with a NULL measure column
      (2L, "b", "S", java.lang.Long.valueOf(7L)),
      (3L, "b", "S", null),
      (4L, "c", "S", java.lang.Long.valueOf(9L)),
      (1L, "a", "T", java.lang.Long.valueOf(5L)), // non-null control
      (2L, "b", "T", null),
      (3L, "c", "T", null))
    val df = rows.toDF("seq", "name", "sym", "tag")
    val batch = MatchRecognize.run(df, clause)
      .collect().map(_.toSeq).toSet
    assert(batch == Set(Seq("S", null, 2L), Seq("T", 5L, 1L)))
    val in = MemoryStream[(Long, String, String, java.lang.Long)]
    val q = MatchRecognize.runStream(
        in.toDF().toDF("seq", "name", "sym", "tag"), clause)
      .writeStream.format("memory").queryName("mr_null_state_out")
      .outputMode("append").start()
    try {
      // 2-row batches: every partial (incl. the null-tag A row)
      // crosses at least one state encode/decode boundary
      rows.grouped(2).foreach { ch =>
        in.addData(ch: _*)
        q.processAllAvailable()
      }
      val got = spark.table("mr_null_state_out")
        .collect().map(_.toSeq).toSet
      assert(got == batch, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("runStream WITHIN + watermark: an idle key's held-back match " +
    "flushes on the event-time timer") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    implicit val sqlCtx = spark.sqlContext
    // pattern ends in a greedy loop, so the completed match is HELD
    // while the loop could still extend — only the WITHIN expiry
    // (driven by the watermark, advanced by the OTHER key) can
    // release it once key S goes idle
    val clause = """
      PARTITION BY sym
      ORDER BY ts
      MEASURES FIRST(X.seq) AS x0, COUNT(B.*) AS n_b
      PATTERN (X B+) WITHIN INTERVAL '2' SECOND
      DEFINE X AS name = 'x', B AS name = 'b'
    """
    val in = MemoryStream[(Long, Long, String, String)]
    val df = in.toDF().toDF("seq", "ts_ms", "name", "sym")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "0 seconds")
    val q = MatchRecognize.runStream(df, clause)
      .writeStream.format("memory").queryName("mr_within_out")
      .outputMode("append").start()
    try {
      in.addData((1L, 1000L, "x", "S"), (2L, 2000L, "b", "S"))
      q.processAllAvailable()
      // S's match is pending (B+ could extend); nothing emitted yet
      assert(spark.table("mr_within_out").count() == 0)
      // advance the watermark via key T, then one more batch so the
      // timer fires with S idle
      in.addData((3L, 10000L, "z", "T"))
      q.processAllAvailable()
      in.addData((4L, 11000L, "z", "T"))
      q.processAllAvailable()
      val got = spark.table("mr_within_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("S", 1L, 1L)), s"got ${got.mkString(",")}")
    } finally q.stop()
  }

  test("zero-capable variables inside sequence groups: skip, enter, " +
    "trailing and leading optional variables") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, COUNT(C.*) AS n_c, " +
      "FIRST(A.seq) AS a0, LAST(D.seq) AS d1"
    // mid-iteration optional: present and absent
    def m3(t: (Long, String)*) = mr(tape(t: _*), "(A B? C)",
      "COUNT(B.*) AS n_b, FIRST(A.seq) AS a0, LAST(C.seq) AS c1", defs)
    assert(m3(1L -> "a", 2L -> "c") == Seq(Seq(0L, 1L, 2L)))
    assert(m3(1L -> "a", 2L -> "b", 3L -> "c") == Seq(Seq(1L, 1L, 3L)))
    // two consecutive zero-capable variables: every subset
    def m4(t: (Long, String)*) = mr(tape(t: _*), "(A B? C? D)", ms, defs)
    assert(m4(1L -> "a", 2L -> "d") == Seq(Seq(1L, 0L, 0L, 1L, 2L)))
    assert(m4(1L -> "a", 2L -> "b", 3L -> "d") ==
      Seq(Seq(1L, 1L, 0L, 1L, 3L)))
    assert(m4(1L -> "a", 2L -> "c", 3L -> "d") ==
      Seq(Seq(1L, 0L, 1L, 1L, 3L)))
    assert(m4(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d") ==
      Seq(Seq(1L, 1L, 1L, 1L, 4L)))
    // wrong order still fails (c then b breaks the cycle)
    assert(m4(1L -> "a", 2L -> "c", 3L -> "b", 4L -> "d").isEmpty)
  }

  test("zero-capable sequence variables: trailing (A B?), leading " +
    "(A? B), starred (A B*), and iteration wrap (A B?){2}") {
    val defs = "A AS name = 'a', B AS name = 'b', D AS name = 'd'"
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, FIRST(A.seq) AS a0, " +
      "LAST(B.seq) AS b1"
    // trailing zero-capable: the iteration is whole at A
    def tr(t: (Long, String)*) = mr(tape(t: _*), "(A B?)", ms, defs)
    assert(tr(1L -> "a") == Seq(Seq(1L, 0L, 1L, null)))
    assert(tr(1L -> "a", 2L -> "b") == Seq(Seq(1L, 1L, 1L, 2L)))
    // leading zero-capable: the group is enterable at B
    def ld(t: (Long, String)*) = mr(tape(t: _*), "(A? B)", ms, defs)
    assert(ld(1L -> "b") == Seq(Seq(0L, 1L, null, 1L)))
    assert(ld(1L -> "a", 2L -> "b") == Seq(Seq(1L, 1L, 1L, 2L)))
    // zero-or-more: greedy run
    def st(t: (Long, String)*) = mr(tape(t: _*), "(A B*)", ms, defs)
    assert(st(1L -> "a") == Seq(Seq(1L, 0L, 1L, null)))
    assert(st(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b") ==
      Seq(Seq(1L, 3L, 1L, 4L)))
    // counted group whose first iteration skips B and wraps
    assert(mr(tape(1L -> "a", 2L -> "a", 3L -> "b"), "(A B?){2}", ms,
      defs) == Seq(Seq(2L, 1L, 1L, 3L)))
  }

  test("zero-capable sequence variables: reluctant skip preference " +
    "and mixed-alternation re-entry") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c', " +
      "D AS name = 'd'"
    // E has no DEFINE: always true. Greedy (A E* C) absorbs the
    // middle row into E; reluctant (A E*? C) prefers skipping E, so C
    // binds the EARLIER row
    val msE = "COUNT(E.*) AS n_e, LAST(C.seq) AS c1"
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "c"), "(A E* C)", msE,
      defs) == Seq(Seq(1L, 3L)))
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "c"), "(A E*? C)", msE,
      defs) == Seq(Seq(0L, 2L)))
    // zero-capable inside a mixed alternation's sequence branch,
    // re-entered across iterations
    val ms = "COUNT(A.*) AS n_a, COUNT(B.*) AS n_b, COUNT(C.*) AS n_c"
    assert(mr(tape(1L -> "a", 2L -> "c", 3L -> "a", 4L -> "b"),
      "(A B? | C)+", ms, defs) == Seq(Seq(2L, 1L, 1L)))
    // an all-zero-capable branch is rejected loudly
    val err = intercept[RuntimeException] {
      mr(tape(1L -> "a"), "(A? B*)", "COUNT(A.*) AS n_a", defs)
    }
    assert(err.getMessage.contains("can match empty"))
  }

  test("CLASSIFIER() and MATCH_NUMBER() in MEASURES; DEFINE running " +
    "classifier; MEASURES-only MATCH_NUMBER errors in DEFINE") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val ms = "MATCH_NUMBER() AS mn, CLASSIFIER() AS clf, A.seq AS a0"
    // two disjoint matches: per-partition 1-based numbering; the
    // classifier is the LAST matched row's variable (FINAL semantics)
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "c"),
      "A (B|C)", ms, defs) ==
      Seq(Seq(1L, "B", 1L), Seq(2L, "C", 3L)))
    // running semantics in DEFINE: CLASSIFIER() is the row under
    // evaluation's provisional variable, so B admits only itself
    assert(mr(tape(1L -> "a", 2L -> "x"), "A B",
      "MATCH_NUMBER() AS mn, CLASSIFIER() AS clf",
      "A AS name = 'a', B AS CLASSIFIER() = 'B'") ==
      Seq(Seq(1L, "B")))
    // MATCH_NUMBER() has no running value mid-attempt: loud error
    val err = intercept[Exception] {
      mr(tape(1L -> "a", 2L -> "b"), "A B", "COUNT(*) AS n",
        "A AS name = 'a', B AS MATCH_NUMBER() > 0")
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("MEASURES only")))
  }

  test("MATCH_NUMBER() numbering survives micro-batches in runStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clause = """
      PARTITION BY sym
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS clf, A.seq AS a0
      PATTERN (A B)
      DEFINE A AS name = 'a', B AS name = 'b'
    """
    val in = MemoryStream[(Long, String, String)]
    val q = MatchRecognize.runStream(
        in.toDF().toDF("seq", "name", "sym"), clause)
      .writeStream.format("memory").queryName("mr_mn_out")
      .outputMode("append").start()
    try {
      // match 1 completes in batch 1; the key's state then holds only
      // the counter; match 2 completes two batches later and must
      // number 2, not restart at 1
      in.addData((1L, "a", "S"), (2L, "b", "S"))
      q.processAllAvailable()
      in.addData((3L, "x", "S"))
      q.processAllAvailable()
      in.addData((4L, "a", "S"), (5L, "b", "S"))
      q.processAllAvailable()
      val got = spark.table("mr_mn_out").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got == Set((1L, "B", 1L), (2L, "B", 4L)), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("matchNumberRetention evicts the idle MATCH_NUMBER counter in " +
    "runStream; without it numbering continues (RocksDB)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // strict two-step pattern: a completed match leaves NO partials
      // and NO pending, so between matches the key's state is exactly
      // the 8-byte counter — the retention target
      val clause = """
        PARTITION BY sym
        ORDER BY ts
        MEASURES MATCH_NUMBER() AS mn, FIRST(X.seq) AS x0
        PATTERN (X Y)
        DEFINE X AS name = 'x', Y AS name = 'y'
      """
      // S matches at ts 1-2s, idles; T advances the watermark far past
      // 2s + 5s retention; S matches again at 21-22s
      val feed = Seq(
        Seq((1L, 1000L, "x", "S"), (2L, 2000L, "y", "S")),
        Seq((3L, 10000L, "z", "T")),
        Seq((4L, 20000L, "z", "T")),
        Seq((5L, 21000L, "x", "S"), (6L, 22000L, "y", "S")),
        Seq((7L, 23000L, "z", "T")))
      def mnOf(runner: (org.apache.spark.sql.DataFrame, String) =>
          org.apache.spark.sql.DataFrame, name: String): Seq[Long] = {
        val in = MemoryStream[(Long, Long, String, String)]
        val df = in.toDF().toDF("seq", "ts_ms", "name", "sym")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "0 seconds")
        val q = runner(df, clause)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          feed.foreach { ch => in.addData(ch: _*); q.processAllAvailable() }
          spark.table(name).collect()
            .sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
        } finally q.stop()
      }
      val ret = Some(java.time.Duration.ofSeconds(5))
      // with retention: the counter evicts while S idles -> restart at 1
      assert(mnOf(MatchRecognize.runStream(_, _, ret), "mr_ret_gws")
        == Seq(1L, 1L), "runStream kept the counter")
      // without: exact cross-batch numbering (the default contract)
      assert(mnOf(MatchRecognize.runStream(_, _), "mr_noret_gws")
        == Seq(1L, 2L))
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("ALL ROWS PER MATCH: every matched input row rides out with " +
    "RUNNING measures, per-row CLASSIFIER, batch == stream") {
    val clause = """
      PARTITION BY sym
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS clf,
               COUNT(B.*) AS n_b, FIRST(A.seq) AS a0
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE A AS name = 'a', B AS name = 'b'
    """
    val df = tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "a", 5L -> "b")
    val got = MatchRecognize.run(df, clause).collect().map(_.toSeq).toSeq
    assert(got == Seq(
      Seq(1L, "a", "S", 1L, "A", 0L, 1L),
      Seq(2L, "b", "S", 1L, "B", 1L, 1L),
      Seq(3L, "b", "S", 1L, "B", 2L, 1L),
      Seq(4L, "a", "S", 2L, "A", 0L, 4L),
      Seq(5L, "b", "S", 2L, "B", 1L, 4L)), s"got $got")
    // the streaming runner on a batch frame degrades to run()
    val viaStream = MatchRecognize.runStream(df, clause)
      .collect().map(_.toSeq).toSet
    assert(viaStream == got.toSet)
  }

  test("reluctant bounded quantifiers: {n,m}? and {n,}? prefer fewer " +
    "repetitions, on variables, groups, and branch variables") {
    val defs = "A AS name = 'a', B AS name = 'b', C AS name = 'c'"
    val msB = "COUNT(B.*) AS n_b"
    // B{2,3}? takes 2 of 3 bs (greedy takes all 3); the leftover b
    // cannot reach min 2, so one match either way
    assert(mr(tape(1L -> "b", 2L -> "b", 3L -> "b"), "B{2,3}?", msB,
      defs) == Seq(Seq(2L)))
    assert(mr(tape(1L -> "b", 2L -> "b", 3L -> "b"), "B{2,3}", msB,
      defs) == Seq(Seq(3L)))
    // E (no DEFINE) is always true: the reluctant bound stops at the
    // minimum, the greedy one at the maximum
    val msE = "COUNT(E.*) AS n_e"
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "x"), "A E{1,2}?", msE,
      defs) == Seq(Seq(1L)))
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "x"), "A E{1,2}", msE,
      defs) == Seq(Seq(2L)))
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "x", 4L -> "x"),
      "A E{2,}?", msE, defs) == Seq(Seq(2L)))
    assert(mr(tape(1L -> "a", 2L -> "x", 3L -> "x", 4L -> "x"),
      "A E{2,}", msE, defs) == Seq(Seq(3L)))
    // on an alternation group: two iterations preferred over three
    val msBC = "COUNT(B.*) AS n_b, COUNT(C.*) AS n_c"
    assert(mr(tape(1L -> "b", 2L -> "c", 3L -> "b"), "(B|C){2,3}?",
      msBC, defs) == Seq(Seq(1L, 1L)))
    assert(mr(tape(1L -> "b", 2L -> "c", 3L -> "b"), "(B|C){2,3}",
      msBC, defs) == Seq(Seq(2L, 1L)))
    // on a branch variable inside a sequence group: the b-run stops
    // at its minimum when reluctant
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b"),
      "(A B{2,3}?)", msB, defs) == Seq(Seq(2L)))
    assert(mr(tape(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "b"),
      "(A B{2,3})", msB, defs) == Seq(Seq(3L)))
  }

  test("unbounded MATCH_NUMBER warning fires once per streaming query " +
    "without retention, and not with retention set or on batch input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clause = """
      PARTITION BY sym
      ORDER BY seq
      MEASURES MATCH_NUMBER() AS mn, A.seq AS a0
      PATTERN (A B)
      DEFINE A AS name = 'a', B AS name = 'b'
    """
    def warns(body: => Any): Long = {
      val before = MatchRecognize.unboundedMatchNumWarns.get()
      body
      MatchRecognize.unboundedMatchNumWarns.get() - before
    }
    def streamDf() = MemoryStream[(Long, String, String)]
      .toDF().toDF("seq", "name", "sym")
    val batchDf = Seq((1L, "a", "S"), (2L, "b", "S"))
      .toDF("seq", "name", "sym")
    val ret = Some(java.time.Duration.ofSeconds(5))
    // fires: streaming + MATCH_NUMBER + no retention, exactly once
    // (at query construction, not per batch)
    assert(warns(MatchRecognize.runStream(streamDf(), clause)) == 1L)
    // silent: retention set
    assert(warns(MatchRecognize.runStream(streamDf(), clause, ret)) == 0L)
    // silent: batch input (no cross-batch counter state at all)
    assert(warns(MatchRecognize.runStream(batchDf, clause)) == 0L)
    // silent: streaming clause that never names MATCH_NUMBER()
    val noMn = clause.replace("MATCH_NUMBER() AS mn, ", "")
    assert(warns(MatchRecognize.runStream(streamDf(), noMn)) == 0L)
  }
}

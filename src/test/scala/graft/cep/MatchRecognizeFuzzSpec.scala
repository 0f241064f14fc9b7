package graft.cep

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Differential fuzz: the MATCH_RECOGNIZE front-end + NFA against a
  * brute-force backtracking oracle, across random patterns, tapes and
  * AFTER MATCH SKIP strategies.
  *
  * The oracle implements SQL:2016 MATCH_RECOGNIZE semantics the naive
  * way — for each candidate start row, a depth-first search over all
  * quantifier/alternation choices in SQL preference order (greedy =
  * more repetitions first, reluctant = fewer first, alternation =
  * leftmost branch first; a choice is kept only if the rest of the
  * pattern completes), then sequential rescanning per the skip
  * strategy. ~15 lines of obviously-correct recursion with none of
  * the NFA's incremental machinery (priorities, pending matches,
  * trailing-run decomposition of bounded branches) — exactly the
  * structures a hand-built example suite under-exercises.
  *
  * Predicates are symbol classes (var A matches letter 'a', ...; var
  * E is left without a DEFINE and matches anything, the SQL
  * always-true variable), which keeps the oracle trivially right
  * while still driving every pattern-machinery path: the engine
  * compiles the same clause through the real parser, position
  * expansion, and `Cep.Nfa` walk that production `run()` uses
  * ([[MatchRecognize.matchKey]] is the shared body).
  *
  * Match fingerprint compared per match: for every pattern variable,
  * (FIRST(V.seq), LAST(V.seq), COUNT(V.*)) — resolved by the real
  * MEASURES machinery on the engine side and from the row binding on
  * the oracle side. Matches must agree in ORDER for the sequential
  * skip strategies (SQL reports matches by start row).
  */
class MatchRecognizeFuzzSpec extends AnyFunSuite {

  // ---- pattern model (mirrors the front-end's PatElem/PatVar) ------

  private case class FVar(name: String, min: Int, max: Int, rel: Boolean)
  /** `branches` mirrors the front-end: each branch is an ORDERED
    * variable sequence — one one-var branch = a single variable, a
    * single multi-var branch = a pure sequence group ((A B){n,m}),
    * several branches = alternation, possibly MIXED ((A B | C)).
    * Multi-var branch variables carry their own quantifiers,
    * zero-capable included ((A B+), (A B? C)) — only an
    * all-zero-capable branch is out (matches empty, rejected). */
  private case class FElem(branches: Vector[Vector[FVar]], min: Int,
                           max: Int, rel: Boolean)

  private def quantStr(min: Int, max: Int, rel: Boolean): String =
    (min, max) match {
      case (1, 1)  => ""
      case (1, -1) => if (rel) "+?" else "+"
      case (0, -1) => if (rel) "*?" else "*"
      case (0, 1)  => "?"
      // reluctant bounded spellings ({n,}?, {n,m}? — round 10)
      case (n, -1) => s"{$n,}" + (if (rel) "?" else "")
      case (n, m)  =>
        (if (n == m) s"{$n}" else s"{$n,$m}") + (if (rel) "?" else "")
    }

  private def patternStr(elems: Vector[FElem]): String =
    elems.map { el =>
      if (el.branches.size == 1 && el.branches.head.size == 1)
        el.branches.head.head.name + quantStr(el.min, el.max, el.rel)
      else
        el.branches.map { br =>
          if (br.size > 1)
            br.map(v => v.name + quantStr(v.min, v.max, v.rel))
              .mkString(" ")
          else br.head.name + quantStr(br.head.min, br.head.max, br.head.rel)
        }.mkString("(", " | ", ")") + quantStr(el.min, el.max, el.rel)
    }.mkString(" ")

  // ---- brute-force oracle ------------------------------------------

  // row i carries ORDER BY value (i+1)*TsStep, so a WITHIN window of
  // k seconds spans roughly k*1000/TsStep rows
  private val TsStep = 700L

  private type Bind = Vector[(String, Int)] // (var, row idx) in order

  /** Preferred match whose first consumed row is `start`, or None.
    * `withinMs` bounds every consumed row's ORDER BY distance from
    * the start row (SQL WITHIN; the engine expires a partial before
    * it can consume past the window, so the constraints coincide). */
  private def matchFrom(elems: Vector[FElem], tape: String,
                        start: Int, withinMs: Long): Option[Bind] = {
    val n0 = tape.length
    val n =
      if (withinMs <= 0) n0
      else math.min(n0, start + (withinMs / TsStep).toInt + 1)
    def sat(v: String, row: Int): Boolean =
      v == "E" || tape(row) == v.head.toLower

    def branchWays(v: FVar, pos: Int,
                   acc: Bind): Iterator[(Int, Bind)] = {
      var run = 0
      while (pos + run < n && sat(v.name, pos + run)) run += 1
      val hi = if (v.max == -1) run else math.min(run, v.max)
      val lo = v.min
      if (hi < lo) Iterator.empty
      else {
        val ks = if (v.rel) (lo to hi).iterator
                 else (lo to hi).reverseIterator // greedy: longest first
        ks.map { k =>
          (pos + k, acc ++ (0 until k).map(i => (v.name, pos + i)))
        }
      }
    }

    // one group iteration: leftmost branch preferred; a min-0 branch
    // contributes an EMPTY way at its own alternation rank. A
    // SEQUENCE branch's iteration chains its variables strictly
    // contiguously, each consuming a run per ITS OWN quantifier
    // (greedy = longest first; plain vars take exactly one row) —
    // round 10, per-variable quantifiers inside sequence groups
    def seqWays(vars: Vector[FVar], vi: Int, pos: Int,
                acc: Bind): Iterator[(Int, Bind)] =
      if (vi == vars.length) Iterator.single((pos, acc))
      else branchWays(vars(vi), pos, acc).flatMap { case (p2, a2) =>
        seqWays(vars, vi + 1, p2, a2)
      }
    def oneIter(el: FElem, pos: Int,
                acc: Bind): Iterator[(Int, Bind)] =
      el.branches.iterator.flatMap { br =>
        if (br.size > 1) seqWays(br, 0, pos, acc)
        else branchWays(br.head, pos, acc)
      }

    def iters(el: FElem, done: Int, pos: Int,
              acc: Bind): Iterator[(Int, Bind)] = {
      val stop =
        if (done >= el.min) Iterator.single((pos, acc)) else Iterator.empty
      def go =
        if (el.max != -1 && done >= el.max) Iterator.empty
        else oneIter(el, pos, acc).flatMap { case (p2, a2) =>
          // an EMPTY iteration terminates the loop (the regex/SQL
          // empty-match loop break: further iterations would repeat
          // the same empty match, so the remaining minimum is deemed
          // satisfied by them) — ranked HERE, at the empty-capable
          // branch's own alternation position, not after all
          // consuming ways
          if (p2 == pos) Iterator.single((p2, a2))
          else iters(el, done + 1, p2, a2)
        }
      if (el.rel) stop ++ go else go ++ stop
    }

    def seqM(ei: Int, pos: Int, acc: Bind): Option[Bind] = {
      if (ei == elems.length) return Some(acc)
      val ways = iters(elems(ei), 0, pos, acc)
      while (ways.hasNext) {
        val (p2, a2) = ways.next()
        val r = seqM(ei + 1, p2, a2)
        if (r.isDefined) return r
      }
      None
    }

    seqM(0, start, Vector.empty).filter(m =>
      m.nonEmpty && m.head._2 == start)
  }

  private sealed trait OSkip
  private case object OPast extends OSkip
  private case object ONextRow extends OSkip
  private case class OToLast(v: String) extends OSkip
  private case class OToFirst(v: String) extends OSkip

  /** Sequential scan per the AFTER MATCH SKIP strategy. */
  private def scan(elems: Vector[FElem], tape: String,
                   skip: OSkip, withinMs: Long = 0L): Vector[Bind] = {
    val out = Vector.newBuilder[Bind]
    var i = 0
    while (i < tape.length) {
      matchFrom(elems, tape, i, withinMs) match {
        case None => i += 1
        case Some(m) =>
          out += m
          val rows = m.map(_._2)
          def at(v: String, last: Boolean): Int = {
            val vr = rows.indices.collect {
              case j if m(j)._1 == v => m(j)._2
            }
            // engine fallback when the var matched no row: the
            // match's last row (SkipTo* getOrElse in Cep.resolve)
            if (vr.isEmpty) rows.max else if (last) vr.max else vr.min
          }
          i = skip match {
            case OPast        => rows.max + 1
            case ONextRow     => i + 1
            case OToLast(v)   => math.max(at(v, last = true), i + 1)
            case OToFirst(v)  => math.max(at(v, last = false), i + 1)
          }
      }
    }
    out.result()
  }

  // ---- engine side --------------------------------------------------

  private val schema = StructType(Seq(
    StructField("sym", StringType), StructField("seq", LongType),
    StructField("name", StringType)))

  private def rows(tape: String): Seq[Row] =
    tape.zipWithIndex.map { case (ch, i) =>
      new GenericRowWithSchema(
        Array[Any]("S", (i + 1) * TsStep, ch.toString), schema): Row
    }

  /** (pattern var → (first, last, count)) per engine match row. */
  private def clauseSql(elems: Vector[FElem], skipClause: String,
      withinSec: Int, vars: Seq[String]): String = {
    val measures = (vars.flatMap(v => Seq(
      s"FIRST($v.seq) AS ${v.toLowerCase}_f",
      s"LAST($v.seq) AS ${v.toLowerCase}_l",
      s"COUNT($v.* ) AS ${v.toLowerCase}_c")) ++
      // round 10: CLASSIFIER (last matched row's variable) and
      // MATCH_NUMBER (1-based per-partition ordinal) ride every case
      Seq("CLASSIFIER() AS clf", "MATCH_NUMBER() AS mn")).mkString(", ")
    val defines = vars.filter(_ != "E")
      .map(v => s"$v AS name = '${v.head.toLower}'").mkString(", ")
    val within =
      if (withinSec <= 0) "" else s"WITHIN INTERVAL '$withinSec' SECOND"
    s"""PARTITION BY sym ORDER BY seq
        MEASURES $measures
        $skipClause
        PATTERN (${patternStr(elems)}) $within
        DEFINE $defines"""
  }

  private def runEngine(elems: Vector[FElem], tape: String,
      skipClause: String, withinSec: Int,
      vars: Seq[String]): Seq[Map[String, (Any, Any, Long)]] = {
    val c = MatchRecognize.compile(schema,
      clauseSql(elems, skipClause, withinSec, vars))
    MatchRecognize.matchKey(c, "S", rows(tape)).map { r =>
      (vars.zipWithIndex.map { case (v, i) =>
        v -> (r.get(1 + 3 * i), r.get(2 + 3 * i),
          r.get(3 + 3 * i).asInstanceOf[Long])
      } :+ ("_META" -> ((r.get(1 + 3 * vars.length),
        r.get(2 + 3 * vars.length), 0L): (Any, Any, Long)))).toMap
    }
  }

  private def oracleFingerprint(m: Bind, vars: Seq[String],
      matchNum: Long): Map[String, (Any, Any, Long)] =
    (vars.map { v =>
      val vr = m.collect { case (`v`, row) => row }
      v -> (if (vr.isEmpty) (null, null, 0L)
            else ((vr.min + 1) * TsStep, (vr.max + 1) * TsStep,
              vr.size.toLong))
    // CLASSIFIER = the LAST matched row's variable (consumed order);
    // MATCH_NUMBER = the 1-based per-partition match ordinal
    } :+ ("_META" -> ((m.last._1, matchNum, 0L): (Any, Any, Long)))).toMap

  // ---- generator ----------------------------------------------------

  private def genVar(rnd: Random, name: String): FVar =
    rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => FVar(name, 1, 1, rel = false)
      case 4 => FVar(name, 1, -1, rel = false)           // +
      case 5 => FVar(name, 1, -1, rel = true)            // +?
      case 6 => FVar(name, 0, 1, rel = false)            // ?
      case 7 => FVar(name, 0, -1, rel = rnd.nextBoolean()) // * / *?
      case 8 =>
        val x = 1 + rnd.nextInt(3); FVar(name, x, x, rel = false) // {n}
      case 9 => // {n,m} / {n,m}? / {n,} / {n,}? (round 10: reluctant
                // bounded quantifiers; {n}? would be meaningless)
        val lo = 1 + rnd.nextInt(2)
        val hi = if (rnd.nextInt(4) == 0) -1 else lo + 1 + rnd.nextInt(2)
        FVar(name, lo, hi, rel = rnd.nextInt(3) == 0)
    }

  private def genElem(rnd: Random, names: Seq[String]): FElem = {
    def pick() = names(rnd.nextInt(names.length))
    // vars may carry their own quantifiers ((A B+), (A B{2,3}) —
    // round 10), INCLUDING zero-capable ones ((A B? C), (A B*? C) —
    // round 10's second pass); the one rejected shape is an
    // all-zero-capable branch (its iteration matches empty), which
    // the generator re-anchors; repeated names allowed ((A A),
    // (B A B))
    def seqBranch(): Vector[FVar] = {
      val k = 2 + rnd.nextInt(2)
      val vs = Vector.fill(k)(genVar(rnd, pick()))
      if (vs.forall(_.min == 0)) {
        val i = rnd.nextInt(k)
        vs.updated(i, vs(i).copy(min = 1))
      } else vs
    }
    if (rnd.nextInt(10) < 5) {
      val v = genVar(rnd, pick())
      // a single variable carries ITS quantifier at element level
      // (the front-end parses B{2,3} as an element quantifier)
      FElem(Vector(Vector(FVar(v.name, 1, 1, rel = false))),
        v.min, v.max, v.rel)
    } else if (rnd.nextInt(5) == 0) {
      // pure multi-variable SEQUENCE group (A B){n,m}
      val q = genVar(rnd, "_")
      FElem(Vector(seqBranch()), q.min, q.max, q.rel)
    } else {
      val k = 2 + rnd.nextInt(2)
      val branchNames = rnd.shuffle(names.toVector).take(k)
      val alts = branchNames.map(nm => genVar(rnd, nm))
      val q = genVar(rnd, "_")
      // EXCLUDED corner: an empty-capable branch (B?/B*) inside a
      // COUNTED group ((C?|E){2,4}, (C?|E){2,}). Whether a counted
      // repetition may interleave empty iterations with consuming
      // ones — and at what preference rank — is genuinely
      // engine-dependent: python's re on
      // `(?:c?|[a-z]+?|b*?){2,4}d` vs 'bcbd' binds the counted
      // group [ε, ε, 'b', 'cb'], neither the PCRE empty-loop-break
      // reading (stop after an at-minimum empty iteration) nor the
      // plain DFS one. The engine implements the positional
      // expansion (n mandatory + (m−n) optional copies, each
      // skippable at its branch's rank) consistently; the oracle
      // implements the empty-loop-break reading; both are
      // defensible, so the fuzz stays out of the disputed corner.
      // Optional groups (max 1) and unbounded loops with empty
      // branches are NOT excluded — the models agree there.
      val multiCopy = q.min > 1 || q.max > 1
      val safeAlts =
        if (multiCopy && alts.exists(_.min == 0))
          alts.map(v => if (v.min == 0) v.copy(min = 1) else v)
        else alts
      // round 10: ~1/3 of alternation groups swap one branch for a
      // multi-variable SEQUENCE branch — the mixed-group arm
      // ((A B | C), (C | A B | D+)+, (A B | C D){n,m})
      val branches0 = safeAlts.map(v => Vector(v))
      val branches =
        if (rnd.nextInt(3) == 0)
          branches0.updated(rnd.nextInt(branches0.size), seqBranch())
        else branches0
      FElem(branches, q.min, q.max, q.rel)
    }
  }

  /** A pattern is admissible if some position cannot match empty (the
    * front-end rejects possibly-empty matches) and at least one
    * non-E variable appears (DEFINE must be non-empty). */
  private def admissible(elems: Vector[FElem]): Boolean =
    elems.exists(el => el.min >= 1 &&
      el.branches.forall(br => br.size > 1 || br.head.min >= 1)) &&
      elems.exists(_.branches.exists(_.exists(_.name != "E")))

  private def genPattern(rnd: Random): Vector[FElem] = {
    val names = Seq("A", "B", "C", "D", "E")
    val cand = Vector.fill(1 + rnd.nextInt(4))(genElem(rnd, names))
    if (admissible(cand)) cand else genPattern(rnd)
  }

  private def genTape(rnd: Random): String = {
    val letters = "abcdx"
    (0 until rnd.nextInt(10))
      .map(_ => letters(rnd.nextInt(letters.length))).mkString
  }

  // ---- the fuzz loop ------------------------------------------------

  private def skipPair(rnd: Random,
      patVars: Seq[String]): (String, OSkip) =
    rnd.nextInt(5) match {
      case 0 => ("", OPast) // default = SKIP PAST LAST ROW (SQL:2016)
      case 1 => ("AFTER MATCH SKIP PAST LAST ROW", OPast)
      case 2 => ("AFTER MATCH SKIP TO NEXT ROW", ONextRow)
      case 3 =>
        val v = patVars(rnd.nextInt(patVars.length))
        (s"AFTER MATCH SKIP TO LAST $v", OToLast(v))
      case 4 =>
        val v = patVars(rnd.nextInt(patVars.length))
        (s"AFTER MATCH SKIP TO FIRST $v", OToFirst(v))
    }

  // default 2000 keeps the suite fast; crank via env for deep sweeps
  // (a 50k-case run was green when this spec landed; the round-11
  // 500k-case soak of this spec FOUND a real ordering bug the 20k
  // tier had never hit — reluctant bounded-quantifier copies ranked
  // deepest-first in the advance walk, Cep.scala advWalkSeq — fixed,
  // then re-soaked green at 7.5M cases in this spec (3M main arm +
  // 1.5M × 3) plus 1.5M in the API twin (500k main + 250k × 4))
  private val Cases =
    sys.env.getOrElse("GRAFT_FUZZ_CASES", "2000").toInt

  test(s"$Cases random (pattern, tape, skip, within) cases match the oracle") {
    val rnd = new Random(0xC3D2E1F0L)
    var cases = 0
    while (cases < Cases) {
      val elems = genPattern(rnd)
      val tape = genTape(rnd)
      val vars = elems.flatMap(_.branches.flatten.map(_.name)).distinct.sorted
      val (skipClause, oSkip) = skipPair(rnd, vars)
      // ~1/3 of cases carry WITHIN INTERVAL 'k' SECOND; with rows
      // TsStep=0.7 s apart, k in 1..5 windows span 2..8 rows
      val withinSec = if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(5) else 0
      val expected = scan(elems, tape, oSkip, withinSec * 1000L)
        .zipWithIndex.map { case (m, i) =>
          oracleFingerprint(m, vars, i + 1L) }
      val got =
        try runEngine(elems, tape, skipClause, withinSec, vars)
        catch {
          case e: Throwable =>
            fail(s"engine threw on PATTERN (${patternStr(elems)}) " +
              s"tape='$tape' skip='$skipClause' within=$withinSec: $e")
        }
      assert(got == expected,
        s"\nPATTERN (${patternStr(elems)}) tape='$tape' " +
          s"skip='${if (skipClause.isEmpty) "<default>" else skipClause}'" +
          s" within=${withinSec}s" +
          s"\n engine: $got\n oracle: $expected")
      cases += 1
    }
  }

  /** Targeted arm (round 11): the GROUP-quantifier × PER-VARIABLE-
    * quantifier composition — every case contains a pure sequence
    * group carrying a repeating group quantifier AND at least one
    * variable with its own non-trivial quantifier (the `(A B+)+`
    * class, which the round-10 verdict still listed as a residue;
    * the machinery — curRep iteration ordinal × curRun variable run
    * — had already landed, this arm pins it with volume). Rejection-
    * sampled from the same generator, so the surrounding pattern
    * shapes stay as diverse as the main arm's. */
  test(s"${Cases / 2} quantified-seq-group cases ((A B+)+ class) " +
    "match the oracle") {
    val rnd = new Random(0x5E00C60FL)
    def targetShape(elems: Vector[FElem]): Boolean =
      elems.exists(el =>
        el.branches.size == 1 && el.branches.head.size > 1 &&
          (el.max == -1 || el.max > 1) &&
          el.branches.head.exists(v => v.max != 1 || v.min != 1))
    var cases = 0
    while (cases < Cases / 2) {
      val elems = Iterator.continually(genPattern(rnd))
        .find(targetShape).get
      val tape = genTape(rnd)
      val vars = elems.flatMap(_.branches.flatten.map(_.name)).distinct.sorted
      val (skipClause, oSkip) = skipPair(rnd, vars)
      val withinSec = if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(5) else 0
      val expected = scan(elems, tape, oSkip, withinSec * 1000L)
        .zipWithIndex.map { case (m, i) =>
          oracleFingerprint(m, vars, i + 1L) }
      val got =
        try runEngine(elems, tape, skipClause, withinSec, vars)
        catch {
          case e: Throwable =>
            fail(s"engine threw on PATTERN (${patternStr(elems)}) " +
              s"tape='$tape' skip='$skipClause' within=$withinSec: $e")
        }
      assert(got == expected,
        s"\nPATTERN (${patternStr(elems)}) tape='$tape' " +
          s"skip='${if (skipClause.isEmpty) "<default>" else skipClause}'" +
          s" within=${withinSec}s" +
          s"\n engine: $got\n oracle: $expected")
      cases += 1
    }
  }

  /** ALL ROWS PER MATCH differential (round 10): every matched input
    * row rides out with RUNNING measures — per-row fingerprints
    * (ORDER BY value, CLASSIFIER, MATCH_NUMBER, running per-var
    * counts) against the oracle's per-row view of the same matches.
    * The oracle needs no new search logic: the match set is scan()'s,
    * and the running values are prefix folds of each binding. */
  test(s"${Cases / 2} ALL ROWS PER MATCH cases match per-row oracle " +
    "fingerprints") {
    val rnd = new Random(0xA110053AL)
    var cases = 0
    while (cases < Cases / 2) {
      val elems = genPattern(rnd)
      val tape = genTape(rnd)
      val vars = elems.flatMap(_.branches.flatten.map(_.name)).distinct.sorted
      val (skipClause, oSkip) = skipPair(rnd, vars)
      val withinSec = if (rnd.nextInt(3) == 0) 1 + rnd.nextInt(5) else 0
      val expected = scan(elems, tape, oSkip, withinSec * 1000L)
        .zipWithIndex.flatMap { case (m, mi) =>
          m.indices.map { k =>
            ((m(k)._2 + 1) * TsStep, m(k)._1, mi + 1L,
              vars.map(v => m.take(k + 1).count(_._1 == v).toLong))
          }
        }
      val measures = (vars.map(v =>
        s"COUNT($v.* ) AS ${v.toLowerCase}_c") ++
        Seq("CLASSIFIER() AS clf", "MATCH_NUMBER() AS mn")).mkString(", ")
      val defines = vars.filter(_ != "E")
        .map(v => s"$v AS name = '${v.head.toLower}'").mkString(", ")
      val within =
        if (withinSec <= 0) "" else s"WITHIN INTERVAL '$withinSec' SECOND"
      val sql = s"""PARTITION BY sym ORDER BY seq
          MEASURES $measures
          ALL ROWS PER MATCH
          $skipClause
          PATTERN (${patternStr(elems)}) $within
          DEFINE $defines"""
      val c = MatchRecognize.compile(schema, sql)
      // output row: input columns (sym, seq, name) then measures
      val got = MatchRecognize.matchKey(c, "S", rows(tape)).map { r =>
        (r.getLong(1), r.getString(3 + vars.length),
          r.getLong(4 + vars.length),
          vars.indices.map(i => r.getLong(3 + i)).toVector)
      }
      assert(got == expected.map { case (s, v, mn, cs) =>
        (s, v, mn, cs.toVector) },
        s"\nALL ROWS PATTERN (${patternStr(elems)}) tape='$tape' " +
          s"skip='${if (skipClause.isEmpty) "<default>" else skipClause}'" +
          s" within=${withinSec}s\n engine: $got\n oracle: $expected")
      cases += 1
    }
  }

  /** Streaming-cadence differential: the SAME compiled NFA driven the
    * way the streaming operators drive it — events split across
    * micro-batch chunks with `expire(watermark)` between chunks (the
    * CepStreaming.matchPattern timer cadence: in-order events, zero-delay
    * watermark = max event time seen) and a final `flush` — must
    * release the SAME match sequence as the one-shot batch `run`.
    * Only WITHIN patterns exercise anything new (expire is a no-op
    * otherwise), and that is exactly the machinery worth pinning:
    * expiry-triggered pending releases, timeout suppression for
    * matched attempts, and the per-partial repetition state surviving
    * chunk boundaries. */
  test(s"${Cases / 2} chunked-replay (within) cases match one-shot run") {
    val rnd = new Random(0x5EED5EEDL)
    var cases = 0
    while (cases < Cases / 2) {
      val elems = genPattern(rnd)
      val tape = genTape(rnd)
      if (tape.nonEmpty) {
        val vars = elems.flatMap(_.branches.flatten.map(_.name)).distinct.sorted
        val (skipClause, _) = skipPair(rnd, vars)
        val withinSec = 1 + rnd.nextInt(5)
        val c = MatchRecognize.compile(schema,
          clauseSql(elems, skipClause, withinSec, vars))
        val nfa = new Cep.Nfa[Row](c.spec, r => c.ordKey(r).toLong)
        val evs = rows(tape)

        val oneShot = nfa.run(evs)._1.map(_.entries)

        var st = Cep.NfaState.empty[Row]
        val got = Vector.newBuilder[Vector[(Int, Row)]]
        var i = 0
        while (i < evs.length) {
          val sz = 1 + rnd.nextInt(3) // 1-3 events per micro-batch
          val chunk = evs.slice(i, i + sz)
          for (e <- chunk) {
            val (s2, done, _) = nfa.onEvent(st, e)
            st = s2
            got ++= done.map(_.entries)
          }
          i += sz
          // zero-delay watermark after the batch commits
          val wm = (math.min(i, evs.length)) * TsStep
          val (s3, released, _) = nfa.expire(st, wm)
          st = s3
          got ++= released.map(_.entries)
        }
        got ++= nfa.flush(st)._2.map(_.entries)

        assert(got.result() == oneShot.toVector,
          s"\nPATTERN (${patternStr(elems)}) tape='$tape' " +
            s"skip='${if (skipClause.isEmpty) "<default>" else skipClause}'" +
            s" within=${withinSec}s: chunked != one-shot" +
            s"\n chunked: ${got.result()}\n one-shot: $oneShot")
      }
      cases += 1
    }
  }

  // ---- stream-runner cadence arm -------------------------------------
  //
  // The chunked-replay arm above drives the shared NFA; THIS arm drives
  // runStream's per-key state machine around it (MrGwsFn: the
  // timeout/retention bookkeeping and the state-drop conditions) over
  // random micro-batch chunkings (empty batches included), lagging /
  // stalling watermark schedules, WITHIN on/off and
  // matchNumberRetention on/off. Oracles: (1) with WITHIN, the drained
  // stream must equal the one-shot batch runner exactly (modulo
  // MATCH_NUMBER restarts when retention evicted a counter — restarts
  // must then align with observed evictions, and evictions must never
  // fire before the retention deadline); (2) without WITHIN, the
  // stream output must be a prefix of the batch output (lazy expiry
  // releases the tail only on later events); (3) after a full drain
  // the state must be EMPTY (retention on) or exactly the counter
  // (retention off + matches), with no live timeout — a stale timeout
  // or a leaked state row fails loudly.

  /** Drives MrGwsFn through TestGroupState with
    * FlatMapGroupsWithStateExec's cadence: input invocation first,
    * then ONE timed-out invocation per batch when the persisted
    * timeout timestamp < the batch watermark. Every invocation starts
    * with no timeout, so one that sets none clears it (the runtime's
    * GroupStateImpl contract). Tracks observed counter evictions
    * (state dropped by a timed-out invocation while it held a
    * counter) against the watermark the key BECAME counter-only at —
    * the premature-eviction check. */
  private class GwsDriver(fn: MatchRecognize.MrGwsFn, timeoutOn: Boolean,
                          retentionMs: Option[Long]) {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    private val conf =
      if (timeoutOn) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    var stateOpt: Option[Row] = None
    var timeoutTs: Long = -1L
    val out = Vector.newBuilder[Row]
    /** match-ordinal positions (0-based, into the emitted ONE-ROW
      * sequence) right after which a counter eviction was observed */
    val evictionsAfter = scala.collection.mutable.Set.empty[Int]
    private var emitted = 0
    private var becameCounterOnlyWm = -1L
    def unpacked: Option[(Cep.NfaState[Row], Long)] =
      stateOpt.map(MatchRecognize.unpackMrState)
    private def counterOnlyNow: Boolean = unpacked.exists {
      case (st, seq) => st.partials.isEmpty && st.pending.isEmpty && seq > 0
    }
    private def invoke(rows: Seq[Row], wm: Long,
                       timedOut: Boolean): Unit = {
      // matchSeq > 0 — with usesMatchNum on, the ONLY legitimate way
      // this state can be dropped is a retention eviction
      val hadCounter = unpacked.exists(_._2 > 0)
      val gs = TestGroupState.create[Row](
        Optional.ofNullable(stateOpt.orNull), conf, 0L,
        Optional.of(wm), timedOut)
      val rs = fn("S", rows.iterator, gs).toVector
      out ++= rs; emitted += rs.size
      if (gs.isRemoved) stateOpt = None
      else if (gs.isUpdated) stateOpt = Some(gs.get)
      timeoutTs =
        if (gs.getTimeoutTimestampMs.isPresent) gs.getTimeoutTimestampMs.get()
        else -1L
      if (counterOnlyNow && becameCounterOnlyWm == -1L)
        becameCounterOnlyWm = wm
      else if (!counterOnlyNow && stateOpt.isDefined)
        becameCounterOnlyWm = -1L
      if (timedOut && hadCounter && stateOpt.isEmpty) {
        // counter evicted: must be at/after the retention deadline,
        // and the key must have been counter-only since BEFORE this
        // call (a just-drained key's retention clock starts now — a
        // same-call drop is always premature, becameCounterOnlyWm
        // is -1 for it)
        assert(retentionMs.isDefined, "eviction without retention")
        assert(becameCounterOnlyWm != -1L &&
          wm >= becameCounterOnlyWm + retentionMs.get,
          s"premature eviction at wm=$wm, counter-only since " +
            s"$becameCounterOnlyWm, retention ${retentionMs.get}")
        evictionsAfter += emitted - 1
        becameCounterOnlyWm = -1L
      }
    }
    def feed(chunk: Seq[Row], wm: Long): Unit = {
      if (chunk.nonEmpty) invoke(chunk, wm, timedOut = false)
      if (timeoutOn && stateOpt.isDefined && timeoutTs != -1L &&
        timeoutTs < wm)
        invoke(Seq.empty, wm, timedOut = true)
    }
  }

  test(s"${Cases / 2} stream-runner cadence cases: MrGwsFn == batch run " +
    "under random chunking/watermark/retention") {
    val rnd = new Random(0x7757C4DEL)
    var cases = 0
    while (cases < Cases / 2) {
      val elems = genPattern(rnd)
      val tape = genTape(rnd)
      if (tape.nonEmpty) {
        val vars = elems.flatMap(_.branches.flatten.map(_.name))
          .distinct.sorted
        val (skipClause, _) = skipPair(rnd, vars)
        // modes: A within only / B within+retention / C neither
        // (retention without within exercises only the counter arm
        // and has no batch oracle; covered by the A/B timer priority)
        val mode = rnd.nextInt(6)
        val withinSec = if (mode < 5) 1 + rnd.nextInt(5) else 0
        val withinMs =
          if (withinSec > 0) Some(withinSec * 1000L) else None
        val retentionMs =
          if (mode >= 2 && mode < 5) Some(700L * (1 + rnd.nextInt(6)))
          else None
        val timersOn = withinMs.isDefined || retentionMs.isDefined
        val c = MatchRecognize.compile(schema,
          clauseSql(elems, skipClause, withinSec, vars))
        val evs = rows(tape)
        val batch = MatchRecognize.matchKey(c, "S", evs).toVector

        val gws = new GwsDriver(new MatchRecognize.MrGwsFn(c,
          new Cep.Nfa[Row](c.spec, r => c.ordKey(r).toLong),
          streaming = true, expireOn = withinMs.isDefined,
          usesMatchNum = true, retentionMs, withinMs, timersOn),
          timeoutOn = timersOn, retentionMs)

        // chunks of 0-3 events (0 = watermark-only batch), watermark
        // lagging 0-2 rows behind the max fed event time, sometimes
        // stalling
        var wm = 0L // rows start at TsStep; 0 = nothing expired yet
        var i = 0
        while (i < evs.length) {
          val sz = rnd.nextInt(4)
          val chunk = evs.slice(i, i + sz)
          i += sz
          gws.feed(chunk, wm)
          if (rnd.nextInt(4) != 0) { // advance (else stall)
            val lag = rnd.nextInt(3) * TsStep
            wm = math.max(wm, i * TsStep - lag)
          }
        }
        // drain: march the watermark past every deadline until the
        // runner reports no live timeout (bounded; a non-converging
        // drain = a stale-timeout bug)
        if (timersOn) {
          val horizon = (evs.length + 1) * TsStep +
            withinMs.getOrElse(0L) + retentionMs.getOrElse(0L) + 10L
          var guard = 0
          while (guard < 40 && gws.stateOpt.isDefined &&
            gws.timeoutTs != -1L) {
            wm = math.max(wm + 1 + rnd.nextInt(1000),
              math.min(horizon, wm + horizon / 4))
            gws.feed(Seq.empty, wm)
            guard += 1
          }
          assert(guard < 40,
            s"drain did not converge: timeout ${gws.timeoutTs}")
        }

        val ctx = s"\nPATTERN (${patternStr(elems)}) tape='$tape' " +
          s"skip='${if (skipClause.isEmpty) "<default>" else skipClause}'" +
          s" within=${withinSec}s retention=$retentionMs"
        val got = gws.out.result()
        val mnIdx = got.headOption.map(_.length - 1).getOrElse(0)
        def noMn(r: Row) = r.toSeq.dropRight(1)
        if (withinMs.isDefined) {
          // (1) drained stream == batch (rows exactly; MATCH_NUMBER
          // exactly without retention, eviction-aligned restarts with)
          assert(got.map(noMn) == batch.map(noMn),
            s"$ctx: stream rows != batch\n stream: $got\n batch: $batch")
          if (retentionMs.isEmpty)
            assert(got == batch,
              s"$ctx: MATCH_NUMBER diverged\n stream: $got\n batch: $batch")
          else {
            var expect = 1L
            got.zipWithIndex.foreach { case (r, k) =>
              val mn = r.getLong(mnIdx)
              assert(mn == expect,
                s"$ctx: mn $mn at match $k, expected $expect " +
                  s"(evictions after ${gws.evictionsAfter.toSeq.sorted})")
              expect = if (gws.evictionsAfter.contains(k)) 1L else mn + 1L
            }
          }
          // (3) post-drain state: empty with retention; the counter
          // alone with matches and no retention; no timeout either way
          assert(gws.timeoutTs == -1L || gws.stateOpt.isEmpty,
            s"$ctx: live timeout ${gws.timeoutTs} after drain")
          if (retentionMs.isDefined)
            assert(gws.stateOpt.isEmpty,
              s"$ctx: state leaked past retention: ${gws.unpacked}")
          else if (batch.nonEmpty)
            assert(gws.unpacked.exists { case (st, seq) =>
              st.partials.isEmpty && st.pending.isEmpty &&
                seq == batch.size },
              s"$ctx: state is not the counter alone: ${gws.unpacked}")
          else
            assert(gws.stateOpt.isEmpty, s"$ctx: matchless key kept state")
        } else {
          // (2) lazy expiry: a prefix of the batch output
          assert(got == batch.take(got.size),
            s"$ctx: stream not a batch prefix\n stream: $got" +
              s"\n batch: $batch")
        }
      }
      cases += 1
    }
  }
}

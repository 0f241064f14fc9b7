package graft.cep

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** SQL `MATCH_RECOGNIZE` front-end (SURVEY.md §2.8 C3,
  * `flink-sql/sql/dml/CEP.md:8-33,72-111`) for the clause subset the
  * reference documents:
  *
  *   PARTITION BY col / ORDER BY col / MEASURES expr AS alias, ... /
  *   {ONE ROW | ALL ROWS} PER MATCH (round 10: ALL ROWS emits every
  *   matched input row + RUNNING measures; MEASURES also support
  *   CLASSIFIER() and MATCH_NUMBER()) /
  *   AFTER MATCH SKIP {PAST LAST ROW | TO NEXT ROW |
  *                     TO LAST var | TO FIRST var}
  *   (defaulting to SKIP PAST LAST ROW when absent, per SQL:2016 —
  *   the Flink and Trino default too) /
  *   PATTERN (...) [WITHIN INTERVAL 'n' unit] /
  *   DEFINE var AS predicate, ...
  *
  * PATTERN supports concatenation, the quantifiers `+` `*` `?`
  * `{n}` `{n,}` `{n,m}` (with `+?`/`*?` reluctant variants) on
  * single variables AND on alternation groups (`(B|C)+`,
  * `(B|C){n,m}` — repetitions may switch branches, per SQL), plus
  * per-branch quantifiers inside a group — `+`/`?`/`*` and bounded
  * `{n,m}` (`(B+|C?)`, `(B{2,3}|C)`; a `B+` branch self-loops B
  * only — repetitions do NOT switch branches, unlike `(B|C)+`).
  * Bounded branches compose with a quantified group (`(B{2,3}|C)+`):
  * the group may re-enter the branch back to back, and a run of k Bs
  * is legal iff it splits into whole repetitions each in [n, m]
  * (Cep.Step minReps/maxReps trailing-run gates). Multi-variable
  * SEQUENCE groups (`(A B)+`, `(A B){n,m}` — session-shaped
  * patterns) compile to one cycling NFA position (Cep.Step
  * seqIdx/seqLen) whose iteration counter does the bounding, may
  * appear as alternation BRANCHES (`(A B | C)`, `(C | A B | D+)+` —
  * mixed groups, expanded as position copies with one whole
  * sequence iteration per copy; group repetitions may switch
  * branches, per SQL), and their variables may carry their own
  * quantifiers (`(A B+)`, `(A B{2,3}) C`, `(A+ B | C)+` —
  * Cep.Partial.curRun tracks the variable's open run within the
  * iteration), ZERO-capable ones included (`(A B? C)`, `(A B*? C)` —
  * the cycle scan and entry walks skip a zero-capable variable per
  * its own greed; round 10).
  * Not supported, both REJECTED LOUDLY at parse time: sequence
  * branches whose EVERY variable is zero-capable (`(A? B*)` — the
  * iteration matches empty), and empty-capable patterns (every
  * element admitting zero rows — SQL:2016 would emit an empty match
  * row per unmatched input row; FlinkCEP rejects the same class).
  *
  * Predicates support comparisons over `VAR.col`, pattern navigation
  * `LAST(VAR.col [, n])` / `FIRST(VAR.col [, n])`, the aggregates
  * `SUM/MIN/MAX/AVG(VAR.col)` and `COUNT(VAR.*)`/`COUNT(*)` (FINAL
  * semantics in MEASURES — the whole match; running semantics in
  * DEFINE — rows so far including the candidate, per SQL), numeric/
  * string literals, `IS [NOT] NULL`, AND/OR, and parentheses — enough
  * to run the reference doc's two example queries verbatim (see
  * MatchRecognizeSpec). `WITHIN INTERVAL 'n' unit` (SECOND/MINUTE/
  * HOUR/DAY) bounds first-to-last row spacing through the same
  * `within` machinery the DSL engine uses; the ORDER BY column must
  * be a timestamp (interval converts to milliseconds). Pattern variables match consecutive rows
  * (SQL's strict contiguity); `+` quantifiers are greedy (SQL
  * default). Execution compiles the clause onto the [[Cep]] NFA and
  * scans each partition in order — the same engine the DSL uses, so
  * the SQL surface and the programmatic surface cannot diverge.
  *
  * Null semantics: comparisons involving NULL are false (SQL unknown),
  * `IS NULL` observes it — exactly what the doc's
  * `LAST(PRICE_DOWN.price, 1) IS NULL AND ...` bootstrap relies on.
  */
// Serializable: the runStream state function references module
// methods (resolve/matchRows), so the lifted lambda captures the
// module; it is stateless, and scalac's readResolve keeps it a
// singleton on deserialization.
object MatchRecognize extends Serializable {

  @transient private lazy val mrLog =
    org.slf4j.LoggerFactory.getLogger("graft.cep.MatchRecognize")
  /** Spec hook: count of unbounded-MATCH_NUMBER warnings emitted
    * (MatchRecognizeSpec asserts fire/no-fire without a log capture). */
  private[graft] val unboundedMatchNumWarns =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** A STREAMING clause using MATCH_NUMBER() without
    * `matchNumberRetention` keeps an 8-byte counter row per
    * ever-matched key FOREVER (exact cross-batch numbering on an
    * unbounded key space = unbounded state). The trade is documented
    * on [[runStream]]; this makes it loud at query-construction time,
    * once per query. */
  private def warnIfUnboundedMatchNum(streaming: Boolean,
      usesMatchNum: Boolean, retentionMs: Option[Long]): Unit =
    if (streaming && usesMatchNum && retentionMs.isEmpty) {
      unboundedMatchNumWarns.incrementAndGet()
      mrLog.warn("runStream: streaming MATCH_RECOGNIZE clause uses " +
        "MATCH_NUMBER() without matchNumberRetention - the per-key " +
        "match counter is retained FOREVER (state grows with distinct " +
        "ever-matched keys). Pass matchNumberRetention = " +
        "Some(java.time.Duration) to evict idle counters after the " +
        "watermark passes last activity + retention (numbering then " +
        "restarts at 1 on a later match - the documented trade).")
    }

  // ---- AST -----------------------------------------------------------

  private[cep] sealed trait Val
  private[cep] case class ColRef(variable: String, col: String) extends Val
  private[cep] case class Nav(fn: String, variable: String, col: String,
                         offset: Int) extends Val
  /** `SUM/MIN/MAX/AVG(VAR.col)`, `COUNT(VAR.*)` (col = "*"),
    * `COUNT(*)` (variable = "" = every matched row). */
  private[cep] case class Agg(fn: String, variable: String,
                              col: String) extends Val
  private[cep] case class Lit(v: Any) extends Val
  /** `CLASSIFIER()` — the matched row's pattern variable: the row
    * under evaluation's provisional variable in DEFINE (running
    * semantics), the LAST matched row's variable in MEASURES (FINAL
    * semantics, ONE ROW PER MATCH). SQL:2016, round 10. */
  private[cep] case object Classifier extends Val
  /** `MATCH_NUMBER()` — the 1-based sequential ordinal of the match
    * within its partition (MEASURES only). */
  private[cep] case object MatchNum extends Val

  private[cep] sealed trait Pred
  private[cep] case class Cmp(l: Val, op: String, r: Val) extends Pred
  private[cep] case class IsNull(v: Val, negated: Boolean) extends Pred
  private[cep] case class BoolOp(l: Pred, op: String, r: Pred) extends Pred

  /** One pattern variable occurrence with its quantifier bounds:
    * `min`/`max` repetitions (`max = -1` = unbounded), `reluctant`
    * for `+?`/`*?`. Plain `B` is (1,1); `B+` (1,-1); `B?` (0,1);
    * `B*` (0,-1); `B{n,m}` (n,m); `B{n,}` (n,-1). */
  private[cep] case class PatVar(name: String, min: Int, max: Int,
                                 reluctant: Boolean)

  /** One pattern ELEMENT: `branches` are the alternation branches of
    * a group, each an ORDERED variable sequence; the element-level
    * quantifier repeats the group. A single variable is one one-var
    * branch (`B{2,3}` is PatElem([[B(1,1)]], 2, 3)); `(B|C)+` is two
    * one-var branches — those keep their own per-branch quantifiers
    * (`(B+|C?)`); a SEQUENCE group `(A B){n,m}` is ONE multi-var
    * branch; `(A B | C)` mixes multi-var and one-var branches.
    * Multi-var branch variables may carry their own quantifiers
    * (`(A B+)`, zero-capable `(A B? C)` included); the parser
    * rejects only all-zero-capable branches (`(A? B*)`). */
  private[cep] case class PatElem(branches: Vector[Vector[PatVar]],
                                  min: Int, max: Int,
                                  reluctant: Boolean) {
    /** A single multi-variable branch — compiled to the cycling
      * position whose iteration counter does the {n,m} bounding. */
    def isPureSeq: Boolean = branches.size == 1 && branches.head.size > 1
  }

  private[cep] case class Clause(partitionBy: String, orderBy: String,
      measures: Seq[(Val, String)], skip: Cep.AfterMatchSkip,
      pattern: Seq[PatElem], withinMs: Option[Long],
      defines: Map[String, Pred], allRows: Boolean)

  /** One alternative of one expanded pattern POSITION — the flags a
    * [[Cep.Step]] needs, computed from the (branch, element)
    * quantifier pair by the position expansion in [[compile]]. */
  private case class PosAlt(name: String, oneOrMore: Boolean,
      optional: Boolean, reluctant: Boolean, groupLoop: Boolean,
      minReps: Int, maxReps: Int, emptyBranch: Boolean,
      elemReluctant: Boolean, branchLoop: Boolean,
      branchReluctant: Boolean, posSkip: Boolean,
      seqIdx: Int = -1, seqLen: Int = 0,
      varMin: Int = 1, varMax: Int = 1)

  // ---- tokenizer -----------------------------------------------------

  private val tokenRe =
    """(?:(<=|>=|<>|!=|[(),+*?{}|<>=])|('(?:[^'])*')|([A-Za-z_][A-Za-z_0-9.]*)|(-?\d+(?:\.\d+)?))""".r

  /** Anchored tokenizer: every non-whitespace character must belong to
    * a recognized token, so unsupported syntax (arithmetic, functions,
    * ...) fails fast instead of silently mis-parsing into a
    * structurally different clause. */
  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var pos = 0
    while (pos < s.length) {
      if (s(pos).isWhitespace) pos += 1
      else tokenRe.findPrefixMatchOf(s.subSequence(pos, s.length)) match {
        case Some(m) =>
          out += m.subgroups.find(_ != null).get
          pos += m.end
        case None =>
          sys.error("MATCH_RECOGNIZE: unsupported syntax at: " +
            s.substring(pos, math.min(pos + 30, s.length)))
      }
    }
    out.result()
  }

  private class P(tokens: Vector[String]) {
    private var i = 0
    def peek: Option[String] = if (i < tokens.length) Some(tokens(i)) else None
    def next(): String = { val t = tokens(i); i += 1; t }
    def kw(up: String): Boolean =
      peek.exists(_.equalsIgnoreCase(up)) && { i += 1; true }
    def expect(up: String): Unit =
      if (!kw(up)) sys.error(s"expected $up at ${tokens.drop(i).take(5)}")
    def done: Boolean = i >= tokens.length
  }

  // ---- parser --------------------------------------------------------

  /** Accepts either a full `... MATCH_RECOGNIZE ( body ) ...` query or
    * the bare body. */
  private[cep] def parse(sql: String): Clause = {
    val upper = sql.toUpperCase
    val body = upper.indexOf("MATCH_RECOGNIZE") match {
      case -1 => sql
      case at =>
        val open = sql.indexOf('(', at)
        var depth = 0; var end = open
        while ({ end < sql.length && {
          sql(end) match { case '(' => depth += 1 case ')' => depth -= 1
            case _ => }
          depth != 0 } }) end += 1
        sql.substring(open + 1, end)
    }
    val p = new P(tokenize(body))

    p.expect("PARTITION"); p.expect("BY"); val part = p.next()
    p.expect("ORDER"); p.expect("BY"); val order = p.next()

    p.expect("MEASURES")
    val measures = Seq.newBuilder[(Val, String)]
    var more = true
    while (more) {
      val v = parseVal(p)
      p.expect("AS")
      measures += ((v, p.next()))
      more = p.kw(",")
    }

    // ONE ROW PER MATCH (default): partition col + measures, FINAL
    // semantics. ALL ROWS PER MATCH (round 10): every matched input
    // row rides out with the measures evaluated RUNNING — aggregates
    // and FIRST/LAST over rows so far, CLASSIFIER() the current
    // row's variable (SQL:2016's default semantics for this mode;
    // the FINAL keyword is not parsed).
    var allRows = false
    if (p.kw("ONE")) { p.expect("ROW"); p.expect("PER"); p.expect("MATCH") }
    else if (p.kw("ALL")) {
      p.expect("ROWS"); p.expect("PER"); p.expect("MATCH")
      allRows = true
    }

    // SQL:2016 default (also Flink's and Trino's): AFTER MATCH SKIP
    // PAST LAST ROW — matches are disjoint unless the clause says
    // otherwise. NoSkip (FlinkCEP's every-start all-matches mode) has
    // no SQL spelling and stays DSL-only (PatternSpec.afterMatchSkip).
    var skip: Cep.AfterMatchSkip = Cep.SkipPastLastEvent
    if (p.kw("AFTER")) {
      p.expect("MATCH"); p.expect("SKIP")
      if (p.kw("TO")) {
        if (p.kw("NEXT")) { p.expect("ROW"); skip = Cep.SkipToNextRow }
        else if (p.kw("FIRST")) skip = Cep.SkipToFirst(p.next())
        else { p.expect("LAST"); skip = Cep.SkipToLast(p.next()) }
      }
      else { p.expect("PAST"); p.expect("LAST"); p.expect("ROW")
        skip = Cep.SkipPastLastEvent }
    }

    p.expect("PATTERN"); p.expect("(")
    val pat = Seq.newBuilder[PatElem]
    while (!p.kw(")")) {
      if (p.kw("(")) {
        // a group: alternation (B | C+ | D?) — each branch one
        // variable with optional per-branch +/?/* — or a SEQUENCE
        // (A B ...); either may carry any element quantifier
        // ((B|C)+, (A B){n,m}, ...)
        val branches = Vector.newBuilder[Vector[PatVar]]
        var more = true
        while (more) {
          val sq = Vector.newBuilder[PatVar]
          while (p.peek.exists(t => t != "|" && t != ")"))
            sq += parsePatVar(p)
          val vs = sq.result()
          if (vs.isEmpty) sys.error("MATCH_RECOGNIZE: empty group branch")
          branches += vs
          more = p.kw("|")
        }
        p.expect(")")
        val bs = branches.result()
        val (gMin, gMax, gRel) = parseQuant(p)
        // a multi-variable (SEQUENCE) branch — alone ((A B){n,m}) or
        // inside an alternation ((A B | C)) — may carry per-variable
        // quantifiers, including ZERO-capable ones ((A B? C),
        // (A B* C) — round 10: the NFA's cycle scan and entry walks
        // skip a zero-capable variable per its own greed). The one
        // rejected shape is a branch whose EVERY variable is
        // zero-capable ((A? B*)): its iteration can match empty,
        // which is the unsupported empty-match class.
        for (br <- bs if br.size > 1)
          if (br.forall(_.min == 0))
            sys.error("MATCH_RECOGNIZE: a sequence branch whose every " +
              "variable is zero-capable can match empty; anchor it " +
              "with at least one min >= 1 variable: " +
              br.map(_.name).mkString("(", " ", ")"))
        // single-var branches: B{n,m} as a branch compiles to a
        // repetition-counted self-loop (Cep.Step minReps/maxReps);
        // the NFA gates the counts on the TRAILING consecutive run at
        // the step, so the combo with a QUANTIFIED group
        // ((B{n,m}|C)+, where group repetitions may re-enter the
        // branch back to back) is handled too — a run of k Bs is
        // legal iff it splits into whole repetitions each in [n, m]
        pat += PatElem(bs, gMin, gMax, gRel)
      } else {
        // parsePatVar's identifier guard applies here too: a stray
        // token (e.g. the '?' of an unsupported reluctant bounded
        // quantifier B{2,3}?) must fail fast, not silently become an
        // always-true pattern variable
        val v = parsePatVar(p)
        pat += PatElem(Vector(Vector(PatVar(v.name, 1, 1, reluctant = false))),
          v.min, v.max, v.reluctant)
      }
    }

    var withinMs: Option[Long] = None
    if (p.kw("WITHIN")) {
      p.expect("INTERVAL")
      val q = p.next()
      require(q.startsWith("'"), s"WITHIN INTERVAL expects a quoted number, got $q")
      val n = q.substring(1, q.length - 1).trim.toLong
      val unit = p.next().toUpperCase.stripSuffix("S") match {
        case "SECOND" => 1000L
        case "MINUTE" => 60000L
        case "HOUR"   => 3600000L
        case "DAY"    => 86400000L
        case u => sys.error(s"unsupported WITHIN unit $u")
      }
      withinMs = Some(n * unit)
    }

    p.expect("DEFINE")
    val defines = Map.newBuilder[String, Pred]
    more = true
    while (more) {
      val v = p.next()
      p.expect("AS")
      defines += v -> parseOr(p)
      more = p.kw(",")
    }
    val pattern = pat.result()
    // Empty-match contract (round 10, pinned; the NFA enforces the
    // same rule at construction — this is the friendlier parse-time
    // spelling): a pattern every element of which admits zero rows
    // (element min 0, or some single-variable branch with min 0 —
    // (B?|C) matches empty through B?) can produce SQL:2016 empty
    // matches, which this engine does not implement. Reject loudly
    // instead of silently emitting no row where SQL would emit one.
    if (pattern.nonEmpty && pattern.forall(el =>
      el.min == 0 ||
        el.branches.exists(br => br.size == 1 && br.head.min == 0)))
      sys.error("MATCH_RECOGNIZE: the pattern can match empty (every " +
        "element admits zero rows); empty matches are unsupported - " +
        "anchor the pattern with at least one required element")
    Clause(part, order, measures.result(), skip, pattern, withinMs,
      defines.result(), allRows)
  }

  /** VAR with an optional quantifier: `+[?]`, `*[?]`, `?`, `{n[,[m]]}`. */
  private def parsePatVar(p: P): PatVar = {
    val name = p.next()
    // a non-identifier here would silently become a variable named
    // "(" (nested groups) or a digit — fail fast instead
    if (!(name.head.isLetter || name.head == '_'))
      sys.error(s"MATCH_RECOGNIZE: expected a pattern variable, got $name")
    val (mn, mx, rel) = parseQuant(p)
    PatVar(name, mn, mx, rel)
  }

  /** Optional quantifier suffix → (min, max, reluctant); (1,1,false)
    * when absent. Shared by single variables, alternation branches,
    * and whole groups. */
  private def parseQuant(p: P): (Int, Int, Boolean) = {
    if (p.kw("+")) (1, -1, p.kw("?"))
    else if (p.kw("*")) (0, -1, p.kw("?"))
    else if (p.kw("?")) (0, 1, false)
    else if (p.kw("{")) {
      val n = p.next().toInt
      val m =
        if (p.kw(",")) { if (p.peek.contains("}")) -1 else p.next().toInt }
        else n
      p.expect("}")
      if (m != -1 && (m < n || m < 1))
        sys.error(s"MATCH_RECOGNIZE: bad quantifier {$n,$m}")
      // reluctant bounded quantifier ({n,m}?, {n,}? — round 10):
      // prefer FEWER repetitions; the optional copies' skip ways
      // hoist before their consuming ways (elemReluctant)
      (n, m, p.kw("?"))
    } else (1, 1, false)
  }

  private val aggFns = Set("SUM", "MIN", "MAX", "AVG", "COUNT")

  private def parseVal(p: P): Val = p.next() match {
    case f if f.equalsIgnoreCase("CLASSIFIER") =>
      p.expect("("); p.expect(")"); Classifier
    case f if f.equalsIgnoreCase("MATCH_NUMBER") =>
      p.expect("("); p.expect(")"); MatchNum
    case f if f.equalsIgnoreCase("LAST") || f.equalsIgnoreCase("FIRST") =>
      p.expect("(")
      val ref = p.next()
      val off = if (p.kw(",")) p.next().toInt else 0
      p.expect(")")
      val Array(v, c) = ref.split("\\.", 2)
      Nav(f.toUpperCase, v, c, off)
    case f if aggFns(f.toUpperCase) =>
      p.expect("(")
      val agg =
        if (p.kw("*")) Agg("COUNT", "", "*") // COUNT(*): every matched row
        else {
          val ref = p.next()
          if (ref.endsWith(".") && p.kw("*")) // COUNT(B.*)
            Agg(f.toUpperCase, ref.dropRight(1), "*")
          else {
            val Array(v, c) = ref.split("\\.", 2)
            Agg(f.toUpperCase, v, c)
          }
        }
      p.expect(")")
      require(agg.col != "*" || agg.fn == "COUNT",
        s"${agg.fn}(VAR.*) is not meaningful — only COUNT counts rows")
      agg
    case s if s.startsWith("'") => Lit(s.substring(1, s.length - 1))
    case n if n.head.isDigit || n.head == '-' =>
      Lit(if (n.contains('.')) n.toDouble else n.toLong)
    case ref if ref.contains(".") =>
      val Array(v, c) = ref.split("\\.", 2); ColRef(v, c)
    case bare if bare.head.isLetter || bare.head == '_' =>
      ColRef("", bare) // unqualified column → the row under evaluation
    case other => sys.error(s"unexpected value token $other")
  }

  private def parseOr(p: P): Pred = {
    var l = parseAnd(p)
    while (p.kw("OR")) l = BoolOp(l, "OR", parseAnd(p))
    l
  }
  private def parseAnd(p: P): Pred = {
    var l = parseCmp(p)
    while (p.kw("AND")) l = BoolOp(l, "AND", parseCmp(p))
    l
  }
  private def parseCmp(p: P): Pred = {
    if (p.kw("(")) { val inner = parseOr(p); p.expect(")"); return inner }
    val l = parseVal(p)
    if (p.kw("IS")) {
      val neg = p.kw("NOT"); p.expect("NULL"); IsNull(l, neg)
    } else {
      val op = p.next()
      Cmp(l, op, parseVal(p))
    }
  }

  // ---- evaluation ----------------------------------------------------

  private type Entry = (Int, Row)

  private def resolve(v: Val, candidate: Option[Row], curVar: String,
      varIdx: Map[String, Set[Int]], entries: Vector[Entry],
      matchNum: Long = 0L): Option[Any] = v match {
    case Lit(x) => Some(x)
    case Classifier =>
      // running semantics in DEFINE: the row under evaluation's
      // provisional variable; FINAL in MEASURES: the last matched
      // row's variable (ONE ROW PER MATCH)
      if (candidate.isDefined) Some(curVar)
      else entries.lastOption.map { case (i, _) =>
        varIdx.collectFirst { case (name, idxs) if idxs(i) => name }
          .getOrElse(sys.error(s"no variable for step $i"))
      }
    case MatchNum =>
      if (candidate.isDefined)
        sys.error("MATCH_RECOGNIZE: MATCH_NUMBER() is supported in " +
          "MEASURES only, not DEFINE")
      Some(matchNum)
    case ColRef("", col) => // unqualified: the row under evaluation
      candidate.flatMap(r => Option(r.getAs[Any](col)))
    case ColRef(variable, col) =>
      // SQL semantics: VAR.col = LAST(VAR.col, 0); the row under
      // evaluation provisionally belongs to `curVar`
      resolve(Nav("LAST", variable, col, 0), candidate, curVar, varIdx, entries)
    case Nav(fn, variable, col, off) =>
      // a quantifier-expanded variable spans several step indices
      val idxs = varIdx.getOrElse(variable,
        sys.error(s"unknown pattern variable $variable"))
      val rows = entries.collect { case (i, r) if idxs(i) => r } ++
        (if (variable == curVar) candidate.toSeq else Nil)
      val picked =
        if (fn == "LAST") rows.reverse.drop(off).headOption
        else rows.drop(off).headOption
      picked.flatMap(r => Option(r.getAs[Any](col)))
    case Agg(fn, variable, col) =>
      // FINAL over the whole match in MEASURES (candidate = None);
      // running over rows-so-far + candidate when evaluated in DEFINE
      val rows =
        if (variable == "") entries.map(_._2) ++ candidate.toSeq
        else {
          val idxs = varIdx.getOrElse(variable,
            sys.error(s"unknown pattern variable $variable"))
          entries.collect { case (i, r) if idxs(i) => r } ++
            (if (variable == curVar) candidate.toSeq else Nil)
        }
      if (col == "*") Some(rows.length.toLong)
      else {
        val vals = rows.flatMap(r => Option(r.getAs[Any](col))) // SQL: skip NULLs
        fn match {
          case "COUNT" => Some(vals.length.toLong)
          case _ if vals.isEmpty => None // SUM/MIN/MAX/AVG over empty → NULL
          case "SUM" =>
            val integral = vals.forall {
              case _: java.lang.Long | _: Integer | _: java.lang.Short |
                   _: java.lang.Byte => true
              case _ => false
            }
            if (integral) Some(vals.map(_.asInstanceOf[Number].longValue()).sum)
            else Some(vals.map(num).sum)
          case "AVG" => Some(vals.map(num).sum / vals.length)
          case "MIN" => Some(vals.minBy(num))
          case "MAX" => Some(vals.maxBy(num))
        }
      }
  }

  private def num(x: Any): Double = x match {
    case n: Number => n.doubleValue()
    case t: java.sql.Timestamp => t.getTime.toDouble
    case d: java.sql.Date => d.getTime.toDouble
    case other => sys.error(s"non-numeric operand $other")
  }

  private def eval(pred: Pred, candidate: Option[Row], curVar: String,
      varIdx: Map[String, Set[Int]], entries: Vector[Entry]): Boolean = pred match {
    case BoolOp(l, "AND", r) =>
      eval(l, candidate, curVar, varIdx, entries) &&
        eval(r, candidate, curVar, varIdx, entries)
    case BoolOp(l, _, r) =>
      eval(l, candidate, curVar, varIdx, entries) ||
        eval(r, candidate, curVar, varIdx, entries)
    case IsNull(v, neg) =>
      resolve(v, candidate, curVar, varIdx, entries).isEmpty != neg
    case Cmp(l, op, r) =>
      (resolve(l, candidate, curVar, varIdx, entries),
        resolve(r, candidate, curVar, varIdx, entries)) match {
        case (Some(a), Some(b)) =>
          (a, b) match {
            case (sa: String, sb: String) => op match {
              case "=" => sa == sb
              case "<>" | "!=" => sa != sb
              case "<" => sa < sb case ">" => sa > sb
              case "<=" => sa <= sb case ">=" => sa >= sb
            }
            case _ =>
              val (x, y) = (num(a), num(b))
              op match {
                case "=" => x == y
                case "<>" | "!=" => x != y
                case "<" => x < y case ">" => x > y
                case "<=" => x <= y case ">=" => x >= y
              }
          }
        case _ => false // NULL comparison → unknown → false
      }
  }

  // ---- runner --------------------------------------------------------

  /** A parsed + NFA-compiled clause, decoupled from the Spark plan so
    * the per-key walk is unit/fuzz-testable without an executor
    * (MatchRecognizeFuzzSpec drives [[matchKey]] on in-memory rows
    * against a brute-force oracle). */
  private[cep] case class Compiled(clause: Clause,
      spec: Cep.PatternSpec[Row], varIdx: Map[String, Set[Int]],
      outSchema: StructType, ordKey: Row => Double)

  /** Parse the clause and compile it onto the [[Cep]] NFA. */
  private[cep] def compile(schema: StructType, sql: String): Compiled = {
    val clause = parse(sql)

    // expand quantifiers into linear pattern POSITIONS, each a vector
    // of (name, oneOrMore, optional, reluctant, groupLoop, minReps,
    // maxReps) alternatives — the SAME expansion for single variables
    // and alternation groups (an element is repeated as a unit):
    //   E{n,m} → n mandatory copies + (m-n) optional copies;
    //   E{n,}  → n copies, the last looping; E* → 1 optional looping.
    // groupLoop is set on looping copies of a multi-branch element:
    // (B|C)+ repetitions may switch branches, so the NFA loop tries
    // every alternative of the position, not just the current step.
    // Per-branch quantifiers compose: (B+|C) self-loops B only, and
    // a BOUNDED branch (B{n,m}|C) — which can't use the copy rewrite
    // because the other branches share its position — rides the
    // NFA's repetition-counted self-loop (minReps/maxReps). Loop
    // copies keep their counts too ((B{n,m}|C)+): the NFA gates on
    // the trailing consecutive run, which group re-entry extends —
    // a run of k Bs must split into whole repetitions in [n, m].
    val posElems: Vector[(Vector[PosAlt], Int)] =
      clause.pattern.iterator.zipWithIndex.flatMap { case (el, elemIdx) =>
        (if (el.isPureSeq) {
          // pure sequence group: ONE position whose k variables cycle
          // (Cep.Step seqIdx/seqLen); minReps/maxReps carry the
          // {n,m} iteration bounds directly (min 0 = a skippable
          // position, one-iteration minimum once entered)
          val vars = el.branches.head
          val k = vars.size
          Iterator.single(vars.zipWithIndex.map { case (v, i) =>
            PosAlt(v.name,
              oneOrMore = true, // the cycle consumes through the loop path
              optional = el.min == 0,
              reluctant = el.reluctant,
              groupLoop = false,
              minReps = math.max(1, el.min),
              maxReps = el.max,
              emptyBranch = false,
              elemReluctant = el.reluctant,
              // the VARIABLE's own quantifier ((A B+)): branchLoop/
              // branchReluctant order its run extension, varMin/
              // varMax bound the run (Cep.Partial.curRun)
              branchLoop = v.max == -1 || v.max > 1,
              branchReluctant = v.reluctant,
              posSkip = el.min == 0,
              seqIdx = i, seqLen = k,
              varMin = v.min, varMax = v.max)
          })
        } else {
        val nBr = el.branches.size
        def pos(loop: Boolean, opt: Boolean): Vector[PosAlt] =
          el.branches.flatMap { br =>
          if (br.size > 1) {
            // a SEQUENCE branch inside an alternation ((A B | C)):
            // k cycling steps sharing the position with the other
            // branches, exactly ONE whole iteration per position
            // copy (maxReps 1 caps off the wrap edge); in a loop
            // copy the NEXT group iteration opens through the
            // groupLoop re-entry instead, which ranks same-branch
            // re-entry against every other branch in alternation
            // order
            val k = br.size
            br.zipWithIndex.map { case (v, i) =>
              PosAlt(v.name,
                oneOrMore = true,
                optional = opt,
                reluctant = el.reluctant,
                groupLoop = loop,
                minReps = 1, maxReps = 1,
                emptyBranch = false,
                elemReluctant = (loop || opt) && el.reluctant,
                branchLoop = v.max == -1 || v.max > 1,
                branchReluctant = v.reluctant,
                posSkip = opt,
                seqIdx = i, seqLen = k,
                varMin = v.min, varMax = v.max)
            }
          } else {
            val v = br.head
            Vector(PosAlt(v.name,
              oneOrMore = v.max == -1 || v.max > 1 || loop,
              optional = v.min == 0 || opt,
              // the SELF-LOOP's governing flag: for a plain (max-1)
              // branch in a loop copy the self-loop IS a new group
              // iteration (element flag governs; single-branch loops
              // B+? fold both), while a self-repeating branch extends
              // its own run (branch flag governs — (C|D*|A)+? still
              // extends a d-run greedily)
              reluctant =
                if (loop && (v.max == 1 || nBr == 1))
                  el.reluctant || v.reluctant
                else v.reluctant,
              groupLoop = loop && nBr > 1,
              minReps = math.max(1, v.min),
              // only genuinely bounded branches (max > 1) carry a cap:
              // maxReps >= 0 switches the NFA onto its per-event
              // repetition-count walk, which plain variables (max = 1,
              // no loop possible) must not pay on the hot path
              maxReps = if (v.max <= 1) -1 else v.max,
              // the BRANCH itself matches empty (B?/B*) — preference
              // ordering of the skip choice, Cep.Step.emptyBranch
              emptyBranch = v.min == 0,
              // element-level reluctance reaches the loop/skip
              // ordering through a LOOP copy ((B|C)*?, (B|C)+?) or —
              // round 10, reluctant bounded quantifiers — an OPTIONAL
              // copy ((B|C){n,m}?: the copy's skip way hoists before
              // its consuming ways); ? has no reluctant spelling
              elemReluctant = (loop || opt) && el.reluctant,
              branchLoop = v.max == -1 || v.max > 1,
              branchReluctant = v.reluctant,
              // the ELEMENT quantifier admits zero occurrences of
              // this position (optional copy / min-0 loop)
              posSkip = opt))
          }
        }
        if (el.max == -1) {
          if (el.min <= 1) Vector(pos(loop = true, opt = el.min == 0))
          else (1 to el.min).iterator
            .map(i => pos(loop = i == el.min, opt = false)).toVector
        } else {
          ((1 to el.min).map(_ => pos(loop = false, opt = false)) ++
           (el.min until el.max).map(_ =>
             pos(loop = false, opt = true))).toVector
        }
        // tag every emitted position with its source element's
        // ordinal (Cep.Step.elemId): the NFA's advance walk needs it
        // to rank a reluctant bounded quantifier's optional copies
        // nearest-first
        }).iterator.map(p => (p, elemIdx))
      }.toVector
    val positions: Vector[Vector[PosAlt]] = posElems.map(_._1)
    val varIdx: Map[String, Set[Int]] = positions.flatten.map(_.name)
      .zipWithIndex.groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).toSet }

    def colType(v: Val): org.apache.spark.sql.types.DataType = v match {
      case Classifier => org.apache.spark.sql.types.StringType
      case MatchNum => org.apache.spark.sql.types.LongType
      case ColRef(_, c)  => schema(c).dataType
      case Nav(_, _, c, _) => schema(c).dataType
      case Agg("COUNT", _, _) => org.apache.spark.sql.types.LongType
      case Agg("AVG", _, _)   => org.apache.spark.sql.types.DoubleType
      case Agg("SUM", _, c) => schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType =>
          org.apache.spark.sql.types.LongType
        case _ => org.apache.spark.sql.types.DoubleType
      }
      case Agg(_, _, c) => schema(c).dataType // MIN/MAX preserve the type
      case Lit(_: String) => org.apache.spark.sql.types.StringType
      case Lit(_: Double) => org.apache.spark.sql.types.DoubleType
      case Lit(_)         => org.apache.spark.sql.types.LongType
    }
    val measureFields = clause.measures.map { case (v, alias) =>
      org.apache.spark.sql.types.StructField(alias, colType(v), true) }
    // Measure aliases join the input columns (ALL ROWS) or the
    // partition column (ONE ROW) in the output schema — a collision
    // would build a StructType with duplicate field names, making
    // every downstream getAs/select silently ambiguous. Fail at
    // compile time (the parser's fail-fast contract) instead.
    val aliases = clause.measures.map(_._2)
    aliases.diff(aliases.distinct).distinct.headOption.foreach(a =>
      sys.error(s"MATCH_RECOGNIZE: duplicate measure alias '$a'"))
    val reserved =
      if (clause.allRows) schema.fieldNames.toSeq
      else Seq(clause.partitionBy)
    aliases.intersect(reserved).headOption.foreach(a => sys.error(
      s"MATCH_RECOGNIZE: measure alias '$a' collides with " +
        (if (clause.allRows) "an input column (ALL ROWS PER MATCH " +
          "emits every input column before the measures — rename the " +
          "measure)"
         else "the partition column (ONE ROW PER MATCH emits it first " +
          "— rename the measure)")))
    // ONE ROW PER MATCH: partition col + measures. ALL ROWS PER
    // MATCH: every input column + measures (per SQL:2016)
    val outSchema =
      if (clause.allRows) StructType(schema.fields ++ measureFields)
      else StructType(schema(clause.partitionBy) +: measureFields)

    val steps = positions.zipWithIndex.flatMap { case (alts, posIdx) =>
      alts.zipWithIndex.map { case (pa, a) =>
        val pred = clause.defines.get(pa.name)
        Cep.Step[Row](pa.name,
          // strict everywhere: match starts are handled by per-event
          // attempt spawning, not by a relaxed first step, and a
          // PARTIAL standing at the last position must die on a gap
          // (rows of a match are consecutive per SQL)
          contiguity = Cep.Next,
          oneOrMore = pa.oneOrMore,
          pred = (_, _) => true,
          // SQL default: greedy quantifiers (B+? / B*? flip it)
          quant = if (pa.reluctant) Cep.Reluctant else Cep.Greedy,
          entryPred = Some((e, entries) => pred.forall(
            eval(_, Some(e), pa.name, varIdx, entries))),
          optional = pa.optional,
          altWithPrev = a > 0,
          groupLoop = pa.groupLoop,
          minReps = pa.minReps,
          maxReps = pa.maxReps,
          emptyBranch = pa.emptyBranch,
          elemReluctant = pa.elemReluctant,
          branchLoop = pa.branchLoop,
          branchReluctant = pa.branchReluctant,
          posSkip = pa.posSkip,
          seqIdx = pa.seqIdx,
          seqLen = pa.seqLen,
          varMin = pa.varMin,
          varMax = pa.varMax,
          elemId = posElems(posIdx)._2)
      }
    }
    val spec = Cep.PatternSpec[Row](steps, clause.withinMs, clause.skip)

    val orderCol = clause.orderBy
    val ordKey: Row => Double = r => r.getAs[Any](orderCol) match {
      case n: Number => n.doubleValue()
      case t: java.sql.Timestamp => t.getTime.toDouble
      case d: java.sql.Date => d.getTime.toDouble
      case s: String => sys.error(s"ORDER BY string column unsupported: $s")
    }

    Compiled(clause, spec, varIdx, outSchema, ordKey)
  }

  /** Pure per-key NFA walk over one partition's ORDER BY-sorted rows —
    * the body [[run]] maps over each key run, shared verbatim with the
    * fuzz harness. */

  private[cep] def matchKey(c: Compiled, key: Any,
                            ordered: Seq[Row]): Seq[Row] = {
    val nfa = new Cep.Nfa[Row](c.spec, r => c.ordKey(r).toLong)
    val (matches, _) = nfa.run(ordered)
    matches.zipWithIndex.flatMap { case (m, i) =>
      matchRows(c, Some(key), m, i + 1L)
    }
  }

  /** Output rows of one match: ONE ROW PER MATCH emits the partition
    * key + FINAL measures; ALL ROWS PER MATCH emits every matched
    * input row + RUNNING measures (aggregates and navigation over the
    * match prefix ending at that row; CLASSIFIER() is the row's own
    * variable). `key` is only consulted in ONE-ROW mode — ALL-ROWS
    * output carries the partition column inside the input row. */
  // private[cep], not private: the fully-private spelling makes the
  // runStream state-function lambda capture the (non-serializable)
  // module as the call receiver
  private[cep] def matchRows(c: Compiled, key: Option[Any],
      m: Cep.MatchResult[Row], matchNum: Long): Seq[Row] =
    if (c.clause.allRows)
      m.entries.indices.map { k =>
        val prefix = m.entries.take(k + 1)
        val vals = c.clause.measures.map { case (v, _) =>
          resolve(v, None, curVar = "", c.varIdx, prefix,
            matchNum = matchNum).orNull }
        Row.fromSeq(m.entries(k)._2.toSeq ++ vals)
      }
    else {
      val vals = c.clause.measures.map { case (v, _) =>
        resolve(v, None, curVar = "", c.varIdx, m.entries,
          matchNum = matchNum).orNull }
      Seq(Row.fromSeq(key.getOrElse(
        m.entries.head._2.getAs[Any](c.clause.partitionBy)) +: vals))
    }

  /** STREAMING MATCH_RECOGNIZE (round 10): the same compiled clause +
    * NFA run incrementally under flatMapGroupsWithState — partials
    * survive micro-batches in GroupState, completed matches emit in
    * Append mode, and the SQL surface stays IDENTICAL to the batch
    * [[run]] (ONE ROW PER MATCH: partition column + measures; ALL
    * ROWS PER MATCH: matched input rows + RUNNING measures; the
    * engines cannot diverge — same parse, same position expansion,
    * same Nfa, same [[matchRows]] emission). The reference's MATCH_RECOGNIZE is a streaming
    * feature (`flink-sql/sql/dml/CEP.md` runs on an unbounded Ticker),
    * so the batch-only runner was a real gap.
    *
    * Ordering contract (the [[CepStreaming.matchPattern]] one):
    * event-time order WITHIN a micro-batch (rows sort by ORDER BY
    * before feeding the NFA), arrival order ACROSS batches — size any
    * upstream watermark to the expected disorder. `WITHIN` windows
    * expire against the query's event-time watermark when one is
    * declared upstream (pending greedy matches release, timed-out
    * partials drop — the event-time-flush cadence); without a
    * watermark they expire lazily on the next same-key event, and a
    * permanently idle key retains its partials (the DSL runner's rule
    * too; use the watermark).
    *
    * State per key: live partials + held-back matches, encoded as a
    * Tungsten Row (the input schema is a plan-time fact, so entries
    * nest as typed structs — no Java/Kryo serialization anywhere in
    * the state path, round 11). Keys group by the STRING rendering of
    * the partition value (one column, one type — injective), but
    * output rows carry the original value.
    *
    * When the clause has `WITHIN` and the input declares an
    * event-time watermark (on the ORDER BY column — the units must
    * agree), partials also flush on EVENT-TIME TIMERS: a key whose
    * window closes releases held-back greedy matches and drops dead
    * partials even if it never receives another event (the
    * [[CepStreaming.matchPattern]] cadence under the same rule).
    * Without a watermark, expiry is lazy — the next same-key event
    * notices.
    *
    * CHECKPOINT COMPATIBILITY: round 11 changed the state encoder
    * from Java serialization to the Tungsten Row encoding above — a
    * state-store format break. A `runStream` query checkpointed
    * before that change CANNOT restore against this build (state
    * schema/deserialization mismatch at restore); restart such a
    * query from a FRESH checkpoint location. The Row-encoded format
    * is schema-tracked by the state store from round 11 on, so future
    * field additions fail loudly at restore instead of corrupting.
    *
    * `matchNumberRetention` (round 12): when the clause uses
    * MATCH_NUMBER(), a key whose partials and pending have drained
    * still keeps its 8-byte counter so cross-batch numbering stays
    * exact — which on an unbounded key space means state grows with
    * distinct ever-matched keys. Pass a retention to bound it: the
    * counter is evicted once the watermark passes the key's last
    * activity + retention (one event-time timeout per idle key, NOT
    * a per-batch wakeup), and a later match on that key restarts
    * numbering at 1 — the documented trade. Requires a watermark;
    * without one the option is inert (lazy semantics throughout). */
  def runStream(df: DataFrame, sql: String,
                matchNumberRetention: Option[java.time.Duration] = None)
      : DataFrame = {
    val c = compile(df.schema, sql)
    val partitionBy = c.clause.partitionBy
    val nfa = new Cep.Nfa[Row](c.spec, r => c.ordKey(r).toLong)
    val within = c.spec.withinMs
    // plan-time facts, captured as vals: fn runs on executors where
    // the Dataset does not deserialize
    val streaming = df.isStreaming
    val hasWatermark = Cep.hasWatermark(df)
    val expireOn = within.isDefined && hasWatermark
    // MATCH_NUMBER retention (round 12, the last unbounded-state
    // story): counter-only state — a key whose partials and pending
    // have drained but whose MATCH_NUMBER counter must survive —
    // lives forever by default (exact cross-batch numbering on an
    // unbounded key space grows with distinct ever-matched keys).
    // With a retention, the counter is EVICTED once the watermark
    // passes last-activity + retention: a later match on that key
    // restarts numbering at 1, the documented trade. Needs a
    // watermark (the eviction rides the event-time timeout).
    val retentionMs = matchNumberRetention.map(_.toMillis)
    val timeoutOn = hasWatermark &&
      (within.isDefined || retentionMs.isDefined)
    // MATCH_NUMBER() numbering must survive micro-batches, so the
    // per-key state carries the running match count next to the NFA
    // state; when the clause uses it, an exhausted key keeps its
    // 8-byte counter alive instead of being removed (the price of
    // cross-batch numbering — without it, numbering restarts)
    val usesMatchNum = c.clause.measures.exists(_._1 == MatchNum)
    warnIfUnboundedMatchNum(streaming, usesMatchNum, retentionMs)
    // State encoding (round 11): a ROW with the input schema nested
    // inside — Tungsten/UnsafeRow-encoded through Encoders.row, the
    // cheapest state encoder Spark offers. The previous spelling
    // Java-serialized the whole NfaState[Row] per key per batch
    // (kryo was no alternative: external GenericRowWithSchema rows
    // defeat field serialization outside --add-opens JVMs). The
    // input schema is a plan-time fact, so every partial/pending
    // entry encodes as (step ordinals, input rows) against it —
    // full rows, not a projection: ALL ROWS PER MATCH emits every
    // input column of every matched row, possibly batches later.
    val stateSchema = mrStateSchema(df.schema)
    val stEnc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(stateSchema)
    val outEnc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(c.outSchema)
    val fn = new MrGwsFn(c, nfa, streaming, expireOn, usesMatchNum,
      retentionMs, within, timeoutOn)
    df.groupByKey(r => String.valueOf(r.getAs[Any](partitionBy)))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        if (timeoutOn)
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout
        else org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
        fn)(stEnc, outEnc)
      .toDF()
  }

  /** [[runStream]]'s per-key trigger function, a class so the cadence
    * fuzz can drive it over simulated micro-batch schedules (via
    * `TestGroupState`) and check it against the batch runner. */
  private[cep] final class MrGwsFn(c: Compiled, nfa: Cep.Nfa[Row],
      streaming: Boolean, expireOn: Boolean, usesMatchNum: Boolean,
      retentionMs: Option[Long], within: Option[Long], timeoutOn: Boolean)
      extends ((String, Iterator[Row],
        org.apache.spark.sql.streaming.GroupState[Row]) => Iterator[Row])
      with Serializable {
    def apply(key: String, it: Iterator[Row],
           state: org.apache.spark.sql.streaming.GroupState[Row])
        : Iterator[Row] = {
      val (st0, seq0) = state.getOption.map(unpackMrState).getOrElse(
        (Cep.NfaState.empty[Row], 0L))
      // counter-only BEFORE this trigger's events/expiry: the
      // retention decision below must not fire on a key whose
      // partials drained only just now — that key's retention clock
      // starts at THIS watermark
      val wasCounterOnly = st0.partials.isEmpty && st0.pending.isEmpty
      var st = st0
      var matchSeq = seq0
      val out = Seq.newBuilder[Row]
      def emit(m: Cep.MatchResult[Row]): Unit = {
        matchSeq += 1
        out ++= matchRows(c, None, m, matchSeq)
      }
      for (e <- it.toSeq.sortBy(c.ordKey)) {
        val (s2, done, _) = nfa.onEvent(st, e)
        st = s2
        done.foreach(emit) // SQL MR has no timeout side channel
      }
      if (!streaming) {
        // batch input: fn runs once per key with all rows — end the
        // attempt set exactly like the batch runner (flush releases
        // held-back matches), so runStream(batch df) ≡ run(df)
        val (s3, done) = nfa.flush(st)
        st = s3
        done.foreach(emit)
      } else if (expireOn) {
        // event-time flush: once the watermark passes startTs +
        // within, no in-order event can extend a partial — drop it
        // and release whatever its death unblocks
        val (s3, done, _) = nfa.expire(st, state.getCurrentWatermarkMs())
        st = s3
        done.foreach(emit)
      }
      val counterOnly = st.partials.isEmpty && st.pending.isEmpty
      if (counterOnly && (!usesMatchNum || matchSeq == 0)) state.remove()
      else if (counterOnly && wasCounterOnly && retentionMs.isDefined &&
        state.hasTimedOut) {
        // the retention timeout fired on state that was ALREADY
        // counter-only when it was armed: evict the counter
        state.remove()
      } else {
        state.update(packMrState(st, matchSeq))
        // counter-only state (MATCH_NUMBER retention after partials
        // and pending drained) needs NO per-batch timer: it changes
        // only when the key receives an event, and re-registering
        // wm+1 here would wake every ever-matched key on every
        // micro-batch forever. Pending-only state keeps the wm+1
        // wakeup — the next watermark advance is what releases
        // held-back matches. With a retention configured, counter-
        // only state arms ONE timeout at wm + retention (re-armed
        // only when the key sees activity — sliding retention).
        if (timeoutOn) {
          val wm = state.getCurrentWatermarkMs()
          if (within.isDefined && (st.partials.nonEmpty || st.pending.nonEmpty)) {
            val t =
              if (st.partials.nonEmpty)
                st.partials.map(_.startTs + within.get).min + 1
              else wm + 1
            state.setTimeoutTimestamp(math.max(t, wm + 1))
          } else if (counterOnly && retentionMs.isDefined) {
            state.setTimeoutTimestamp(math.max(wm + retentionMs.get, wm + 1))
          }
          // partials/pending without WITHIN: lazy expiry, no timer
          // (the documented DSL-runner behavior)
        }
      }
      out.result().iterator
    }
  }

  /** [[runStream]]'s per-key state layout: the MATCH_NUMBER counter
    * next to the NFA state (partials + pending + nextOrigin), every
    * row nested against the input schema — a plan-time fact, so the
    * whole value Tungsten-encodes through `Encoders.row` with no
    * Java/Kryo serialization. */
  private[cep] def mrStateSchema(inSchema: StructType): StructType = {
    import org.apache.spark.sql.types._
    val intsT = ArrayType(IntegerType, containsNull = false)
    val rowsT = ArrayType(inSchema, containsNull = false)
    StructType(Seq(
      StructField("matchSeq", LongType, nullable = false),
      StructField("nextOrigin", LongType, nullable = false),
      StructField("partials", ArrayType(StructType(Seq(
        StructField("startTs", LongType, nullable = false),
        StructField("matched", BooleanType, nullable = false),
        StructField("origin", LongType, nullable = false),
        StructField("prio", intsT, nullable = false),
        StructField("curRep", IntegerType, nullable = false),
        StructField("curRun", IntegerType, nullable = false),
        StructField("steps", intsT, nullable = false),
        StructField("rows", rowsT, nullable = false))),
        containsNull = false), nullable = false),
      StructField("pending", ArrayType(StructType(Seq(
        StructField("origin", LongType, nullable = false),
        StructField("prio", intsT, nullable = false),
        StructField("steps", intsT, nullable = false),
        StructField("rows", rowsT, nullable = false))),
        containsNull = false), nullable = false)))
  }

  private[cep] def packMrState(st: Cep.NfaState[Row], matchSeq: Long): Row =
    Row(matchSeq, st.nextOrigin,
      st.partials.map(p => Row(p.startTs, p.matched, p.origin, p.prio,
        p.curRep, p.curRun, p.entries.map(_._1), p.entries.map(_._2))),
      st.pending.map(q => Row(q.origin, q.prio,
        q.entries.map(_._1), q.entries.map(_._2))))

  private[cep] def unpackMrState(r: Row): (Cep.NfaState[Row], Long) = {
    def entries(s: Row, stepsAt: Int): Vector[(Int, Row)] =
      s.getSeq[Int](stepsAt).toVector
        .zip(s.getSeq[Row](stepsAt + 1))
    (Cep.NfaState(
      r.getSeq[Row](2).map(p => Cep.Partial[Row](entries(p, 6),
        p.getLong(0), p.getBoolean(1), p.getLong(2),
        p.getSeq[Int](3).toVector, p.getInt(4), p.getInt(5))),
      r.getSeq[Row](3).map(q => Cep.Pending[Row](q.getLong(0),
        q.getSeq[Int](1).toVector, entries(q, 2))),
      r.getLong(1)), r.getLong(0))
  }

  /** Run the clause over a DataFrame, returning one row per match:
    * the partition column followed by the measures. */
  def run(df: DataFrame, sql: String): DataFrame = {
    val c = compile(df.schema, sql)
    val partitionBy = c.clause.partitionBy
    // Stay in Tungsten: hash-repartition on the partition key and let
    // Spark's radix sort order each partition by (key, ORDER BY), then
    // walk consecutive key runs in mapPartitions — no RDD shuffle of
    // Java/Kryo-serialized Rows, no per-key materialized Iterable
    // beyond the single run the NFA needs (the DSL path,
    // Cep.matchBatch, groups with groupByKey.flatMapGroups instead and
    // sorts each key's rows in memory).
    df.repartition(col(partitionBy))
      .sortWithinPartitions(col(partitionBy), col(c.clause.orderBy))
      .mapPartitions { it =>
        val buf = it.buffered
        val runs = new Iterator[(Any, Seq[Row])] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Any, Seq[Row]) = {
            val k = buf.head.getAs[Any](partitionBy)
            val b = scala.collection.mutable.ArrayBuffer.empty[Row]
            while (buf.hasNext && buf.head.getAs[Any](partitionBy) == k)
              b += buf.next()
            (k, b.toSeq)
          }
        }
        runs.flatMap { case (key, ordered) => matchKey(c, key, ordered) }
      }(org.apache.spark.sql.Encoders.row(c.outSchema))
      .toDF()
  }
}

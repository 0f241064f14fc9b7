package graft.cep

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Complex event processing (SURVEY.md §2.8) — the reference's
  * FlinkCEP surface re-built as an NFA library:
  *   - contiguity modes: strict `next` vs relaxed `followedBy` vs
  *     branching `followedByAny` (`cep/FlinkCEP.java:55-64`);
  *   - `within` windows with timed-out partial matches surfaced as a
  *     side channel (`cep/CEPTimeout.java:72-103`);
  *   - one-or-more quantifiers and previous-event-referencing
  *     predicates — enough to express MATCH_RECOGNIZE
  *     `PATTERN (A B+ C) DEFINE B AS price < LAST(price)`
  *     (`flink-sql/sql/dml/CEP.md:72-91`).
  *
  * The NFA core is engine-agnostic Scala; `matchBatch` runs it per key
  * inside flatMapGroups, `CepStreaming.matchPattern` carries partials
  * in flatMapGroupsWithState across micro-batches.
  */
object Cep {

  /** AFTER MATCH SKIP strategies (`flink-sql/sql/dml/CEP.md:82`,
    * Flink AfterMatchSkipStrategy). Applied when a match completes:
    *   - NoSkip: keep everything (followedByAny-style all matches);
    *   - SkipPastLastEvent: drop every live partial that started at or
    *     before the match's last event (SQL `SKIP PAST LAST ROW`,
    *     non-overlapping matches);
    *   - SkipToNextRow: drop only partials that started at the match's
    *     FIRST event (SQL `SKIP TO NEXT ROW` — overlapping matches
    *     resume from the row after the match start);
    *   - SkipToLast(step): drop partials that started before the last
    *     event the named step consumed (SQL `SKIP TO LAST var`);
    *   - SkipToFirst(step): drop partials that started before the
    *     first event the named step consumed (SQL `SKIP TO FIRST var`;
    *     attempts from that row onward survive — the just-resolved
    *     attempt itself is already decided, so the SQL-standard
    *     infinite-loop hazard cannot arise here).
    */
  sealed trait AfterMatchSkip
  case object NoSkip extends AfterMatchSkip
  case object SkipPastLastEvent extends AfterMatchSkip
  case object SkipToNextRow extends AfterMatchSkip
  case class SkipToLast(step: String) extends AfterMatchSkip
  case class SkipToFirst(step: String) extends AfterMatchSkip

  sealed trait Contiguity
  /** Strict: the very next event must match or the partial dies. */
  case object Next extends Contiguity
  /** Relaxed: skip non-matching events; consume the first match. */
  case object FollowedBy extends Contiguity
  /** Relaxed + branching: every future match spawns a new branch. */
  case object FollowedByAny extends Contiguity

  /** One-or-more expansion policy when an event satisfies BOTH the
    * loop step and the following step (MATCH_RECOGNIZE B+ vs B+?,
    * Flink `oneOrMore.greedy`):
    *   - AllMatches: branch on both (every loop length is reported) —
    *     the FlinkCEP followedByAny-style default;
    *   - Greedy: prefer the longest loop run THAT STILL COMPLETES the
    *     pattern (true SQL backtracking: if the longer run dies, the
    *     shorter alternative is reported, not lost);
    *   - Reluctant: prefer the shortest completing loop run.
    *
    * Greedy/Reluctant are implemented by branching both ways at each
    * tie and tagging each branch with a priority; a completed match is
    * held back while any higher-priority sibling of the same match
    * attempt is still alive, and released the moment every such
    * sibling dies (or at end-of-input in batch / `within` expiry in
    * streaming). AllMatches ties carry no priority and emit
    * immediately.
    */
  sealed trait Quant
  case object AllMatches extends Quant
  case object Greedy extends Quant
  case object Reluctant extends Quant

  /** One pattern step. `pred` sees the candidate event and the events
    * matched so far (so DOWN can test price < last price).
    * `entryPred`, when set, additionally sees which step consumed each
    * prior event — required for SQL MATCH_RECOGNIZE navigation
    * (`LAST(VAR.col, 1)` resolves against VAR's rows only).
    *
    * `optional` marks a step that may be skipped entirely
    * (MATCH_RECOGNIZE `B?` / the expanded tail of `B{n,m}`); combined
    * with `oneOrMore` it expresses `B*`. `altWithPrev` folds this step
    * into the previous step's pattern POSITION as an alternative
    * (`(B|C)`): at that position the NFA tries every alternative,
    * preferring the leftmost (SQL alternation preference).
    *
    * `groupLoop` marks a looping ALTERNATION position (`(B|C)+`):
    * standing on any alternative of the position, the loop tries every
    * `groupLoop` alternative of the position — repetitions may switch
    * branches (B C B …), which is SQL's semantics for a quantified
    * group. A plain `B+` branch inside an unquantified group
    * (`(B+|C)`) keeps `groupLoop = false` and self-loops only.
    *
    * `minReps`/`maxReps` bound a SELF-LOOPING step's repetition count
    * (`B{n,m}` as a branch inside an alternation, where the
    * position-expansion rewrite used for standalone `B{n,m}` can't
    * apply because the other branches share the position): the step
    * may not advance (or complete) before consuming `minReps` events
    * and may not loop beyond `maxReps` (−1 = unbounded). Defaults
    * (1, −1) reproduce the unbounded `B`/`B+` behavior exactly.
    * `emptyBranch` distinguishes WHY an optional step is skippable
    * for preference ordering: true = the BRANCH itself can match
    * empty (`B?`/`B*` — v.min 0; the skip choice ranks at the
    * branch's own alternation position, before its consuming way
    * when reluctant), false + optional = only the POSITION is
    * skippable (an optional quantifier copy; the skip ranks after
    * every alternative, or before all of them when `elemReluctant`
    * marks the ELEMENT quantifier reluctant — `(B|C)*?` prefers
    * zero iterations; a branch's own `+?` / `*?` flag must NOT trigger
    * this, it only orders that branch's run lengths).
    *
    * `posSkip` = the ELEMENT's own quantifier admits zero
    * occurrences of the position (an optional copy / a min-0 loop) —
    * the element-level skip choice exists regardless of any branch's
    * own emptiness, and `elemReluctant` orders it first.
    *
    * `branchLoop`/`branchReluctant` carry the BRANCH quantifier's raw
    * facts for preference ordering where `quant` (the self-loop's
    * governing flag) and `elemReluctant` do not suffice: branchLoop =
    * the branch repeats by itself (v.max > 1 or unbounded), so a
    * self-target extends the current ITERATION (ordered by
    * branchReluctant) rather than opening a new one (ordered by
    * elemReluctant, in alternation order). Counts gate
    * on the TRAILING
    * consecutive run of events at the
    * step, which makes them compose with `groupLoop` (`(B{n,m}|C)+`):
    * a quantified group may re-enter the branch back to back, so a
    * trailing run of k events is legal-complete iff it splits into
    * r ≥ 1 whole repetitions each in [n, m] — ∃r: r·n ≤ k ≤ r·m,
    * i.e. ⌈k/m⌉·n ≤ k — and may absorb one more event iff k+1 splits
    * into whole repetitions plus an OPEN run in [1, m]. Without
    * `groupLoop` only a single run can exist (positions advance
    * monotonically), so the same gates reduce to n ≤ k ≤ m — the
    * unquantified-group semantics.
    *
    * `seqIdx`/`seqLen` (seqLen > 1) mark a MULTI-VARIABLE SEQUENCE
    * GROUP (`(A B){n,m}` — session-shaped MATCH_RECOGNIZE patterns):
    * the group's k variables share one pattern POSITION (vars 1..k−1
    * carry `altWithPrev`), but instead of the alternation walk the
    * position runs a CYCLE — entry lands on variable 0 only, each
    * consumed event moves to variable (seqIdx+1) mod k, a wrap from
    * the last variable back to 0 opens a new group iteration, and
    * the position may only be LEFT (or complete the match) standing
    * on the last variable. `Partial.curRep` counts events consumed
    * at the position, so the iteration count is curRep / seqLen;
    * `minReps`/`maxReps` bound it ((A B)? = 1/1 + optional,
    * (A B)+ = 1/−1, (A B){n,m} = n/m — no position copies, the
    * counter does the bounding). `quant` orders iterate-vs-leave at
    * the last variable (greedy prefers another iteration).
    *
    * A sequence branch may also share its position with OTHER
    * alternation branches (`(A B | C)` — mixed groups): there the
    * element quantifier expands into position COPIES like pure
    * alternation, each sequence branch runs its cycle with
    * minReps = maxReps = 1 (exactly one whole iteration per copy —
    * the wrap edge is capped off), and in a loop copy the next group
    * iteration opens through the `groupLoop` re-entry edges instead,
    * which ranks same-branch re-entry against every other branch in
    * alternation order. Sequence branches are entered (and
    * re-entered) at variable 0 only.
    *
    * `varMin`/`varMax` (round 10) carry a sequence VARIABLE's own
    * quantifier (`(A B+)`, `(A B{2,3}) C`): within one group
    * iteration the variable consumes a run of varMin..varMax events
    * (`Partial.curRun` tracks the open run; `curRep` counts
    * ITERATIONS for sequence steps — 1-based ordinal of the open
    * iteration). Extension of the run ranks by the variable's own
    * greed (`branchLoop`/`branchReluctant` carry it, the same fields
    * a self-repeating alternation branch uses); the cycle may move
    * on only once the run is whole.
    *
    * `elemId` (round 11) tags every step with the ordinal of the
    * SOURCE pattern element its position was expanded from (-1 for
    * DSL-built steps): the advance walk needs it to recognize a run
    * of interchangeable optional copies of ONE reluctant bounded
    * quantifier (`{n,m}?` expands to copies) and rank entering the
    * NEAREST copy first — without it, the leave-first hoist also
    * hoists deeper copies' entries, and a deep-entry twin that
    * pre-commits to "no more iterations" can die where SQL/PCRE lazy
    * backtracking would have succeeded through the near copy.
    *
    * Zero-capable variables inside a
    * sequence (`(A B?)`) are supported too (round 10's second pass:
    * the cycle scan and entry walks skip a zero-capable slot per its
    * own greed); per-variable quantifiers compose with the GROUP
    * quantifier, bounded or unbounded (`(A B+){2}`, `(A B+)+` —
    * curRep counts iterations, curRun the open variable run, so the
    * two bounds gate independently; hand-anchored and fuzzed). The
    * one rejected shape is a branch whose every variable is
    * zero-capable (`(A? B*)` — an empty-capable iteration). */
  case class Step[T](name: String, contiguity: Contiguity,
                     oneOrMore: Boolean, pred: (T, Seq[T]) => Boolean,
                     quant: Quant = AllMatches,
                     entryPred: Option[(T, Vector[(Int, T)]) => Boolean] = None,
                     optional: Boolean = false,
                     altWithPrev: Boolean = false,
                     groupLoop: Boolean = false,
                     minReps: Int = 1,
                     maxReps: Int = -1,
                     emptyBranch: Boolean = false,
                     elemReluctant: Boolean = false,
                     branchLoop: Boolean = false,
                     branchReluctant: Boolean = false,
                     posSkip: Boolean = false,
                     seqIdx: Int = -1,
                     seqLen: Int = 0,
                     varMin: Int = 1,
                     varMax: Int = 1,
                     elemId: Int = -1) {
    def hit(e: T, entries: Vector[(Int, T)]): Boolean =
      entryPred match {
        case Some(f) => f(e, entries)
        case None    => pred(e, entries.map(_._2))
      }
  }

  case class PatternSpec[T](steps: Vector[Step[T]], withinMs: Option[Long],
                            skip: AfterMatchSkip = NoSkip) {
    def afterMatchSkip(s: AfterMatchSkip): PatternSpec[T] = copy(skip = s)
    def next(name: String, oneOrMore: Boolean = false,
             quant: Quant = AllMatches)
            (pred: (T, Seq[T]) => Boolean): PatternSpec[T] =
      copy(steps = steps :+ Step(name, Next, oneOrMore, pred, quant))
    def followedBy(name: String, oneOrMore: Boolean = false,
                   quant: Quant = AllMatches)
                  (pred: (T, Seq[T]) => Boolean): PatternSpec[T] =
      copy(steps = steps :+ Step(name, FollowedBy, oneOrMore, pred, quant))
    def followedByAny(name: String, oneOrMore: Boolean = false,
                      quant: Quant = AllMatches)
                     (pred: (T, Seq[T]) => Boolean): PatternSpec[T] =
      copy(steps = steps :+ Step(name, FollowedByAny, oneOrMore, pred, quant))
    def within(ms: Long): PatternSpec[T] = copy(withinMs = Some(ms))

    /** FlinkCEP `.optional()`: the most recently added step may be
      * skipped (Pattern.optional, `cep/FlinkCEP.java` pattern API). */
    def optional: PatternSpec[T] =
      copy(steps = steps.init :+ steps.last.copy(optional = true))

    /** FlinkCEP `.times(n)` / `.times(n, m)`: the most recently added
      * step must occur n (to m) times. Expands into copies sharing the
      * step's name — `toNamed` still groups all occurrences under it.
      * Repetitions inherit the step's contiguity (FlinkCEP's default
      * relaxed repetition; build the step with `next` for the
      * `consecutive()` behavior). */
    def times(n: Int): PatternSpec[T] = times(n, n)
    def times(n: Int, m: Int): PatternSpec[T] = {
      require(n >= 0 && m >= math.max(n, 1), s"bad times($n, $m)")
      val s = steps.last
      require(!s.oneOrMore, "times() on a oneOrMore step is ambiguous")
      val copies = (1 to n).map(_ => s.copy(optional = false)) ++
        (n until m).map(_ => s.copy(optional = true))
      copy(steps = steps.init ++ copies)
    }
  }

  def begin[T](name: String, oneOrMore: Boolean = false)
              (pred: (T, Seq[T]) => Boolean): PatternSpec[T] =
    PatternSpec(Vector(Step(name, FollowedBy, oneOrMore, pred)), None)

  /** A partial match: per matched event, the index of the step that
    * consumed it. `stepIdx` = index of the step matched last.
    * `matched` marks a partial that already emitted a completed match
    * (a one-or-more final step keeps extending) — such partials are
    * dropped silently on `within` expiry, never reported as timeouts.
    * `origin` identifies the match attempt (the step-0 event that
    * started it); `prio` is the branch-priority vector appended at
    * each Greedy/Reluctant tie (lexicographically smaller = preferred).
    * `curRep` is the length of the OPEN repetition at the current
    * step (meaningful for bounded branches): two decompositions of
    * the same event run (2+2 vs 3+1 of `E{2,3}`) are DIFFERENT
    * partials with different priorities and futures, so the
    * repetition boundary is explicit state, never inferred from the
    * trailing run (inference merges paths whose SQL preference
    * differs). For SEQUENCE-group steps `curRep` is instead the
    * 1-based ordinal of the OPEN group iteration and `curRun` the
    * open run length of the CURRENT variable (round 10 — needed once
    * sequence variables carry their own quantifiers, `(A B+)`, so
    * event count no longer determines the iteration count).
    */
  case class Partial[T](entries: Vector[(Int, T)], startTs: Long,
                        matched: Boolean = false,
                        origin: Long = -1L,
                        prio: Vector[Int] = Vector.empty,
                        curRep: Int = 1,
                        curRun: Int = 1) {
    def stepIdx: Int = entries.last._1
    def events: Seq[T] = entries.map(_._2)
  }

  /** A completed match held back because a higher-priority branch of
    * the same attempt is still alive (Greedy/Reluctant backtracking). */
  case class Pending[T](origin: Long, prio: Vector[Int],
                        entries: Vector[(Int, T)])

  /** Full NFA state for one key: live partials, held-back completed
    * matches, and the next match-attempt id. Plain case class so the
    * streaming operators can persist it in GroupState. */
  case class NfaState[T](partials: Seq[Partial[T]],
                         pending: Seq[Pending[T]],
                         nextOrigin: Long)
  object NfaState {
    def empty[T]: NfaState[T] = NfaState(Vector.empty, Vector.empty, 0L)
  }

  case class MatchResult[T](kind: String, entries: Vector[(Int, T)])

  /** The NFA. Feed events in event-time order per key. */
  final class Nfa[T](val spec: PatternSpec[T], tsOf: T => Long)
      extends Serializable {
    private val steps = spec.steps

    /** Pattern POSITIONS: consecutive `altWithPrev` steps share one
      * position (alternation); the automaton advances position to
      * position, trying every alternative step of the target. */
    private val posOf: Array[Int] = {
      val a = new Array[Int](steps.length)
      var p = -1
      var i = 0
      while (i < steps.length) {
        if (i == 0 || !steps(i).altWithPrev) p += 1
        a(i) = p; i += 1
      }
      a
    }
    private val nPos = if (steps.isEmpty) 0 else posOf(steps.length - 1) + 1
    private val posSteps: Array[Array[Int]] =
      Array.tabulate(nPos)(p => steps.indices.filter(posOf(_) == p).toArray)
    // a position is skippable if SOME alternative can match empty —
    // skipping (B?|C) means choosing the B? branch and matching it
    // empty, so one optional alternative suffices (for single-step
    // positions exists ≡ forall, the pre-alternation behavior)
    private val posOptional: Array[Boolean] =
      Array.tabulate(nPos)(p => posSteps(p).exists(i => steps(i).optional))
    /** allOptFrom(p) = every position >= p is optional; a partial
      * standing at position q is a COMPLETE match iff allOptFrom(q+1). */
    private val allOptFrom: Array[Boolean] = {
      val a = new Array[Boolean](nPos + 1)
      a(nPos) = true
      var p = nPos - 1
      while (p >= 0) { a(p) = a(p + 1) && posOptional(p); p -= 1 }
      a
    }

    // Empty-match contract (round 10, pinned): a pattern whose EVERY
    // position is skippable can match zero rows. SQL:2016 would emit
    // an empty match row per unmatched input row; this engine's
    // event-driven NFA only ever starts an attempt on a consumed
    // event, so it would silently emit NOTHING instead — reject at
    // construction (FlinkCEP's contract for the same machine shape:
    // it refuses patterns that can produce empty matches) rather
    // than ship a silent semantic hole. Both surfaces route here:
    // the SQL front-end re-checks at parse time for a friendlier
    // error, the DSL hits this on the driver before any job runs.
    require(steps.isEmpty || !allOptFrom(0),
      "CEP pattern can match empty (every step optional): empty " +
        "matches are unsupported - anchor the pattern with at least " +
        "one required step")

    /** Any Greedy/Reluctant loop step, optional step, or alternation →
      * ties branch multiple ways and completions go through the
      * pending/priority machinery. */
    private val needsBacktrack =
      steps.exists(s => s.oneOrMore && s.quant != AllMatches) ||
        steps.exists(_.optional) || posSteps.exists(_.length > 1)

    // ---- bounded-branch repetition gates (B{n,m} as an alternation
    // branch, Step.minReps/maxReps) — exact per-partial repetition
    // state (Partial.curRep): the open repetition's length gates
    // extension and leaving; a quantified group re-entering the
    // branch (a NEW repetition) resets it to 1 as a SEPARATE branch
    // with its own priority ------------------------------------------

    private def isBounded(s: Step[T]): Boolean =
      s.minReps > 1 || s.maxReps >= 0

    private def isSeq(s: Step[T]): Boolean = s.seqLen > 1

    /** A sequence variable that repeats by itself (`(A B+)`,
      * `(A B{2,3})`). */
    private def seqVarLoop(s: Step[T]): Boolean =
      s.varMax == -1 || s.varMax > 1

    /** Variable 0 of the sequence branch `si` belongs to — branch
      * variables are consecutive steps, so this is index arithmetic,
      * which keeps it correct when the position also holds OTHER
      * alternation branches ((A B | C)). */
    private def seqVar0(si: Int): Int = si - steps(si).seqIdx

    /** Every variable after step `si` in its sequence branch is
      * zero-capable (varMin 0) — standing at si with its own run
      * whole then closes a whole ITERATION (round 10, zero-capable
      * sequence variables: `(A B?)` is iteration-whole at A). True
      * trivially at the last variable. */
    private def allZeroAfter(si: Int): Boolean = {
      val s = steps(si)
      var j = si + 1
      val end = si + (s.seqLen - s.seqIdx)
      while (j < end) {
        if (steps(j).varMin > 0) return false
        j += 1
      }
      true
    }

    /** Ranked ENTRY variables of the sequence branch whose first
      * variable is step `v0`: variable 0, plus — through zero-capable
      * leading variables — later ones; each zero-capable variable's
      * own greed orders entering it against everything after skipping
      * it (greedy B?: consume before skip; reluctant B*?: skip
      * first). Entry always consumes the event, so a trailing
      * zero-capable variable contributes no extra way (an all-zero
      * branch — an empty iteration — is rejected at parse). */
    private def seqEntryWalk(v0: Int): Vector[Int] = {
      val out = Vector.newBuilder[Int]
      def scan(j: Int): Unit = {
        val s = steps(j)
        def skip(): Unit = if (s.seqIdx < s.seqLen - 1) scan(j + 1)
        if (s.varMin == 0 && s.branchReluctant) { skip(); out += j }
        else { out += j; if (s.varMin == 0) skip() }
      }
      scan(v0)
      out.result()
    }

    /** The open repetition at `s` (step index `si`) is whole — the
      * partial may advance, switch branch, open a new repetition, or
      * finish the match. For a sequence-group step: the current
      * variable's own run is whole, every LATER variable of the
      * iteration is zero-capable (trivially so at the last variable),
      * and at least minReps iterations are open (curRep is the
      * 1-based ordinal of the open iteration, curRun the current
      * variable's run — round 10, when sequence variables grew their
      * own quantifiers). */
    private def repDone(s: Step[T], si: Int, rep: Int, run: Int): Boolean =
      if (isSeq(s))
        run >= s.varMin && allZeroAfter(si) && rep >= s.minReps
      else !isBounded(s) || rep >= s.minReps

    /** The open repetition may absorb one more event. */
    private def canExtend(s: Step[T], rep: Int): Boolean =
      s.maxReps < 0 || rep < s.maxReps

    /** Advance-walk sequences: advWalkSeq(q0) lists, in SQL
      * backtracking preference order, every step enterable from
      * position q0 onward through optional alternatives, with -1
      * marking the "all remaining positions matched empty" terminal.
      * At each position, alternatives go left to right. The skip
      * choice ("continue at the next position without consuming")
      * splices the rest of the walk at the rank SQL backtracking
      * gives it, exactly once per position:
      *   - an emptyBranch alternative (`B?`/`B*` — the branch itself
      *     matches empty) contributes the skip at its OWN alternation
      *     rank: after its consuming way when greedy, before it when
      *     reluctant (`B*?` prefers empty);
      *   - a position skippable only at ELEMENT level (an optional
      *     quantifier copy — optional but not emptyBranch) ranks the
      *     skip after every alternative (greedy element), or before
      *     all of them when the element quantifier is reluctant
      *     (`(B|C)*?` prefers zero iterations).
      * Flattening the skip to the END unconditionally mis-orders
      * `(D | B* | A)` on a non-b row (SQL prefers B*-empty → next
      * position over consuming A); hoisting it by any alternative's
      * reluctance mis-orders `(E+? | C+ | A?)?` (the skip belongs to
      * A?'s empty way and the greedy element, not to E+?). */
    private val advWalkSeq: Array[Vector[Int]] =
      Array.tabulate(nPos + 1) { q0 =>
        val out = Vector.newBuilder[Int]
        // position q is a RELUCTANT-optional quantifier copy (an
        // optional copy of a reluctant bounded element, or a
        // reluctant min-0 loop copy)
        def relSkipPos(q: Int): Boolean = posSteps(q).exists { j =>
          val s = steps(j)
          s.posSkip && s.elemReluctant
        }
        def scanPos(q: Int): Unit =
          if (q >= nPos) out += -1
          else if (relSkipPos(q)) {
            // reluctant ELEMENT skip ((B|C)*? loop copies, and the
            // optional copies of a reluctant BOUNDED quantifier
            // ((C|E)...{1,3}?): ZERO further iterations preferred
            // over any alternative. For a bounded quantifier the
            // expansion emits SEVERAL interchangeable optional
            // copies of the same element — SQL/PCRE lazy
            // backtracking has only one "iterate once more" choice,
            // so the walk must (1) leave past the WHOLE copy run
            // first, then (2) enter copies NEAREST-first: a naive
            // rest()-first recursion ranks the DEEPEST copy's
            // entries first, and that twin pre-commits to "no more
            // iterations" and dies in futures the near copy
            // survives (found by the round-11 200k-case fuzz soak:
            // ((C | E+? | B){1,3}? B ...) preferred extending E+?
            // over re-entering at C because the C-through-last-copy
            // twin died and outranked the C-through-middle-copy
            // path). Empty-branch splices inside the run are no-ops
            // — the leave is already emitted first, which is the
            // reluctant-position behavior the splice would pick.
            var r = q
            while (r + 1 < nPos && relSkipPos(r + 1) &&
              steps(posSteps(r + 1).head).elemId >= 0 &&
              steps(posSteps(r + 1).head).elemId ==
                steps(posSteps(q).head).elemId) r += 1
            scanPos(r + 1)
            for (p <- q to r; j <- posSteps(p) if steps(j).seqIdx <= 0) {
              val s = steps(j)
              if (isSeq(s)) out ++= seqEntryWalk(j)
              else out += j
            }
          }
          else {
            var restDone = false
            def rest(): Unit =
              if (!restDone) { restDone = true; scanPos(q + 1) }
            // a sequence-group branch is entered at variable 0, or —
            // through zero-capable leading variables (round 10) — at
            // a later variable, ranked by seqEntryWalk; a sequence
            // branch is never emptyBranch (all-zero branches are
            // rejected), so no empty-way splice applies to it
            for (j <- posSteps(q) if steps(j).seqIdx <= 0) {
              val s = steps(j)
              if (isSeq(s)) out ++= seqEntryWalk(j)
              else {
                // a single-branch loop ((B*)?-style) folds element and
                // branch reluctance into one flag pair
                val emptyFirst = s.branchReluctant ||
                  (s.elemReluctant && !s.groupLoop)
                if (s.emptyBranch && emptyFirst) {
                  rest(); out += j
                } else {
                  out += j
                  if (s.emptyBranch) rest()
                }
              }
            }
            // greedy ELEMENT skip (optional copies): after every
            // alternative
            if (posOptional(q)) rest()
          }
        scanPos(q0)
        out.result()
      }

    /** Entry targets from position `q0` that fire on the current
      * event, in the advance-walk preference order. */
    private def rankedTargets(q0: Int, hit: Int => Boolean): Vector[Int] =
      advWalkSeq(q0).filter(j => j >= 0 && hit(j))

    /** Decision slots for a partial standing at step s: `target`
      * ranks every loop/advance target in SQL backtracking
      * preference order, `complete` ranks "finish the match here"
      * (the all-empty-suffix terminal; -1 when no such suffix
      * exists), and `ext` ranks EXTENDING the open repetition of a
      * self-repeating branch (its own flag places it: greedy
      * extension before everything, reluctant last). For a
      * group-loop position every alternative appears in alternation
      * order (a NEW repetition may pick any branch, including the
      * current one), with the leave walk spliced at the first
      * empty-capable alternative or at the element flag's end.
      * Priorities built from these STATIC ranks stay comparable
      * across events, which lets a held-back completion be ordered
      * against continuations that only materialize at future
      * events: in `A B E (E+? | C+ | A?)?` the completion at E
      * ranks exactly at A?'s empty way — BELOW the E+? continuation
      * — so E+? wins the tie even though the group's leftmost
      * alternative is reluctant. An UNBOUNDED self-repeating branch
      * collapses extension and re-entry into one edge and takes the
      * better of its two ranks ((E+?|A|C)* re-enters E at its
      * alternation rank 0 even though E's own extension is
      * reluctant); a BOUNDED branch keeps them as separate branches
      * ((C|E{2}|A)+ standing on a whole E pair prefers C over a new
      * E pair, while below the cap extension wins). */
    private case class Slots(target: Map[Int, Int], complete: Int,
                             ext: Int, fresh: Map[Int, Int])

    private val slotTables: Array[Slots] =
      Array.tabulate(steps.length) { s =>
        val cur = steps(s)
        val curPos = posOf(s)
        val advC = advWalkSeq(curPos + 1)
        val seq = Vector.newBuilder[Int] // step idx; -1 complete; -2 ext
        if (isSeq(cur)) {
          // sequence-group cycle. The VARIABLE's own quantifier
          // ((A B+)) ranks extending its run: greedy extension before
          // everything else, reluctant extension after everything —
          // the positional-expansion reading ((A B+){2} ≡ A B+ A B+:
          // B+ extends before the cycle moves on). Then mid-iteration
          // the only cycle move is the next variable; at the last
          // variable the iterate-again vs leave tie is ordered by the
          // GROUP quantifier. In a groupLoop position ((A B | C)+)
          // the next iteration may instead pick ANY groupLoop
          // alternative (branch switch or same-branch re-entry),
          // ranked in alternation order with the leave walk spliced
          // per the element flag — the same ordering the
          // single-variable groupLoop case below uses (the wrap edge
          // is capped off by maxReps = 1 there, so re-entry is the
          // only iterate path)
          val vLoop = seqVarLoop(cur)
          if (vLoop && !cur.branchReluctant) seq += s
          // the ITERATION-END continuation — reached where the cycle
          // scan passes the last variable (directly at it, or through
          // zero-capable trailing variables): a new group repetition
          // (wrap for a pure group, any groupLoop alternative for a
          // mixed one — NEW-repetition entries rank in the `fresh`
          // namespace, -10 - step, so re-entering a step the same
          // table also ranks as extend/enter keeps its own digit)
          // and the leave walk, spliced per the group flags
          def iterEnd(): Unit = {
            if (cur.groupLoop) {
              var leaveDone = false
              def leave(): Unit =
                if (!leaveDone) { leaveDone = true; seq ++= advC }
              if (cur.elemReluctant) leave()
              for (j <- posSteps(curPos)
                   if steps(j).groupLoop && steps(j).seqIdx <= 0) {
                val st = steps(j)
                if (isSeq(st)) seq ++= seqEntryWalk(j).map(t => -10 - t)
                else if (st.emptyBranch && st.branchReluctant) {
                  leave(); seq += j
                }
                else { seq += j; if (st.emptyBranch) leave() }
              }
              leave()
            } else {
              val wrap = seqEntryWalk(seqVar0(s)).map(t => -10 - t)
              if (cur.quant == Reluctant) { seq ++= advC; seq ++= wrap }
              else { seq ++= wrap; seq ++= advC }
            }
          }
          // cycle scan from the next variable: enter it, or — when it
          // is zero-capable — skip it per ITS own greed (round 10);
          // a required variable stops the scan (the iteration cannot
          // end before it)
          def scanCycle(j: Int): Unit =
            if (j >= s + (cur.seqLen - cur.seqIdx)) iterEnd()
            else {
              val st = steps(j)
              if (st.varMin == 0 && st.branchReluctant) {
                scanCycle(j + 1); seq += j
              }
              else { seq += j; if (st.varMin == 0) scanCycle(j + 1) }
            }
          scanCycle(s + 1)
          if (vLoop && cur.branchReluctant) seq += s
        }
        else if (!cur.oneOrMore) seq ++= advC
        else if (!cur.groupLoop) {
          // pure self-loop (B+, a bounded branch, single-branch
          // loops): the step's governing flag orders extension vs
          // leave
          if (cur.quant == Reluctant) { seq ++= advC; seq += s }
          else { seq += s; seq ++= advC }
        } else {
          var leaveDone = false
          def leave(): Unit = if (!leaveDone) { leaveDone = true; seq ++= advC }
          if (cur.branchLoop && !cur.branchReluctant) seq += -2
          if (cur.elemReluctant) leave()
          // a sequence branch is re-entered at its first variable, or
          // through zero-capable leading variables (seqEntryWalk) —
          // NEW-repetition entries, ranked in the fresh namespace
          for (j <- posSteps(curPos)
               if steps(j).groupLoop && steps(j).seqIdx <= 0) {
            val st = steps(j)
            if (isSeq(st)) seq ++= seqEntryWalk(j).map(t => -10 - t)
            else if (st.emptyBranch && st.branchReluctant) {
              leave(); seq += j
            }
            else { seq += j; if (st.emptyBranch) leave() }
          }
          leave()
          if (cur.branchLoop && cur.branchReluctant) seq += -2
        }
        val v = seq.result()
        val m = scala.collection.mutable.HashMap.empty[Int, Int]
        val fm = scala.collection.mutable.HashMap.empty[Int, Int]
        for ((t, i) <- v.zipWithIndex) {
          if (t >= 0) { if (!m.contains(t)) m(t) = i }
          else if (t <= -10) { val j = -10 - t; if (!fm.contains(j)) fm(j) = i }
        }
        Slots(m.toMap, v.indexOf(-1), v.indexOf(-2), fm.toMap)
      }

    /** Start-decision slots: the advance walk from position 0. */
    private val startSlots: Map[Int, Int] =
      advWalkSeq(0).zipWithIndex.collect {
        case (j, i) if j >= 0 => j -> i
      }.toMap

    /** SQL-quantifier NFAs rank EVERY choice with its static slot
      * (one digit per consumed event, plus a completion digit), so
      * completions and future continuations compare coherently.
      * Pure-AllMatches NFAs (the FlinkCEP DSL default) keep the
      * legacy per-tie consecutive ranking and emit every loop
      * length immediately. */
    private val slotRanked = steps.exists(_.quant != AllMatches)

    /** Lexicographic order on priority vectors; a proper prefix sorts
      * before its extensions (the un-branched ancestor could still
      * take the preferred side of a future tie). */
    private def lexLt(a: Vector[Int], b: Vector[Int]): Boolean = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        if (a(i) != b(i)) return a(i) < b(i)
        i += 1
      }
      a.length < b.length
    }

    /** Advance all partials with one event. Returns (new state,
      * completed matches released this event, timed-out partials). */
    def onEvent(st: NfaState[T],
                e: T): (NfaState[T], List[MatchResult[T]], List[MatchResult[T]]) = {
      val ts = tsOf(e)
      val live = List.newBuilder[Partial[T]]
      val completed = List.newBuilder[Pending[T]]
      val expired = List.newBuilder[Partial[T]]
      var nextOrigin = st.nextOrigin

      for (p <- st.partials) {
        if (spec.withinMs.exists(w => ts - p.startTs > w)) {
          if (!p.matched) expired += p
        } else {
          val s = p.stepIdx
          val cur = steps(s)
          val curPos = posOf(s)
          val tab = slotTables(s)
          val done = repDone(cur, s, p.curRep, p.curRun)
          // loop choices (target, new rep, new run, slot): EXTEND the
          // open repetition, or — once it is whole — open a NEW
          // repetition on any groupLoop alternative (branch switch or
          // same-branch re-entry). For a bounded branch these are
          // distinct backtracking choices with different priorities
          // and futures (2+2 vs 3+1 of E{2,3}); an unbounded branch's
          // two roles collapse into one edge at the better rank
          val loopCh = Vector.newBuilder[(Int, Int, Int, Int)]
          if (isSeq(cur)) {
            // sequence-group cycle. Choices, each binding the event
            // to ITS target variable's predicate: extend the current
            // variable's own run ((A B+) — under the variable cap),
            // move to the next variable (run whole), wrap into a new
            // iteration (last variable, run whole, under the group
            // cap)
            if (seqVarLoop(cur) &&
              (cur.varMax < 0 || p.curRun < cur.varMax) &&
              cur.hit(e, p.entries))
              loopCh += ((s, p.curRep, p.curRun + 1, tab.target(s)))
            if (p.curRun >= cur.varMin) {
              // enter a later variable of the SAME iteration —
              // directly the next one, or any reachable through
              // zero-capable skips (round 10)
              val end = s + (cur.seqLen - cur.seqIdx)
              var j = s + 1
              var go = j < end
              while (go) {
                if (steps(j).hit(e, p.entries))
                  loopCh += ((j, p.curRep, 1, tab.target(j)))
                go = steps(j).varMin == 0 && j + 1 < end
                j += 1
              }
              // iteration whole (trailing variables zero-capable or
              // none left) → wrap into a new one, entering at any
              // seqEntryWalk variable; mixed groups cap the wrap at
              // maxReps 1 and re-enter through the groupLoop block
              if (allZeroAfter(s) &&
                (cur.maxReps < 0 || p.curRep < cur.maxReps))
                for (t <- seqEntryWalk(seqVar0(s))
                     if steps(t).hit(e, p.entries))
                  loopCh += ((t, p.curRep + 1, 1, tab.fresh(t)))
            }
            // a whole iteration inside a quantified MIXED group
            // ((A B | C)+) may open a new group repetition on any
            // groupLoop alternative — branch switch or same-branch
            // re-entry (the wrap above is capped off by maxReps = 1
            // in that encoding); entry variables only
            if (cur.groupLoop && done)
              for (j <- posSteps(curPos)
                   if steps(j).groupLoop && steps(j).seqIdx <= 0) {
                val st = steps(j)
                if (isSeq(st)) {
                  for (t <- seqEntryWalk(j) if steps(t).hit(e, p.entries))
                    loopCh += ((t, 1, 1, tab.fresh(t)))
                } else if (st.hit(e, p.entries))
                  loopCh += ((j, 1, 1, tab.target(j)))
              }
          } else if (cur.oneOrMore) {
            val hitSelf = cur.hit(e, p.entries)
            if (cur.groupLoop) {
              if (cur.branchLoop && hitSelf && canExtend(cur, p.curRep))
                loopCh += ((s, p.curRep + 1, 1,
                  if (isBounded(cur)) tab.ext
                  else math.min(tab.ext, tab.target(s))))
              if (done)
                for (j <- posSteps(curPos)
                     if steps(j).groupLoop && steps(j).seqIdx <= 0 &&
                       (j != s || !cur.branchLoop || isBounded(cur))) {
                  val st = steps(j)
                  if (isSeq(st)) {
                    for (t <- seqEntryWalk(j) if steps(t).hit(e, p.entries))
                      loopCh += ((t, 1, 1, tab.fresh(t)))
                  } else if (st.hit(e, p.entries))
                    loopCh += ((j, 1, 1, tab.target(j)))
                }
            } else if (hitSelf && canExtend(cur, p.curRep))
              loopCh += ((s, p.curRep + 1, 1, tab.target(s)))
          }
          val loops = loopCh.result()
          // advance targets: every alternative of the next position,
          // plus — through optional alternatives — of the ones after
          // it, in SQL preference order (rankedTargets); a bounded
          // branch holds the partial until its open repetition is
          // whole
          val advCh =
            if (done)
              rankedTargets(curPos + 1, j => steps(j).hit(e, p.entries))
                .map(j => (j, 1, 1, tab.target(j)))
            else Vector.empty[(Int, Int, Int, Int)]
          val anyFired = loops.nonEmpty || advCh.nonEmpty
          // iteration order (only read by the legacy consecutive
          // ranking): loop before advance (greedy) or after
          // (reluctant); slot-ranked NFAs read the static slots
          val ordered: Vector[(Int, Int, Int, Int)] =
            if (loops.isEmpty) advCh
            else if (cur.quant == Reluctant) advCh ++ loops
            else loops ++ advCh
          // branch arbitration via priorities: SQL NFAs append the
          // choice's STATIC slot on every transition; pure-AllMatches
          // NFAs keep the legacy consecutive ranking, skipping the
          // classic loop/advance tie which branches unranked and
          // reports every loop length (FlinkCEP-style)
          val ranked = !slotRanked && ordered.size > 1 &&
            !(loops.size == 1 && advCh.size == 1 && cur.quant == AllMatches)
          var r = 0
          for ((j, newRep, newRun, digit) <- ordered) {
            val pr =
              if (slotRanked) p.prio :+ digit
              else if (ranked) p.prio :+ r
              else p.prio
            val newEntries = p.entries :+ (j, e)
            val jPos = posOf(j)
            // a bounded branch is not a match boundary until its open
            // repetition is whole
            val isFinal =
              allOptFrom(jPos + 1) && repDone(steps(j), j, newRep, newRun)
            val extendable = steps(j).oneOrMore || jPos < nPos - 1
            if (isFinal) {
              // the completion's rank is the all-empty-suffix slot in
              // the decision space FROM j — the live continuation (at
              // prio pr, a threatening prefix) appends its own slots
              // at future events, so greedy/reluctant/alternation
              // stop-vs-continue ties resolve by slot order; an
              // AllMatches completion stays unranked and emits
              // immediately
              val (prPend, prLive) =
                if (slotRanked) (pr :+ slotTables(j).complete, pr)
                else (pr, pr)
              completed += Pending(p.origin, prPend, newEntries)
              if (extendable) // a B+/B* tail (or optional suffix) extends
                live += Partial(newEntries, p.startTs, matched = true,
                  p.origin, prLive, newRep, newRun)
            } else live += Partial(newEntries, p.startTs, p.matched,
              p.origin, pr, newRep, newRun)
            r += 1
          }
          // does the un-extended partial survive this event? At the
          // last position the partial's own loop contiguity governs
          // (a strict final loop may not resume across a gap — the
          // SQL front-end sets Next everywhere; the DSL's relaxed
          // followedBy keeps FlinkCEP's resume-after-gap oneOrMore)
          val survives =
            (if (curPos + 1 < nPos) steps(posSteps(curPos + 1)(0)).contiguity
             else cur.contiguity) match {
              case Next          => false              // strict: no skipping
              case FollowedBy    => !anyFired          // greedy consumption
              case FollowedByAny => true               // branch on every match
            }
          if (survives) live += p
        }
      }
      // every event matching an admissible START step (the first
      // position, plus later positions while the leading ones are
      // optional) opens a new attempt
      locally {
        val starts = rankedTargets(0, j => steps(j).hit(e, Vector.empty))
        if (starts.nonEmpty) {
          // single-step fast path: complete-per-event only applies to
          // an unbounded, non-counting step — a bounded B{n,m}
          // (minReps > 1 OR maxReps >= 0) must build a partial, loop,
          // and count, or the cap would be silently ignored — and to
          // a non-looping or AllMatches step: a single-step greedy/
          // reluctant loop (SQL PATTERN (B+)) is a length tie the
          // quantifier must arbitrate through the partial machinery,
          // or every event would release its own 1-row match
          if (steps.length == 1 && steps(0).minReps <= 1 &&
            steps(0).maxReps < 0 &&
            (!steps(0).oneOrMore || steps(0).quant == AllMatches)) {
            completed += Pending(nextOrigin, Vector.empty, Vector((0, e)))
            nextOrigin += 1
          } else {
            val ranked = !slotRanked && starts.size > 1
            var r = 0
            for (j <- starts) {
              val pr =
                if (slotRanked) Vector(startSlots(j))
                else if (ranked) Vector(r)
                else Vector.empty[Int]
              val entries0 = Vector((j, e))
              val jPos = posOf(j)
              // one event consumed at j: final only if a single event
              // is a whole legal repetition (minReps 1)
              val isFinal =
                allOptFrom(jPos + 1) && repDone(steps(j), j, 1, 1)
              val extendable = steps(j).oneOrMore || jPos < nPos - 1
              if (isFinal) {
                // same continuation-vs-complete slot arbitration as
                // the transition path (a start event can complete a
                // final step and keep looping or extend the suffix)
                val (prPend, prLive) =
                  if (slotRanked) (pr :+ slotTables(j).complete, pr)
                  else (pr, pr)
                completed += Pending(nextOrigin, prPend, entries0)
                if (extendable)
                  live += Partial(entries0, ts, matched = true, nextOrigin,
                    prLive)
              } else live += Partial(entries0, ts, matched = false,
                nextOrigin, pr)
              r += 1
            }
            nextOrigin += 1
          }
        }
      }
      val (st2, done) =
        resolve(NfaState(live.result(), st.pending ++ completed.result(),
          nextOrigin))
      // a timed-out branch of an attempt that completed is backtracking
      // noise, not a timeout — suppress it
      val matchedOrigins =
        st2.pending.map(_.origin).toSet ++ done.map(_._1)
      val timedOut = expired.result()
        .filterNot(p => needsBacktrack && matchedOrigins(p.origin))
        .map(p => MatchResult("timeout", p.entries))
      (st2, done.map(d => MatchResult("match", d._2)), timedOut)
    }

    /** Expire partials whose `within` window has closed at watermark
      * `wm` without consuming an event (event-time timer path).
      * Removing a branch can release a held-back match of the same
      * attempt, so this runs the release pass too. */
    def expire(st: NfaState[T], wm: Long): (NfaState[T], List[MatchResult[T]], List[MatchResult[T]]) = {
      if (spec.withinMs.isEmpty) return (st, Nil, Nil)
      val within = spec.withinMs.get
      val (dead, alive) = st.partials.partition(_.startTs + within <= wm)
      if (dead.isEmpty) return (st, Nil, Nil)
      val (st2, done) = resolve(NfaState(alive, st.pending, st.nextOrigin))
      val matchedOrigins =
        st2.pending.map(_.origin).toSet ++ done.map(_._1)
      val timedOut = dead
        .filterNot(p => p.matched || (needsBacktrack && matchedOrigins(p.origin)))
        .map(p => MatchResult("timeout", p.entries))
        .toList
      (st2, done.map(d => MatchResult("match", d._2)), timedOut)
    }

    /** Release every pending match whose attempt has no live
      * higher-priority branch left; apply the AFTER MATCH SKIP
      * strategy to each released match in start order. Returns the
      * pruned state and the released (origin, entries) list. */
    private def resolve(st: NfaState[T]): (NfaState[T], List[(Long, Vector[(Int, T)])]) = {
      if (st.pending.isEmpty) return (st, Nil)
      var live = st.partials
      var pending = st.pending
      val released = List.newBuilder[(Long, Vector[(Int, T)])]
      // candidates release in attempt order (SQL: matches report in
      // order of their start), then by preference within an attempt
      var progressed = true
      while (progressed) {
        progressed = false
        val byOrigin = pending.groupBy(_.origin)
        val ready = byOrigin.toList.sortBy(_._1).find { case (o, ps) =>
          val best = ps.map(_.prio).reduceLeft((a, b) => if (lexLt(b, a)) b else a)
          val unthreatened =
            !live.exists(p => p.origin == o && lexLt(p.prio, best))
          // with a skip strategy matches resolve sequentially: an
          // earlier attempt still in flight could complete, win, and
          // prune this one — hold until it decides
          val firstInLine = spec.skip == NoSkip ||
            (!live.exists(_.origin < o) && !pending.exists(_.origin < o))
          unthreatened && firstInLine
        }
        ready.foreach { case (o, ps) =>
          val best = ps.map(_.prio).reduceLeft((a, b) => if (lexLt(b, a)) b else a)
          val wins = ps.filter(_.prio == best)
          wins.foreach(w => released += ((o, w.entries)))
          // the attempt is decided: drop its losing branches
          pending = pending.filterNot(_.origin == o)
          live = live.filterNot(p => p.origin == o && lexLt(best, p.prio))
          // AFTER MATCH SKIP prunes overlapping attempts (live AND held)
          if (spec.skip != NoSkip) {
            val m = wins.head.entries
            val keepFrom: Long = spec.skip match {
              case SkipPastLastEvent => tsOf(m.last._2) + 1
              case SkipToNextRow => tsOf(m.head._2) + 1
              case SkipToLast(name) =>
                // by step NAME: a quantifier-expanded variable spans
                // several step indices that all carry its name
                m.reverse.collectFirst {
                  case (i, ev) if steps(i).name == name => tsOf(ev)
                }.getOrElse(tsOf(m.last._2))
              case SkipToFirst(name) =>
                m.collectFirst {
                  case (i, ev) if steps(i).name == name => tsOf(ev)
                }.getOrElse(tsOf(m.last._2))
              case NoSkip => Long.MinValue
            }
            live = live.filter(p => tsOf(p.entries.head._2) >= keepFrom)
            pending = pending.filter(p => tsOf(p.entries.head._2) >= keepFrom)
          }
          progressed = true
        }
      }
      (NfaState(live, pending, st.nextOrigin), released.result())
    }

    /** End-of-input flush (batch): no further event can extend any
      * branch, so every attempt's best completed match is final. */
    def flush(st: NfaState[T]): (NfaState[T], List[MatchResult[T]]) = {
      val (st2, done) = resolve(st.copy(partials = Vector.empty))
      // restore live partials minus the attempts that just resolved
      val decided = done.map(_._1).toSet
      val liveLeft = st.partials.filterNot(p => decided(p.origin))
      (NfaState(liveLeft, st2.pending, st.nextOrigin),
        done.map(d => MatchResult("match", d._2)))
    }

    /** Run a whole ordered sequence (batch per-key path). Partials
      * still pending at the end are neither matched nor timed out. */
    def run(events: Seq[T]): (List[MatchResult[T]], List[MatchResult[T]]) = {
      var st = NfaState.empty[T]
      val done = List.newBuilder[MatchResult[T]]
      val timedOut = List.newBuilder[MatchResult[T]]
      for (e <- events) {
        val (s2, d, t) = onEvent(st, e)
        st = s2
        done ++= d
        timedOut ++= t
      }
      done ++= flush(st)._2
      (done.result(), timedOut.result())
    }

    def toNamed(m: MatchResult[T]): Map[String, Seq[T]] =
      m.entries.groupBy { case (i, _) => steps(i).name }
        .map { case (n, es) => n -> es.map(_._2).toSeq }
  }

  /** Batch CEP: per-key ordered NFA scan via flatMapGroups.
    * `select` projects each completed match and each timed-out
    * partial: (key, kind, step name → events), kind ∈ match | timeout.
    * A partial times out only when a later same-key event passes its
    * `within` bound; at the end of a key's rows, held-back matches
    * release and live partials are dropped. */
  def matchBatch[T, K, R: Encoder](ds: Dataset[T], keyFn: T => K,
      orderBy: T => Long, pattern: PatternSpec[T], tsOf: T => Long)
      (select: (K, String, Map[String, Seq[T]]) => R)
      (implicit ke: Encoder[K]): Dataset[R] = {
    val nfa = new Nfa[T](pattern, tsOf)
    ds.groupByKey(keyFn).flatMapGroups { (k: K, it: Iterator[T]) =>
      val (done, timedOut) = nfa.run(it.toSeq.sortBy(orderBy))
      (done ::: timedOut).iterator
        .map(m => select(k, m.kind, nfa.toNamed(m)))
    }
  }

  /** Whether `ds` is a stream that declares an event-time watermark:
    * the streaming runners arm event-time timers only then, so batch
    * inputs and unwatermarked streams keep the lazy-expiry path
    * instead of failing analysis. */
  private[cep] def hasWatermark(ds: Dataset[_]): Boolean =
    ds.isStreaming && ds.queryExecution.logical.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => e
    }.isDefined
}

package graft.cep

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.cep.Cep._

/** Streaming CEP over the concrete event model (the reference's
  * polymorphic Event/SubEvent flattened to a nullable `volume`,
  * SURVEY.md §1.2). Partials live in flatMapGroupsWithState;
  * cross-batch event order = event-time within batch, arrival across
  * batches (define watermark delay ≥ expected disorder).
  */
object CepStreaming {

  /** `cep/pojo/Event.java:32-34` + `SubEvent.java:24-27` flattened;
    * `volume != None` marks a SubEvent. `eventTime` is the one time
    * column: the NFA orders and bounds `within` on [[tsMs]], and a
    * stream declares its watermark on it (EventTimeTimeout requires the
    * watermarked attribute to survive into the operator's input
    * encoder). */
  case class CepRow(key: String, id: Long, name: String, price: Double,
                    volume: Option[Double], eventTime: java.sql.Timestamp) {
    def tsMs: Long = eventTime.getTime
  }

  case class CepMatch(key: String, kind: String, ids: Seq[Long])

  /** Run a pattern over a batch or streaming Dataset[CepRow]; emits
    * completed matches (kind="match") and `within` timeouts
    * (kind="timeout"). The timer follows [[MatchRecognize.runStream]]'s
    * rule:
    *   - a stream with a watermark and a `within` bound flushes on
    *     EVENT-TIME timers: once the watermark passes a partial's
    *     `startTs + within`, no in-order event can extend it, so it
    *     times out (and a held-back greedy match releases) even if the
    *     key never receives another event — the Flink
    *     `TimedOutPartialMatchHandler` cadence (`cep/CEPTimeout.java:
    *     72-103`) under micro-batch watermark advancement;
    *   - any other stream expires partials lazily, when a later
    *     same-key event passes the bound: without `within` and a
    *     watermark, an idle key keeps its partials;
    *   - a batch Dataset flushes each key at the end of its rows, so
    *     the result equals [[Cep.matchBatch]]'s.
    */
  def matchPattern(rows: Dataset[CepRow],
                   pattern: PatternSpec[CepRow]): Dataset[CepMatch] = {
    import rows.sparkSession.implicits._
    val nfa = new Nfa[CepRow](pattern, _.tsMs)
    // plan-time facts, captured as vals for the executors
    val streaming = rows.isStreaming
    val within = pattern.withinMs
    val timersOn = within.isDefined && Cep.hasWatermark(rows)
    def fn(key: String, it: Iterator[CepRow],
           state: GroupState[NfaState[CepRow]]): Iterator[CepMatch] = {
      var st = state.getOption.getOrElse(NfaState.empty[CepRow])
      val out = Seq.newBuilder[CepMatch]
      def emit(ms: List[MatchResult[CepRow]]): Unit = ms.foreach { m =>
        out += CepMatch(key, m.kind, m.entries.map(_._2.id))
      }
      for (e <- it.toSeq.sortBy(r => (r.tsMs, r.id))) {
        val (s2, done, timedOut) = nfa.onEvent(st, e)
        st = s2
        emit(done ::: timedOut)
      }
      if (!streaming) {
        // batch: this call holds all of the key's rows — release
        // held-back matches as the end of input does
        val (s3, done) = nfa.flush(st)
        st = s3
        emit(done)
      } else if (timersOn) {
        // event-time flush: expire partials no in-order event can
        // extend (a branch death can also release a held-back match)
        val (s3, done, timedOut) = nfa.expire(st, state.getCurrentWatermarkMs())
        st = s3
        emit(done ::: timedOut)
      }
      if (st.partials.isEmpty && st.pending.isEmpty) state.remove()
      else {
        state.update(st)
        if (timersOn) {
          // fire when the earliest live partial's window closes
          val wm = state.getCurrentWatermarkMs()
          val t =
            if (st.partials.nonEmpty) st.partials.map(_.startTs + within.get).min + 1
            else wm + 1
          state.setTimeoutTimestamp(math.max(t, wm + 1))
        }
      }
      out.result().iterator
    }
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        if (timersOn) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(fn)
  }
}

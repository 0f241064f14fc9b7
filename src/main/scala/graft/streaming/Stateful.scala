package graft.streaming

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.Models._

/** Keyed-state operators (SURVEY.md §2.7, §2.5 J3/J5, §2.4 A5/A6):
  * `flatMapGroupsWithState` ports of the reference's
  * KeyedProcessFunction patterns. Each operator works identically on a
  * batch Dataset (state scoped to the single "batch") and on a
  * streaming Dataset (state carried across micro-batches via the
  * state store, timeouts driven by watermark/processing time).
  *
  * Ordering note: Flink guarantees per-partition arrival order; Spark's
  * groupByKey does not order values within a key-group, so every
  * operator here sorts its group by an explicit `seq` before applying
  * sequential logic. At scale this is a per-key in-memory sort of one
  * micro-batch's worth of records per key — bounded by trigger
  * interval, not by stream history.
  */
object Stateful extends Serializable {

  /** Current watermark, or -1 when the query has none (batch mode, or
    * streaming without withWatermark — the accessor throws there). */
  private def watermarkOrNeg(state: GroupState[_]): Long =
    try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => -1L }

  // ---- T1: fraud detector (`state/TimerService.java:68-139`) ----------

  val SmallAmount = 1.00
  val LargeAmount = 500.00
  val FlagTtlMs: Long = 60 * 1000

  /** Port of the reference FraudDetector: a flag marks "last txn was
    * small"; a large txn while flagged alerts; the flag expires after
    * `flagTtlMs` (the reference's processing-time timer).
    *
    * The state is the flag's deadline, not a Boolean: Spark calls a key
    * that has data with `hasTimedOut = false` even when its timeout has
    * already passed, so the flag counts only while the micro-batch's
    * processing time is before the deadline (`Long.MaxValue` when
    * `flagTtlMs = None`). The timeout stays, to remove idle flags.
    * Fraud checkpoints written while the state was a Boolean do not
    * restore; restart them from a fresh checkpoint location. The state
    * row keeps its size: a Boolean and a Long each take one 8-byte
    * UnsafeRow slot.
    *
    * Operational note: with a processing-time timeout pending, Spark
    * keeps scheduling (empty) micro-batches so timers can fire — run
    * with a real trigger interval (e.g. 1 s), never trigger(0).
    * `flagTtlMs = None` disables expiry (and the extra batches).
    */
  def fraudDetector(txns: Dataset[Transaction],
                    flagTtlMs: Option[Long] = Some(FlagTtlMs)): Dataset[FraudAlert] = {
    import txns.sparkSession.implicits._
    def fn(accountId: Long, it: Iterator[Transaction],
           state: GroupState[Long]): Iterator[FraudAlert] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val now = state.getCurrentProcessingTimeMs()
      val alerts = Seq.newBuilder[FraudAlert]
      var flagged = state.getOption.exists(now < _)
      for (t <- it.toSeq.sortBy(_.seq)) {
        if (flagged) {
          if (t.amount > LargeAmount) alerts += FraudAlert(accountId, t.seq)
          flagged = false
        }
        if (t.amount < SmallAmount) flagged = true
      }
      if (flagged) {
        state.update(flagTtlMs.fold(Long.MaxValue)(now + _))
        flagTtlMs.foreach(state.setTimeoutDuration)
      } else state.remove()
      alerts.result().iterator
    }
    val timeout =
      if (flagTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    txns.groupByKey(_.accountId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  // ---- T2: state machine (`state/StateMachineExample.java:133-166`) ---

  /** Per-key DFA: feed each event through `Dfa.transition`; an illegal
    * transition emits an alert and resets the key (the reference keeps
    * the broken state keyed until terminal; we mirror
    * `StateMachineExample.java:144-164`: invalid → alert + clear,
    * terminal → clear).
    */
  def stateMachine(events: Dataset[DfaEvent]): Dataset[DfaAlert] = {
    import events.sparkSession.implicits._
    def fn(addr: Int, it: Iterator[DfaEvent],
           state: GroupState[String]): Iterator[DfaAlert] = {
      val alerts = Seq.newBuilder[DfaAlert]
      var cur = state.getOption.getOrElse(Dfa.Initial)
      for (e <- it.toSeq.sortBy(_.seq)) {
        Dfa.transition(cur, e.eventType) match {
          case Some(Dfa.Terminal) => cur = Dfa.Initial
          case Some(next)         => cur = next
          case None =>
            alerts += DfaAlert(addr, cur, e.eventType)
            cur = Dfa.Initial
        }
      }
      if (cur == Dfa.Initial) state.remove() else state.update(cur)
      alerts.result().iterator
    }
    events.groupByKey(_.sourceAddress)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- T3+A6: streaming top-N (`topn/HotItems.java:86-147`) -----------

  /** Buffer per-window ItemViewCounts in list state; when the
    * event-time watermark passes windowEnd (the reference's timer at
    * windowEnd+1, `HotItems.java:112-116`), sort and emit the top N.
    * On a batch Dataset each window emits at once.
    */
  private def topNFn(n: Int)
      (windowEnd: Long, it: Iterator[TimedItemViewCount],
       state: GroupState[Seq[ItemViewCount]]): Iterator[RankedItem] = {
    def emit(items: Seq[ItemViewCount]): Iterator[RankedItem] =
      items.sortBy(i => (-i.viewCount, i.itemId)).take(n).zipWithIndex
        .map { case (i, r) => RankedItem(windowEnd, r + 1, i.itemId, i.viewCount) }
        .iterator
    if (state.hasTimedOut) {
      val items = state.getOption.getOrElse(Seq.empty)
      state.remove()
      return emit(items)
    }
    val buf = state.getOption.getOrElse(Seq.empty) ++
      it.map(t => ItemViewCount(t.itemId, t.windowEnd, t.viewCount))
    val wm = watermarkOrNeg(state)
    if (wm >= 0) {
      // streaming: hold until the watermark passes windowEnd. Rows for
      // a window the watermark has already passed are DROPPED (the
      // no-allowedLateness delta documented in SURVEY.md §7.4) — but
      // only the late INPUT rows. Input groups run before expired
      // timers in the same micro-batch, so when the watermark first
      // crosses windowEnd+1 the window's hasTimedOut invocation is
      // still pending: state and timer must stay untouched or the
      // buffered on-time rows would be silently lost.
      if (windowEnd + 1 <= wm) {
        Iterator.empty
      } else {
        state.update(buf)
        state.setTimeoutTimestamp(windowEnd + 1)
        Iterator.empty
      }
    } else {
      // batch: no watermark machinery — emit immediately
      emit(buf)
    }
  }

  /** Top-N per window over a batch or streaming Dataset. A stream
    * emits each window once its watermark passes windowEnd: declare
    * `withWatermark("eventTime", ...)` upstream (EventTimeTimeout needs
    * the watermarked attribute in the operator's input encoder, hence
    * the `eventTime` column in [[TimedItemViewCount]]). */
  def topNPerWindow(counts: Dataset[TimedItemViewCount],
                    n: Int): Dataset[RankedItem] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.windowEnd)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(topNFn(n))
  }

  // ---- A5/W5: count windows (`windowing/WindowWordCount.java:40-58`) --

  /** Per-key sliding count window: every `slide` records, aggregate
    * the last `size` records. Cross-batch record order = seq within
    * batch, arrival across batches (state keeps the tail buffer and
    * the emission phase).
    */
  def countWindowSum(values: Dataset[KeyedValue], size: Int,
                     slide: Int): Dataset[CountWindowSum] = {
    import values.sparkSession.implicits._
    require(size >= 1, s"size must be >= 1, got $size")
    require(slide >= 1, s"slide must be >= 1, got $slide")
    def fn(key: String, it: Iterator[KeyedValue],
           state: GroupState[(Seq[(String, Long, Long)], Int)]): Iterator[CountWindowSum] = {
      val (rawRing, rawSince) = state.getOption.getOrElse((Seq.empty, 0))
      var ring = rawRing.map { case (k, v, s) => KeyedValue(k, v, s) }
      var since = rawSince
      val out = Seq.newBuilder[CountWindowSum]
      for (v <- it.toSeq.sortBy(_.seq)) {
        ring = (ring :+ v).takeRight(size)
        since += 1
        if (since == slide) {
          out += CountWindowSum(key, v.seq, ring.size, ring.map(_.value).sum)
          since = 0
        }
      }
      state.update((ring.map(v => (v.key, v.value, v.seq)), since))
      out.result().iterator
    }
    values.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- J3: two-stream match with timeout (`connect/DoubleStreamMatch.java:132-231`)

  /** Keyed match of big/small order streams: first arrival is
    * buffered, the partner emits a match; a partner that never arrives
    * before the event-time timeout surfaces as kind="timeout" with one
    * side null (side outputs as a tag column). A same-side re-arrival
    * overwrites the buffered order — the reference's ValueState.update
    * semantics (`DoubleStreamMatch.java:160-181`), so only the latest
    * unmatched order per key surfaces. On a stream, declare
    * `withWatermark("eventTime", ...)` upstream so the timeout fires;
    * on a batch Dataset each unmatched order times out at once.
    */
  def matchOrders(tagged: Dataset[TimedTaggedOrder],
                  timeoutMs: Long = 60 * 1000): Dataset[OrderMatch] = {
    import tagged.sparkSession.implicits._
    tagged.groupByKey(_.order.orderId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(matchFn(timeoutMs))
  }

  private def matchFn(timeoutMs: Long)
      (orderId: String, it: Iterator[TimedTaggedOrder],
       state: GroupState[(String, Long)]): Iterator[OrderMatch] = {
    if (state.hasTimedOut) {
      val (side, time) = state.get
      state.remove()
      val (big, small) =
        if (side == "big") (Some(time), None) else (None, Some(time))
      return Iterator(OrderMatch(orderId, "timeout", big, small))
    }
    val out = Seq.newBuilder[OrderMatch]
    var pending = state.getOption
    for (TimedTaggedOrder(side, order, _) <- it.toSeq.sortBy(_.order.time)) {
      pending match {
        case Some((pSide, pTime)) if pSide != side =>
          val (big, small) =
            if (side == "big") (Some(order.time), Some(pTime))
            else (Some(pTime), Some(order.time))
          out += OrderMatch(orderId, "match", big, small)
          pending = None
        case _ =>
          pending = Some((side, order.time))
      }
    }
    pending match {
      case Some((side, time)) =>
        state.update((side, time))
        val wm = watermarkOrNeg(state)
        if (wm >= 0)
          // clamped: a base time already past the watermark must not
          // produce a timeout timestamp the engine rejects
          state.setTimeoutTimestamp(math.max(time + timeoutMs, wm + 1))
        else {
          // batch: no watermark — flush unmatched immediately
          state.remove()
          val (big, small) =
            if (side == "big") (Some(time), None) else (None, Some(time))
          out += OrderMatch(orderId, "timeout", big, small)
        }
      case None => state.remove()
    }
    out.result().iterator
  }

  // ---- W4: delta trigger + time evictor (`windowing/CustomizeEvictorAndTrigger.java:49-61`)

  /** Global window with a delta trigger and a time evictor: per car,
    * buffer points; when the distance delta since the last firing
    * point exceeds `triggerMeters`, evict points older than
    * `evictionMs` (relative to the newest point, like Flink's
    * TimeEvictor.evictBefore) and emit the max-speed point of what
    * remains; the firing point becomes the new delta reference.
    * State = (reference distance, kept points) — bounded by the
    * eviction horizon, not stream history.
    */
  def deltaTriggerMaxSpeed(cars: Dataset[Car], triggerMeters: Double,
                           evictionMs: Long): Dataset[Car] = {
    import cars.sparkSession.implicits._
    def fn(carId: Int, it: Iterator[Car],
           state: GroupState[(Double, Seq[(Int, Int, Double, Long)])]): Iterator[Car] = {
      val (ref0, buf0) = state.getOption.getOrElse((Double.NaN, Seq.empty))
      var ref = ref0
      var buf = buf0.map { case (c, s, d, t) => Car(c, s, d, t) }
      val out = Seq.newBuilder[Car]
      for (c <- it.toSeq.sortBy(_.ts)) {
        buf :+= c
        if (ref.isNaN) ref = c.distance           // first point = reference
        else if (c.distance - ref > triggerMeters) {
          buf = buf.filter(_.ts > c.ts - evictionMs)
          out += buf.maxBy(p => (p.speed, -p.ts)) // max speed, earliest wins
          ref = c.distance
        }
      }
      state.update((ref, buf.map(c => (c.carId, c.speed, c.distance, c.ts))))
      out.result().iterator
    }
    cars.groupByKey(_.carId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- J5: broadcast pattern match (`join/BroadcastStreamConnect.java:82-159`)

  /** Per-user two-step sequence match against a broadcast pattern:
    * emit (user, pattern) when the previous action equals
    * pattern.firstAction and the current equals pattern.secondAction.
    * The pattern rides a broadcast variable (the reference's broadcast
    * state; for a slowly-changing pattern stream, rebuild per batch
    * via foreachBatch).
    */
  def patternMatch(actions: Dataset[Action],
                   pattern: ActionPattern): Dataset[PatternMatch] = {
    val spark = actions.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pattern)
    def fn(userId: Long, it: Iterator[Action],
           state: GroupState[String]): Iterator[PatternMatch] = {
      val p = bc.value
      val out = Seq.newBuilder[PatternMatch]
      var prev = state.getOption
      for (a <- it.toSeq.sortBy(_.seq)) {
        if (prev.contains(p.firstAction) && a.action == p.secondAction)
          out += PatternMatch(userId, p.firstAction, p.secondAction)
        prev = Some(a.action)
      }
      prev.foreach(state.update)
      out.result().iterator
    }
    actions.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}

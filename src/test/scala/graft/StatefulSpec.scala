package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.streaming.Models._
import graft.streaming.{Dfa, Stateful}

/** Golden tests for the stateful operators, using the reference's own
  * fixtures (FIXTURES.md §3, §9, §11; expected outputs from the
  * reference source comments).
  */
class StatefulSpec extends SparkSpec {
  import spark.implicits._

  // FIXTURES.md §3: exact transactions.csv contents.
  private val txns = Seq(
    (1L, 13.01), (2L, 25.00), (3L, 0.09), (3L, 510.00), (5L, 102.62),
    (6L, 91.50), (7L, 0.02), (8L, 30.01), (9L, 701.83), (5L, 31.92)
  ).zipWithIndex.map { case ((a, amt), i) => Transaction(a, amt, i.toLong) }

  private def pollUntil(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < deadline, s"timed out waiting: $what")
      Thread.sleep(200)
    }
  }

  private def consumed(q: StreamingQuery): Long =
    q.recentProgress.map(_.numInputRows).sum

  private def withRocksDb(body: => Unit): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("fraud detector alerts exactly for account 3 (batch)") {
    val alerts = Stateful.fraudDetector(spark.createDataset(txns)).collect()
    assert(alerts.map(_.accountId).toSeq == Seq(3L))
  }

  test("fraud detector carries the small-txn flag across micro-batches") {
    // flagTtlMs=None: a pending processing-time timeout would make the
    // engine schedule timer-check batches forever under trigger(0)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Transaction]
    val q = Stateful.fraudDetector(in.toDS(), flagTtlMs = None)
      .writeStream.format("memory").queryName("fraud_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Transaction(7L, 0.50, 0))   // small → flag
      q.processAllAvailable()
      in.addData(Transaction(7L, 900.0, 1))  // large in NEXT batch → alert
      q.processAllAvailable()
      val got = spark.table("fraud_out").as[FraudAlert].collect()
      assert(got.toSeq == Seq(FraudAlert(7L, 1)))
    } finally q.stop()
  }

  test("fraud detector carries a TTL'd flag across micro-batches (RocksDB)") {
    // a pending processing-time timeout keeps the engine scheduling
    // timer-check batches, so processAllAvailable never settles —
    // poll progress/output instead
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Transaction]
      val q = Stateful.fraudDetector(in.toDS(), Some(10L * 60 * 1000))
        .writeStream.format("memory").queryName("fraud_ttl_out")
        .trigger(Trigger.ProcessingTime("1 second"))
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(Transaction(7L, 0.50, 0))
        pollUntil(consumed(q) >= 1, "first txn consumed")
        in.addData(Transaction(7L, 900.0, 1))
        pollUntil(spark.table("fraud_ttl_out").count() >= 1, "alert emitted")
        val got = spark.table("fraud_ttl_out").as[FraudAlert].collect()
        assert(got.toSeq == Seq(FraudAlert(7L, 1)))
      } finally q.stop()
    }
  }

  test("fraud detector ignores a flag whose TTL passed before the next batch") {
    // the large txn arrives after the flag's 1 s TTL but before the
    // next 6 s trigger, so its batch calls the key with data and
    // hasTimedOut = false: only the stored deadline shows the expiry
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Transaction]
    val q = Stateful.fraudDetector(in.toDS(), Some(1000L))
      .writeStream.format("memory").queryName("fraud_expired_out")
      .trigger(Trigger.ProcessingTime("6 seconds"))
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Transaction(7L, 0.50, 0))
      pollUntil(consumed(q) >= 1, "small txn consumed")
      Thread.sleep(1500)
      in.addData(Transaction(7L, 900.0, 1))
      pollUntil(consumed(q) >= 2, "large txn consumed")
      assert(spark.table("fraud_expired_out").count() == 0)
    } finally q.stop()
  }

  test("DFA accepts the legal paths and alerts on illegal transitions") {
    // a→W, b→Y, e→Z, g→Terminal is legal end-to-end (State.java:23-60);
    // then 'f' from Initial is illegal; key 2 goes c→X, d→Z, then 'a'
    // from Z is illegal.
    val events = Seq(
      DfaEvent(1, "a", 0), DfaEvent(1, "b", 1), DfaEvent(1, "e", 2),
      DfaEvent(1, "g", 3), DfaEvent(1, "f", 4),
      DfaEvent(2, "c", 0), DfaEvent(2, "d", 1), DfaEvent(2, "a", 2))
    val alerts = Stateful.stateMachine(spark.createDataset(events))
      .collect().sortBy(_.sourceAddress)
    assert(alerts.toSeq == Seq(
      DfaAlert(1, "Initial", "f"), DfaAlert(2, "Z", "a")))
  }

  test("DFA state persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[DfaEvent]
    val q = Stateful.stateMachine(in.toDS())
      .writeStream.format("memory").queryName("dfa_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(DfaEvent(9, "a", 0))  // Initial → W
      q.processAllAvailable()
      in.addData(DfaEvent(9, "e", 1))  // e illegal from W → alert with state W
      q.processAllAvailable()
      val got = spark.table("dfa_out").as[DfaAlert].collect()
      assert(got.toSeq == Seq(DfaAlert(9, "W", "e")))
    } finally q.stop()
  }

  test("top-N per window ranks by count desc (batch)") {
    def ivc(itemId: Long, windowEnd: Long, n: Long) =
      TimedItemViewCount(itemId, windowEnd, n,
        new java.sql.Timestamp(windowEnd))
    val counts = Seq(ivc(101, 1000, 5), ivc(102, 1000, 9),
      ivc(103, 1000, 9), ivc(104, 1000, 1), ivc(101, 2000, 2))
    val got = Stateful.topNPerWindow(spark.createDataset(counts), 2)
      .collect().sortBy(r => (r.windowEnd, r.rank))
    assert(got.toSeq == Seq(
      RankedItem(1000, 1, 102, 9), RankedItem(1000, 2, 103, 9),
      RankedItem(2000, 1, 101, 2)))
  }

  test("streaming top-N emits when the watermark passes windowEnd") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def ivc(itemId: Long, windowEnd: Long, n: Long) =
      TimedItemViewCount(itemId, windowEnd, n,
        new java.sql.Timestamp(windowEnd))
    val in = MemoryStream[TimedItemViewCount]
    val ds = in.toDS()
      .withWatermark("eventTime", "0 milliseconds")
      .as[TimedItemViewCount]
    val q = Stateful.topNPerWindow(ds, 2)
      .writeStream.format("memory").queryName("topn_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ivc(101, 1000, 5), ivc(102, 1000, 9))
      q.processAllAvailable()
      assert(spark.table("topn_out").count() == 0) // window still open
      in.addData(ivc(900, 60000, 1))               // advances watermark
      q.processAllAvailable()
      q.processAllAvailable() // extra batch lets the timer fire
      val got = spark.table("topn_out").as[RankedItem].collect()
        .sortBy(_.rank)
      assert(got.toSeq == Seq(
        RankedItem(1000, 1, 102, 9), RankedItem(1000, 2, 101, 5)))
    } finally q.stop()
  }

  test("late row in the firing batch does not destroy the buffered window") {
    implicit val sqlCtx = spark.sqlContext
    def ivc(itemId: Long, windowEnd: Long, n: Long) =
      TimedItemViewCount(itemId, windowEnd, n,
        new java.sql.Timestamp(windowEnd))
    val in = MemoryStream[TimedItemViewCount]
    val ds = in.toDS()
      .withWatermark("eventTime", "0 milliseconds")
      .as[TimedItemViewCount]
    val q = Stateful.topNPerWindow(ds, 2)
      .writeStream.format("memory").queryName("topn_late_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: on-time rows for window 1000, plus a row far ahead
      // that advances the watermark past 1001 for the NEXT batch
      in.addData(ivc(101, 1000, 5), ivc(102, 1000, 9), ivc(900, 60000, 1))
      q.processAllAvailable()
      // batch 2: a late row for window 1000 lands in the same batch in
      // which the watermark first crosses 1001. Input groups run before
      // expired timers, so the late path must leave state/timer intact:
      // the pending timer still emits the on-time ranking, late row dropped.
      in.addData(ivc(103, 1000, 7))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("topn_late_out").as[RankedItem].collect()
        .filter(_.windowEnd == 1000).sortBy(_.rank)
      assert(got.toSeq == Seq(
        RankedItem(1000, 1, 102, 9), RankedItem(1000, 2, 101, 5)))
    } finally q.stop()
  }

  test("count window: size 4 slide 2 emits every 2 records over last 4") {
    val vals = (1 to 7).map(i => KeyedValue("k", i.toLong, i.toLong))
    val got = Stateful.countWindowSum(spark.createDataset(vals), 4, 2)
      .collect().sortBy(_.endSeq)
    // after 2: [1,2]=3; after 4: [1..4]=10; after 6: [3..6]=18
    assert(got.toSeq == Seq(
      CountWindowSum("k", 2, 2, 3), CountWindowSum("k", 4, 4, 10),
      CountWindowSum("k", 6, 4, 18)))
  }

  test("count windows reject size < 1 and slide < 1 at the call") {
    val vals = spark.createDataset(Seq(KeyedValue("k", 1L, 1L)))
    val events = Seq((1L, 1L, 1L, 1.0))
      .toDF("user_id", "ts_ns", "event_id", "value")
    // each call fails before any plan is built or action runs
    def rejects(param: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(param), e.getMessage)
    }
    rejects("size")(Stateful.countWindowSum(vals, 0, 2))
    rejects("slide")(Stateful.countWindowSum(vals, 4, 0))
    rejects("size")(graft.operators.EventOps.countWindowSums(events, 0, 2))
    rejects("slide")(graft.operators.EventOps.countWindowSums(events, 4, 0))
  }

  test("count window carries ring and phase across micro-batches (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[KeyedValue]
      val q = Stateful.countWindowSum(in.toDS(), 4, 2)
        .writeStream.format("memory").queryName("cw_out")
        .outputMode(OutputMode.Append).start()
      try {
        // the window at seq 4 spans both batches: the ring keeps
        // 1..3 and the phase keeps "one record since the last emit"
        in.addData((1 to 3).map(i => KeyedValue("k", i.toLong, i.toLong)): _*)
        q.processAllAvailable()
        in.addData((4 to 7).map(i => KeyedValue("k", i.toLong, i.toLong)): _*)
        q.processAllAvailable()
        val got = spark.table("cw_out").as[CountWindowSum].collect()
          .sortBy(_.endSeq)
        assert(got.toSeq == Seq(
          CountWindowSum("k", 2, 2, 3), CountWindowSum("k", 4, 4, 10),
          CountWindowSum("k", 6, 4, 18)))
      } finally q.stop()
    }
  }

  test("two-stream match pairs big/small and times out singletons (batch)") {
    val tagged = Seq(
      ("big", Order(1000, "o1", "u1", 1, 10, 1)),
      ("small", Order(1500, "o1", "u1", 1, 10, 1)),
      ("big", Order(2000, "o2", "u2", 2, 20, 1)))
      .map { case (side, o) =>
        TimedTaggedOrder(side, o, new java.sql.Timestamp(o.time)) }
    val got = Stateful.matchOrders(spark.createDataset(tagged))
      .collect().sortBy(_.orderId)
    assert(got.toSeq == Seq(
      OrderMatch("o1", "match", Some(1000), Some(1500)),
      OrderMatch("o2", "timeout", Some(2000), None)))
  }

  test("two-stream match streams: partner emits, timeout fires on watermark") {
    implicit val sqlCtx = spark.sqlContext
    def tto(side: String, time: Long, id: String) =
      TimedTaggedOrder(side, Order(time, id, "u", 1, 10, 1),
        new java.sql.Timestamp(time))
    val in = MemoryStream[TimedTaggedOrder]
    // a real delay: with 0 ms the watermark advances to 2000 after
    // batch 1 and o1's partner (event time 1500) is dropped as late
    val ds = in.toDS()
      .withWatermark("eventTime", "10 seconds")
      .as[TimedTaggedOrder]
    val q = Stateful.matchOrders(ds, timeoutMs = 1000)
      .writeStream.format("memory").queryName("match_out")
      .outputMode(OutputMode.Append).start()
    try {
      // o1's sides arrive in DIFFERENT micro-batches (the buffered
      // side must survive in state); o2 never gets a partner
      in.addData(tto("big", 1000, "o1"), tto("big", 2000, "o2"))
      q.processAllAvailable()
      assert(spark.table("match_out").count() == 0) // both buffered
      in.addData(tto("small", 1500, "o1"))
      q.processAllAvailable()
      // advance the watermark past o2's timeout (2000 + 1000)
      in.addData(tto("big", 60000, "o9"))
      q.processAllAvailable()
      q.processAllAvailable() // extra batch lets the timer fire
      val got = spark.table("match_out").as[OrderMatch].collect()
        .filter(_.orderId != "o9").sortBy(_.orderId)
      assert(got.toSeq == Seq(
        OrderMatch("o1", "match", Some(1000), Some(1500)),
        OrderMatch("o2", "timeout", Some(2000), None)),
        s"got ${got.toSeq}") // batch fixture's expected pair + timeout
    } finally q.stop()
  }

  test("broadcast pattern match finds user 1002 (reference fixture)") {
    // FIXTURES.md §9 / BroadcastStreamConnect.java:62-71
    val actions = Seq(
      Action(1001, "User logout", 0), Action(1002, "Add to cart", 1),
      Action(1003, "Payment complete", 2), Action(1002, "User logout", 3))
    val got = Stateful.patternMatch(spark.createDataset(actions),
      ActionPattern("Add to cart", "User logout")).collect()
    assert(got.toSeq == Seq(PatternMatch(1002, "Add to cart", "User logout")))
  }

  test("delta trigger fires on distance jumps and evicts old points (W4)") {
    // trigger 50 m, evictor 10 s (CustomizeEvictorAndTrigger.java:43-44)
    val pts = Seq(
      Car(1, 10, 0.0, 0L), Car(1, 20, 30.0, 5000L),
      Car(1, 15, 60.0, 8000L),    // delta 60 > 50 → fire: max speed 20
      Car(1, 5, 100.0, 20000L),
      Car(1, 30, 120.0, 25000L))  // delta 60 > 50 → fire: evict ≤15 s → max 30
    val got = Stateful.deltaTriggerMaxSpeed(spark.createDataset(pts), 50.0, 10000L)
      .collect().sortBy(_.ts)
    assert(got.map(c => (c.speed, c.ts)).toSeq == Seq((20, 5000L), (30, 25000L)))
  }

  test("DFA transition table matches the reference diagram") {
    assert(Dfa.transition("Initial", "a").contains("W"))
    assert(Dfa.transition("X", "d").contains("Z"))
    assert(Dfa.transition("Z", "g").contains(Dfa.Terminal))
    assert(Dfa.transition("W", "e").isEmpty)
  }
}

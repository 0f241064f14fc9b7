package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.Portable._

/** Event-time operators over the `events` table (SURVEY.md §2.6
  * windows, §2.7 stateful, §2.8 CEP — batch semantics; streaming
  * variants live in graft.streaming). `ts_ns` is the exact
  * nanosecond-epoch long (see core.Tables.events), `ts` its
  * microsecond TimestampType view.
  */
object EventOps extends graft.QueryModule {

  /** Tumbling event-time window aggregate (W1):
    * `join/WindowJoin.java:43`-style bucketing. Window start emitted
    * as epoch seconds for engine-portable comparison. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("total"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col("event_type"), col("n"), col("total"))

  /** HotItems flagship (A2+A6, `topn/HotItems.java:41-84`): sliding
    * 1h/15min window count per user, then top-N users per window.
    * Same two-shuffle shape as the reference: window-agg exchange,
    * then rank exchange on the window.
    */
  def hotUsers(events: DataFrame, n: Int): DataFrame = {
    val counts = events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("w_start"),
        col("user_id"), col("n_events"))
    val rank = Window.partitionBy(col("w_start"))
      .orderBy(col("n_events").desc, col("user_id").asc)
    counts.withColumn("rn", row_number().over(rank)).filter(col("rn") <= n)
  }

  /** Per-user session windows, 30-minute gap (A4/W3,
    * `windowing/SessionWindow.java:52-56`). Uses Spark's native
    * session_window; at scale this is a single exchange on user_id
    * followed by in-partition session merge.
    */
  def sessionStats(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("sess_start"),
        col("n_events"), col("total"))

  /** Tumbling-window equi-join (J1, `join/WindowJoin.java:39-58`):
    * views and purchases of the same user in the same 15-min window.
    */
  def windowJoin(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), window(col("ts"), "15 minutes").as("w"),
        col("event_id").as("view_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), window(col("ts"), "15 minutes").as("pw"),
        col("event_id").as("purchase_id"))
    v.join(p, col("user_id") === col("p_user") && col("w") === col("pw"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("w_start"),
        col("view_id"), col("purchase_id"))
  }

  /** Interval join (J2, `join/IntervalJoin.java:40-54`): purchase
    * within [click.ts, click.ts + 10 min] per user. Bounds evaluated
    * at µs precision (`ts_ns div 1000`) — the portable resolution of
    * TIMESTAMP(NANOS) parquet across engines.
    */
  def intervalJoin(events: DataFrame): DataFrame = {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        expr("ts_ns div 1000").as("c_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        expr("ts_ns div 1000").as("p_ts"))
    c.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + lit(600L * 1000 * 1000))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Strict-contiguity CEP pair (C2, `cep/CEPTimeout.java:53-69`):
    * a `view` immediately followed by an `error` on the same user
    * within 2 minutes. lag() over per-user event-time order.
    */
  def adjacentPairs(events: DataFrame): DataFrame = {
    // order + bound at µs precision so any engine reading the same
    // parquet at µs resolution agrees on adjacency
    val e = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    e
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_type") === "view" && col("event_type") === "error" &&
        col("ts_us") - col("prev_ts") <= lit(120L * 1000 * 1000))
      .select(col("user_id"), col("prev_id").as("view_id"),
        col("event_id").as("error_id"))
  }

  /** Relaxed-contiguity CEP (C1, `cep/FlinkCEP.java:48-97`
    * followedByAny): each signup followed (not necessarily
    * immediately) by ≥1 purchase within 1 hour; reports how many and
    * the first one. Range join + group — the scale-safe rewrite of an
    * NFA scan.
    */
  def followedBy(events: DataFrame): DataFrame = {
    val s = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        expr("ts_ns div 1000").as("s_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), expr("ts_ns div 1000").as("p_ts"))
    s.join(p, col("user_id") === col("p_user") &&
        col("p_ts") > col("s_ts") &&
        col("p_ts") <= col("s_ts") + lit(3600L * 1000 * 1000))
      .groupBy(col("user_id"), col("signup_id"))
      .agg(count(lit(1)).as("n_purchases"),
        // emitted at ns scale (µs-truncated) — the portable rendering
        // of TIMESTAMP_NS parquet across engines
        expr("min(p_ts) * 1000").as("first_purchase_ts"))
  }

  /** Fraud pattern (T1, `state/TimerService.java:68-139` batch
    * analog): a small event (< 1.0) immediately followed by a large
    * one (> 500.0) on the same user within 60 s.
    */
  def fraudAlerts(events: DataFrame): DataFrame = {
    val e = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    e
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_value") < 1.0 && col("value") > 500.0 &&
        col("ts_us") - col("prev_ts") <= lit(60L * 1000 * 1000))
      .select(col("user_id"), col("prev_id").as("small_id"),
        col("event_id").as("large_id"), col("value").as("large_value"))
  }

  /** MATCH_RECOGNIZE V-shape analog (C3, `flink-sql/sql/dml/CEP.md`):
    * per-user maximal strictly-falling runs of `value` with ≥ 3
    * points, via run-length grouping (lag sign change + cumulative
    * sum) — the declarative rewrite of PATTERN (A B+ C)'s B+ leg.
    */
  def fallingRuns(events: DataFrame): DataFrame = {
    val e = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val cum = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    e
      .withColumn("falls",
        when(col("value") < lag(col("value"), 1).over(w), 1).otherwise(0))
      .withColumn("run_id", sum(lit(1) - col("falls")).over(cum))
      .filter(col("falls") === 1)
      .groupBy(col("user_id"), col("run_id"))
      .agg(count(lit(1)).as("n_falls"),
        expr("min(ts_us) * 1000").as("run_start_ts"),
        expr("max(ts_us) * 1000").as("run_end_ts"))
      .filter(col("n_falls") >= 2)
      .drop("run_id")
  }

  /** q147: the MATCH_RECOGNIZE engine itself under the driver's oracle
    * gate — ALL ROWS PER MATCH over the events table (round 10; until
    * now the MR engine was spec/fuzz-verified but no driver query ran
    * it). Per user in ts order, PATTERN (A B+) with B the
    * strictly-falling step: every maximal falling streak yields ONE
    * match whose A is the streak's (non-falling) predecessor row — so
    * the match set is exactly the fall-islands of q18's rewrite, which
    * is what makes a window-function DuckDB oracle possible for an
    * engine DuckDB lacks. Output: the matched input rows + RUNNING
    * measures (per-user match number, per-row CLASSIFIER, running B
    * count, the anchor value).
    *
    * Determinism: ORDER BY ts_us — (user, ts) is tie-free at every
    * generated SF (checked sf0.001/0.01/0.1); the fall comparison is
    * the same IEEE `<` on both engines.
    *
    * SCALE SHAPE: the [[graft.cep.MatchRecognize.run]] plan — one
    * hash-partition exchange on user_id + in-partition radix sort,
    * then a linear per-key NFA walk; state per key is the open
    * partial, bounded by the longest falling streak. */
  def mrFallingAllRows(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      expr("ts_ns div 1000").as("ts_us"), col("event_id"), col("value"))
    graft.cep.MatchRecognize.run(e, """
      PARTITION BY user_id
      ORDER BY ts_us
      MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS clf,
               COUNT(B.*) AS n_b, A.value AS a_val
      ALL ROWS PER MATCH
      PATTERN (A B+)
      DEFINE B AS (LAST(B.value, 1) IS NULL AND value < A.value)
               OR value < LAST(B.value, 1)
    """)
  }

  /** As-of join: each purchase matched to the same user's most recent
    * view at or before it — the temporal-lookup operator (market-data
    * joins, feature backfill) the reference's interval join (J2)
    * cannot express without a per-row range scan.
    *
    * Scale shape: union both sides with a side tag, ONE shuffle on
    * user_id, then a running `last(view, ignoreNulls)` over
    * (ts, side, event_id) order — linear per key, no range-join
    * explosion, no per-row lookup. At equal µs a view sorts before a
    * purchase (side 0 < 1) and ties between views resolve to the
    * larger event_id (later frame row wins).
    *
    * Oracle: DuckDB's native ASOF JOIN (views pre-deduped per
    * (user, µs) to its max event_id, making the match unique).
    */
  def asofJoin(events: DataFrame): DataFrame = {
    val e = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), lit(0).as("side"), col("event_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    v.unionByName(p)
      .withColumn("view_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true)
          .over(w))
      .withColumn("v_ts",
        last(when(col("side") === 0, col("ts_us")), ignoreNulls = true)
          .over(w))
      .filter(col("side") === 1 && col("view_id").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts_us") * 1000).as("purchase_ts"),
        col("view_id"), (col("v_ts") * 1000).as("view_ts"))
  }

  /** JSON prop extraction + aggregation (P2/P4, `json/TwitterJson
    * .java:67-98`, `connect/DoubleStreamMatch.java:80-91`): schema-on-
    * read field access over the `props` JSON column. */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** Batch count-window analog (A5/W5, `windowing/WindowWordCount
    * .java:40-58`): per-key sliding window over the last `size`
    * records, emitted every `slide` records (rows frame + row_number
    * filter — the declarative form; the streaming form is
    * streaming.Stateful.countWindowSum). */
  def countWindowSums(events: DataFrame, size: Int, slide: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(slide >= 1, s"slide must be >= 1, got $slide")
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").asc, col("event_id").asc)
    val frame = order.rowsBetween(-(size - 1), 0)
    events
      .withColumn("rn", row_number().over(order))
      .withColumn("n", count(lit(1)).over(frame))
      .withColumn("total", sum(dec(col("value"))).over(frame))
      .filter(pmod(col("rn"), lit(slide)) === 0)
      .select(col("user_id"), col("rn").as("end_rn"), col("n"),
        col("total").cast("double").as("total"))
  }

  /** Packed-IPv4 int → dotted quad (`state/event/Event.java:54-61`
    * formatAddress) as pure bit-op expressions — no UDF. */
  def ipv4(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .withColumn("ip", expr(
        """concat_ws('.', shiftright(user_id, 24) & 255,
           shiftright(user_id, 16) & 255, shiftright(user_id, 8) & 255,
           user_id & 255)"""))

  /** Tumbling window with offset (W6, commented
    * `windowing/WindowWordCount.java:51`): 10-minute windows aligned
    * 3 minutes past the epoch boundary. */
  def offsetWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "10 minutes", "3 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("w_start"), col("n"))

  // ---- driver bindings -------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q09_json_props"      -> ((s, d) => jsonProps(Tables.events(s, d))),
    "q19_count_window"    -> ((s, d) => countWindowSums(Tables.events(s, d), 10, 5)),
    "q32_ipv4"            -> ((s, d) => ipv4(Tables.events(s, d))),
    "q33_offset_window"   -> ((s, d) => offsetWindowCounts(Tables.events(s, d))),
    "q10_window_tumbling" -> ((s, d) => tumblingCounts(Tables.events(s, d))),
    "q11_hot_users"       -> ((s, d) => hotUsers(Tables.events(s, d), 3)),
    "q12_session_stats"   -> ((s, d) => sessionStats(Tables.events(s, d))),
    "q13_window_join"     -> ((s, d) => windowJoin(Tables.events(s, d))),
    "q14_interval_join"   -> ((s, d) => intervalJoin(Tables.events(s, d))),
    "q15_cep_adjacent"    -> ((s, d) => adjacentPairs(Tables.events(s, d))),
    "q16_cep_followedby"  -> ((s, d) => followedBy(Tables.events(s, d))),
    "q17_fraud"           -> ((s, d) => fraudAlerts(Tables.events(s, d))),
    "q18_falling_runs"    -> ((s, d) => fallingRuns(Tables.events(s, d))),
    "q42_asof_join"       -> ((s, d) => asofJoin(Tables.events(s, d))),
    "q147_mr_all_rows"    -> ((s, d) => mrFallingAllRows(Tables.events(s, d)))
  )

  def oracle: Map[String, String] = Map(
    "q09_json_props" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
               AS sum_k,
             max(json_extract_string(props, '$.k')::BIGINT) AS max_k
      FROM events GROUP BY event_type""",
    "q19_count_window" -> """
      WITH t AS (
        SELECT user_id,
               row_number() OVER w AS rn,
               count(*) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n,
               sum(CAST(value AS DECIMAL(18,2)))
                 OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS total
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
      SELECT user_id, rn AS end_rn, n, CAST(total AS DOUBLE) AS total
      FROM t WHERE rn % 5 = 0""",
    "q32_ipv4" -> """
      SELECT DISTINCT user_id,
             ((user_id >> 24) & 255) || '.' || ((user_id >> 16) & 255) || '.'
               || ((user_id >> 8) & 255) || '.' || (user_id & 255) AS ip
      FROM events""",
    "q33_offset_window" -> """
      SELECT ((epoch_ns(ts) // 1000000000 - 180) // 600) * 600 + 180 AS w_start,
             count(*) AS n
      FROM events GROUP BY 1""",
    "q10_window_tumbling" -> """
      SELECT (epoch_ns(ts) // 600000000000) * 600 AS w_start, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2""",
    "q11_hot_users" -> """
      WITH c AS (
        SELECT (epoch_ns(ts) // 900000000000 - k) * 900 AS w_start,
               user_id, count(*) AS n_events
        FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY 1, 2)
      SELECT * FROM (
        SELECT w_start, user_id, n_events,
               row_number() OVER (PARTITION BY w_start
                 ORDER BY n_events DESC, user_id ASC) AS rn
        FROM c)
      WHERE rn <= 3""",
    "q12_session_stats" -> """
      WITH t AS (
        SELECT user_id, value, epoch_ns(ts) // 1000 AS ts_us,
               lag(epoch_ns(ts) // 1000) OVER
                 (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_us
        FROM events),
      s AS (
        SELECT user_id, value, ts_us,
               sum(CASE WHEN prev_us IS NULL
                        OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us
                       ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM t)
      SELECT user_id, min(ts_us) // 1000000 AS sess_start,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM s GROUP BY user_id, sess_id""",
    "q13_window_join" -> """
      SELECT v.user_id, (epoch_ns(v.ts) // 900000000000) * 900 AS w_start,
             v.event_id AS view_id, p.event_id AS purchase_id
      FROM events v JOIN events p
        ON v.user_id = p.user_id
       AND epoch_ns(v.ts) // 900000000000 = epoch_ns(p.ts) // 900000000000
      WHERE v.event_type = 'view' AND p.event_type = 'purchase'""",
    "q14_interval_join" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND epoch_ns(p.ts) >= epoch_ns(c.ts)
       AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 600000000000
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
    "q15_cep_adjacent" -> """
      WITH t AS (
        SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns,
               lag(event_type) OVER w AS prev_type,
               lag(event_id) OVER w AS prev_id,
               lag(epoch_ns(ts)) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
      SELECT user_id, prev_id AS view_id, event_id AS error_id
      FROM t
      WHERE prev_type = 'view' AND event_type = 'error'
        AND ts_ns - prev_ts <= 120000000000""",
    "q16_cep_followedby" -> """
      SELECT s.user_id, s.event_id AS signup_id,
             count(*) AS n_purchases,
             min(epoch_ns(p.ts)) AS first_purchase_ts
      FROM events s JOIN events p
        ON s.user_id = p.user_id
       AND epoch_ns(p.ts) > epoch_ns(s.ts)
       AND epoch_ns(p.ts) <= epoch_ns(s.ts) + 3600000000000
      WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
      GROUP BY s.user_id, s.event_id""",
    "q17_fraud" -> """
      WITH t AS (
        SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
               lag(value) OVER w AS prev_value,
               lag(event_id) OVER w AS prev_id,
               lag(epoch_ns(ts)) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
      SELECT user_id, prev_id AS small_id, event_id AS large_id,
             value AS large_value
      FROM t
      WHERE prev_value < 1.0 AND value > 500.0
        AND ts_ns - prev_ts <= 60000000000""",
    "q18_falling_runs" -> """
      WITH t AS (
        SELECT user_id, value, event_id, epoch_ns(ts) AS ts_ns,
               CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END AS falls
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)),
      r AS (
        SELECT user_id, ts_ns, falls,
               sum(1 - falls) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                                    ROWS UNBOUNDED PRECEDING) AS run_id
        FROM t)
      SELECT user_id, count(*) AS n_falls,
             min(ts_ns) AS run_start_ts, max(ts_ns) AS run_end_ts
      FROM r WHERE falls = 1
      GROUP BY user_id, run_id
      HAVING count(*) >= 2""",
    /* q147: gaps-and-islands mirror of PATTERN (A B+) ALL ROWS PER
     * MATCH — each group = one non-fall head (A) + its consecutive
     * fall rows (B); groups with >= 1 fall are exactly the matches.
     * Every window (this lag included) orders by the µs key the
     * engine's ORDER BY uses — one sort key on both sides, so a
     * fixture with sub-µs ties cannot diverge the lag from the
     * islands. (ts_us is tie-free per (user_id, ts_us) at every
     * generated SF anyway — checked sf0.001/0.01/0.1.) */
    "q147_mr_all_rows" -> """
      WITH t AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
               CASE WHEN value < lag(value) OVER
                 (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000)
                 THEN 1 ELSE 0 END AS fall
        FROM events),
      r AS (
        SELECT *, sum(1 - fall) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS grp
        FROM t),
      g AS (
        SELECT *,
               sum(fall) OVER (PARTITION BY user_id, grp) AS grp_falls,
               sum(fall) OVER (PARTITION BY user_id, grp ORDER BY ts_us
                               ROWS UNBOUNDED PRECEDING) AS nb,
               first_value(value) OVER (PARTITION BY user_id, grp
                                        ORDER BY ts_us
                                        ROWS UNBOUNDED PRECEDING) AS av
        FROM r),
      m AS (
        SELECT user_id, grp, min(ts_us) AS g_ts
        FROM g WHERE grp_falls >= 1 GROUP BY 1, 2),
      mnr AS (
        SELECT user_id, grp,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY g_ts) AS mn
        FROM m)
      SELECT g.user_id, g.ts_us, g.event_id, g.value,
             mnr.mn AS mn,
             CASE WHEN g.fall = 0 THEN 'A' ELSE 'B' END AS clf,
             CAST(g.nb AS BIGINT) AS n_b, g.av AS a_val
      FROM g JOIN mnr ON g.user_id = mnr.user_id AND g.grp = mnr.grp""",
    "q42_asof_join" -> """
      WITH v AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS v_ts,
               max(event_id) AS view_id
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, epoch_ns(ts) // 1000),
      p AS (
        SELECT user_id, event_id AS purchase_id,
               epoch_ns(ts) // 1000 AS p_ts
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, purchase_id, p_ts * 1000 AS purchase_ts,
             view_id, v_ts * 1000 AS view_ts
      FROM p ASOF JOIN v
        ON p.user_id = v.user_id AND p.p_ts >= v.v_ts"""
  )
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative streaming aggregations (SURVEY.md §2.4 A1/A2/A4/A7,
  * §2.6 W1-W3, W8-W9). These work unchanged on batch and streaming
  * DataFrames — the streaming variants need only `withWatermark` and
  * an output mode at the sink:
  *   - running per-key counts (A1) → outputMode("update"), the analog
  *     of Flink's per-record continuous emission;
  *   - windowed aggs (A2/W1-W2) → append mode once the watermark
  *     closes the window.
  */
object StreamAggs {

  /** A1: keyed running aggregate (`wordcount/WordCount.java:55-57`).
    * Streaming: update mode emits refreshed counts each trigger. */
  def runningCounts(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))

  /** P1+A1 composed: the full WordCount pipeline over a text column. */
  def wordCounts(lines: DataFrame, text: Column): DataFrame =
    lines.select(explode_outer(graft.operators.TextOps.tokens(text)).as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** W1/W2 + W8/W9: watermarked tumbling/sliding window counts.
    * `slide == size` gives tumbling. */
  def windowedCounts(df: DataFrame, ts: Column, key: Column,
                     size: String, slide: String,
                     watermarkDelay: String): DataFrame =
    df.withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), size, slide).as("w"), key.as("key"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("key"), col("cnt"))

  /** W3/A4: watermarked session windows with per-key gap merge
    * (`windowing/SessionWindow.java:52-56`). */
  def sessionSums(df: DataFrame, ts: Column, key: Column, value: Column,
                  gap: String, watermarkDelay: String): DataFrame =
    df.withColumn("__ts", ts).withColumn("__v", value)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(session_window(col("__ts"), gap).as("w"), key.as("key"))
      .agg(sum(col("__v")).as("total"))
      .select(col("key"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("total"))

  /** J1: stream-stream tumbling-window equi-join
    * (`join/WindowJoin.java:39-58`): bucket both sides into the same
    * tumbling window column and equi-join on (key, window). Both
    * sides need watermarks in streaming mode.
    */
  def windowJoin(left: DataFrame, leftTs: Column, leftKey: Column,
                 right: DataFrame, rightTs: Column, rightKey: Column,
                 size: String, watermarkDelay: String): DataFrame = {
    val l = left.withColumn("__ts", leftTs).withWatermark("__ts", watermarkDelay)
      .withColumn("__w", window(col("__ts"), size))
      .withColumn("__k", leftKey)
    val r = right.withColumn("__rts", rightTs).withWatermark("__rts", watermarkDelay)
      .withColumn("__rw", window(col("__rts"), size))
      .withColumn("__rk", rightKey)
    l.join(r, col("__k") === col("__rk") && col("__w") === col("__rw"))
      .drop("__w", "__rw", "__ts", "__rts", "__rk")
      .withColumnRenamed("__k", "join_key")
  }

  /** Streaming exact dedup — the continuous-ingestion counterpart of
    * the batch content-address dedup (operators.Dedup.exactGroups):
    * rows whose `keyCols` repeat within the watermark delay are
    * dropped, and state for keys older than the watermark is evicted
    * automatically (`dropDuplicatesWithinWatermark`), so state is
    * bounded by delay × arrival rate, not stream history. Dedup a
    * document stream on its content md5 to admit each payload once.
    */
  def dedupWithinWatermark(df: DataFrame, ts: Column,
                           watermarkDelay: String,
                           keyCols: String*): DataFrame =
    df.withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)
      .drop("__ts")

  /** Streaming NEAR-dup admission: key the watermark-bounded dedup on
    * the document's 32-bit SimHash instead of its exact content hash —
    * re-worded copies with the same token multiset profile collapse to
    * one admitted payload. The fingerprint is a map-side codegen
    * expression (`SimHash32`, the q27 bit-vote folded into one
    * generated loop per row — NOT 32 interpreted HOF folds), so the
    * only state is the dedup store: delay × rate keys, exactly like
    * the exact-dedup path. Vote semantics match `Dedup.simhash`,
    * including its token-less-document treatment: empty/whitespace-only
    * payloads carry no vote signal (SimHash32 would be 0 for all of
    * them AND for any real document whose 32 votes all land negative),
    * so they bypass the near-dup key entirely — each is admitted, for
    * the downstream quality filter to judge, instead of collapsing
    * into whichever empty payload arrived first.
    */
  def nearDupDropWithinWatermark(docs: DataFrame, textCol: Column,
                                 ts: Column,
                                 watermarkDelay: String): DataFrame = {
    import graft.functions.Portable._
    val sim = graft.functions.VectorExpressions.simHash32(
      transform(words(textCol), w => hash32(w)))
    // NB `split("", " ")` is [""], not [] — test the normalized text,
    // not the token-array size
    val tagged = docs.withColumn("__hastok", length(normText(textCol)) > 0)
      .withColumn("__simhash", sim)
    // token-less rows bypass the stateful dedup via a filtered union —
    // no state, no fingerprint, deterministic under replay
    val deduped = dedupWithinWatermark(tagged.filter(col("__hastok")), ts,
      watermarkDelay, "__simhash")
    deduped.union(tagged.filter(!col("__hastok")))
      .drop("__simhash", "__hastok")
  }

  /** Streaming bloom-gated admission against a STATIC reference corpus
    * — the continuous-ingestion serve half of
    * [[graft.operators.Dedup.bloomAdmit]]: yesterday's corpus is the
    * static reference, today's crawl streams in. Each arriving
    * document probes the reference's bucketed bloom bitsets (built
    * ONCE from the static side, cached — per micro-batch Spark only
    * re-broadcasts the tiny `buckets`-row table, never re-scans the
    * reference); rows failing the probe are provably absent from the
    * reference and skip the expensive check entirely, while suspects
    * take an md5-exact stream-static confirm (left-outer + null
    * filter: stream-static ANTI joins aren't supported, the outer
    * join is, and the marker filter is equivalent). Finally the
    * watermark-bounded state dedup admits each surviving content hash
    * once across batches.
    *
    * Exactness matches the batch op: no false negatives ⇒ skipped
    * rows are safe; false positives only cost a confirm probe. Scale:
    * per batch, the reference side contributes one broadcast of the
    * bitsets plus an exact join whose STREAM side is only the suspect
    * residue; the static hash-set scan that join triggers per batch
    * is the one remaining reference cost — cache or pre-bucket the
    * projection in a deployment where batches are frequent. State is
    * delay × admission rate keys, as in [[dedupWithinWatermark]].
    *
    * Lifecycle note (long-lived drivers): the cached bloom table pins
    * executor memory until the query stops — `unpersist()` it via the
    * returned frame's lineage (or rebuild the query) when the
    * reference corpus is refreshed, the [[surprisalScore]] broadcast
    * discipline.
    */
  def bloomAdmitStream(reference: DataFrame, stream: DataFrame,
                       textCol: Column, ts: Column, watermarkDelay: String,
                       buckets: Int = 64, bitsPerKey: Int = 10,
                       numHashes: Int = 5,
                       expectedRefKeys: Long = 1L << 20): DataFrame = {
    import graft.functions.{Aggregators, Bloom}
    import graft.functions.Portable.{hash60, normText}
    val numBits = Bloom.pow2Bits(bitsPerKey * expectedRefKeys / buckets)
    val refKeys = reference
      .select(md5(normText(textCol)).as("__m"), hash60(normText(textCol)).as("__h"))
    val blooms = refKeys
      .groupBy(pmod(col("__h"), lit(buckets.toLong)).as("__bucket"))
      .agg(Aggregators.bloomAgg(numBits, numHashes)(col("__h")).as("__bloom"))
      .cache()
    val tagged = stream
      .withColumn("__m", md5(normText(textCol)))
      .withColumn("__h", hash60(normText(textCol)))
      .withColumn("__bucket", pmod(col("__h"), lit(buckets.toLong)))
    val probed = tagged
      .join(broadcast(blooms), Seq("__bucket"), "left")
      .withColumn("__maybe", coalesce(
        Bloom.mightContain(col("__bloom"), col("__h"), numBits, numHashes),
        lit(false)))
    val definite = probed.filter(!col("__maybe"))
      .drop("__bloom", "__maybe")
    // no broadcast hint: the reference hash set is corpus-sized — the
    // per-batch optimizer picks (broadcast at test scale, shuffled at
    // corpus scale, where only the tiny suspect side moves per batch)
    val confirmedNew = probed.filter(col("__maybe"))
      .join(refKeys.select(col("__m"), lit(1).as("__hit")).distinct(),
        Seq("__m"), "left")
      .filter(col("__hit").isNull)
      .drop("__bloom", "__maybe", "__hit")
    dedupWithinWatermark(
      definite.unionByName(confirmedNew), ts, watermarkDelay, "__m")
      .drop("__m", "__h", "__bucket")
  }

  /** Streaming unigram-surprisal scoring against a FROZEN vocabulary —
    * the serve half of `TextOps.unigramSurprisal`'s train/serve split
    * (fit with `TextOps.fitSurprisalVocab` on a reference corpus, then
    * score every arriving document online). Per-token quantized bits
    * use the same integer flog2 = floor(log₂) as the batch op, so
    * scoring the fit corpus itself reproduces the batch scores
    * exactly (spec-asserted); unseen words fall back to count 1 —
    * maximum surprisal — so OOV/gibberish text scores high.
    *
    * Scale shape: STATELESS per row — the model ships once per
    * executor as a broadcast (the §2.3 P7 cached-file enrichment
    * pattern: the lookup table rides with the task, the stream never
    * joins or shuffles), so an admission filter can sit directly on
    * `bits_per_token` with no watermark and no state store. The
    * caller owns the broadcast: a long-lived driver that refits the
    * vocab should `destroy()` the superseded broadcast once the query
    * using it stops.
    */
  def surprisalScore(docs: DataFrame, textCol: Column,
                     vocab: org.apache.spark.broadcast.Broadcast[Map[Long, Long]],
                     total: Long): DataFrame = {
    import graft.functions.Portable.{h60Scala, wordsScala}
    // total <= 0 would make fTotal = -1 (or garbage) and silently
    // yield negative bits — an empty/degenerate fit must fail loudly
    require(total > 0,
      s"surprisalScore: vocab total must be >= 1, got $total")
    val bc = vocab
    val fTotal = 63 - java.lang.Long.numberOfLeadingZeros(total)
    val score = udf { text: String =>
      val ws = wordsScala(if (text == null) "" else text)
      var bits = 0L
      ws.foreach { w =>
        val c = bc.value.getOrElse(h60Scala(w), 1L)
        bits += fTotal - (63 - java.lang.Long.numberOfLeadingZeros(c))
      }
      (ws.length.toLong, bits, bits.toDouble / ws.length)
    }
    docs.withColumn("__s", score(textCol))
      .withColumn("n_tokens", col("__s._1"))
      .withColumn("bits", col("__s._2"))
      .withColumn("bits_per_token", col("__s._3"))
      .drop("__s")
  }

  /** Streaming decontamination gate — the serve half of q125's
    * report→apply closure (`TextOps.decontaminate`): the benchmark
    * gram index is FROZEN at fit time (`TextOps.fitContamIndex`, a
    * sorted 60-bit hash array) and every arriving document is scored
    * and admitted/dropped in-stream. The per-doc measure is q125's
    * exactly — distinct word n-grams, shared count vs the index,
    * integer cross-multiplied threshold (shared·1000 ≥ permille·total)
    * — so running the gate over the batch corpus reproduces q125's
    * survivor set row for row, PROVIDED benchmark-source rows never
    * reach the scorer: the batch op drops every benchmark row by
    * construction, but the gate scores whatever arrives, and a
    * benchmark doc with fewer than n words would sail through the
    * always-admit short-circuit below. Express that precondition
    * either by filtering upstream or by passing `isBenchSource` — a
    * predicate marking eval-data rows, dropped unconditionally before
    * scoring, the in-gate form of the batch op's
    * `source =!= benchSource` filter (the parity spec uses it).
    * Parity is then exact modulo 60-bit gram-hash collisions:
    * the gate dedups grams by hash60 while the batch op dedups the
    * gram STRINGS before hashing, so a colliding in-doc gram pair
    * shrinks the stream's denominator by one — the jaccardProfile
    * caveat, ~2⁻⁶⁰ per gram pair. Documents with fewer
    * than n words have no grams and are always admitted, matching the
    * batch inner-join semantics.
    *
    * Scale shape: STATELESS per row, like [[surprisalScore]] — the
    * index ships once per executor as a broadcast (§2.3 P7: the
    * lookup rides with the task; benchmark suites are bounded eval
    * sets, so the index is benchmark-gram-sized, not corpus-sized),
    * the stream never joins, shuffles, or keeps state, and no
    * watermark is needed. Binary search per gram keeps the probe
    * allocation-free, so the index must be SORTED
    * (`TextOps.fitContamIndex` emits it sorted); the order is checked
    * once, driver-side, before the filter is built. The caller owns
    * the broadcast: a long-lived driver that refits the index should
    * `destroy()` the superseded broadcast once the query using it
    * stops (the [[surprisalScore]] lifecycle discipline).
    */
  def decontamGate(docs: DataFrame, textCol: Column,
                   index: org.apache.spark.broadcast.Broadcast[Array[Long]],
                   n: Int = 5, maxSharePermille: Long = 100,
                   isBenchSource: Option[Column] = None): DataFrame = {
    import graft.functions.Portable.{h60Scala, wordsScala}
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxSharePermille >= 1,
      s"maxSharePermille must be >= 1, got $maxSharePermille")
    requireSorted("decontam", index.value)
    val bc = index
    val nn = n
    val permille = maxSharePermille
    val keep = udf { text: String =>
      val ws = wordsScala(if (text == null) "" else text)
      if (ws.length < nn) true
      else {
        // distinct grams, the batch op's array_distinct semantics
        val grams = new scala.collection.mutable.HashSet[Long]
        var i = 0
        while (i + nn <= ws.length) {
          val sb = new java.lang.StringBuilder(ws(i))
          var j = 1
          while (j < nn) { sb.append(' ').append(ws(i + j)); j += 1 }
          grams += h60Scala(sb.toString)
          i += 1
        }
        var shared = 0L
        grams.foreach { g =>
          if (java.util.Arrays.binarySearch(bc.value, g) >= 0) shared += 1
        }
        shared * 1000L < permille * grams.size
      }
    }
    val scored = isBenchSource match {
      case Some(p) => docs.filter(!coalesce(p, lit(false)))
      case None    => docs
    }
    scored.filter(keep(textCol))
  }

  /** [[decontamGate]] and [[scrubGate]] binary-search their index, and
    * binary search on an unsorted array silently misses members, so
    * each checks the order once, driver-side, before shipping. */
  private def requireSorted(gate: String, index: Array[Long]): Unit = {
    var i = 1
    while (i < index.length) {
      require(index(i - 1) <= index(i),
        s"$gate index not sorted at $i: ${index(i - 1)} > ${index(i)}")
      i += 1
    }
  }

  /** Streaming leakage-scrub gate — the serve half of q131's
    * report→apply closure ([[graft.operators.Dedup.leakageScrub]]),
    * completing the apply family's streaming parity set (admission
    * [[bloomAdmitStream]], dedup `dedupWithinWatermark`,
    * decontamination [[decontamGate]], and now split scrub). The drop
    * set is FROZEN at fit time ([[graft.operators.Dedup.fitScrubIndex]]
    * — every train doc id that near-dups a val/test doc under the
    * frozen split-pair audit, as a sorted id array) and every arriving
    * document is admitted unless its id binary-searches into it.
    * Because membership is on exact 64-bit ids (no hashing), gating
    * the corpus reproduces q131's batch survivor set row for row with
    * NO collision caveat — unlike [[decontamGate]], whose parity is
    * modulo 60-bit gram hashes. Eval-side docs are never in the index
    * (the batch op keeps the eval side intact by construction), so
    * they always pass.
    *
    * Scale shape: STATELESS per row, like [[decontamGate]] — the
    * index ships once per executor as a broadcast and is bounded by
    * the bucket-capped LSH pair count (the same bound that lets the
    * batch op broadcast its anti-join side under the stats gate), not
    * corpus-sized; the stream never joins, shuffles, or keeps state,
    * and no watermark is needed. Binary search per row is
    * allocation-free. Reference anchor for the keyed-gate-over-frozen-
    * index shape: `connect/DoubleStreamMatch.java:132-231`. The
    * index must be SORTED ([[graft.operators.Dedup.fitScrubIndex]]
    * emits it sorted); the broadcast lifecycle is the caller's, as for
    * [[decontamGate]].
    */
  def scrubGate(docs: DataFrame, idCol: Column,
                index: org.apache.spark.broadcast.Broadcast[Array[Long]])
      : DataFrame = {
    requireSorted("scrub", index.value)
    val keep = udf { id: Long =>
      java.util.Arrays.binarySearch(index.value, id) < 0
    }
    docs.filter(keep(idCol))
  }

  /** W12: idle-source tolerance — the Spark counterpart of Flink's
    * `withIdleness` (`windowing/Flink Window.md` §2.4). Flink marks a
    * stalled source idle per-source; Spark's switch is per-query:
    * `multipleWatermarkPolicy=max` lets the most advanced source drive
    * the combined watermark, so an idle source stops holding back
    * window finalization. The trade (identical to Flink's): rows the
    * idle source later emits below the advanced watermark are late and
    * get dropped. Must be set before the query STARTS — the policy is
    * read once at query start, not per batch.
    */
  def withIdleSourceTolerance[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "max")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** J2: interval join (`join/IntervalJoin.java:40-54`):
    * lowerBound/upperBound relative to the left timestamp, both sides
    * watermarked — Spark's canonical stream-stream range join.
    */
  def intervalJoin(left: DataFrame, leftTs: String, leftKey: Column,
                   right: DataFrame, rightTs: String, rightKey: Column,
                   lower: String, upper: String,
                   watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, leftKey === rightKey &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lower") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upper"))
  }

  /** Streaming twin of q90's drift alarm: per event-time window and
    * source, the exact total-variation distance of the window's token
    * distribution against a FROZEN reference distribution (batch-fit
    * word-hash counts + grand total — the train/serve split of
    * [[surprisalScore]]). This is the per-ingest-batch alarm wired to
    * the live feed: append mode emits one (window, source, n_tokens,
    * tv_dist) row when the watermark closes the window.
    *
    * Scale/state: a single streaming aggregation (no chained-agg
    * restriction hit); state per (window, source) group is that
    * cell's word histogram, watermark-evicted with its window. The
    * reference is model-sized and rides the task closure — refit it
    * batch-side and rebuild the query to refresh, the
    * [[surprisalScore]] broadcast discipline. Math matches the batch
    * op bit-for-bit: exact integer numerators, the absent-word mass
    * folded in closed form, one final double sequence.
    */
  /** Serving-side probe drift monitor: bucket every arriving
    * document's probe score into the ten fixed bins of the 2²⁰
    * prediction scale (the q111 calibration bins — same clamp-first
    * integer arithmetic) and emit per-window bin counts when the
    * watermark closes the window. Compare each window's histogram to
    * the training-time calibration table: mass migrating across bins
    * means the serving distribution has drifted from the corpus the
    * probe was fit on (rescore/refit trigger) — the deployed-model
    * twin of [[sourceDriftStream]]'s corpus alarm.
    *
    * Scale/state: scoring is STATELESS (weights inline as literals,
    * the [[surprisalScore]] broadcast discipline — refit batch-side
    * and rebuild the query to refresh); the single streaming
    * aggregation keeps ≤10 bins per open window, watermark-evicted.
    */
  def probeScoreHistogram(docs: DataFrame, ts: Column, text: Column,
                          weights: Seq[Long], buckets: Int = 64,
                          windowSize: String = "10 minutes",
                          watermarkDelay: String = "0 seconds"): DataFrame = {
    val scale = 1L << 20
    docs
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .select(col("__ts"),
        least(lit(scale - 1), greatest(lit(0L),
          graft.operators.TextOps.probeScoreCol(text, weights, buckets)))
          .as("__s"))
      .select(col("__ts"), expr(s"(__s * 10) div $scale").as("bin"))
      .groupBy(window(col("__ts"), windowSize).as("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("bin"), col("n"))
  }

  /** Streaming twin of q119 (`Corpus.shardManifest`) — the ingest
    * integrity ledger written AS DATA ARRIVES: per event-time window
    * and q60-shard, document count, token estimate, and the same
    * order-independent content checksum (DECIMAL sum of 60-bit
    * normalized-text hashes mod 2⁶⁰). A batch re-read of the window's
    * shard recomputes its row; a mismatch pinpoints loss/corruption
    * to one (window, shard) cell without re-reading the stream. State
    * per open window is ≤2^shardBits cells of three numbers —
    * watermark-evicted, independent of rate. Stream ≡ batch on the
    * same rows (same hash, same mod) — parity spec-asserted.
    */
  def shardManifestStream(docs: DataFrame, ts: Column, docId: Column,
                          text: Column, nChars: Column,
                          shardBits: Int = 8,
                          windowSize: String = "10 minutes",
                          watermarkDelay: String = "0 seconds"): DataFrame = {
    import graft.functions.Portable.{hash60, normText}
    docs
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .select(col("__ts"),
        shiftright(hash60(concat(lit("shuffle|"), docId)),
          60 - shardBits).as("__shard"),
        ceil(nChars / 4.0).cast("long").as("__et"),
        hash60(normText(text)).as("__h"))
      .groupBy(window(col("__ts"), windowSize).as("w"), col("__shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__et")).as("n_tokens"),
        pmod(sum(col("__h").cast("decimal(38,0)")),
          lit(1L << 60).cast("decimal(38,0)"))
          .cast("long").as("checksum"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("__shard").as("shard"), col("n_docs"), col("n_tokens"),
        col("checksum"))
  }

  def sourceDriftStream(docs: DataFrame, ts: Column, source: Column,
                        text: Column, ref: Map[Long, Long], refTotal: Long,
                        windowSize: String = "10 minutes",
                        watermarkDelay: String = "0 seconds"): DataFrame = {
    import graft.functions.Portable.{hash60, words}
    docs
      .withColumn("__ts", ts)
      .withWatermark("__ts", watermarkDelay)
      .select(col("__ts"), source.as("__src"),
        explode_outer(words(text)).as("__w"))
      .filter(col("__w").isNotNull)
      .select(col("__ts"), col("__src"), hash60(col("__w")).as("__wh"))
      .groupBy(window(col("__ts"), windowSize).as("w"), col("__src"))
      .agg(graft.functions.Aggregators.driftAgg(ref, refTotal)(col("__wh"))
        .as("d"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("__src").as("source"), col("d._1").as("n_tokens"),
        col("d._2").as("tv_dist"))
  }
}

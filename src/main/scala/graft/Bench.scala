package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
import graft.core.GraftSession
object Bench {

  /** `Bench compare old.json new.json` — the operational form of the
    * round-7 drift finding (BENCHDRIFT.md): this box's effective
    * throughput moves ≥1.24× across hours on identical code+data, so
    * raw cross-round seconds are dead as a signal. Each artifact
    * carries a data-independent codegen-only anchor timed under the
    * bench discipline; the cross-round-comparable number is
    * (query_sec / anchor_sec)_new / (query_sec / anchor_sec)_old.
    * Prints one line per shared query plus a summary, and flags
    * anything >1.3× anchor-normalized as a REAL regression candidate
    * (machine weather cancels in the ratio; 1.3 leaves room for
    * per-query scheduler jitter on sub-second queries). Artifacts
    * from rounds before the anchor existed (r1-r6) fall back to raw
    * ratios, loudly labeled. */
  private def compare(oldPath: String, newPath: String): Unit = {
    def parse(p: String): (Option[Double], Option[Double], Seq[(String, Double)]) = {
      val s = scala.io.Source.fromFile(p)
      // the driver's BENCH_r{N}.json wraps Bench's JSON line escaped
      // inside a "tail" field — unescape so one set of regexes reads
      // both the raw line and the driver artifact
      val txt = (try s.mkString finally s.close()).replace("\\\"", "\"")
      val anchor = "\"anchor\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val anchor2 = "\"anchor2\":([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val qs = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("")
      val pairs = "\"(q[0-9]+)\":([0-9.]+)".r.findAllMatchIn(qs)
        .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      (anchor, anchor2, pairs)
    }
    val (aOld0, a2Old, qOld) = parse(oldPath)
    val (aNew0, a2New, qNew) = parse(newPath)
    // Round-12 finding (BENCHDRIFT): sweeps are memory-subsystem-bound
    // but the scalar codegen anchor tracks CPU drift, so it
    // over-corrects (normalized totals read ~1.04-1.09 while raw
    // totals are flat). When both artifacts carry the memory-bound
    // co-anchor (anchor2, emitted from round 12 on), normalize by it.
    val useA2 = a2Old.isDefined && a2New.isDefined
    val (aOld, aNew) =
      if (useA2) (a2Old, a2New) else (aOld0, aNew0)
    if (useA2) println("normalizing by anchor2 (memory-bound co-anchor)")
    val anchored = aOld.isDefined && aNew.isDefined
    if (!anchored)
      println("WARN: anchor missing in " +
        Seq(oldPath -> aOld, newPath -> aNew).collect {
          case (p, None) => p }.mkString(", ") +
        " - falling back to RAW ratios (machine weather NOT cancelled)")
    def norm(sec: Double, a: Option[Double]): Double =
      if (anchored) sec / a.get else sec
    val oldMap = qOld.toMap
    val shared = qNew.filter { case (k, _) => oldMap.contains(k) }
    val unit =
      if (useA2) "sec/anchor2"
      else if (anchored) "sec/anchor" else "sec RAW"
    println(f"${"query"}%-6s ${"old"}%9s ${"new"}%9s  ratio   ($unit)")
    var flagged = List.empty[(String, Double)]
    shared.sortBy(_._1).foreach { case (k, vNew) =>
      val o = norm(oldMap(k), aOld)
      val n = norm(vNew, aNew)
      // sub-0.05s on both sides is scheduler noise at any ratio
      val ratio = if (o == 0.0) Double.NaN else n / o
      val flag =
        if (ratio > 1.3 && math.max(oldMap(k), vNew) >= 0.05) " <== REGRESSION?"
        else ""
      if (flag.nonEmpty) flagged ::= (k, ratio)
      println(f"$k%-6s $o%9.3f $n%9.3f  $ratio%5.2f$flag")
    }
    val tOld = shared.map(p => oldMap(p._1)).sum
    val tNew = shared.map(_._2).sum
    val rTot = norm(tNew, aNew) / norm(tOld, aOld)
    val totLabel = if (anchored) "anchor-normalized" else "RAW"
    println(f"TOTAL shared ${shared.size}%d queries: raw ${tOld}%.2f -> " +
      f"${tNew}%.2f s; anchors old=${aOld.getOrElse(Double.NaN)}%.2f " +
      f"new=${aNew.getOrElse(Double.NaN)}%.2f; " +
      f"$totLabel%s total ratio ${rTot}%.3f")
    val dropped = qOld.filterNot(p => qNew.toMap.contains(p._1)).map(_._1)
    val added = qNew.filterNot(p => oldMap.contains(p._1)).map(_._1)
    if (dropped.nonEmpty) println("only in old: " + dropped.sorted.mkString(" "))
    if (added.nonEmpty) println("only in new: " + added.sorted.mkString(" "))
    if (flagged.isEmpty)
      println("no anchor-normalized regression above 1.3x")
    else
      println(s"${flagged.size} flagged above 1.3x: " +
        flagged.sortBy(-_._2).map { case (k, r) =>
          f"$k ($r%.2fx)" }.mkString(", "))
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 3 && args(0) == "compare") {
      compare(args(1), args(2)); return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    // Silence WindowExec's "No Partition Defined" WARN for this bench
    // process only: every unpartitioned window in the library is a
    // documented MODEL-SIZED frame (Corpus bucket/shard cumulative
    // sums :147/:178/:278/:349, Analysis score histogram :68,
    // Similarity RRF/calibration ranks :581/:631, Skew profile :60 —
    // each with a SCALE.md row), and two screenfuls of the same known
    // warning per sweep buried any NEW warning, which is the signal
    // this level exists to surface. Library code does NOT mute it —
    // a user pointing these ops at corpus-scale input should see it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // session warmup (outside the timed region, standard bench
    // hygiene): the first job pays executor/codegen/scheduler init,
    // and each table's first touch pays footer reads + page-cache
    // fill — without this, those one-time costs land on whichever
    // query happens to run first per table, skewing per-query times
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    // an unreadable SF dir would fail every loader with a full stack
    // trace; say so once and let the queries report their failures
    val sfPath = new java.io.File(sfDir)
    if (sfPath.isDirectory && sfPath.canRead) {
      import graft.core.Tables
      val loaders = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
        Tables.region, Tables.nation, Tables.customer, Tables.supplier,
        Tables.part, Tables.orders, Tables.lineitem, Tables.events,
        Tables.documents, Tables.embeddings)
      loaders.foreach { l =>
        try { l(spark, sfDir).count(); () }
        catch { case NonFatal(_) => () }
      }
    } else
      System.err.println(
        s"[bench] $sfDir is not a readable directory; table warm-up skipped")
    // Calibration anchor: a fixed, data-independent, codegen-only
    // workload timed under the exact bench discipline. Round-7
    // finding (BENCHDRIFT.md): the box's effective throughput drifts
    // ≥1.24× across hours on IDENTICAL code+data (round 6 measured
    // 90.0 s at 16:38 vs 111.4 s at 18:45 for the same 132-query
    // sweep, near-uniform per query), so raw cross-round totals
    // conflate engine changes with machine weather. The anchor moves
    // with the machine and not with the engine, so
    // query_sec / anchor_sec is the cross-round-comparable number.
    val anchor = {
      def run(): Unit = spark.range(512L << 20)
        .selectExpr("sum(id % 1000007)").collect()
      run() // warm: codegen+JIT out of the timing
      (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // Memory-bound co-anchor (round 12, BENCHDRIFT): the codegen
    // anchor above tracks scalar-CPU drift, but full sweeps are
    // memory-subsystem-bound, so it systematically over-corrects
    // (three rounds of official pairs read normalized ~1.04-1.09 on
    // flat raw totals). anchor2 is a 1 GiB random-stride walk — LCG
    // indexing defeats the prefetcher, so the working set never fits
    // cache and the time moves with DRAM subsystem state, the
    // resource that actually varies under sweep contention. compare()
    // prefers anchor2 when both artifacts carry it. Skipped (emitted
    // absent, compare falls back to the CPU anchor) when the driver
    // heap can't hold the 1 GiB array with headroom — otherwise every
    // bench invocation on a small-heap JVM dies with OOM before
    // emitting any result at all.
    val anchor2: Option[Double] = if (Runtime.getRuntime.maxMemory() < (5L << 29)) {
      println("anchor2 skipped: max heap " +
        (Runtime.getRuntime.maxMemory() >> 20) + " MiB < 2560 MiB floor")
      None
    } else Some {
      val n = 1 << 27 // 128M longs = 1 GiB
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
      def run(): Long = {
        var s = 0L; var idx = 0; var j = 0
        while (j < (1 << 26)) { // 64M loads
          idx = (idx * 0x41C64E6D + 0x3039) & (n - 1)
          s += a(idx)
          j += 1
        }
        s
      }
      run() // warm: JIT + page faults out of the timing
      val t = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val s = run()
        val dt = (System.nanoTime() - t0) / 1e9
        if (s == 42L) println(s) // defeat dead-code elimination
        dt
      }.min
      t
    }
    // Optional positional args narrow the run to named queries (local
    // debugging); the driver passes none and gets the full set.
    val only = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // A query that throws is left out of `queries` and `total` and
    // listed under "failed": a time for it would read as a fast success.
    val failed = Seq.newBuilder[String]
    val results = selected.flatMap { case (name, fn) =>
      // The timed action is a noop-sink write, not count(): count()
      // lets Catalyst prune unreferenced projection expressions, so
      // map-only queries (q21-q24, q40, q44, q46...) would time the
      // scan instead of their regex/hash work. The noop sink consumes
      // every row with all columns materialized.
      def run(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      try {
        // Untimed warm run first: the first execution of a plan pays
        // Janino whole-stage-codegen compile + JIT of the generated
        // classes — measured at 2.2s of q20's 2.7s cold run vs 0.45s
        // steady-state. That cost is constant in data size (irrelevant
        // at scale) and dominated bench noise across rounds (q20 "drift"
        // r1 0.78 -> r3 3.55 was compile-under-contention, not operator
        // work). Timing the second run reports steady-state expression
        // cost, which is what scales with SF.
        run()
        // Timed = MIN of two runs: a single timed run after one warm run
        // still races the C2 JIT of the query's generated classes (the
        // warm run only TRIGGERS compilation; it completes concurrently,
        // sometimes inside the first timed window — measured 4.2 s
        // steady-state q29 showing 7.8-12.9 s across otherwise identical
        // sweeps). The second timed run executes fully compiled code;
        // min() reports steady state, which is what scales with SF.
        val dt = (1 to 2).map { _ =>
          spark.catalog.clearCache() // timed run redoes any internal persist
          // Drain accumulated garbage + ContextCleaner (broadcast/shuffle
          // unregister) work BEFORE the timed region, so a previous
          // query's cleanup pause doesn't land inside this query's window
          // (observed: a one-off 5s q39 when q36/q38 garbage collected
          // mid-run).
          System.gc()
          val t0 = System.nanoTime()
          run()
          (System.nanoTime() - t0) / 1e9
        }.min
        // release per-query cached state so queries stay independent —
        // OUTSIDE the timed region (unpersist cost is not query work)
        spark.catalog.clearCache()
        Some(name -> dt)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          spark.catalog.clearCache()
          failed += name
          None
      }
    }
    // The driver captures only the LAST 2000 chars of output and
    // parses the JSON line out of that tail; sbt appends a "[success]"
    // line (~75 chars) after us. With 84 queries, full query names +
    // full double precision overflow the window (rounds 1-5 all
    // recorded parsed:null). Short qNN keys + centisecond precision
    // keep the whole line ~1.5 KB at 120 queries so it survives the
    // tail capture intact (per-query ms precision lives in SCALE.md's
    // profile runs, not here).
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def cs(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val total = results.map(_._2).sum
    val a2Field = anchor2.map(v => s""","anchor2":${cs(v)}""").getOrElse("")
    val failedKeys = failed.result()
    val failedField =
      if (failedKeys.isEmpty) ""
      else failedKeys.map(k => "\"" + k.takeWhile(_ != '_') + "\"")
        .mkString(""","failed":[""", ",", "]")
    def line(prec: Double => String): String = {
      val qs = results.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + prec(v)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","anchor":${cs(anchor)}$a2Field,"queries":$qs$failedField,"sf":"$sfDir"}"""
    }
    // degrade per-query precision before ever risking the window; the
    // headline total keeps ms precision in every shape
    val out = Seq[Double => String](cs,
      v => String.format(java.util.Locale.ROOT, "%.1f", Double.box(v)))
      .map(line).find(_.length <= 1900)
      .getOrElse(s"""{"metric":"total","value":${ms(total)},"unit":"sec","anchor":${cs(anchor)}$a2Field,"queries":{}$failedField,"sf":"$sfDir"}""")
    println(out)
    spark.stop()
    if (failedKeys.nonEmpty) sys.exit(1)
  }
}

package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.SparkEntry
import graft.cep.MatchRecognize
import graft.core.{GraftSession, Tables}
import graft.streaming.Models.Transaction
import graft.streaming.Stateful

/** The benchmark's JVM: set-up, one cold pass, warm passes until
  * `--seconds` have been measured, then verification and the result.
  * `run.py` builds this harness and starts it; see README.md. */
object Main {

  /** Batch workloads: driver queries over the sf0.1 documents table. */
  val BatchQueries: Map[String, Seq[String]] = Map(
    // executor-CPU-bound: shingle and md5-prefix kernels in shuffles; not
    // in BENCHMARK.json (the run budget holds two workloads), it is the
    // traced contrast to batch_driver
    "batch_cpu" -> Seq("q29_jaccard_pairs"),
    // driver- and scheduling-bound: many small jobs and driver loops
    "batch_driver" -> Seq("q73_incremental_dedup", "q101_bpe_train"))
  val StreamWorkload = "stream_state"
  val Workloads: Seq[String] = BatchQueries.keys.toSeq.sorted :+ StreamWorkload

  /** Warm passes measured at least, however short `--seconds` is. */
  val MinWarmPasses = 2
  /** No pass starts after this much JVM uptime, so a run ends in time. */
  val MaxUptimeS = 120.0

  // stream_state traffic is graft.tools.ProfileStream's: 10 000 keys,
  // fraud amounts cycling 0.5 / 600 / 50, MATCH_RECOGNIZE names cycling
  // a, b, b, c per key. Each micro-batch holds two events per key, so
  // every batch touches the state of every key.
  val StreamKeys = 10000
  val StreamRowsPerBatch: Int = 2 * StreamKeys
  val StreamBatches = 5
  val MrClause: String = """
    PARTITION BY sym
    ORDER BY seq
    MEASURES FIRST(A.seq) AS a0, COUNT(B.*) AS n_b, C.seq AS c_seq
    PATTERN (A B+ C)
    DEFINE A AS name = 'a', B AS name = 'b', C AS name = 'c'"""

  final case class Args(kv: Map[String, String], flags: Set[String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parseArgs(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { kv(k) = argv(i + 1); i += 2 }
      else { flags += k; i += 1 }
    }
    Args(kv.toMap, flags.toSet)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.flags("print-oracle")) {
      val qs = BatchQueries.values.flatten.toSeq.sorted
      println(compact(render(JObject(qs.map(q => q -> JString(SparkEntry.oracleSql(q))).toList))))
      return
    }
    val w = a("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    new Bench(a, w).run()
  }
}

/** One operation: a query execution, or one micro-batch of a drive. */
final case class Op(pass: Int, name: String, ms: Double, error: Option[String])

/** A stream drive: one operator over the seeded micro-batches. */
final class Drive(val pass: Int, val name: String, val span: Span) {
  val emitMs = mutable.ArrayBuffer.empty[Double]
  var rows = 0L
  var got: Option[Fingerprint] = None
  var error: Option[String] = None
}

final class Bench(a: Main.Args, workload: String) {
  import Main._

  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cores = Runtime.getRuntime.availableProcessors()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val work = new File(a("work"))
  private val spans = new Spans
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val drives = mutable.ArrayBuffer.empty[Drive]
  private val owners = mutable.Map.empty[UUID, Span]
  private val host = mutable.Map.empty[Int, Host]
  private var spark: SparkSession = _
  private var probe: Option[Probe] = None
  private var docRows = 0L

  private def say(s: String): Unit = println(s)

  def run(): Unit = {
    var passes = 0
    val setupS = spans("run", "run") {
      spans("setup", "setup") {
        spans("session", "session") {
          spark = GraftSession.build("graftbench", Some(s"local[$cores]"), cores)
          if (traced) probe = Some(new Probe(spark))
        }
        spans("sources", "sources")(touchSources())
      }
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      var warmStart = 0L
      def uptimeS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      def warmS = (System.nanoTime() - warmStart) / 1e9
      while (passes == 0 ||
          ((passes <= MinWarmPasses || warmS < seconds) && uptimeS < MaxUptimeS)) {
        if (passes == 1) warmStart = System.nanoTime()
        spans.pass = passes
        val h0 = Host.now()
        val p = spans.timed(s"pass-$passes", "pass")(onePass(passes))
        host(passes) = Host.now() - h0
        say(f"pass $passes%d ${p.ms / 1e3}%.3f s" +
          (if (passes == 0) " (cold)" else ""))
        spark.catalog.clearCache()
        System.gc()
        passes += 1
      }
      spans.pass = -1
      if (workload == StreamWorkload) spans("verify", "verify")(verifyDrives())
      setupS
    }
    // every query has stopped; Spark unloads stopped queries' state stores
    // on a 60 s maintenance timer, so unload them now, or the heap would
    // depend on whether the timer fired before the run ended
    StateStore.stop()
    // the ContextCleaner frees dropped broadcasts (the task binaries of
    // micro-batches carry their rows) only after a GC has cleared their
    // weak references, on its own thread: collect until the heap in use
    // has stopped shrinking twice in a row
    def gcHeapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heaps = mutable.ArrayBuffer(gcHeapMb())
    while (heaps.size < 20 &&
        (heaps.size < 3 || heaps.takeRight(3).sliding(2).exists(p => p(0) - p(1) > 0.5))) {
      Thread.sleep(300)
      heaps += gcHeapMb()
    }
    val heapMb = heaps.last
    say(heaps.map(h => f"$h%.1f").mkString("heap after each GC, MiB: ", ", ", ""))
    val result = report(setupS, heapMb, passes)
    val out = new PrintWriter(new File(a("result")), UTF_8)
    try out.println(result) finally out.close()
    spark.stop()
  }

  // ---- sources ------------------------------------------------------

  // the seed renames the keys, which moves them between partitions
  private lazy val keyOf: IndexedSeq[Long] =
    new Random(seed).shuffle((0 until StreamKeys).map(_.toLong))

  private def events[T](gen: Long => T): IndexedSeq[Seq[T]] =
    IndexedSeq.tabulate(StreamBatches) { b =>
      (b * StreamRowsPerBatch until (b + 1) * StreamRowsPerBatch).map(i => gen(i.toLong))
    }

  private lazy val fraudData: IndexedSeq[Seq[Transaction]] = events { i =>
    Transaction(keyOf((i % StreamKeys).toInt),
      if (i % 3 == 0) 0.5 else if (i % 3 == 1) 600.0 else 50.0, i)
  }

  private lazy val mrData: IndexedSeq[Seq[(Long, String, String)]] = events { i =>
    (i / StreamKeys, Seq("a", "b", "b", "c")(((i / StreamKeys) % 4).toInt),
      s"k${keyOf((i % StreamKeys).toInt)}")
  }

  private def documents: DataFrame = Tables.documents(spark, a("data"))

  /** Set-up ends once the workload's own inputs exist: the documents
    * table read once, or the seeded stream events generated. */
  private def touchSources(): Unit =
    if (workload == StreamWorkload) { fraudData.size; mrData.size; () }
    else docRows = documents.count()

  // ---- passes -------------------------------------------------------

  private def onePass(pass: Int): Unit =
    if (workload == StreamWorkload) {
      val session = spark
      import session.implicits._
      streamDrive(pass, "fraud", fraudData)(ds =>
        Stateful.fraudDetector(ds, flagTtlMs = None).toDF())
      streamDrive(pass, "match_recognize", mrData)(ds =>
        MatchRecognize.runStream(ds.toDF("seq", "name", "sym"), MrClause))
    } else batchPass(pass)

  private lazy val pinned: Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(a("pins"), "UTF-8")
    val json = try parse(src.mkString) finally src.close()
    val pins = BatchQueries(workload).map { q =>
      (json \ q \ "rows", json \ q \ "hash") match {
        case (JInt(rows), JString(hash)) =>
          q -> Fingerprint(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
        case _ => throw new IllegalStateException(s"no pinned fingerprint for $q")
      }
    }.toMap
    if (a.flags("corrupt-fingerprint")) {
      val q = BatchQueries(workload).head
      pins.updated(q, pins(q).copy(hash = pins(q).hash ^ 1L))
    } else pins
  }

  private def batchPass(pass: Int): Unit = {
    val queries = BatchQueries(workload) ++
      (if (a.flags("inject-throw")) Seq("inject_throw") else Nil)
    // the seed fixes only the order in which each pass runs the queries
    val order = new Random(seed * 1000003L + pass).shuffle(queries)
    order.foreach { q =>
      var error: Option[String] = None
      val s = spans.timed(q, "query") {
        try {
          val df = spans("build", "build") {
            if (q == "inject_throw") throw new IllegalStateException("injected failure")
            SparkEntry.queries(q)(spark, a("data"))
          }
          val got = spans("action", "action")(Fingerprint.of(df))
          if (got != pinned(q)) error = Some(s"$q: got $got, pinned ${pinned(q)}")
        } catch { case NonFatal(e) => error = Some(s"$q: $e") }
      }
      error.foreach(e => say(s"FAILED pass $pass $e"))
      ops += Op(pass, q, s.ms, error)
    }
  }

  private def streamDrive[T: Encoder](pass: Int, name: String,
                                      batches: IndexedSeq[Seq[T]])
                                     (operator: Dataset[T] => DataFrame): Unit = {
    val ckpt = new File(work, s"checkpoint-${UUID.randomUUID()}")
    val got = new AtomicReference(Fingerprint.Empty)
    val d = spans(name, "operator") {
      val d = new Drive(pass, name, spans.current)
      try {
        implicit val sql = spark.sqlContext
        val in = MemoryStream[T]
        val out = spans("build", "build")(operator(in.toDS()))
        val sink: (DataFrame, Long) => Unit =
          (b, _) => { val f = Fingerprint.of(b); got.updateAndGet(_ + f); () }
        val q = out.writeStream.foreachBatch(sink)
          .option("checkpointLocation", ckpt.getPath).start()
        owners(q.id) = spans.current
        try batches.foreach { rows =>
          spans("micro-batch", "micro-batch") {
            val stamp = System.nanoTime() // rows exist; the newest was just made
            in.addData(rows)
            q.processAllAvailable()
            d.emitMs += (System.nanoTime() - stamp) / 1e6
            d.rows += rows.size
          }
        } finally q.stop()
        d.got = Some(got.get)
      } catch { case NonFatal(e) => d.error = Some(s"$name: $e") }
      d
    }
    deleteTree(ckpt)
    drives += d
  }

  /** Each drive's output must equal the batch form of the same operator
    * on the same events; a drive that differs fails all its batches. */
  private def verifyDrives(): Unit = {
    val session = spark
    import session.implicits._
    def expect(name: String): Fingerprint = name match {
      case "fraud" => Fingerprint.of(Stateful.fraudDetector(
        fraudData.flatten.toDS(), flagTtlMs = None).toDF())
      case "match_recognize" => Fingerprint.of(MatchRecognize.run(
        mrData.flatten.toDF("seq", "name", "sym"), MrClause))
    }
    val want = drives.map(_.name).distinct.map(n => n -> expect(n)).toMap
    drives.foreach { d =>
      val error = d.error.orElse(d.got.filter(_ != want(d.name))
        .map(g => s"${d.name}: stream gave $g, batch form ${want(d.name)}"))
      error.foreach(e => say(s"FAILED pass ${d.pass} $e"))
      ops ++= Seq.fill(StreamBatches)(Op(d.pass, d.name, 0.0, error))
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- results ------------------------------------------------------

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def report(setupS: Double, heapMb: Double, passes: Int): String = {
    val failedPasses = ops.filter(_.error.nonEmpty).map(_.pass).toSet
    val passSpans = spans.all.filter(_.kind == "pass").toSeq
    val good = passSpans.filterNot(s => failedPasses(s.pass))
    // the first warm pass still carries most of the JIT's compile work;
    // warm metrics describe the passes after it
    val warmAll = good.filter(_.pass > 0)
    val warm = if (warmAll.size > 1) warmAll.tail else warmAll
    val streaming = workload == StreamWorkload
    // operation latencies by query or operator, and input rows, of the
    // valid warm passes
    val warmPasses = warm.map(_.pass).toSet
    // rows per second of each pass, so that the median drops a pass that a
    // host stall slowed
    val (lat, passRate) =
      if (streaming) {
        val ds = drives.filter(d => warmPasses(d.pass))
        (ds.flatMap(d => d.emitMs.map(d.name -> _)).toSeq,
          ds.groupBy(_.pass).values.map(p => p.map(_.rows).sum / (p.map(_.span.ms).sum / 1e3)))
      } else
        (ops.filter(o => warmPasses(o.pass)).map(o => o.name -> o.ms).toSeq,
          warm.map(p => docRows.toDouble * BatchQueries(workload).size / (p.ms / 1e3)))
    // the ops of a workload differ in size, so a pooled median would fall
    // between them: take each op's median, then their mean
    val byOp = lat.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
    val attempted = ops.size
    val failed = ops.count(_.error.nonEmpty)
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      m("setup_s") = (setupS, "s")
      good.find(_.pass == 0).foreach(c => m("cold_s") = (c.ms / 1e3, "s"))
      if (warm.nonEmpty) {
        m("warm_s") = (median(warm.map(_.ms)) / 1e3, "s")
        m("rows_per_s") = (median(passRate.toSeq), "rows/s")
        m("emit_p50_ms") = (byOp.map(o => median(o._2)).sum / byOp.size, "ms")
      }
      m("ok_frac") = ((attempted - failed).toDouble / attempted, "ratio")
      m("heap_live_mb") = (heapMb, "MiB")
    }
    say(s"warm passes: ${warmAll.size} valid of ${passes - 1}, last ${warm.size} " +
      s"measured; operations: " +
      s"$attempted attempted, $failed failed")
    // a p90 is a reported metric only with ten samples beyond it
    byOp.foreach { case (name, xs) =>
      say(f"emit latency $name: ${xs.size}%d samples, p50 ${median(xs)}%.1f ms, " +
        f"p90 ${pct(xs, 0.9)}%.1f ms with ${xs.count(_ > pct(xs, 0.9))} beyond it")
    }
    val hw = warm.flatMap(s => host.get(s.pass))
    val hs = hw.foldLeft(Host(0, 0, 0))((x, y) =>
      Host(x.stealTicks + y.stealTicks, x.jitMs + y.jitMs, x.gcMs + y.gcMs))
    say(s"host over warm passes: steal ${hs.stealMs} ms, " +
      s"jit ${hs.jitMs} ms, gc ${hs.gcMs} ms; run total: ${host.values.map(_.stealMs).sum} " +
      s"ms steal, ${host.values.map(_.jitMs).sum} ms jit, ${host.values.map(_.gcMs).sum} ms gc")
    var reconciled = true
    if (traced) probe.foreach { p =>
      p.drain()
      val layers = new Layers(spans, p, owners.toMap, cores)
      reconciled = traceReport(layers, warm, m, hs)
      p.remove()
    }
    val metrics = JObject(m.toList.map { case (k, (v, u)) =>
      k -> (("value" -> v) ~ ("unit" -> u))
    })
    compact(render(
      ("correct" -> (failed == 0 && reconciled && warm.nonEmpty)) ~
      ("attempted" -> attempted) ~ ("failed" -> failed) ~ ("metrics" -> metrics)))
  }

  private def nums(kv: Iterable[(String, Double)]): JObject =
    JObject(kv.toList.map { case (k, v) => k -> JDouble(v) })

  /** Per-layer metrics per warm pass, plus the span records. Returns
    * whether the records reconcile. */
  private def traceReport(layers: Layers, warm: Seq[Span],
                          m: mutable.LinkedHashMap[String, (Double, String)],
                          hs: Host): Boolean = {
    val n = warm.size.max(1)
    val setup = spans.all.filter(_.pass == -1)
    def spanMs(kind: String) = setup.filter(_.kind == kind).map(_.ms).sum
    m("core.session_ms") = (spanMs("session"), "ms")
    m("core.sources_ms") = (spanMs("sources"), "ms")
    val lm = layers.metrics(warm)
    val ratio = Set("sched.cores_used")
    lm.foreach { case (k, v) =>
      if (k != "wall_ms") m(k) = (if (ratio(k)) v else v / n, Units(k))
    }
    m("host.steal_ms") = (hs.stealMs.toDouble / n, "ms")
    m("host.jit_ms") = (hs.jitMs.toDouble / n, "ms")
    m("host.gc_ms") = (hs.gcMs.toDouble / n, "ms")
    if (warm.nonEmpty) m("trace.warm_s") = (median(warm.map(_.ms)) / 1e3, "s")

    // reconcile: per-op walls sum to the pass wall, task time fits the cores
    var ok = true
    warm.foreach { p =>
      val kids = spans.all.filter(_.parent == p.id).map(_.ms).sum
      if (math.abs(kids - p.ms) > math.max(50.0, 0.02 * p.ms)) {
        ok = false; say(f"RECONCILE pass ${p.pass}: ops sum $kids%.1f ms, pass ${p.ms}%.1f ms")
      }
      val run = layers.metrics(Seq(p))("exec.task_run_ms")
      if (run > p.ms * cores * 1.02 + 50) {
        ok = false; say(f"RECONCILE pass ${p.pass}: task run $run%.0f ms > wall x $cores cores")
      }
    }
    say(if (ok) "trace reconciles: op walls sum to pass walls, task time fits the cores"
        else "trace does not reconcile")

    val out = new PrintWriter(new File(a("trace-out")), UTF_8)
    try {
      def write(j: JValue): Unit = out.println(compact(render(j)))
      spans.all.foreach { s =>
        write(("type" -> "span") ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~
          ("name" -> s.name) ~ ("kind" -> s.kind) ~ ("pass" -> s.pass) ~
          ("start_ms" -> s.startMs) ~ ("dur_ms" -> s.ms) ~ ("self_ms" -> layers.selfMs(s)))
        layers.jobsOf(s).foreach { j =>
          write(("type" -> "span") ~ ("id" -> s"job-${j.jobId}") ~ ("parent" -> s.id) ~
            ("name" -> s"job ${j.jobId}") ~ ("kind" -> "job") ~ ("pass" -> s.pass) ~
            ("start_ms" -> j.startMs) ~
            ("dur_ms" -> ((if (j.endMs < 0) s.endMs else j.endMs) - j.startMs)) ~
            ("stages" -> j.stageIds.size))
        }
      }
      val opSpans = spans.all.filter(s => s.kind == "query" || s.kind == "operator").toSeq
      opSpans.foreach { s =>
        write(("type" -> "op") ~ ("pass" -> s.pass) ~ ("op" -> s.name) ~
          nums(layers.metrics(Seq(s))))
      }
      // per query or operator: medians over the warm passes
      val warmIds = warm.map(_.pass).toSet
      val perOp = opSpans.filter(s => warmIds(s.pass)).groupBy(_.name).toSeq.sortBy(_._1)
        .flatMap { case (name, ss) =>
          val per = ss.map(s => layers.metrics(Seq(s)))
          Seq("wall_ms", "operators.build_ms", "sched.jobs", "exec.task_cpu_ms") ++
            (if (workload == StreamWorkload) Seq("state.commit_ms") else Nil) map { k =>
              s"$name.$k" -> median(per.map(_(k)))
            }
        }
      write(("type" -> "summary") ~ ("workload" -> workload) ~ ("seed" -> seed) ~
        ("warm_passes" -> warm.size) ~ nums(perOp) ~ nums(m.map { case (k, (v, _)) => k -> v }))
    } finally out.close()
    say(s"trace written: ${a("trace-out")}")
    ok
  }

  private val Units: Map[String, String] = Map(
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "catalyst.plan_ms" -> "ms", "catalyst.executions" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms", "sched.cores_used" -> "ratio",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.deser_ms" -> "ms", "exec.scan_kb" -> "KiB", "exec.spill_kb" -> "KiB",
    "shuffle.write_kb" -> "KiB", "shuffle.read_kb" -> "KiB",
    "shuffle.fetch_wait_ms" -> "ms", "stream.batches" -> "count",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.plan_ms" -> "ms", "stream.log_ms" -> "ms", "stream.source_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.rows" -> "count", "state.mem_mb" -> "MiB")
}

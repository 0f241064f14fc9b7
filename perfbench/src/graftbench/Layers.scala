package graftbench

import java.util.UUID

import scala.collection.mutable

/** Joins a traced run's Spark events with the harness's spans and sums
  * them into per-layer metrics. Each Spark job belongs to the span open
  * when it started; a Catalyst execution to the span open when its last
  * planning phase ended; a streaming progress event to the operator
  * span that started its query. */
final class Layers(spans: Spans, probe: Probe, owners: Map[UUID, Span], cores: Int) {
  private val jobSpan: Map[Int, Span] =
    probe.jobs.values.flatMap(j => spans.at(j.startMs).map(j.jobId -> _)).toMap
  private val qeSpan: Seq[(QeRec, Span)] =
    probe.qes.toSeq.flatMap(q => spans.at(q.atMs).map(q -> _))
  private val progSpan: Seq[(ProgressRec, Span)] =
    probe.progress.toSeq.flatMap(p => owners.get(p.queryId).map(p -> _))

  private def under(s: Span, roots: Seq[Span]) = roots.exists(spans.under(s, _))

  def jobsUnder(roots: Seq[Span]): Seq[JobRec] =
    probe.jobs.values.filter(j => jobSpan.get(j.jobId).exists(under(_, roots))).toSeq

  /** Job children of one span, for the span records of the trace. */
  def jobsOf(s: Span): Seq[JobRec] =
    probe.jobs.values.filter(j => jobSpan.get(j.jobId).exists(_.id == s.id)).toSeq

  /** Sums over `roots` (passes, or one query's spans across passes). */
  def metrics(roots: Seq[Span]): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val wallMs = roots.map(_.ms).sum
    val builds = spans.all.filter(s => s.kind == "build" && under(s, roots)).toSeq
    val jobs = jobsUnder(roots)
    val stageIds = jobs.flatMap(_.stageIds).distinct
    val st = stageIds.flatMap(probe.stages.get)
    def sum(f: StageAgg => Long): Double = st.map(f).sum.toDouble
    m("wall_ms") = wallMs
    m("operators.build_ms") = builds.map(_.ms).sum
    m("operators.build_jobs") = jobsUnder(builds).size
    val qes = qeSpan.filter { case (_, s) => under(s, roots) }.map(_._1)
    m("catalyst.plan_ms") = qes.map(_.planMs).sum.toDouble
    m("catalyst.executions") = qes.size
    m("sched.jobs") = jobs.size
    m("sched.stages") = st.count(_.completed)
    m("sched.tasks") = sum(_.tasks)
    m("sched.driver_gap_ms") = roots.map { r =>
      r.ms - covered(jobs.map(j => (j.startMs, if (j.endMs < 0) r.endMs else j.endMs)),
        r.startMs, r.endMs)
    }.sum.max(0.0)
    val runMs = sum(_.runMs)
    m("sched.cores_used") = if (wallMs > 0) runMs / (wallMs * cores) else 0.0
    m("exec.task_run_ms") = runMs
    m("exec.task_cpu_ms") = sum(_.cpuNs) / 1e6
    m("exec.gc_ms") = sum(_.gcMs)
    m("exec.deser_ms") = sum(_.deserMs)
    m("exec.scan_kb") = sum(_.inputBytes) / 1024
    m("exec.spill_kb") = sum(_.spillBytes) / 1024
    m("shuffle.write_kb") = sum(_.shuffleWriteBytes) / 1024
    m("shuffle.read_kb") = sum(_.shuffleReadBytes) / 1024
    m("shuffle.fetch_wait_ms") = sum(_.fetchWaitMs)
    val prog = progSpan.filter { case (_, s) => under(s, roots) }
    def dur(keys: String*): Double =
      prog.map { case (p, _) => keys.map(k => p.durations.getOrElse(k, 0L)).sum }.sum.toDouble
    val trigger = dur("triggerExecution")
    val driven = prog.map(_._2).distinctBy(_.id)
    m("stream.batches") = prog.size
    m("stream.trigger_ms") = trigger
    m("stream.add_batch_ms") = dur("addBatch")
    m("stream.plan_ms") = dur("queryPlanning")
    m("stream.log_ms") = dur("walCommit", "commitOffsets")
    m("stream.source_ms") = (driven.map(_.ms).sum - trigger).max(0.0)
    m("state.commit_ms") = prog.map(_._1.stateCommitMs).sum.toDouble
    // state held when each drive ended: its query's last progress
    val last = prog.groupBy(_._2.id).values.map(_.last._1)
    m("state.rows") = last.map(_.stateRows).sum.toDouble
    m("state.mem_mb") = last.map(_.stateMemBytes).sum / 1048576.0
    m
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - a.max(end); end = b }
      }
    total.toDouble
  }

  /** A span's duration minus the part its child spans and jobs cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq ++
      jobsOf(s).map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
    (s.ms - covered(kids, s.startMs, s.endMs)).max(0.0)
  }
}
